"""Star Schema Benchmark (SSB) flat-table queries — the reference's
primary published benchmark surface
(docs/en/benchmarking/SSB_Benchmarking.md:51-64 runs Q1.1–Q4.3 against
the denormalized ``lineorder_flat`` table; query text per
fe/fe-core/src/test/resources/sql/ssb/Q*.sql).

The testdata ships TPC-H tables, so ``lineorder_flat`` is DERIVED from
them with deterministic SSB-style attributes (both engines compute the
same derivation, so the DuckDB oracles remain exact):

- ``lo_revenue``  = l_extendedprice * (1 - l_discount)
- ``lo_supplycost`` = l_extendedprice * 0.6  (SSB's supplycost is a
  synthetic ~60%-of-price column; partsupp is not in the testdata)
- ``lo_discount``  = round(l_discount * 100)        (SSB 0–10 integer)
- ``d_*``          = derived from o_orderdate (year, yearmonthnum,
  ISO week number, 'Dec1997'-style yearmonth)
- ``p_mfgr/p_category/p_brand`` = re-coded from TPC-H Brand#xy digits
  into SSB's MFGR#x / MFGR#xy / MFGR#xyNN hierarchy
- ``c_city/s_city`` = SSB's nation-prefix cities: first 9 chars of the
  nation name + (key % 10), e.g. 'UNITED KI1'

Scale design: like the reference's benchmark methodology, the flat
table is materialized ONCE (reference: ``INSERT INTO lineorder_flat
SELECT ...`` at load time) and each query is a scan + agg over it.
The materialization joins lineitem⇄orders on the shuffle key and
broadcasts every dimension; the output is written partitioned by
``d_year`` so year-filtered queries (Q1.1, Q4.2, Q4.3) get partition
pruning, and min/max row-group stats prune the rest. On a cluster the
same write would be bucketed; nothing below assumes local mode.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from starrocks_spark.catalog import load_table
from starrocks_spark.queries._util import dsum, sort_result, sql_dsum

_WAREHOUSE = "/tmp/sr_spark_warehouse"


def _city(nation_col: str, key_col: str) -> F.Column:
    # SSB city = 9-char nation prefix + a 0-9 suffix ('UNITED KI1').
    return F.concat(
        F.rpad(F.col(nation_col), 9, " "),
        (F.col(key_col) % 10).cast("string"),
    )


def build_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive lineorder_flat from the TPC-H base tables (unmaterialized)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")

    # nation+region are tiny; customer/supplier/part broadcast at bench
    # scale and would be shuffle joins at SF100 — Spark's CBO/AQE makes
    # that call, the code is identical either way.
    c_geo = (
        customer.join(F.broadcast(nation),
                      customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(
            "c_custkey",
            _city("n_name", "c_custkey").alias("c_city"),
            F.col("n_name").alias("c_nation"),
            F.col("r_name").alias("c_region"),
        )
    )
    s_geo = (
        supplier.join(F.broadcast(nation),
                      supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(
            "s_suppkey",
            _city("n_name", "s_suppkey").alias("s_city"),
            F.col("n_name").alias("s_nation"),
            F.col("r_name").alias("s_region"),
        )
    )
    p_ssb = part.select(
        "p_partkey",
        F.concat(F.lit("MFGR#"), F.substring("p_brand", 7, 1)).alias("p_mfgr"),
        F.concat(F.lit("MFGR#"), F.substring("p_brand", 7, 2))
        .alias("p_category"),
        F.concat(
            F.lit("MFGR#"), F.substring("p_brand", 7, 2),
            F.lpad(((F.col("p_partkey") % 40) + 1).cast("string"), 2, "0"),
        ).alias("p_brand"),
    )

    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(c_geo, orders.o_custkey == c_geo.c_custkey)
        .join(s_geo, li.l_suppkey == s_geo.s_suppkey)
        .join(p_ssb, li.l_partkey == p_ssb.p_partkey)
        .select(
            F.col("l_orderkey").alias("lo_orderkey"),
            F.col("l_linenumber").alias("lo_linenumber"),
            F.year("o_orderdate").alias("d_year"),
            (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
            .alias("d_yearmonthnum"),
            F.weekofyear("o_orderdate").alias("d_weeknuminyear"),
            F.date_format("o_orderdate", "MMMyyyy").alias("d_yearmonth"),
            F.col("l_quantity").cast("int").alias("lo_quantity"),
            F.floor(F.col("l_discount") * 100 + 0.5).cast("int")
            .alias("lo_discount"),
            (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
            .alias("lo_revenue"),
            (F.col("l_extendedprice") * F.lit(0.6)).alias("lo_supplycost"),
            "c_city", "c_nation", "c_region",
            "s_city", "s_nation", "s_region",
            "p_mfgr", "p_category", "p_brand",
        )
    )


def flat_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized lineorder_flat, built once per sf_dir (mirrors the
    reference's load-time INSERT INTO lineorder_flat). Partitioned by
    d_year for pruning; atomic publish via rename + own marker file
    (Spark's _SUCCESS is unreliable under dynamic partition-overwrite
    sessions, and relying on it caused a rebuild per query)."""
    base = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(_WAREHOUSE, f"ssb_flat_{base}")
    marker = os.path.join(path, "_PUBLISHED")
    if not os.path.exists(marker):
        os.makedirs(_WAREHOUSE, exist_ok=True)
        tmp = tempfile.mkdtemp(dir=_WAREHOUSE, prefix=f".ssb_{base}_")
        stage = os.path.join(tmp, "data")
        build_flat(spark, sf_dir).write.mode("overwrite") \
            .partitionBy("d_year").parquet(stage)
        with open(os.path.join(stage, "_PUBLISHED"), "w") as f:
            f.write(sf_dir)
        try:
            os.rename(stage, path)
        except OSError:
            pass  # concurrent builder won the rename; theirs is identical
    return spark.read.parquet(path)


# --- DuckDB oracle prologue: the same derivation over the base views ---
_FLAT_SQL = """
lineorder_flat AS (
  SELECT l_orderkey AS lo_orderkey,
         l_linenumber AS lo_linenumber,
         CAST(year(o_orderdate) AS INT) AS d_year,
         CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT)
           AS d_yearmonthnum,
         CAST(weekofyear(o_orderdate) AS INT) AS d_weeknuminyear,
         strftime(o_orderdate, '%b%Y') AS d_yearmonth,
         CAST(l_quantity AS INT) AS lo_quantity,
         CAST(FLOOR(l_discount * 100 + 0.5) AS INT) AS lo_discount,
         l_extendedprice * (1.0 - l_discount) AS lo_revenue,
         l_extendedprice * 0.6 AS lo_supplycost,
         rpad(cn.n_name, 9, ' ') || CAST(c_custkey % 10 AS VARCHAR) AS c_city,
         cn.n_name AS c_nation, cr.r_name AS c_region,
         rpad(sn.n_name, 9, ' ') || CAST(s_suppkey % 10 AS VARCHAR) AS s_city,
         sn.n_name AS s_nation, sr.r_name AS s_region,
         'MFGR#' || substr(p_brand, 7, 1) AS p_mfgr,
         'MFGR#' || substr(p_brand, 7, 2) AS p_category,
         'MFGR#' || substr(p_brand, 7, 2) ||
           lpad(CAST(p_partkey % 40 + 1 AS VARCHAR), 2, '0') AS p_brand
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  JOIN region cr ON cn.n_regionkey = cr.r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  JOIN region sr ON sn.n_regionkey = sr.r_regionkey
  JOIN part     ON l_partkey = p_partkey
)
"""


def q1_1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SSB Q1.1: one-year revenue — partition-pruned scan + single agg.

    Year constants in the Q1.x family are shifted from SSB's
    1992-1998 calendar into the testdata's 1995-2001 o_orderdate span
    (1993→1996, 199401→199701, 1994→1997) so the checks are
    non-vacuous; likewise the nation/city/brand literals elsewhere map
    into the synthetic namespace (NATION_x, Brand#1..25-derived
    MFGR#xNN, cities = 9-char nation prefix + key%10). Query shapes
    are unchanged from the reference's Q*.sql."""
    lo = flat_table(spark, sf_dir)
    return (
        lo.filter((F.col("d_year") == 1996)
                  & F.col("lo_discount").between(1, 3)
                  & (F.col("lo_quantity") < 25))
        .agg(dsum(F.col("lo_revenue")).alias("revenue"))
    )


def q1_2(spark: SparkSession, sf_dir: str) -> DataFrame:
    lo = flat_table(spark, sf_dir)
    return (
        lo.filter((F.col("d_yearmonthnum") == 199701)
                  & F.col("lo_discount").between(4, 6)
                  & F.col("lo_quantity").between(26, 35))
        .agg(dsum(F.col("lo_revenue")).alias("revenue"))
    )


def q1_3(spark: SparkSession, sf_dir: str) -> DataFrame:
    lo = flat_table(spark, sf_dir)
    return (
        lo.filter((F.col("d_weeknuminyear") == 6) & (F.col("d_year") == 1997)
                  & F.col("lo_discount").between(5, 7)
                  & F.col("lo_quantity").between(26, 35))
        .agg(dsum(F.col("lo_revenue")).alias("revenue"))
    )


def _q2(spark: SparkSession, sf_dir: str, pred) -> DataFrame:
    """Q2.x shape: filtered scan → (d_year, p_brand) agg → sort."""
    lo = flat_table(spark, sf_dir)
    return (
        lo.filter(pred)
        .groupBy("d_year", "p_brand")
        .agg(dsum(F.col("lo_revenue")).alias("lo_revenue"))
        .transform(sort_result, "d_year", "p_brand")
    )


def q2_1(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _q2(spark, sf_dir,
               (F.col("p_category") == "MFGR#12")
               & (F.col("s_region") == "AMERICA"))


def q2_2(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _q2(spark, sf_dir,
               F.col("p_brand").between("MFGR#2221", "MFGR#2228")
               & (F.col("s_region") == "ASIA"))


def q2_3(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _q2(spark, sf_dir,
               (F.col("p_brand") == "MFGR#2208")
               & (F.col("s_region") == "EUROPE"))


def _q3(spark: SparkSession, sf_dir: str, pred, c_geo: str,
        s_geo: str) -> DataFrame:
    """Q3.x shape: filtered scan → (c_geo, s_geo, d_year) agg →
    year asc, revenue desc."""
    lo = flat_table(spark, sf_dir)
    return (
        lo.filter(pred)
        .groupBy(c_geo, s_geo, "d_year")
        .agg(dsum(F.col("lo_revenue")).alias("lo_revenue"))
        .transform(sort_result, F.col("d_year").asc(),
                   F.col("lo_revenue").desc(), c_geo, s_geo)
    )


def q3_1(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _q3(spark, sf_dir,
               (F.col("c_region") == "ASIA") & (F.col("s_region") == "ASIA")
               & F.col("d_year").between(1992, 1997),
               "c_nation", "s_nation")


def q3_2(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _q3(spark, sf_dir,
               (F.col("c_nation") == "NATION_13")
               & (F.col("s_nation") == "NATION_13")
               & F.col("d_year").between(1992, 1997),
               "c_city", "s_city")


_KI_CITIES = ("NATION_9 7", "NATION_9 0")


def q3_3(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _q3(spark, sf_dir,
               F.col("c_city").isin(*_KI_CITIES)
               & F.col("s_city").isin(*_KI_CITIES)
               & F.col("d_year").between(1992, 1997),
               "c_city", "s_city")


def q3_4(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _q3(spark, sf_dir,
               F.col("c_city").isin(*_KI_CITIES)
               & F.col("s_city").isin(*_KI_CITIES)
               & (F.col("d_yearmonth") == "Sep1995"),
               "c_city", "s_city")


def _q4(spark: SparkSession, sf_dir: str, pred, *group_cols) -> DataFrame:
    """Q4.x shape: filtered scan → profit = Σrev − Σcost → sort."""
    lo = flat_table(spark, sf_dir)
    return (
        lo.filter(pred)
        .groupBy(*group_cols)
        .agg((dsum(F.col("lo_revenue")) - dsum(F.col("lo_supplycost")))
             .alias("profit"))
        .transform(sort_result, *group_cols)
    )


def q4_1(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _q4(spark, sf_dir,
               (F.col("c_region") == "AMERICA")
               & (F.col("s_region") == "AMERICA")
               & F.col("p_mfgr").isin("MFGR#1", "MFGR#2"),
               "d_year", "c_nation")


def q4_2(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _q4(spark, sf_dir,
               (F.col("c_region") == "AMERICA")
               & (F.col("s_region") == "AMERICA")
               & F.col("d_year").isin(1997, 1998)
               & F.col("p_mfgr").isin("MFGR#1", "MFGR#2"),
               "d_year", "s_nation", "p_category")


def q4_3(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _q4(spark, sf_dir,
               (F.col("c_region") == "AMERICA")
               & (F.col("s_nation") == "NATION_13")
               & F.col("d_year").isin(1997, 1998)
               & (F.col("p_category") == "MFGR#14"),
               "d_year", "s_city", "p_brand")


_REV = sql_dsum("lo_revenue")
_PROFIT = f"{sql_dsum('lo_revenue')} - {sql_dsum('lo_supplycost')}"

ORACLE = {
    "ssb_q1_1": f"""
WITH {_FLAT_SQL}
SELECT {_REV} AS revenue FROM lineorder_flat
WHERE d_year = 1996 AND lo_discount BETWEEN 1 AND 3 AND lo_quantity < 25
""",
    "ssb_q1_2": f"""
WITH {_FLAT_SQL}
SELECT {_REV} AS revenue FROM lineorder_flat
WHERE d_yearmonthnum = 199701 AND lo_discount BETWEEN 4 AND 6
  AND lo_quantity BETWEEN 26 AND 35
""",
    "ssb_q1_3": f"""
WITH {_FLAT_SQL}
SELECT {_REV} AS revenue FROM lineorder_flat
WHERE d_weeknuminyear = 6 AND d_year = 1997
  AND lo_discount BETWEEN 5 AND 7 AND lo_quantity BETWEEN 26 AND 35
""",
    "ssb_q2_1": f"""
WITH {_FLAT_SQL}
SELECT d_year, p_brand, {_REV} AS lo_revenue FROM lineorder_flat
WHERE p_category = 'MFGR#12' AND s_region = 'AMERICA'
GROUP BY d_year, p_brand ORDER BY d_year, p_brand
""",
    "ssb_q2_2": f"""
WITH {_FLAT_SQL}
SELECT d_year, p_brand, {_REV} AS lo_revenue FROM lineorder_flat
WHERE p_brand BETWEEN 'MFGR#2221' AND 'MFGR#2228' AND s_region = 'ASIA'
GROUP BY d_year, p_brand ORDER BY d_year, p_brand
""",
    "ssb_q2_3": f"""
WITH {_FLAT_SQL}
SELECT d_year, p_brand, {_REV} AS lo_revenue FROM lineorder_flat
WHERE p_brand = 'MFGR#2208' AND s_region = 'EUROPE'
GROUP BY d_year, p_brand ORDER BY d_year, p_brand
""",
    "ssb_q3_1": f"""
WITH {_FLAT_SQL}
SELECT c_nation, s_nation, d_year, {_REV} AS lo_revenue FROM lineorder_flat
WHERE c_region = 'ASIA' AND s_region = 'ASIA'
  AND d_year BETWEEN 1992 AND 1997
GROUP BY c_nation, s_nation, d_year
ORDER BY d_year ASC, lo_revenue DESC, c_nation, s_nation
""",
    "ssb_q3_2": f"""
WITH {_FLAT_SQL}
SELECT c_city, s_city, d_year, {_REV} AS lo_revenue FROM lineorder_flat
WHERE c_nation = 'NATION_13' AND s_nation = 'NATION_13'
  AND d_year BETWEEN 1992 AND 1997
GROUP BY c_city, s_city, d_year
ORDER BY d_year ASC, lo_revenue DESC, c_city, s_city
""",
    "ssb_q3_3": f"""
WITH {_FLAT_SQL}
SELECT c_city, s_city, d_year, {_REV} AS lo_revenue FROM lineorder_flat
WHERE c_city IN ('NATION_9 7', 'NATION_9 0')
  AND s_city IN ('NATION_9 7', 'NATION_9 0')
  AND d_year BETWEEN 1992 AND 1997
GROUP BY c_city, s_city, d_year
ORDER BY d_year ASC, lo_revenue DESC, c_city, s_city
""",
    "ssb_q3_4": f"""
WITH {_FLAT_SQL}
SELECT c_city, s_city, d_year, {_REV} AS lo_revenue FROM lineorder_flat
WHERE c_city IN ('NATION_9 7', 'NATION_9 0')
  AND s_city IN ('NATION_9 7', 'NATION_9 0')
  AND d_yearmonth = 'Sep1995'
GROUP BY c_city, s_city, d_year
ORDER BY d_year ASC, lo_revenue DESC, c_city, s_city
""",
    "ssb_q4_1": f"""
WITH {_FLAT_SQL}
SELECT d_year, c_nation, {_PROFIT} AS profit FROM lineorder_flat
WHERE c_region = 'AMERICA' AND s_region = 'AMERICA'
  AND p_mfgr IN ('MFGR#1', 'MFGR#2')
GROUP BY d_year, c_nation ORDER BY d_year, c_nation
""",
    "ssb_q4_2": f"""
WITH {_FLAT_SQL}
SELECT d_year, s_nation, p_category, {_PROFIT} AS profit
FROM lineorder_flat
WHERE c_region = 'AMERICA' AND s_region = 'AMERICA'
  AND d_year IN (1997, 1998) AND p_mfgr IN ('MFGR#1', 'MFGR#2')
GROUP BY d_year, s_nation, p_category
ORDER BY d_year, s_nation, p_category
""",
    "ssb_q4_3": f"""
WITH {_FLAT_SQL}
SELECT d_year, s_city, p_brand, {_PROFIT} AS profit FROM lineorder_flat
WHERE c_region = 'AMERICA' AND s_nation = 'NATION_13'
  AND d_year IN (1997, 1998) AND p_category = 'MFGR#14'
GROUP BY d_year, s_city, p_brand
ORDER BY d_year, s_city, p_brand
""",
}

QUERIES = {
    "ssb_q1_1": q1_1, "ssb_q1_2": q1_2, "ssb_q1_3": q1_3,
    "ssb_q2_1": q2_1, "ssb_q2_2": q2_2, "ssb_q2_3": q2_3,
    "ssb_q3_1": q3_1, "ssb_q3_2": q3_2, "ssb_q3_3": q3_3,
    "ssb_q3_4": q3_4,
    "ssb_q4_1": q4_1, "ssb_q4_2": q4_2, "ssb_q4_3": q4_3,
}
