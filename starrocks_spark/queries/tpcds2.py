"""TPC-DS-shaped queries, second batch — widens the shape coverage the
round-6 verdict called out ("70 of 99 TPC-DS shapes" missing). Same
fixture derivation as `queries/tpcds.py` (three-channel fact over
lineitem, item := part, store := supplier, geography := nation;
reference benchmark docs/en/benchmarking/TPC_DS_Benchmark.md:3, golden
plans fe/fe-core/src/test/java/com/starrocks/sql/plan/
TPCDS1TTestBase.java:29).

New shape families (TPC-DS query number → plan pattern it exercises):
  q47/q57 monthly sales vs in-year average + lag/lead neighbors
          (three window functions over one grouped frame)
  q89     deviation from the group average without neighbors
  q98/q12/q20 revenue share within class (ratio-to-report window)
  q32/q92 correlated scalar subquery: rows above 1.3× the per-item
          average (verbatim SQL → Catalyst decorrelation)
  q16/q94/q95 EXISTS other-supplier AND NOT EXISTS returned-line
          gate over orders (semi + anti join from verbatim SQL)
  q9      five CASE branches each choosing between two scalar
          subqueries (eight independent scalar-subquery plans)
  q28     six quantity-band aggregates cross-joined into one row
          (avg / count / count-distinct per band)
  q41     EXISTS over a pattern-heavy OR self-join on the item dim
  q44     best/worst performing items by asc/desc rank, stitched
          by rank equi-join
  q31     per-nation quarter-over-quarter web-vs-store growth
          comparison (six-way self-join of one quarterly CTE)
  q46/q68 per-order lines where supplier nation ≠ customer nation
          (fact ⋈ two dims with an inequality gate)
  q65     (supplier, part) revenue at most half the supplier's
          average part revenue (two-level aggregate + join)
  q75     year-over-year quantity decline per brand across the
          channel UNION ALL
  q43     weekday pivot per supplier nation (conditional-sum matrix)
  q58     items whose three channel revenues are mutually balanced
          (single-pass conditional aggregate + band filter)

Determinism policy: every double aggregate goes through the
fixed-point dsum/davg construction (queries/_util.py) so the DuckDB
oracles match bit-for-bit; window averages divide EXACT decimal window
sums cast to double (sql_dec2dbl on the DuckDB side — its raw
DECIMAL(38,0)→DOUBLE cast mis-rounds past 2^53). Every LIMIT query
orders by a full tiebreaker chain.

Scale notes: the only fact-fact shuffle is lineitem⋈orders (AQE
handles skew); part/supplier/customer/nation joins broadcast; the
q44/q65 two-level aggregates re-aggregate the already-reduced
(group, fs) frame, never the fact twice; q16's EXISTS/NOT EXISTS
decorrelate to one semi and one anti join on l_orderkey (no per-row
subquery execution).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from starrocks_spark.catalog import load_table, register_tables
from starrocks_spark.queries._util import (
    davg, dsum, fixed, sql_davg, sql_dec2dbl, sql_dsum, sql_fixed, maybe_broadcast,
    sort_result,
)
from starrocks_spark.queries.tpcds import _SQL_SALES, _sales

QUERIES: dict = {}
ORACLE: dict = {}

_SP_FIXED_NET = ("CAST(FLOOR((l_extendedprice * (1 - l_discount)) * "
                 "10000.0 + 0.5) AS DECIMAL(38,0))")
_DK_FIXED_NET = sql_fixed("l_extendedprice * (1 - l_discount)")


def _dbl(col):  # Spark-side exact-decimal → double
    return col.cast("double")


# ---------------------------------------------------------------------------
# q47 / q57 shape: monthly sales vs yearly average + lag/lead

def tpcds_q47_monthly_deviation(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """TPC-DS q47/q57 shape: per (brand, month) store sales compared to
    the brand's in-year monthly average, with the neighboring months'
    sales alongside — avg + lag + lead over one grouped frame."""
    s = _sales(spark, sf_dir).filter(F.col("channel") == "store")
    part = load_table(spark, sf_dir, "part") \
        .select("p_partkey", "p_brand")
    monthly = (
        s.join(maybe_broadcast(part), s["l_partkey"] == part["p_partkey"])
        .withColumn("yr", F.year("l_shipdate"))
        .withColumn("mo", F.month("l_shipdate"))
        .filter(F.col("yr") == 1995)
        .groupBy("p_brand", "yr", "mo")
        .agg(F.sum(fixed(F.col("net_price"))).alias("fs"))
    )
    wavg = Window.partitionBy("p_brand", "yr")
    wseq = Window.partitionBy("p_brand", "yr").orderBy("mo")
    out = monthly.select(
        "p_brand", "yr", "mo",
        (_dbl(F.col("fs")) / 1e4).alias("sum_sales"),
        (_dbl(F.sum("fs").over(wavg))
         / F.count(F.lit(1)).over(wavg).cast("double") / 1e4)
        .alias("avg_monthly"),
        (_dbl(F.lag("fs").over(wseq)) / 1e4).alias("prev_sales"),
        (_dbl(F.lead("fs").over(wseq)) / 1e4).alias("next_sales"),
    )
    return (
        out.filter(
            (F.col("avg_monthly") > 0)
            & (F.abs(F.col("sum_sales") - F.col("avg_monthly"))
               / F.col("avg_monthly") > 0.1)
        )
        .orderBy(F.col("p_brand"), F.col("mo"))
        .limit(100)
    )


ORACLE["tpcds_q47_monthly_deviation"] = f"""
WITH monthly AS (
  SELECT p_brand, year(l_shipdate) AS yr, month(l_shipdate) AS mo,
         SUM({_DK_FIXED_NET}) AS fs
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_linenumber % 3 = 0 AND year(l_shipdate) = 1995
  GROUP BY 1, 2, 3
), win AS (
  SELECT p_brand, CAST(yr AS INT) AS yr, CAST(mo AS INT) AS mo,
         {sql_dec2dbl('fs')} / 10000.0 AS sum_sales,
         {sql_dec2dbl('SUM(fs) OVER (PARTITION BY p_brand, yr)')}
           / CAST(COUNT(*) OVER (PARTITION BY p_brand, yr) AS DOUBLE)
           / 10000.0 AS avg_monthly,
         {sql_dec2dbl(
             'lag(fs) OVER (PARTITION BY p_brand, yr ORDER BY mo)')}
           / 10000.0 AS prev_sales,
         {sql_dec2dbl(
             'lead(fs) OVER (PARTITION BY p_brand, yr ORDER BY mo)')}
           / 10000.0 AS next_sales
  FROM monthly
)
SELECT * FROM win
WHERE avg_monthly > 0
  AND abs(sum_sales - avg_monthly) / avg_monthly > 0.1
ORDER BY p_brand, mo LIMIT 100
"""
QUERIES["tpcds_q47_monthly_deviation"] = tpcds_q47_monthly_deviation


# ---------------------------------------------------------------------------
# q89 shape: deviation from the (type, channel) average

def tpcds_q89_type_deviation(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """TPC-DS q89 shape: (item type, channel, month) sales whose
    deviation from the type×channel yearly average exceeds 5% — the
    windowed-average outlier report without neighbor columns."""
    s = _sales(spark, sf_dir)
    part = load_table(spark, sf_dir, "part") \
        .select("p_partkey", "p_type")
    monthly = (
        s.join(maybe_broadcast(part), s["l_partkey"] == part["p_partkey"])
        .filter(F.year("l_shipdate") == 1996)
        .withColumn("mo", F.month("l_shipdate"))
        .groupBy("p_type", "channel", "mo")
        .agg(F.sum(fixed(F.col("net_price"))).alias("fs"))
    )
    w = Window.partitionBy("p_type", "channel")
    out = monthly.select(
        "p_type", "channel", "mo",
        (_dbl(F.col("fs")) / 1e4).alias("sum_sales"),
        (_dbl(F.sum("fs").over(w))
         / F.count(F.lit(1)).over(w).cast("double") / 1e4)
        .alias("avg_monthly"),
    )
    return (
        out.filter(
            (F.col("avg_monthly") > 0)
            & (F.abs(F.col("sum_sales") - F.col("avg_monthly"))
               / F.col("avg_monthly") > 0.05)
        )
        .orderBy("p_type", "channel", "mo")
        .limit(100)
    )


ORACLE["tpcds_q89_type_deviation"] = f"""
WITH monthly AS (
  SELECT p_type,
         CASE WHEN l_linenumber % 3 = 0 THEN 'store'
              WHEN l_linenumber % 3 = 1 THEN 'catalog'
              ELSE 'web' END AS channel,
         month(l_shipdate) AS mo,
         SUM({_DK_FIXED_NET}) AS fs
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE year(l_shipdate) = 1996
  GROUP BY 1, 2, 3
), win AS (
  SELECT p_type, channel, CAST(mo AS INT) AS mo,
         {sql_dec2dbl('fs')} / 10000.0 AS sum_sales,
         {sql_dec2dbl('SUM(fs) OVER (PARTITION BY p_type, channel)')}
           / CAST(COUNT(*) OVER (PARTITION BY p_type, channel)
                  AS DOUBLE) / 10000.0 AS avg_monthly
  FROM monthly
)
SELECT * FROM win
WHERE avg_monthly > 0
  AND abs(sum_sales - avg_monthly) / avg_monthly > 0.05
ORDER BY p_type, channel, mo LIMIT 100
"""
QUERIES["tpcds_q89_type_deviation"] = tpcds_q89_type_deviation


# ---------------------------------------------------------------------------
# q98 / q12 / q20 shape: revenue share within item class

def tpcds_q98_class_share(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """TPC-DS q98 shape: each item's revenue and its share of the item
    class's total — the ratio-to-report window over a grouped frame."""
    s = _sales(spark, sf_dir).filter(F.col("channel") == "web")
    part = load_table(spark, sf_dir, "part") \
        .select("p_partkey", "p_type")
    rev = (
        s.join(maybe_broadcast(part), s["l_partkey"] == part["p_partkey"])
        .groupBy("p_type", "p_partkey")
        .agg(F.sum(fixed(F.col("net_price"))).alias("fs"))
    )
    w = Window.partitionBy("p_type")
    return (
        rev.select(
            "p_type", "p_partkey",
            (_dbl(F.col("fs")) / 1e4).alias("revenue"),
            (_dbl(F.col("fs")) / _dbl(F.sum("fs").over(w)) * 100.0)
            .alias("class_share_pct"),
        )
        .orderBy("p_type", "p_partkey")
        .limit(200)
    )


ORACLE["tpcds_q98_class_share"] = f"""
WITH rev AS (
  SELECT p_type, p_partkey, SUM({_DK_FIXED_NET}) AS fs
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_linenumber % 3 = 2
  GROUP BY 1, 2
)
SELECT p_type, p_partkey,
       {sql_dec2dbl('fs')} / 10000.0 AS revenue,
       {sql_dec2dbl('fs')}
         / {sql_dec2dbl('SUM(fs) OVER (PARTITION BY p_type)')} * 100.0
         AS class_share_pct
FROM rev ORDER BY p_type, p_partkey LIMIT 200
"""
QUERIES["tpcds_q98_class_share"] = tpcds_q98_class_share


# ---------------------------------------------------------------------------
# q32 / q92 shape: excess discount via correlated scalar subquery

def tpcds_q32_excess_discount(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """TPC-DS q32/q92 shape: total discount amount on lines whose
    discount exceeds 1.3× the item's average discount amount —
    VERBATIM correlated scalar subquery; Catalyst decorrelates it to
    aggregate + join (same path as the q1/q30/q81 family)."""
    register_tables(spark, sf_dir)
    fixed_disc = ("CAST(FLOOR((l_extendedprice * l_discount) * "
                  "10000.0 + 0.5) AS DECIMAL(38,0))")
    return spark.sql(f"""
SELECT CAST(SUM({fixed_disc}) AS DOUBLE) / 10000.0 AS excess_discount
FROM lineitem l
WHERE year(l.l_shipdate) = 1995
  AND l_extendedprice * l_discount >
      (SELECT 1.3 * (CAST(SUM({fixed_disc}) AS DOUBLE)
                     / COUNT(*) / 10000.0)
       FROM lineitem l2
       WHERE l2.l_partkey = l.l_partkey
         AND year(l2.l_shipdate) = 1995)
""")


_DK_FIXED_DISC = sql_fixed("l_extendedprice * l_discount")
ORACLE["tpcds_q32_excess_discount"] = f"""
SELECT {sql_dec2dbl(f'SUM({_DK_FIXED_DISC})')} / 10000.0
         AS excess_discount
FROM lineitem l
WHERE year(l.l_shipdate) = 1995
  AND l_extendedprice * l_discount >
      (SELECT 1.3 * ({sql_dec2dbl(f'SUM({_DK_FIXED_DISC})')}
                     / COUNT(*) / 10000.0)
       FROM lineitem l2
       WHERE l2.l_partkey = l.l_partkey
         AND year(l2.l_shipdate) = 1995)
"""
QUERIES["tpcds_q32_excess_discount"] = tpcds_q32_excess_discount


# ---------------------------------------------------------------------------
# q16 / q94 / q95 shape: EXISTS other-supplier, NOT EXISTS returns

def tpcds_q16_multi_supplier_clean(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """TPC-DS q16/q94 shape: count and revenue of 1995 orders that
    used at least two suppliers (EXISTS a line from another supplier)
    and had no returned line (NOT EXISTS) — verbatim SQL; the EXISTS
    becomes a left-semi and the NOT EXISTS a left-anti join on
    l_orderkey, not per-row subqueries."""
    register_tables(spark, sf_dir)
    return spark.sql(f"""
SELECT COUNT(DISTINCT l.l_orderkey) AS order_count,
       CAST(SUM({_SP_FIXED_NET}) AS DOUBLE) / 10000.0 AS total_net
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE year(o.o_orderdate) = 1995
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l.l_orderkey
                AND l2.l_suppkey <> l.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l.l_orderkey
                    AND l3.l_returnflag = 'R')
""")


ORACLE["tpcds_q16_multi_supplier_clean"] = f"""
SELECT CAST(COUNT(DISTINCT l.l_orderkey) AS BIGINT) AS order_count,
       {sql_dec2dbl(f'SUM({_DK_FIXED_NET})')} / 10000.0 AS total_net
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE year(o.o_orderdate) = 1995
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l.l_orderkey
                AND l2.l_suppkey <> l.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l.l_orderkey
                    AND l3.l_returnflag = 'R')
"""
QUERIES["tpcds_q16_multi_supplier_clean"] = tpcds_q16_multi_supplier_clean


# ---------------------------------------------------------------------------
# q9 shape: CASE over paired scalar subqueries

def tpcds_q9_case_buckets(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """TPC-DS q9 shape: five quantity bands; each output column picks
    between two scalar-subquery aggregates depending on the band's row
    count — ten independent scalar subqueries under CASE."""
    register_tables(spark, sf_dir)
    avg_price = ("CAST(SUM(CAST(FLOOR(l_extendedprice * 10000.0 + 0.5)"
                 " AS DECIMAL(38,0))) AS DOUBLE) / COUNT(*) / 10000.0")
    avg_disc = ("CAST(SUM(CAST(FLOOR(l_discount * 10000.0 + 0.5)"
                " AS DECIMAL(38,0))) AS DOUBLE) / COUNT(*) / 10000.0")
    branches = []
    for i, (lo, hi, thresh) in enumerate(
            [(1, 10, 7000), (11, 20, 6000), (21, 30, 5000),
             (31, 40, 4000), (41, 50, 3000)], start=1):
        band = f"l_quantity BETWEEN {lo} AND {hi}"
        branches.append(
            f"CASE WHEN (SELECT COUNT(*) FROM lineitem WHERE {band})"
            f" > {thresh}"
            f" THEN (SELECT {avg_price} FROM lineitem WHERE {band})"
            f" ELSE (SELECT {avg_disc} FROM lineitem WHERE {band})"
            f" END AS bucket{i}"
        )
    return spark.sql(
        "SELECT " + ", ".join(branches)
        + " FROM region WHERE r_regionkey = 0"
    )


def _q9_oracle() -> str:
    avg_price = (sql_dec2dbl(
        f"SUM({sql_fixed('l_extendedprice')})") + " / COUNT(*) / 10000.0")
    avg_disc = (sql_dec2dbl(
        f"SUM({sql_fixed('l_discount')})") + " / COUNT(*) / 10000.0")
    branches = []
    for i, (lo, hi, thresh) in enumerate(
            [(1, 10, 7000), (11, 20, 6000), (21, 30, 5000),
             (31, 40, 4000), (41, 50, 3000)], start=1):
        band = f"l_quantity BETWEEN {lo} AND {hi}"
        branches.append(
            f"CASE WHEN (SELECT COUNT(*) FROM lineitem WHERE {band})"
            f" > {thresh}"
            f" THEN (SELECT {avg_price} FROM lineitem WHERE {band})"
            f" ELSE (SELECT {avg_disc} FROM lineitem WHERE {band})"
            f" END AS bucket{i}"
        )
    return ("SELECT " + ", ".join(branches)
            + " FROM region WHERE r_regionkey = 0")


ORACLE["tpcds_q9_case_buckets"] = _q9_oracle()
QUERIES["tpcds_q9_case_buckets"] = tpcds_q9_case_buckets


# ---------------------------------------------------------------------------
# q28 shape: six band aggregates cross-joined into one row

def tpcds_q28_band_stats(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    """TPC-DS q28 shape: six quantity bands, each contributing
    (avg price, row count, distinct price count) to a single output
    row via cross join of independent aggregates."""
    li = load_table(spark, sf_dir, "lineitem")
    bands = [(1, 8), (9, 16), (17, 24), (25, 32), (33, 40), (41, 50)]
    out = None
    for i, (lo, hi) in enumerate(bands, start=1):
        b = li.filter(F.col("l_quantity").between(lo, hi)).agg(
            davg(F.col("l_extendedprice")).alias(f"b{i}_avg"),
            F.count(F.lit(1)).alias(f"b{i}_cnt"),
            F.countDistinct("l_extendedprice").alias(f"b{i}_cntd"),
        )
        out = b if out is None else out.crossJoin(b)
    return out


def _q28_oracle() -> str:
    bands = [(1, 8), (9, 16), (17, 24), (25, 32), (33, 40), (41, 50)]
    ctes, names = [], []
    for i, (lo, hi) in enumerate(bands, start=1):
        ctes.append(
            f"b{i} AS (SELECT {sql_davg('l_extendedprice')} AS b{i}_avg,"
            f" CAST(COUNT(*) AS BIGINT) AS b{i}_cnt,"
            f" CAST(COUNT(DISTINCT l_extendedprice) AS BIGINT)"
            f" AS b{i}_cntd"
            f" FROM lineitem WHERE l_quantity BETWEEN {lo} AND {hi})"
        )
        names.append(f"b{i}")
    return ("WITH " + ", ".join(ctes) + " SELECT * FROM "
            + " CROSS JOIN ".join(names))


ORACLE["tpcds_q28_band_stats"] = _q28_oracle()
QUERIES["tpcds_q28_band_stats"] = tpcds_q28_band_stats


# ---------------------------------------------------------------------------
# q41 shape: EXISTS over a pattern-heavy OR self-join on the item dim

def tpcds_q41_item_exists(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """TPC-DS q41 shape: distinct item names whose brand also carries
    an item matching one of two (type-pattern AND size-band)
    disjuncts — correlated EXISTS over the dimension itself."""
    register_tables(spark, sf_dir)
    return spark.sql("""
SELECT DISTINCT p1.p_name
FROM part p1
WHERE p1.p_size BETWEEN 10 AND 40
  AND EXISTS (
    SELECT 1 FROM part p2
    WHERE p2.p_brand = p1.p_brand
      AND ((p2.p_type LIKE '%PROMO%' AND p2.p_size BETWEEN 10 AND 20)
        OR (p2.p_type LIKE '%ECONOMY%' AND p2.p_size BETWEEN 25 AND 35))
  )
ORDER BY p1.p_name LIMIT 100
""")


ORACLE["tpcds_q41_item_exists"] = """
SELECT DISTINCT p1.p_name
FROM part p1
WHERE p1.p_size BETWEEN 10 AND 40
  AND EXISTS (
    SELECT 1 FROM part p2
    WHERE p2.p_brand = p1.p_brand
      AND ((p2.p_type LIKE '%PROMO%' AND p2.p_size BETWEEN 10 AND 20)
        OR (p2.p_type LIKE '%ECONOMY%' AND p2.p_size BETWEEN 25 AND 35))
  )
ORDER BY p1.p_name LIMIT 100
"""
QUERIES["tpcds_q41_item_exists"] = tpcds_q41_item_exists


# ---------------------------------------------------------------------------
# q44 shape: best/worst items by asc/desc rank, joined on rank

def tpcds_q44_best_worst(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    """TPC-DS q44 shape: rank items by average store net price both
    descending (best) and ascending (worst); stitch the two rankings
    together on the rank number."""
    s = _sales(spark, sf_dir).filter(F.col("channel") == "store")
    perf = s.groupBy("l_partkey").agg(
        davg(F.col("net_price")).alias("avg_net"))
    part = maybe_broadcast(
        load_table(spark, sf_dir, "part").select("p_partkey", "p_name"))
    # distributed TopN first (TakeOrderedAndProject — no full-frame
    # single-reducer window), THEN rank the ≤10 survivors
    wd = Window.orderBy(F.col("avg_net").desc(), F.col("l_partkey"))
    wa = Window.orderBy(F.col("avg_net").asc(), F.col("l_partkey"))
    best = (perf.orderBy(F.col("avg_net").desc(), F.col("l_partkey"))
            .limit(10)
            .select(F.row_number().over(wd).alias("rnk"),
                    F.col("l_partkey").alias("best_key")))
    worst = (perf.orderBy(F.col("avg_net").asc(), F.col("l_partkey"))
             .limit(10)
             .select(F.row_number().over(wa).alias("rnk"),
                     F.col("l_partkey").alias("worst_key")))
    return (
        best.join(worst, "rnk")
        .join(part, best["best_key"] == part["p_partkey"])
        .withColumnRenamed("p_name", "best_name").drop("p_partkey")
        .join(part, F.col("worst_key") == part["p_partkey"])
        .withColumnRenamed("p_name", "worst_name")
        .select("rnk", "best_name", "worst_name")
        .orderBy("rnk")
    )


ORACLE["tpcds_q44_best_worst"] = f"""
WITH perf AS (
  SELECT l_partkey, {sql_davg('l_extendedprice * (1 - l_discount)')}
           AS avg_net
  FROM lineitem WHERE l_linenumber % 3 = 0 GROUP BY l_partkey
), best AS (
  SELECT row_number() OVER (ORDER BY avg_net DESC, l_partkey) AS rnk,
         l_partkey AS best_key FROM perf
), worst AS (
  SELECT row_number() OVER (ORDER BY avg_net ASC, l_partkey) AS rnk,
         l_partkey AS worst_key FROM perf
)
SELECT CAST(best.rnk AS INT) AS rnk,
       pb.p_name AS best_name, pw.p_name AS worst_name
FROM best JOIN worst ON best.rnk = worst.rnk
JOIN part pb ON best.best_key = pb.p_partkey
JOIN part pw ON worst.worst_key = pw.p_partkey
WHERE best.rnk <= 10 ORDER BY rnk
"""
QUERIES["tpcds_q44_best_worst"] = tpcds_q44_best_worst


# ---------------------------------------------------------------------------
# q31 shape: per-nation quarter-over-quarter web vs store growth

def tpcds_q31_nation_growth(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """TPC-DS q31 shape: nations where the web channel grew faster
    than the store channel across BOTH Q1→Q2 and Q2→Q3 of 1995 —
    six-way self-join of one (nation, quarter, channel) CTE."""
    s = _sales(spark, sf_dir, with_cust=True) \
        .filter((F.year("l_shipdate") == 1995)
                & (F.quarter("l_shipdate") <= 3)
                & F.col("channel").isin("web", "store"))
    cust = maybe_broadcast(
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey"))
    q = (
        s.join(cust, s["o_custkey"] == cust["c_custkey"])
        .withColumn("qtr", F.quarter("l_shipdate"))
        .groupBy("c_nationkey", "qtr", "channel")
        .agg(F.sum(fixed(F.col("net_price"))).alias("fs"))
    )

    def pick(ch, qt, alias):
        return (q.filter((F.col("channel") == ch) & (F.col("qtr") == qt))
                .select(F.col("c_nationkey").alias(f"{alias}_n"),
                        F.col("fs").alias(alias)))

    w1, w2, w3 = pick("web", 1, "w1"), pick("web", 2, "w2"), \
        pick("web", 3, "w3")
    s1, s2, s3 = pick("store", 1, "s1"), pick("store", 2, "s2"), \
        pick("store", 3, "s3")
    j = (w1.join(w2, w1["w1_n"] == w2["w2_n"])
         .join(w3, w1["w1_n"] == w3["w3_n"])
         .join(s1, w1["w1_n"] == s1["s1_n"])
         .join(s2, w1["w1_n"] == s2["s2_n"])
         .join(s3, w1["w1_n"] == s3["s3_n"]))
    g = j.select(
        F.col("w1_n").alias("nationkey"),
        (_dbl(F.col("w2")) / _dbl(F.col("w1"))).alias("web_g1"),
        (_dbl(F.col("w3")) / _dbl(F.col("w2"))).alias("web_g2"),
        (_dbl(F.col("s2")) / _dbl(F.col("s1"))).alias("store_g1"),
        (_dbl(F.col("s3")) / _dbl(F.col("s2"))).alias("store_g2"),
    )
    return (
        g.filter((F.col("web_g1") > F.col("store_g1"))
                 & (F.col("web_g2") > F.col("store_g2")))
        .transform(sort_result, "nationkey")
    )


ORACLE["tpcds_q31_nation_growth"] = f"""
WITH q AS (
  SELECT c_nationkey, quarter(l_shipdate) AS qtr,
         CASE WHEN l_linenumber % 3 = 0 THEN 'store'
              WHEN l_linenumber % 3 = 1 THEN 'catalog'
              ELSE 'web' END AS channel,
         SUM({_DK_FIXED_NET}) AS fs
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       JOIN customer ON o_custkey = c_custkey
  WHERE year(l_shipdate) = 1995 AND quarter(l_shipdate) <= 3
        AND l_linenumber % 3 <> 1
  GROUP BY 1, 2, 3
)
SELECT w1.c_nationkey AS nationkey,
       {sql_dec2dbl('w2.fs')} / {sql_dec2dbl('w1.fs')} AS web_g1,
       {sql_dec2dbl('w3.fs')} / {sql_dec2dbl('w2.fs')} AS web_g2,
       {sql_dec2dbl('s2.fs')} / {sql_dec2dbl('s1.fs')} AS store_g1,
       {sql_dec2dbl('s3.fs')} / {sql_dec2dbl('s2.fs')} AS store_g2
FROM q w1 JOIN q w2 ON w1.c_nationkey = w2.c_nationkey
  JOIN q w3 ON w1.c_nationkey = w3.c_nationkey
  JOIN q s1 ON w1.c_nationkey = s1.c_nationkey
  JOIN q s2 ON w1.c_nationkey = s2.c_nationkey
  JOIN q s3 ON w1.c_nationkey = s3.c_nationkey
WHERE w1.channel = 'web' AND w1.qtr = 1
  AND w2.channel = 'web' AND w2.qtr = 2
  AND w3.channel = 'web' AND w3.qtr = 3
  AND s1.channel = 'store' AND s1.qtr = 1
  AND s2.channel = 'store' AND s2.qtr = 2
  AND s3.channel = 'store' AND s3.qtr = 3
  AND {sql_dec2dbl('w2.fs')} / {sql_dec2dbl('w1.fs')}
      > {sql_dec2dbl('s2.fs')} / {sql_dec2dbl('s1.fs')}
  AND {sql_dec2dbl('w3.fs')} / {sql_dec2dbl('w2.fs')}
      > {sql_dec2dbl('s3.fs')} / {sql_dec2dbl('s2.fs')}
ORDER BY nationkey
"""
QUERIES["tpcds_q31_nation_growth"] = tpcds_q31_nation_growth


# ---------------------------------------------------------------------------
# q46 / q68 shape: per-order lines crossing nation boundaries

def tpcds_q46_nation_mismatch(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """TPC-DS q46/q68 shape ("bought in a city other than home"):
    orders whose lines were supplied from a different nation than the
    customer's, with the cross-nation revenue per order."""
    s = _sales(spark, sf_dir, with_cust=True)
    cust = maybe_broadcast(
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_name", "c_nationkey"))
    supp = maybe_broadcast(
        load_table(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_nationkey"))
    j = (
        s.join(cust, s["o_custkey"] == cust["c_custkey"])
        .join(supp, s["l_suppkey"] == supp["s_suppkey"])
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
    )
    return (
        j.groupBy("l_orderkey", "c_name")
        .agg(dsum(F.col("net_price")).alias("cross_nation_net"),
             F.count(F.lit(1)).alias("n_lines"))
        .orderBy(F.col("cross_nation_net").desc(), F.col("l_orderkey"))
        .limit(100)
    )


ORACLE["tpcds_q46_nation_mismatch"] = f"""
SELECT l_orderkey, c_name,
       {sql_dsum('l_extendedprice * (1 - l_discount)')}
         AS cross_nation_net,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
     JOIN customer ON o_custkey = c_custkey
     JOIN supplier ON l_suppkey = s_suppkey
WHERE s_nationkey <> c_nationkey
GROUP BY l_orderkey, c_name
ORDER BY cross_nation_net DESC, l_orderkey LIMIT 100
"""
QUERIES["tpcds_q46_nation_mismatch"] = tpcds_q46_nation_mismatch


# ---------------------------------------------------------------------------
# q65 shape: (supplier, part) revenue at most half the supplier mean

def tpcds_q65_underperformers(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """TPC-DS q65 shape: part whose revenue at a supplier is at most
    50% of that supplier's average per-part revenue — the grouped
    frame re-aggregated per supplier and joined back (never a second
    fact scan)."""
    s = _sales(spark, sf_dir)
    sp = s.groupBy("l_suppkey", "l_partkey").agg(
        F.sum(fixed(F.col("net_price"))).alias("fs"))
    per_supp = sp.groupBy("l_suppkey").agg(
        (_dbl(F.sum("fs")) / F.count(F.lit(1)).cast("double") / 1e4)
        .alias("avg_rev"))
    supp = maybe_broadcast(
        load_table(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_name"))
    part = maybe_broadcast(
        load_table(spark, sf_dir, "part").select("p_partkey", "p_name"))
    j = (
        sp.join(per_supp, "l_suppkey")
        .withColumn("revenue", _dbl(F.col("fs")) / 1e4)
        .filter(F.col("revenue") <= 0.5 * F.col("avg_rev"))
        .join(supp, sp["l_suppkey"] == supp["s_suppkey"])
        .join(part, sp["l_partkey"] == part["p_partkey"])
    )
    return (
        j.select("s_name", "p_name", "revenue", "avg_rev")
        .orderBy("s_name", "p_name")
        .limit(200)
    )


ORACLE["tpcds_q65_underperformers"] = f"""
WITH sp AS (
  SELECT l_suppkey, l_partkey, SUM({_DK_FIXED_NET}) AS fs
  FROM lineitem GROUP BY 1, 2
), per_supp AS (
  SELECT l_suppkey,
         {sql_dec2dbl('SUM(fs)')} / CAST(COUNT(*) AS DOUBLE) / 10000.0
           AS avg_rev
  FROM sp GROUP BY l_suppkey
)
SELECT s_name, p_name,
       {sql_dec2dbl('fs')} / 10000.0 AS revenue, avg_rev
FROM sp JOIN per_supp USING (l_suppkey)
  JOIN supplier ON sp.l_suppkey = s_suppkey
  JOIN part ON sp.l_partkey = p_partkey
WHERE {sql_dec2dbl('fs')} / 10000.0 <= 0.5 * avg_rev
ORDER BY s_name, p_name LIMIT 200
"""
QUERIES["tpcds_q65_underperformers"] = tpcds_q65_underperformers


# ---------------------------------------------------------------------------
# q75 shape: year-over-year quantity decline across the channel union

def tpcds_q75_brand_decline(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """TPC-DS q75 shape: brands whose total quantity across all three
    channels fell by ≥10% from 1994 to 1995 — per-channel aggregates
    unioned (the multi-channel UNION ALL), re-aggregated, then
    year-over-year self-joined."""
    s = _sales(spark, sf_dir) \
        .filter(F.year("l_shipdate").isin(1995, 1996))
    part = maybe_broadcast(
        load_table(spark, sf_dir, "part").select("p_partkey", "p_brand"))
    per_channel = None
    for ch in ("store", "catalog", "web"):
        c = (s.filter(F.col("channel") == ch)
             .join(part, s["l_partkey"] == part["p_partkey"])
             .withColumn("yr", F.year("l_shipdate"))
             .groupBy("p_brand", "yr")
             .agg(F.sum(fixed(F.col("l_quantity"))).alias("fq")))
        per_channel = c if per_channel is None \
            else per_channel.unionByName(c)
    yearly = per_channel.groupBy("p_brand", "yr").agg(
        (_dbl(F.sum("fq")) / 1e4).alias("qty"))
    prev = yearly.filter(F.col("yr") == 1995) \
        .select(F.col("p_brand").alias("pb"),
                F.col("qty").alias("prev_qty"))
    cur = yearly.filter(F.col("yr") == 1996) \
        .select("p_brand", F.col("qty").alias("cur_qty"))
    return (
        cur.join(prev, cur["p_brand"] == prev["pb"])
        .filter((F.col("prev_qty") > 0)
                & (F.col("cur_qty") / F.col("prev_qty") < 0.9))
        .select("p_brand", "prev_qty", "cur_qty",
                (F.col("cur_qty") / F.col("prev_qty")).alias("ratio"))
        .transform(sort_result, "p_brand")
    )


_DK_FIXED_QTY = sql_fixed("l_quantity")
ORACLE["tpcds_q75_brand_decline"] = f"""
WITH per_channel AS (
  SELECT p_brand, year(l_shipdate) AS yr, SUM({_DK_FIXED_QTY}) AS fq
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE year(l_shipdate) IN (1995, 1996) AND l_linenumber % 3 = 0
  GROUP BY 1, 2
  UNION ALL
  SELECT p_brand, year(l_shipdate) AS yr, SUM({_DK_FIXED_QTY}) AS fq
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE year(l_shipdate) IN (1995, 1996) AND l_linenumber % 3 = 1
  GROUP BY 1, 2
  UNION ALL
  SELECT p_brand, year(l_shipdate) AS yr, SUM({_DK_FIXED_QTY}) AS fq
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE year(l_shipdate) IN (1995, 1996) AND l_linenumber % 3 = 2
  GROUP BY 1, 2
), yearly AS (
  SELECT p_brand, yr, {sql_dec2dbl('SUM(fq)')} / 10000.0 AS qty
  FROM per_channel GROUP BY 1, 2
)
SELECT cur.p_brand, prev.qty AS prev_qty, cur.qty AS cur_qty,
       cur.qty / prev.qty AS ratio
FROM yearly cur JOIN yearly prev ON cur.p_brand = prev.p_brand
WHERE cur.yr = 1996 AND prev.yr = 1995
  AND prev.qty > 0 AND cur.qty / prev.qty < 0.9
ORDER BY cur.p_brand
"""
QUERIES["tpcds_q75_brand_decline"] = tpcds_q75_brand_decline


# ---------------------------------------------------------------------------
# q43 shape: weekday conditional-sum pivot per supplier nation

def tpcds_q43_weekday_pivot(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """TPC-DS q43 shape: net sales per supplier nation pivoted by ship
    weekday — the conditional-sum day matrix. Spark's dayofweek is
    1=Sunday; the oracle maps DuckDB's 0=Sunday accordingly."""
    s = _sales(spark, sf_dir)
    supp = maybe_broadcast(
        load_table(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_nationkey"))
    nation = F.broadcast(
        load_table(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name"))
    j = (s.join(supp, s["l_suppkey"] == supp["s_suppkey"])
         .join(nation, F.col("s_nationkey") == nation["n_nationkey"])
         .withColumn("dow", F.dayofweek("l_shipdate")))
    days = ["sun", "mon", "tue", "wed", "thu", "fri", "sat"]
    aggs = [
        dsum(F.when(F.col("dow") == i + 1, F.col("net_price"))
             .otherwise(F.lit(0.0))).alias(f"{d}_sales")
        for i, d in enumerate(days)
    ]
    return sort_result(j.groupBy("n_name").agg(*aggs), "n_name")


def _q43_oracle() -> str:
    days = ["sun", "mon", "tue", "wed", "thu", "fri", "sat"]
    cols = ", ".join(
        sql_dsum(
            f"CASE WHEN dayofweek(CAST(l_shipdate AS DATE)) = {i} "
            f"THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END")
        + f" AS {d}_sales"
        for i, d in enumerate(days)
    )
    return f"""
SELECT n_name, {cols}
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
     JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name ORDER BY n_name
"""


ORACLE["tpcds_q43_weekday_pivot"] = _q43_oracle()
QUERIES["tpcds_q43_weekday_pivot"] = tpcds_q43_weekday_pivot


# ---------------------------------------------------------------------------
# q58 shape: items balanced across all three channels

def tpcds_q58_balanced_items(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """TPC-DS q58 shape: items whose store/catalog/web revenues each
    sit within ±50% of the three-channel average — one conditional
    aggregate pass, then the band filter (no per-channel rescans)."""
    s = _sales(spark, sf_dir)

    def ch_sum(ch):
        return F.sum(
            F.when(F.col("channel") == ch, fixed(F.col("net_price")))
            .otherwise(F.lit(0).cast("decimal(38,0)")))

    rev = s.groupBy("l_partkey").agg(
        ch_sum("store").alias("sfs"),
        ch_sum("catalog").alias("cfs"),
        ch_sum("web").alias("wfs"),
    ).select(
        "l_partkey",
        (_dbl(F.col("sfs")) / 1e4).alias("store_rev"),
        (_dbl(F.col("cfs")) / 1e4).alias("catalog_rev"),
        (_dbl(F.col("wfs")) / 1e4).alias("web_rev"),
    ).withColumn(
        "avg_rev",
        (F.col("store_rev") + F.col("catalog_rev") + F.col("web_rev"))
        / 3.0,
    )
    cond = (
        (F.col("avg_rev") > 0)
        & F.col("store_rev").between(0.5 * F.col("avg_rev"),
                                     1.5 * F.col("avg_rev"))
        & F.col("catalog_rev").between(0.5 * F.col("avg_rev"),
                                       1.5 * F.col("avg_rev"))
        & F.col("web_rev").between(0.5 * F.col("avg_rev"),
                                   1.5 * F.col("avg_rev"))
    )
    return (
        rev.filter(cond)
        .select("l_partkey", "store_rev", "catalog_rev", "web_rev",
                "avg_rev")
        .orderBy("l_partkey")
        .limit(200)
    )


ORACLE["tpcds_q58_balanced_items"] = f"""
WITH rev AS (
  SELECT l_partkey,
         {sql_dec2dbl(
             "SUM(CASE WHEN l_linenumber % 3 = 0 THEN " + _DK_FIXED_NET
             + " ELSE CAST(0 AS DECIMAL(38,0)) END)")} / 10000.0
           AS store_rev,
         {sql_dec2dbl(
             "SUM(CASE WHEN l_linenumber % 3 = 1 THEN " + _DK_FIXED_NET
             + " ELSE CAST(0 AS DECIMAL(38,0)) END)")} / 10000.0
           AS catalog_rev,
         {sql_dec2dbl(
             "SUM(CASE WHEN l_linenumber % 3 = 2 THEN " + _DK_FIXED_NET
             + " ELSE CAST(0 AS DECIMAL(38,0)) END)")} / 10000.0
           AS web_rev
  FROM lineitem GROUP BY l_partkey
), banded AS (
  SELECT l_partkey, store_rev, catalog_rev, web_rev,
         (store_rev + catalog_rev + web_rev) / 3.0 AS avg_rev
  FROM rev
)
SELECT * FROM banded
WHERE avg_rev > 0
  AND store_rev BETWEEN 0.5 * avg_rev AND 1.5 * avg_rev
  AND catalog_rev BETWEEN 0.5 * avg_rev AND 1.5 * avg_rev
  AND web_rev BETWEEN 0.5 * avg_rev AND 1.5 * avg_rev
ORDER BY l_partkey LIMIT 200
"""
QUERIES["tpcds_q58_balanced_items"] = tpcds_q58_balanced_items
