"""TPC-DS-shaped queries, third batch — continues closing the "70 of
99 shapes" gap from the round-6 verdict (round-7 batches one and two
brought coverage to 48; this module adds 15 more families). Same
fixture derivation as `queries/tpcds.py` (three-channel fact over
lineitem, item := part, warehouse/store := supplier, geography :=
nation; reference benchmark docs/en/benchmarking/TPC_DS_Benchmark.md:3,
golden plans fe/fe-core/src/test/java/com/starrocks/sql/plan/
TPCDS1TTestBase.java:29).

New shape families (TPC-DS query number → plan pattern it exercises):
  q2      cross-year week-over-week ratio: weekday conditional-sum
          pivot per ISO week, self-joined 1994-vs-1995 on week number
  q6      customers of items priced ≥1.2× their category average —
          dimension-side aggregate joined back, HAVING count gate
  q8      phone-prefix (zip analog) INTERSECT between a literal list
          and a qualifying-customer set, gating a sales aggregate
  q13     one pass with OR-of-band predicates feeding several davg
          measures of different columns
  q18     multi-measure davg report over ROLLUP(nation, segment)
  q22     avg quantity-on-hand over ROLLUP of the item hierarchy
  q24     grouped frame kept only above 0.05× the global average
          (broadcast scalar threshold, TPC-DS "excess paid" shape)
  q25     sold→returned→re-bought 3-fact chain (store sale that was
          returned, then catalog re-purchase by the same customer)
  q39     per-(part,supplier) monthly coefficient of variation,
          self-joined to the NEXT month's cov (stat-pair shape)
  q40     before/after pivot-date netting with returns zeroed out,
          per supplier nation × part
  q70     top-5 revenue nations via rank-in-subquery, then a
          ROLLUP report ranked within each grouping level
  q72     demand vs quantity-on-hand shortfall join with a promo
          LEFT JOIN split (promo vs no-promo counts per week)
  q83     per-item returned quantity across the three channels with
          each channel's share of the item total
  q85     returns "reason" report (shipinstruct analog) where the
          paying customer passes OR-of-demographic-band gates
  q95     orders with BOTH another-supplier web line (EXISTS) AND a
          returned web line (EXISTS) — dual semi-join gate

Determinism policy: every double aggregate goes through the
fixed-point dsum/davg construction (queries/_util.py) so the DuckDB
oracles match bit-for-bit; counts are CAST to BIGINT on the DuckDB
side (HUGEINT hash-fails the driver compare); every LIMIT query
orders by a full tiebreaker chain.

Scale notes: the only fact-fact shuffles are lineitem⋈orders (for
customer attribution) and the q25/q95 self-joins, which AQE
re-balances; all dimension joins broadcast. q24's global average is a
1-row broadcast crossJoin, not a single-partition window. q39/q2
self-joins operate on already-aggregated (thousands-row) frames, not
the fact. q72's quantity-on-hand is a (part,supplier)-grain aggregate
reused via broadcast-sized join at fixture scale and a shuffle join at
warehouse scale — Spark picks per AQE stats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from starrocks_spark.catalog import load_table
from starrocks_spark.queries._util import (
    davg, dsum, fixed, lit_frame, sql_davg, sql_dec2dbl, sql_dsum, sql_fixed,
    maybe_broadcast, sort_result,
)
from starrocks_spark.queries.tpcds import _SQL_SALES, _SQL_SALES_CUST, _sales

QUERIES: dict = {}
ORACLE: dict = {}

_DK_FIXED_NET = sql_fixed("l_extendedprice * (1 - l_discount)")


def _dbl(col):  # Spark-side exact-decimal → double
    return col.cast("double")


# ---------------------------------------------------------------------------
# q2 shape: cross-year week-over-week weekday ratios

def tpcds_q2_weekly_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q2 shape: weekday-pivoted weekly (web+catalog) revenue
    for two consecutive years, self-joined on ISO week number, each
    weekday column expressed as this-year/last-year ratio.

    Reference query: the wswscs CTE pivots d_day_name into seven
    conditional sums and joins year y against y+1 on d_week_seq."""
    s = _sales(spark, sf_dir).filter(F.col("channel") != "store")
    wk = (
        s.withColumn("yr", F.year("l_shipdate"))
        .withColumn("wk", F.weekofyear("l_shipdate"))
        .filter((F.col("yr").isin(1994, 1995))
                & F.col("wk").between(2, 50))
        .withColumn("dw", F.dayofweek("l_shipdate"))
        .groupBy("yr", "wk")
        .agg(*[
            F.sum(F.when(F.col("dw") == d,
                         fixed(F.col("net_price"))).otherwise(F.lit(0)))
            .alias(f"d{d}")
            for d in (1, 2, 3, 4, 5, 6, 7)
        ])
    )
    a, b = wk.alias("a"), wk.alias("b")
    ratios = [
        F.when(F.col(f"b.d{d}") > 0,
               F.round(_dbl(F.col(f"a.d{d}"))
                       / _dbl(F.col(f"b.d{d}")), 4))
        .alias(f"r{d}")
        for d in (1, 2, 3, 4, 5, 6, 7)
    ]
    return (
        a.join(b, (F.col("a.wk") == F.col("b.wk"))
               & (F.col("a.yr") == 1995) & (F.col("b.yr") == 1994))
        .select(F.col("a.wk").alias("wk"), *ratios)
        .transform(sort_result, "wk")
    )


_SQL_WK = f"""
  SELECT year(l_shipdate) AS yr, weekofyear(l_shipdate) AS wk,
         {', '.join(
             f"SUM(CASE WHEN dayofweek(l_shipdate) + 1 = {d} "
             f"THEN {_DK_FIXED_NET} ELSE 0 END) AS d{d}"
             for d in (1, 2, 3, 4, 5, 6, 7))}
  FROM lineitem
  WHERE l_linenumber % 3 <> 0
    AND year(l_shipdate) IN (1994, 1995)
    AND weekofyear(l_shipdate) BETWEEN 2 AND 50
  GROUP BY 1, 2
"""

ORACLE["tpcds_q2_weekly_ratio"] = f"""
WITH wk AS ({_SQL_WK})
SELECT CAST(a.wk AS INT) AS wk,
       {', '.join(
           f"CASE WHEN b.d{d} > 0 THEN "
           f"round({sql_dec2dbl(f'a.d{d}')} / {sql_dec2dbl(f'b.d{d}')},"
           f" 4) END AS r{d}" for d in (1, 2, 3, 4, 5, 6, 7))}
FROM wk a JOIN wk b ON a.wk = b.wk AND a.yr = 1995 AND b.yr = 1994
ORDER BY wk
"""
QUERIES["tpcds_q2_weekly_ratio"] = tpcds_q2_weekly_ratio


# ---------------------------------------------------------------------------
# q6 shape: customers of above-category-average-priced items, by state

def tpcds_q6_above_avg_price_states(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """TPC-DS q6 shape: count customers per state (nation analog) who
    bought items priced ≥ 1.2× the average retail price of the item's
    category, HAVING at least 10 such customers. The correlated
    per-category average decorrelates to a dimension-side aggregate
    joined back to the item dim (never touches the fact twice)."""
    part = load_table(spark, sf_dir, "part") \
        .select("p_partkey", "p_type", "p_retailprice")
    cat_avg = part.groupBy("p_type") \
        .agg(davg(F.col("p_retailprice")).alias("cat_avg"))
    pricey = (
        part.join(F.broadcast(cat_avg), "p_type")
        .filter(F.col("p_retailprice") > 1.2 * F.col("cat_avg"))
        .select("p_partkey")
    )
    s = _sales(spark, sf_dir, with_cust=True)
    cust = load_table(spark, sf_dir, "customer") \
        .select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation") \
        .select("n_nationkey", "n_name")
    return (
        s.join(pricey, s["l_partkey"] == pricey["p_partkey"])
        .join(cust, s["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation),
              cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy("n_name")
        .agg(F.count_distinct("c_custkey").alias("cnt"))
        .filter(F.col("cnt") >= 10)
        .transform(sort_result, "cnt", "n_name")
    )


ORACLE["tpcds_q6_above_avg_price_states"] = f"""
WITH cat_avg AS (
  SELECT p_type, {sql_davg('p_retailprice')} AS cat_avg
  FROM part GROUP BY p_type
), pricey AS (
  SELECT p_partkey FROM part JOIN cat_avg USING (p_type)
  WHERE p_retailprice > 1.2 * cat_avg
)
SELECT n_name, CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS cnt
FROM ({_SQL_SALES_CUST}) s
JOIN pricey ON s.l_partkey = pricey.p_partkey
JOIN customer ON s.o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name HAVING COUNT(DISTINCT o_custkey) >= 10
ORDER BY cnt, n_name
"""
QUERIES["tpcds_q6_above_avg_price_states"] = tpcds_q6_above_avg_price_states


# ---------------------------------------------------------------------------
# q8 shape: prefix-list ∩ qualifying-customer prefixes gate

def tpcds_q8_prefix_intersect(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """TPC-DS q8 shape: net store revenue per supplier nation, counting
    only customers whose phone prefix (zip analog) is BOTH in a literal
    prefix list AND among prefixes with >5 positive-balance customers —
    the INTERSECT of a constant set with a computed set, then a semi
    join against the fact's customer. Zip analog: the fixture customer
    has no phone/zip column, so the two-digit prefix is derived as
    lpad(c_custkey % 50) — a documented synthetic column (same policy
    as the SSB derivations)."""
    cust = load_table(spark, sf_dir, "customer") \
        .select("c_custkey", "c_acctbal",
                F.lpad((F.col("c_custkey") % 50).cast("string"),
                       2, "0").alias("pfx"))
    lit_pfx = lit_frame(
        spark,
        [(p,) for p in ("11", "13", "15", "17", "19",
                        "21", "23", "25", "27", "29")], "pfx string")
    rich_pfx = (
        cust.filter(F.col("c_acctbal") > 0)
        .groupBy("pfx").agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 5).select("pfx")
    )
    good_pfx = lit_pfx.intersect(rich_pfx)
    good_cust = cust.join(F.broadcast(good_pfx), "pfx") \
        .select("c_custkey")
    s = _sales(spark, sf_dir, with_cust=True) \
        .filter(F.col("channel") == "store")
    supp = load_table(spark, sf_dir, "supplier") \
        .select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation") \
        .select("n_nationkey", "n_name")
    return (
        s.join(good_cust, s["o_custkey"] == good_cust["c_custkey"],
               "left_semi")
        .join(maybe_broadcast(supp), s["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(nation),
              supp["s_nationkey"] == nation["n_nationkey"])
        .groupBy("n_name")
        .agg(dsum(F.col("net_price")).alias("net_rev"))
        .transform(sort_result, "n_name")
    )


ORACLE["tpcds_q8_prefix_intersect"] = f"""
WITH good_pfx AS (
  SELECT pfx FROM (VALUES ('11'),('13'),('15'),('17'),('19'),
                          ('21'),('23'),('25'),('27'),('29')) v(pfx)
  INTERSECT
  SELECT lpad(CAST(c_custkey % 50 AS VARCHAR), 2, '0') AS pfx
  FROM customer
  WHERE c_acctbal > 0
  GROUP BY 1 HAVING COUNT(*) > 5
), good_cust AS (
  SELECT c_custkey FROM customer
  WHERE lpad(CAST(c_custkey % 50 AS VARCHAR), 2, '0')
        IN (SELECT pfx FROM good_pfx)
)
SELECT n_name,
       {sql_dsum('l_extendedprice * (1 - l_discount)')} AS net_rev
FROM ({_SQL_SALES_CUST}) s
JOIN supplier ON s.l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE s.channel = 'store'
  AND s.o_custkey IN (SELECT c_custkey FROM good_cust)
GROUP BY n_name ORDER BY n_name
"""
QUERIES["tpcds_q8_prefix_intersect"] = tpcds_q8_prefix_intersect


# ---------------------------------------------------------------------------
# q13 shape: several davg measures under one OR-of-bands gate

def tpcds_q13_or_band_avgs(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """TPC-DS q13 shape: average quantity, price, discount and total
    net over fact rows passing ANY of three (segment, balance-band,
    quantity-band) conjunctions — one scan, one OR predicate, several
    measures of different columns."""
    s = _sales(spark, sf_dir, with_cust=True)
    cust = load_table(spark, sf_dir, "customer") \
        .select("c_custkey", "c_mktsegment", "c_acctbal")
    j = s.join(cust, s["o_custkey"] == cust["c_custkey"])
    band = (
        ((F.col("c_mktsegment") == "BUILDING")
         & F.col("c_acctbal").between(0, 3000)
         & F.col("l_quantity").between(5, 25))
        | ((F.col("c_mktsegment") == "AUTOMOBILE")
           & F.col("c_acctbal").between(3000, 7000)
           & F.col("l_quantity").between(15, 35))
        | ((F.col("c_mktsegment") == "MACHINERY")
           & F.col("c_acctbal").between(7000, 11000)
           & F.col("l_quantity").between(25, 45))
    )
    return j.filter(band).agg(
        davg(F.col("l_quantity")).alias("avg_qty"),
        davg(F.col("l_extendedprice")).alias("avg_price"),
        davg(F.col("l_discount")).alias("avg_disc"),
        dsum(F.col("net_price")).alias("sum_net"),
    )


ORACLE["tpcds_q13_or_band_avgs"] = f"""
SELECT {sql_davg('l_quantity')} AS avg_qty,
       {sql_davg('l_extendedprice')} AS avg_price,
       {sql_davg('l_discount')} AS avg_disc,
       {sql_dsum('l_extendedprice * (1 - l_discount)')} AS sum_net
FROM ({_SQL_SALES_CUST}) s JOIN customer ON s.o_custkey = c_custkey
WHERE (c_mktsegment = 'BUILDING' AND c_acctbal BETWEEN 0 AND 3000
       AND l_quantity BETWEEN 5 AND 25)
   OR (c_mktsegment = 'AUTOMOBILE' AND c_acctbal BETWEEN 3000 AND 7000
       AND l_quantity BETWEEN 15 AND 35)
   OR (c_mktsegment = 'MACHINERY' AND c_acctbal BETWEEN 7000 AND 11000
       AND l_quantity BETWEEN 25 AND 45)
"""
QUERIES["tpcds_q13_or_band_avgs"] = tpcds_q13_or_band_avgs


# ---------------------------------------------------------------------------
# q18 shape: multi-measure averages over ROLLUP(geography, segment)

def tpcds_q18_rollup_avgs(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """TPC-DS q18 shape: several independent davg measures reported at
    every level of ROLLUP(nation, segment) — the multi-measure rollup
    report (q18 averages five cast demographics columns)."""
    s = _sales(spark, sf_dir, with_cust=True)
    cust = load_table(spark, sf_dir, "customer") \
        .select("c_custkey", "c_nationkey", "c_mktsegment")
    nation = load_table(spark, sf_dir, "nation") \
        .select("n_nationkey", "n_name")
    j = (
        s.join(cust, s["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation),
              cust["c_nationkey"] == nation["n_nationkey"])
    )
    return (
        j.rollup("n_name", "c_mktsegment")
        .agg(davg(F.col("l_quantity")).alias("avg_qty"),
             davg(F.col("l_extendedprice")).alias("avg_price"),
             davg(F.col("net_price")).alias("avg_net"),
             F.count(F.lit(1)).alias("n_lines"))
        .orderBy(F.col("n_name").asc_nulls_first(),
                 F.col("c_mktsegment").asc_nulls_first())
        .limit(150)
    )


ORACLE["tpcds_q18_rollup_avgs"] = f"""
SELECT n_name, c_mktsegment,
       {sql_davg('l_quantity')} AS avg_qty,
       {sql_davg('l_extendedprice')} AS avg_price,
       {sql_davg('l_extendedprice * (1 - l_discount)')} AS avg_net,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM ({_SQL_SALES_CUST}) s
JOIN customer ON s.o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY ROLLUP (n_name, c_mktsegment)
ORDER BY n_name ASC NULLS FIRST, c_mktsegment ASC NULLS FIRST
LIMIT 150
"""
QUERIES["tpcds_q18_rollup_avgs"] = tpcds_q18_rollup_avgs


# ---------------------------------------------------------------------------
# q22 shape: quantity-on-hand rollup over the item hierarchy

def tpcds_q22_qoh_rollup(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    """TPC-DS q22 shape: average quantity-on-hand over
    ROLLUP(brand, type, size) of the item hierarchy, ordered by the
    average — the inventory hierarchy report (inventory analog:
    lineitem quantity; the fixture part dim has no manufacturer, so
    the three hierarchy levels are brand → type → size)."""
    s = _sales(spark, sf_dir)
    part = load_table(spark, sf_dir, "part") \
        .select("p_partkey", "p_brand", "p_type", "p_size")
    j = s.join(maybe_broadcast(part), s["l_partkey"] == part["p_partkey"])
    return (
        j.rollup("p_brand", "p_type", "p_size")
        .agg(davg(F.col("l_quantity")).alias("avg_qoh"))
        .orderBy(F.col("avg_qoh"),
                 F.col("p_brand").asc_nulls_first(),
                 F.col("p_type").asc_nulls_first(),
                 F.col("p_size").asc_nulls_first())
        .limit(100)
    )


ORACLE["tpcds_q22_qoh_rollup"] = f"""
SELECT p_brand, p_type, p_size, {sql_davg('l_quantity')} AS avg_qoh
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY ROLLUP (p_brand, p_type, p_size)
ORDER BY avg_qoh, p_brand ASC NULLS FIRST, p_type ASC NULLS FIRST,
         p_size ASC NULLS FIRST
LIMIT 100
"""
QUERIES["tpcds_q22_qoh_rollup"] = tpcds_q22_qoh_rollup


# ---------------------------------------------------------------------------
# q24 shape: grouped frame above a broadcast global-average threshold

def tpcds_q24_scalar_threshold(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """TPC-DS q24 shape: (customer, supplier-nation) net paid, keeping
    pairs above 5% of the GLOBAL average pair value. The scalar
    average is a 1-row aggregate broadcast-crossJoined against the
    grouped frame — no single-partition window, no per-row subquery."""
    s = _sales(spark, sf_dir, with_cust=True) \
        .filter(F.col("channel") == "store")
    supp = load_table(spark, sf_dir, "supplier") \
        .select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation") \
        .select("n_nationkey", "n_name")
    pairs = (
        s.join(maybe_broadcast(supp), s["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(nation),
              supp["s_nationkey"] == nation["n_nationkey"])
        .groupBy("o_custkey", "n_name")
        .agg(F.sum(fixed(F.col("net_price"))).alias("fs"))
    )
    thr = pairs.agg(
        (F.sum("fs").cast("double")
         / F.count(F.lit(1)).cast("double") / 1e4 * 0.05).alias("thr"))
    return (
        pairs.crossJoin(F.broadcast(thr))
        .filter(_dbl(F.col("fs")) / 1e4 > F.col("thr"))
        .select("o_custkey", "n_name",
                (_dbl(F.col("fs")) / 1e4).alias("paid"))
        .orderBy(F.col("paid").desc(), "o_custkey", "n_name")
        .limit(100)
    )


ORACLE["tpcds_q24_scalar_threshold"] = f"""
WITH pairs AS (
  SELECT o_custkey, n_name, SUM({_DK_FIXED_NET}) AS fs
  FROM ({_SQL_SALES_CUST}) s
  JOIN supplier ON s.l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE s.channel = 'store'
  GROUP BY 1, 2
), thr AS (
  SELECT {sql_dec2dbl('SUM(fs)')} / CAST(COUNT(*) AS DOUBLE)
           / 10000.0 * 0.05 AS thr
  FROM pairs
)
SELECT o_custkey, n_name, {sql_dec2dbl('fs')} / 10000.0 AS paid
FROM pairs, thr
WHERE {sql_dec2dbl('fs')} / 10000.0 > thr
ORDER BY paid DESC, o_custkey, n_name LIMIT 100
"""
QUERIES["tpcds_q24_scalar_threshold"] = tpcds_q24_scalar_threshold


# ---------------------------------------------------------------------------
# q25 shape: sold → returned → re-bought three-fact chain

def tpcds_q25_sold_returned_resold(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """TPC-DS q25 shape: store sales that were RETURNED, where the same
    customer later RE-BOUGHT the same item on the catalog channel —
    store_sales ⋈ store_returns ⋈ catalog_sales, aggregated per brand.
    Returns := returned store lines; re-buy := any non-returned catalog
    line of the same (customer, part)."""
    s = _sales(spark, sf_dir, with_cust=True)
    sold = s.filter((F.col("channel") == "store")
                    & F.col("returned")) \
        .select("o_custkey", "l_partkey", "net_price")
    rebuy = s.filter((F.col("channel") == "catalog")
                     & ~F.col("returned")) \
        .select(F.col("o_custkey").alias("r_custkey"),
                F.col("l_partkey").alias("r_partkey")) \
        .distinct()
    part = load_table(spark, sf_dir, "part") \
        .select("p_partkey", "p_brand")
    return (
        sold.join(rebuy, (sold["o_custkey"] == rebuy["r_custkey"])
                  & (sold["l_partkey"] == rebuy["r_partkey"]),
                  "left_semi")
        .join(maybe_broadcast(part),
              sold["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand")
        .agg(dsum(F.col("net_price")).alias("returned_then_rebought"),
             F.count(F.lit(1)).alias("n_lines"))
        .orderBy("p_brand")
        .limit(100)
    )


ORACLE["tpcds_q25_sold_returned_resold"] = f"""
WITH s AS ({_SQL_SALES_CUST})
SELECT p_brand,
       {sql_dsum('l_extendedprice * (1 - l_discount)')}
         AS returned_then_rebought,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM s JOIN part ON s.l_partkey = p_partkey
WHERE s.channel = 'store' AND s.returned
  AND EXISTS (
    SELECT 1 FROM s r
    WHERE r.channel = 'catalog' AND NOT r.returned
      AND r.o_custkey = s.o_custkey AND r.l_partkey = s.l_partkey)
GROUP BY p_brand ORDER BY p_brand LIMIT 100
"""
QUERIES["tpcds_q25_sold_returned_resold"] = tpcds_q25_sold_returned_resold


# ---------------------------------------------------------------------------
# q39 shape: monthly coefficient-of-variation pairs

def tpcds_q39_stat_pairs(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    """TPC-DS q39 shape: per (part, supplier, month) quantity mean and
    stdev; keep months with cov = stdev/mean > 1 and self-join each to
    the NEXT month's qualifying stats. Stdev is the fixed-point
    closed form sqrt((n·Σx² − (Σx)²) / (n·(n−1))) — exact integer
    aggregates, one final sqrt (same construction as q17)."""
    s = _sales(spark, sf_dir) \
        .filter(F.year("l_shipdate") == 1995) \
        .withColumn("mo", F.month("l_shipdate"))
    stats = (
        s.groupBy("l_partkey", "l_suppkey", "mo")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(fixed(F.col("l_quantity"))).alias("sx"),
             F.sum(fixed(F.col("l_quantity") * F.col("l_quantity"),
                         scale=0)).alias("sxx"))
        .filter(F.col("n") > 1)
    )
    # mean = sx/n/1e4; var = (n*sxx - (sx/1e4)^2) / (n*(n-1))
    mean = _dbl(F.col("sx")) / F.col("n").cast("double") / 1e4
    var = ((F.col("n").cast("double") * _dbl(F.col("sxx"))
            - (_dbl(F.col("sx")) / 1e4) * (_dbl(F.col("sx")) / 1e4))
           / (F.col("n").cast("double")
              * (F.col("n").cast("double") - 1.0)))
    cov = (
        stats.select("l_partkey", "l_suppkey", "mo",
                     F.round(F.sqrt(var) / mean, 4).alias("cov"))
        .filter(F.col("cov") > 1.0)
    )
    a, b = cov.alias("a"), cov.alias("b")
    return (
        a.join(b, (F.col("a.l_partkey") == F.col("b.l_partkey"))
               & (F.col("a.l_suppkey") == F.col("b.l_suppkey"))
               & (F.col("a.mo") + 1 == F.col("b.mo")))
        .select(F.col("a.l_partkey").alias("partkey"),
                F.col("a.l_suppkey").alias("suppkey"),
                F.col("a.mo").alias("mo"),
                F.col("a.cov").alias("cov"),
                F.col("b.mo").alias("mo2"),
                F.col("b.cov").alias("cov2"))
        .orderBy("partkey", "suppkey", "mo")
        .limit(100)
    )


ORACLE["tpcds_q39_stat_pairs"] = f"""
WITH stats AS (
  SELECT l_partkey, l_suppkey, month(l_shipdate) AS mo,
         CAST(COUNT(*) AS BIGINT) AS n,
         SUM({sql_fixed('l_quantity')}) AS sx,
         SUM({sql_fixed('l_quantity * l_quantity', scale=0)}) AS sxx
  FROM lineitem WHERE year(l_shipdate) = 1995
  GROUP BY 1, 2, 3 HAVING COUNT(*) > 1
), cov AS (
  SELECT l_partkey, l_suppkey, CAST(mo AS INT) AS mo,
         round(sqrt((CAST(n AS DOUBLE) * {sql_dec2dbl('sxx')}
                     - ({sql_dec2dbl('sx')} / 10000.0)
                       * ({sql_dec2dbl('sx')} / 10000.0))
                    / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))
               / ({sql_dec2dbl('sx')} / CAST(n AS DOUBLE) / 10000.0),
               4) AS cov
  FROM stats
)
SELECT a.l_partkey AS partkey, a.l_suppkey AS suppkey,
       a.mo AS mo, a.cov AS cov, b.mo AS mo2, b.cov AS cov2
FROM cov a JOIN cov b
  ON a.l_partkey = b.l_partkey AND a.l_suppkey = b.l_suppkey
 AND a.mo + 1 = b.mo
WHERE a.cov > 1.0 AND b.cov > 1.0
ORDER BY partkey, suppkey, mo LIMIT 100
"""
QUERIES["tpcds_q39_stat_pairs"] = tpcds_q39_stat_pairs


# ---------------------------------------------------------------------------
# q40 shape: before/after pivot date with returns zeroed

def tpcds_q40_pivot_returns(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """TPC-DS q40 shape: per (supplier nation, part brand), net revenue
    BEFORE and AFTER a pivot date, with returned lines contributing
    zero (catalog_sales LEFT JOIN catalog_returns netting) — two
    conditional sums over one returns-adjusted scan."""
    pivot = "1995-06-01"
    s = _sales(spark, sf_dir).filter(F.col("channel") == "catalog")
    supp = load_table(spark, sf_dir, "supplier") \
        .select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation") \
        .select("n_nationkey", "n_name")
    part = load_table(spark, sf_dir, "part") \
        .select("p_partkey", "p_brand")
    adj = F.when(F.col("returned"), F.lit(0.0)) \
        .otherwise(F.col("net_price"))
    j = (
        s.join(maybe_broadcast(supp), s["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(nation),
              supp["s_nationkey"] == nation["n_nationkey"])
        .join(maybe_broadcast(part), s["l_partkey"] == part["p_partkey"])
        .filter(F.col("l_shipdate").between(
            F.lit("1995-03-01"), F.lit("1995-09-01")))
    )
    return (
        j.groupBy("n_name", "p_brand")
        .agg(
            dsum(F.when(F.col("l_shipdate") < F.lit(pivot), adj)
                 .otherwise(F.lit(0.0))).alias("sales_before"),
            dsum(F.when(F.col("l_shipdate") >= F.lit(pivot), adj)
                 .otherwise(F.lit(0.0))).alias("sales_after"),
        )
        .orderBy("n_name", "p_brand")
        .limit(100)
    )


ORACLE["tpcds_q40_pivot_returns"] = f"""
SELECT n_name, p_brand,
       {sql_dsum(
           "CASE WHEN l_shipdate < TIMESTAMP '1995-06-01' THEN "
           "CASE WHEN l_returnflag = 'R' THEN 0.0 "
           "ELSE l_extendedprice * (1 - l_discount) END "
           "ELSE 0.0 END")} AS sales_before,
       {sql_dsum(
           "CASE WHEN l_shipdate >= TIMESTAMP '1995-06-01' THEN "
           "CASE WHEN l_returnflag = 'R' THEN 0.0 "
           "ELSE l_extendedprice * (1 - l_discount) END "
           "ELSE 0.0 END")} AS sales_after
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN part ON l_partkey = p_partkey
WHERE l_linenumber % 3 = 1
  AND l_shipdate BETWEEN TIMESTAMP '1995-03-01'
                     AND TIMESTAMP '1995-09-01'
GROUP BY n_name, p_brand ORDER BY n_name, p_brand LIMIT 100
"""
QUERIES["tpcds_q40_pivot_returns"] = tpcds_q40_pivot_returns


# ---------------------------------------------------------------------------
# q70 shape: top-states-by-rank gate, then ranked ROLLUP report

def tpcds_q70_topstate_rollup(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """TPC-DS q70 shape: restrict to the 5 top-revenue nations (rank
    window inside a subquery), then report ROLLUP(nation, segment)
    revenue with a lochierarchy level column and a rank within each
    (level, nation-at-that-level) partition — grouping() feeding both
    a derived column and a window partition."""
    s = _sales(spark, sf_dir, with_cust=True) \
        .filter(F.col("channel") == "store")
    cust = load_table(spark, sf_dir, "customer") \
        .select("c_custkey", "c_nationkey", "c_mktsegment")
    nation = load_table(spark, sf_dir, "nation") \
        .select("n_nationkey", "n_name")
    j = (
        s.join(cust, s["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation),
              cust["c_nationkey"] == nation["n_nationkey"])
    )
    nat_rev = j.groupBy("n_name") \
        .agg(F.sum(fixed(F.col("net_price"))).alias("fs"))
    top5 = (
        nat_rev.withColumn(
            "rk", F.rank().over(Window.orderBy(
                F.col("fs").desc(), F.col("n_name"))))
        .filter(F.col("rk") <= 5).select("n_name")
    )
    rolled = (
        j.join(F.broadcast(top5), "n_name", "left_semi")
        .rollup("n_name", "c_mktsegment")
        .agg(F.sum(fixed(F.col("net_price"))).alias("fs"),
             F.grouping("n_name").alias("g_nat"),
             F.grouping("c_mktsegment").alias("g_seg"))
        .withColumn("lochierarchy",
                    F.col("g_nat").cast("int")
                    + F.col("g_seg").cast("int"))
    )
    wrk = Window.partitionBy(
        "lochierarchy",
        F.when(F.col("g_seg") == 0, F.col("n_name"))
    ).orderBy(F.col("fs").desc(),
              F.col("n_name").asc_nulls_first(),
              F.col("c_mktsegment").asc_nulls_first())
    return (
        rolled.select(
            "n_name", "c_mktsegment", "lochierarchy",
            (_dbl(F.col("fs")) / 1e4).alias("total_sum"),
            F.rank().over(wrk).alias("rank_within_parent"),
        )
        .orderBy(F.col("lochierarchy").desc(),
                 F.col("n_name").asc_nulls_first(),
                 F.col("c_mktsegment").asc_nulls_first(),
                 "rank_within_parent")
        .limit(100)
    )


ORACLE["tpcds_q70_topstate_rollup"] = f"""
WITH j AS (
  SELECT s.*, c_mktsegment, n_name
  FROM ({_SQL_SALES_CUST}) s
  JOIN customer ON s.o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  WHERE s.channel = 'store'
), top5 AS (
  SELECT n_name FROM (
    SELECT n_name,
           RANK() OVER (ORDER BY SUM({_DK_FIXED_NET}) DESC,
                        n_name) AS rk
    FROM j GROUP BY n_name) r
  WHERE rk <= 5
), rolled AS (
  SELECT n_name, c_mktsegment, SUM({_DK_FIXED_NET}) AS fs,
         CAST(GROUPING(n_name) AS INT) AS g_nat,
         CAST(GROUPING(c_mktsegment) AS INT) AS g_seg
  FROM j WHERE n_name IN (SELECT n_name FROM top5)
  GROUP BY ROLLUP (n_name, c_mktsegment)
)
SELECT n_name, c_mktsegment, g_nat + g_seg AS lochierarchy,
       {sql_dec2dbl('fs')} / 10000.0 AS total_sum,
       CAST(RANK() OVER (
         PARTITION BY g_nat + g_seg,
                      CASE WHEN g_seg = 0 THEN n_name END
         ORDER BY fs DESC, n_name ASC NULLS FIRST,
                  c_mktsegment ASC NULLS FIRST)
            AS INT) AS rank_within_parent
FROM rolled
ORDER BY lochierarchy DESC, n_name ASC NULLS FIRST,
         c_mktsegment ASC NULLS FIRST, rank_within_parent
LIMIT 100
"""
QUERIES["tpcds_q70_topstate_rollup"] = tpcds_q70_topstate_rollup


# ---------------------------------------------------------------------------
# q72 shape: demand vs quantity-on-hand shortfall with a promo split

def tpcds_q72_shortfall_promo(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """TPC-DS q72 shape: catalog demand lines whose quantity exceeds
    the item's average on-hand quantity (inventory analog: per-part
    average store quantity), LEFT JOINed to a promo flag and counted
    as promo / no-promo per week — the inventory-shortfall join with
    a null-splitting left join."""
    s = _sales(spark, sf_dir)
    demand = s.filter(F.col("channel") == "catalog")
    qoh = (
        s.filter(F.col("channel") == "store")
        .groupBy("l_partkey")
        .agg((F.sum(fixed(F.col("l_quantity"))).cast("double")
              / F.count(F.lit(1)).cast("double") / 1e4).alias("qoh"))
        .select(F.col("l_partkey").alias("q_partkey"), "qoh")
    )
    # promo analog: small-size parts (the fixture has no promotion
    # dim / p_container column)
    promo = load_table(spark, sf_dir, "part") \
        .filter(F.col("p_size") < 15) \
        .select(F.col("p_partkey").alias("pr_partkey"),
                F.lit(1).alias("is_promo"))
    short = (
        demand.join(qoh, demand["l_partkey"] == qoh["q_partkey"])
        .filter(F.col("l_quantity") > F.col("qoh"))
        .join(maybe_broadcast(promo),
              demand["l_partkey"] == promo["pr_partkey"], "left")
    )
    return (
        short.withColumn("wk", F.weekofyear("l_shipdate"))
        .withColumn("yr", F.year("l_shipdate"))
        .filter(F.col("yr") == 1995)
        .groupBy("wk")
        .agg(F.sum(F.when(F.col("is_promo").isNotNull(), 1)
                   .otherwise(0)).cast("bigint").alias("promo_cnt"),
             F.sum(F.when(F.col("is_promo").isNull(), 1)
                   .otherwise(0)).cast("bigint").alias("no_promo_cnt"))
        .orderBy("wk")
        .limit(60)
    )


ORACLE["tpcds_q72_shortfall_promo"] = f"""
WITH qoh AS (
  SELECT l_partkey AS q_partkey,
         {sql_dec2dbl(f"SUM({sql_fixed('l_quantity')})")}
           / CAST(COUNT(*) AS DOUBLE) / 10000.0 AS qoh
  FROM lineitem WHERE l_linenumber % 3 = 0
  GROUP BY 1
), promo AS (
  SELECT p_partkey AS pr_partkey, 1 AS is_promo FROM part
  WHERE p_size < 15
)
SELECT CAST(weekofyear(l_shipdate) AS INT) AS wk,
       CAST(SUM(CASE WHEN is_promo IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS promo_cnt,
       CAST(SUM(CASE WHEN is_promo IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS no_promo_cnt
FROM lineitem
JOIN qoh ON l_partkey = q_partkey
LEFT JOIN promo ON l_partkey = pr_partkey
WHERE l_linenumber % 3 = 1 AND l_quantity > qoh
  AND year(l_shipdate) = 1995
GROUP BY 1 ORDER BY wk LIMIT 60
"""
QUERIES["tpcds_q72_shortfall_promo"] = tpcds_q72_shortfall_promo


# ---------------------------------------------------------------------------
# q83 shape: per-item returned quantity shares across three channels

def tpcds_q83_return_ratio(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """TPC-DS q83 shape: per item, returned quantity in each of the
    three channels joined on the item, each expressed as its share of
    the item's total returns — three grouped frames stitched by two
    inner joins, ratio columns on the stitched row."""
    s = _sales(spark, sf_dir).filter(F.col("returned"))
    byc = {
        ch: (s.filter(F.col("channel") == ch)
             .groupBy("l_partkey")
             .agg(F.sum(fixed(F.col("l_quantity"))).alias(f"q_{ch}")))
        for ch in ("store", "catalog", "web")
    }
    j = (
        byc["store"]
        .join(byc["catalog"], "l_partkey")
        .join(byc["web"], "l_partkey")
    )
    total = (_dbl(F.col("q_store")) + _dbl(F.col("q_catalog"))
             + _dbl(F.col("q_web")))
    return (
        j.select(
            "l_partkey",
            (_dbl(F.col("q_store")) / 1e4).alias("store_qty"),
            (_dbl(F.col("q_catalog")) / 1e4).alias("catalog_qty"),
            (_dbl(F.col("q_web")) / 1e4).alias("web_qty"),
            F.round(_dbl(F.col("q_store")) / total * 100.0, 4)
            .alias("store_pct"),
            F.round(_dbl(F.col("q_catalog")) / total * 100.0, 4)
            .alias("catalog_pct"),
            F.round(_dbl(F.col("q_web")) / total * 100.0, 4)
            .alias("web_pct"),
        )
        .orderBy("l_partkey")
        .limit(100)
    )


_SQL_RET_CH = {
    ch: (f"SELECT l_partkey, SUM({sql_fixed('l_quantity')}) AS q_{ch} "
         f"FROM lineitem WHERE l_returnflag = 'R' "
         f"AND l_linenumber % 3 = {m} GROUP BY 1")
    for ch, m in (("store", 0), ("catalog", 1), ("web", 2))
}

ORACLE["tpcds_q83_return_ratio"] = f"""
WITH st AS ({_SQL_RET_CH['store']}),
     ct AS ({_SQL_RET_CH['catalog']}),
     wb AS ({_SQL_RET_CH['web']})
SELECT l_partkey,
       {sql_dec2dbl('q_store')} / 10000.0 AS store_qty,
       {sql_dec2dbl('q_catalog')} / 10000.0 AS catalog_qty,
       {sql_dec2dbl('q_web')} / 10000.0 AS web_qty,
       round({sql_dec2dbl('q_store')}
             / ({sql_dec2dbl('q_store')} + {sql_dec2dbl('q_catalog')}
                + {sql_dec2dbl('q_web')}) * 100.0, 4) AS store_pct,
       round({sql_dec2dbl('q_catalog')}
             / ({sql_dec2dbl('q_store')} + {sql_dec2dbl('q_catalog')}
                + {sql_dec2dbl('q_web')}) * 100.0, 4) AS catalog_pct,
       round({sql_dec2dbl('q_web')}
             / ({sql_dec2dbl('q_store')} + {sql_dec2dbl('q_catalog')}
                + {sql_dec2dbl('q_web')}) * 100.0, 4) AS web_pct
FROM st JOIN ct USING (l_partkey) JOIN wb USING (l_partkey)
ORDER BY l_partkey LIMIT 100
"""
QUERIES["tpcds_q83_return_ratio"] = tpcds_q83_return_ratio


# ---------------------------------------------------------------------------
# q85 shape: returns "reason" report under OR-of-demographic-bands

def tpcds_q85_reason_bands(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """TPC-DS q85 shape: web returns grouped by reason with averaged
    measures, where the returning customer passes ANY of three
    (segment, balance-band) conjunctions — the q13 OR-of-bands gate
    composed with a returns-only scan and a reason dimension. Reason
    analog: the fixture has no return-reason column, so the code is
    derived deterministically from the quantity (reason_0..reason_4,
    documented synthetic column)."""
    s = _sales(spark, sf_dir, with_cust=True) \
        .filter((F.col("channel") == "web") & F.col("returned")) \
        .withColumn(
            "reason",
            F.concat(F.lit("reason_"),
                     (F.col("l_quantity").cast("int") % 5)
                     .cast("string")))
    cust = load_table(spark, sf_dir, "customer") \
        .select("c_custkey", "c_mktsegment", "c_acctbal")
    band = (
        ((F.col("c_mktsegment") == "BUILDING")
         & F.col("c_acctbal").between(0, 4000))
        | ((F.col("c_mktsegment") == "HOUSEHOLD")
           & F.col("c_acctbal").between(4000, 8000))
        | ((F.col("c_mktsegment") == "FURNITURE")
           & F.col("c_acctbal").between(8000, 12000))
    )
    return (
        s.join(cust, s["o_custkey"] == cust["c_custkey"])
        .filter(band)
        .groupBy("reason")
        .agg(davg(F.col("l_quantity")).alias("avg_qty"),
             davg(F.col("net_price")).alias("avg_refund"),
             F.count(F.lit(1)).alias("n_returns"))
        .transform(sort_result, "reason")
    )


ORACLE["tpcds_q85_reason_bands"] = f"""
SELECT concat('reason_', CAST(CAST(l_quantity AS INT) % 5 AS VARCHAR))
         AS reason,
       {sql_davg('l_quantity')} AS avg_qty,
       {sql_davg('l_extendedprice * (1 - l_discount)')} AS avg_refund,
       CAST(COUNT(*) AS BIGINT) AS n_returns
FROM ({_SQL_SALES_CUST}) s
JOIN customer ON s.o_custkey = c_custkey
WHERE s.channel = 'web' AND s.returned
  AND ((c_mktsegment = 'BUILDING' AND c_acctbal BETWEEN 0 AND 4000)
    OR (c_mktsegment = 'HOUSEHOLD' AND c_acctbal BETWEEN 4000 AND 8000)
    OR (c_mktsegment = 'FURNITURE'
        AND c_acctbal BETWEEN 8000 AND 12000))
GROUP BY 1 ORDER BY reason
"""
QUERIES["tpcds_q85_reason_bands"] = tpcds_q85_reason_bands


# ---------------------------------------------------------------------------
# q95 shape: dual-EXISTS order gate (other supplier AND a return)

def tpcds_q95_dual_exists(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """TPC-DS q95 shape: web orders shipped from MORE THAN ONE
    warehouse (EXISTS a same-order line with a different supplier) that
    ALSO had a return (EXISTS a returned same-order web line) — two
    semi-join gates on the order, then order count + revenue. q16 is
    the NOT-EXISTS twin; this is the both-EXISTS variant."""
    s = _sales(spark, sf_dir).filter(F.col("channel") == "web")
    pairs = s.select("l_orderkey", "l_suppkey").distinct()
    multi_wh = (
        pairs.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n_wh"))
        .filter(F.col("n_wh") > 1)
        .select("l_orderkey")
    )
    with_ret = s.filter(F.col("returned")) \
        .select("l_orderkey").distinct()
    gated = (
        s.join(multi_wh, "l_orderkey", "left_semi")
        .join(with_ret, "l_orderkey", "left_semi")
    )
    return gated.agg(
        F.count_distinct("l_orderkey").alias("order_cnt"),
        dsum(F.col("net_price")).alias("total_net"),
    )


ORACLE["tpcds_q95_dual_exists"] = f"""
WITH web AS (SELECT * FROM ({_SQL_SALES}) t WHERE channel = 'web'),
multi_wh AS (
  SELECT l_orderkey FROM (
    SELECT l_orderkey, l_suppkey FROM web GROUP BY 1, 2) p
  GROUP BY l_orderkey HAVING COUNT(*) > 1
),
with_ret AS (SELECT DISTINCT l_orderkey FROM web WHERE returned)
SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS order_cnt,
       {sql_dsum('l_extendedprice * (1 - l_discount)')} AS total_net
FROM web
WHERE l_orderkey IN (SELECT l_orderkey FROM multi_wh)
  AND l_orderkey IN (SELECT l_orderkey FROM with_ret)
"""
QUERIES["tpcds_q95_dual_exists"] = tpcds_q95_dual_exists
