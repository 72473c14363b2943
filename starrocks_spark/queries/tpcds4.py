"""TPC-DS-shaped queries, fourth batch — 13 more shape families
covering 22 of the 36 query numbers still open after batch 3 (63→85).
Same fixture derivation as `queries/tpcds.py` (three-channel fact over
lineitem, item := part, store/warehouse := supplier, geography :=
nation, manufacturer := the brand's leading digit; reference benchmark
docs/en/benchmarking/TPC_DS_Benchmark.md:3, golden plans
fe/fe-core/src/test/java/com/starrocks/sql/plan/TPCDS1TTestBase.java:29).

Shape families (TPC-DS query numbers → plan pattern exercised):
  q3/q42/q52/q55  per-(year, brand) revenue report for one
                  manufacturer — the canonical star-agg topN
  q7/q26          multi-davg report per item gated by a customer
                  demographic (mktsegment analog)
  q12/q20         30-day-window revenue with each item's share of its
                  category via a window SUM over the aggregate
  q15             OR-gate (geography list OR balance floor OR price
                  floor) on catalog revenue by nation
  q19             brand revenue where the buying customer's nation
                  differs from the supplier's (cross-zip analog)
  q27             multi-davg ROLLUP(nation, brand) report with
                  grouping flags
  q29             sold→returned→re-bought QUANTITY chain (q25's join
                  tree, quantity measures per stage)
  q37/q82         price-band items whose derived quantity-on-hand sits
                  in a band, semi-joined to catalog sales
  q50/q62         ship-latency bucket matrix per supplier nation for
                  RETURNED lines (order→ship days)
  q53/q63         quarterly manufacturer revenue vs its own average
                  (window over aggregate, deviation gate)
  q56/q60         per-brand revenue as a UNION ALL of three
                  single-channel aggregates, re-aggregated
  q57             monthly nation revenue vs year average with
                  lag/lead neighbors (the call-center outlier shape)
  q96             single scalar COUNT through a quantity band +
                  order-priority gate

Determinism policy (same as batches 1–3): every double aggregate is
the fixed-point dsum/davg construction (queries/_util.py); window
sums/averages over aggregates carry the exact DECIMAL(38,0) fixed sum
through the window and convert to double once at the end; counts CAST
to BIGINT on the DuckDB side; every LIMIT query orders by a full
tiebreaker chain.

Scale notes: lineitem⋈orders remains the only fact-fact shuffle (AQE
re-balances); all dimension joins broadcast. q12/q53/q57's windows run
over already-aggregated (≤ thousands-row) frames, never the fact.
q37's quantity-on-hand is a (part)-grain aggregate — broadcast-sized
at fixture scale, a shuffle join at warehouse scale, AQE's choice.
q29 reuses q25's semi-join chain: the re-buy set is distinct-projected
BEFORE the join so the probe side never widens.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from starrocks_spark.catalog import load_table
from starrocks_spark.queries._util import (
    davg, dsum, fixed, sql_davg, sql_dec2dbl, sql_dsum, sql_fixed, maybe_broadcast,
    sort_result,
)
from starrocks_spark.queries.tpcds import _SQL_SALES, _SQL_SALES_CUST, _sales

QUERIES: dict = {}
ORACLE: dict = {}

_FIXED_NET = sql_fixed("l_extendedprice * (1 - l_discount)")


def _dbl(col):
    return col.cast("double")


# ---------------------------------------------------------------------------
# q3/q42/q52/q55 family: per-(year, brand) revenue for one manufacturer

def tpcds_q3_brand_year_net(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q3 (and the q42/q52/q55 variants — same plan, different
    dim filters): yearly revenue per brand for manufacturer '3'
    (manufacturer := the brand's leading digit, substring(p_brand,7,1)),
    ordered year then revenue desc — the canonical star-agg report."""
    s = _sales(spark, sf_dir)
    part = load_table(spark, sf_dir, "part") \
        .filter(F.substring("p_brand", 7, 1) == "3") \
        .select("p_partkey", "p_brand")
    return (
        s.join(maybe_broadcast(part), s["l_partkey"] == part["p_partkey"])
        .groupBy(F.year("l_shipdate").alias("yr"), F.col("p_brand"))
        .agg(dsum(F.col("net_price")).alias("net"))
        .transform(sort_result,
                   F.col("yr"), F.col("net").desc(), F.col("p_brand"))
    )


ORACLE["tpcds_q3_brand_year_net"] = f"""
SELECT CAST(year(l_shipdate) AS INT) AS yr, p_brand,
       {sql_dsum('l_extendedprice * (1 - l_discount)')} AS net
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE substr(p_brand, 7, 1) = '3'
GROUP BY 1, 2
ORDER BY yr, net DESC, p_brand
"""
QUERIES["tpcds_q3_brand_year_net"] = tpcds_q3_brand_year_net


# ---------------------------------------------------------------------------
# q7/q26 family: demographic-gated multi-davg report per brand

def tpcds_q7_demo_avgs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q7 (q26 is the catalog variant of the same plan): average
    quantity, list price, discount, and net paid per brand, restricted
    to one customer demographic (mktsegment = BUILDING — the
    cd_demographics analog) on the catalog channel."""
    s = _sales(spark, sf_dir, with_cust=True) \
        .filter(F.col("channel") == "catalog")
    cust = load_table(spark, sf_dir, "customer") \
        .filter(F.col("c_mktsegment") == "BUILDING") \
        .select("c_custkey")
    part = load_table(spark, sf_dir, "part") \
        .select("p_partkey", "p_brand")
    return (
        s.join(cust, s["o_custkey"] == cust["c_custkey"], "left_semi")
        .join(maybe_broadcast(part), s["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand")
        .agg(davg(F.col("l_quantity")).alias("avg_qty"),
             davg(F.col("l_extendedprice")).alias("avg_price"),
             davg(F.col("l_discount")).alias("avg_disc"),
             davg(F.col("net_price")).alias("avg_net"))
        .transform(sort_result, "p_brand")
    )


ORACLE["tpcds_q7_demo_avgs"] = f"""
WITH s AS ({_SQL_SALES_CUST})
SELECT p_brand,
       {sql_davg('l_quantity')} AS avg_qty,
       {sql_davg('l_extendedprice')} AS avg_price,
       {sql_davg('l_discount')} AS avg_disc,
       {sql_davg('l_extendedprice * (1 - l_discount)')} AS avg_net
FROM s JOIN part ON s.l_partkey = p_partkey
WHERE s.channel = 'catalog'
  AND EXISTS (SELECT 1 FROM customer
              WHERE c_custkey = s.o_custkey
                AND c_mktsegment = 'BUILDING')
GROUP BY p_brand ORDER BY p_brand
"""
QUERIES["tpcds_q7_demo_avgs"] = tpcds_q7_demo_avgs


# ---------------------------------------------------------------------------
# q12/q20 family: windowed revenue share within category

def tpcds_q12_category_share(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """TPC-DS q12 (q20 is the catalog twin): web revenue per brand in a
    30-day ship window for three item categories, plus each brand's
    percentage share of its category — a window SUM over the grouped
    aggregate. The exact DECIMAL(38,0) fixed sum rides through the
    window so both engines divide identical integers."""
    s = _sales(spark, sf_dir).filter(
        (F.col("channel") == "web")
        & F.col("l_shipdate").between("1996-02-01", "1996-03-01"))
    part = load_table(spark, sf_dir, "part") \
        .filter(F.col("p_type").isin("ECONOMY", "PROMO", "STANDARD")) \
        .select("p_partkey", "p_type", "p_brand")
    agg = (
        s.join(maybe_broadcast(part), s["l_partkey"] == part["p_partkey"])
        .groupBy("p_type", "p_brand")
        .agg(F.sum(fixed(F.col("net_price"))).alias("fx"))
    )
    w = Window.partitionBy("p_type")
    return (
        agg.select(
            "p_type", "p_brand",
            (_dbl(F.col("fx")) / 1e4).alias("itemrev"),
            F.round(_dbl(F.col("fx")) * 100.0
                    / _dbl(F.sum("fx").over(w)), 4).alias("revshare"))
        .transform(sort_result, "p_type", F.col("itemrev").desc(), "p_brand")
    )


ORACLE["tpcds_q12_category_share"] = f"""
WITH agg AS (
  SELECT p_type, p_brand, SUM({_FIXED_NET}) AS fx
  FROM ({_SQL_SALES}) s JOIN part ON s.l_partkey = p_partkey
  WHERE s.channel = 'web'
    AND l_shipdate BETWEEN DATE '1996-02-01' AND DATE '1996-03-01'
    AND p_type IN ('ECONOMY', 'PROMO', 'STANDARD')
  GROUP BY 1, 2
)
SELECT p_type, p_brand,
       {sql_dec2dbl('fx')} / 10000.0 AS itemrev,
       round({sql_dec2dbl('fx')} * 100.0
             / {sql_dec2dbl('SUM(fx) OVER (PARTITION BY p_type)')}, 4)
         AS revshare
FROM agg
ORDER BY p_type, itemrev DESC, p_brand
"""
QUERIES["tpcds_q12_category_share"] = tpcds_q12_category_share


# ---------------------------------------------------------------------------
# q15 shape: OR-gate catalog revenue by geography

def tpcds_q15_or_gate_nations(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """TPC-DS q15 shape: catalog revenue per customer nation where the
    customer qualifies by ANY of: nation in a literal list (zip-prefix
    analog), account balance floor, or a big-ticket line — the
    OR-of-heterogeneous-predicates gate that defeats simple pushdown."""
    s = _sales(spark, sf_dir, with_cust=True) \
        .filter(F.col("channel") == "catalog")
    cust = load_table(spark, sf_dir, "customer") \
        .select("c_custkey", "c_nationkey", "c_acctbal")
    nation = load_table(spark, sf_dir, "nation") \
        .select("n_nationkey", "n_name")
    return (
        s.join(cust, s["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation),
              cust["c_nationkey"] == nation["n_nationkey"])
        .filter(F.col("n_name").isin("NATION_1", "NATION_2", "NATION_3")
                | (F.col("c_acctbal") > 9000.0)
                | (F.col("l_extendedprice") > 50000.0))
        .groupBy("n_name")
        .agg(dsum(F.col("net_price")).alias("net"))
        .transform(sort_result, "n_name")
    )


ORACLE["tpcds_q15_or_gate_nations"] = f"""
WITH s AS ({_SQL_SALES_CUST})
SELECT n_name,
       {sql_dsum('l_extendedprice * (1 - l_discount)')} AS net
FROM s
JOIN customer ON s.o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE s.channel = 'catalog'
  AND (n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
       OR c_acctbal > 9000.0 OR l_extendedprice > 50000.0)
GROUP BY n_name ORDER BY n_name
"""
QUERIES["tpcds_q15_or_gate_nations"] = tpcds_q15_or_gate_nations


# ---------------------------------------------------------------------------
# q19 shape: brand revenue on cross-nation purchases

def tpcds_q19_cross_nation_brand(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """TPC-DS q19 shape: store-channel brand revenue counting only
    lines where the buying customer's nation DIFFERS from the
    supplier's (the reference's customer-zip ≠ store-zip filter) —
    a non-equi predicate across two broadcast dims."""
    s = _sales(spark, sf_dir, with_cust=True) \
        .filter(F.col("channel") == "store")
    cust = load_table(spark, sf_dir, "customer") \
        .select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier") \
        .select("s_suppkey", "s_nationkey")
    part = load_table(spark, sf_dir, "part") \
        .select("p_partkey", "p_brand")
    return (
        s.join(cust, s["o_custkey"] == cust["c_custkey"])
        .join(maybe_broadcast(supp), s["l_suppkey"] == supp["s_suppkey"])
        .join(maybe_broadcast(part), s["l_partkey"] == part["p_partkey"])
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy("p_brand")
        .agg(dsum(F.col("net_price")).alias("net"),
             F.count(F.lit(1)).alias("n_lines"))
        .orderBy(F.col("net").desc(), "p_brand")
        .limit(25)
    )


ORACLE["tpcds_q19_cross_nation_brand"] = f"""
WITH s AS ({_SQL_SALES_CUST})
SELECT p_brand,
       {sql_dsum('l_extendedprice * (1 - l_discount)')} AS net,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM s
JOIN customer ON s.o_custkey = c_custkey
JOIN supplier ON s.l_suppkey = s_suppkey
JOIN part ON s.l_partkey = p_partkey
WHERE s.channel = 'store' AND c_nationkey <> s_nationkey
GROUP BY p_brand ORDER BY net DESC, p_brand LIMIT 25
"""
QUERIES["tpcds_q19_cross_nation_brand"] = tpcds_q19_cross_nation_brand


# ---------------------------------------------------------------------------
# q27 shape: demographic-gated davg ROLLUP report

def tpcds_q27_rollup_item_avgs(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """TPC-DS q27 shape: average quantity and net paid over
    ROLLUP(nation, brand) for one customer segment on the store
    channel, grouping flags emitted so each aggregation level is
    identifiable (the reference's g_state/g_county columns)."""
    s = _sales(spark, sf_dir, with_cust=True) \
        .filter(F.col("channel") == "store")
    cust = load_table(spark, sf_dir, "customer") \
        .filter(F.col("c_mktsegment") == "MACHINERY") \
        .select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation") \
        .select("n_nationkey", "n_name")
    part = load_table(spark, sf_dir, "part") \
        .select("p_partkey", "p_brand")
    return (
        s.join(cust, s["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation),
              cust["c_nationkey"] == nation["n_nationkey"])
        .join(maybe_broadcast(part), s["l_partkey"] == part["p_partkey"])
        .rollup("n_name", "p_brand")
        .agg(davg(F.col("l_quantity")).alias("avg_qty"),
             davg(F.col("net_price")).alias("avg_net"),
             F.grouping("n_name").cast("int").alias("g_nation"),
             F.grouping("p_brand").cast("int").alias("g_brand"))
        .transform(sort_result, F.col("g_nation"), F.col("g_brand"),
                                F.col("n_name").asc_nulls_last(),
                                F.col("p_brand").asc_nulls_last())
    )


ORACLE["tpcds_q27_rollup_item_avgs"] = f"""
WITH s AS ({_SQL_SALES_CUST})
SELECT n_name, p_brand,
       {sql_davg('l_quantity')} AS avg_qty,
       {sql_davg('l_extendedprice * (1 - l_discount)')} AS avg_net,
       CAST(GROUPING(n_name) AS INT) AS g_nation,
       CAST(GROUPING(p_brand) AS INT) AS g_brand
FROM s
JOIN customer ON s.o_custkey = c_custkey AND c_mktsegment = 'MACHINERY'
JOIN nation ON c_nationkey = n_nationkey
JOIN part ON s.l_partkey = p_partkey
WHERE s.channel = 'store'
GROUP BY ROLLUP(n_name, p_brand)
ORDER BY g_nation, g_brand,
         n_name ASC NULLS LAST, p_brand ASC NULLS LAST
"""
QUERIES["tpcds_q27_rollup_item_avgs"] = tpcds_q27_rollup_item_avgs


# ---------------------------------------------------------------------------
# q29 shape: sold → returned → re-bought quantity chain

def tpcds_q29_resold_quantities(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """TPC-DS q29 shape: q25's three-fact join tree with QUANTITY
    measures per stage — per brand, the quantity sold on returned store
    lines and the quantity the same customers re-bought of the same
    item on the catalog channel."""
    s = _sales(spark, sf_dir, with_cust=True)
    sold = s.filter((F.col("channel") == "store") & F.col("returned")) \
        .select("o_custkey", "l_partkey", "l_quantity")
    rebuy = s.filter((F.col("channel") == "catalog")
                     & ~F.col("returned")) \
        .select(F.col("o_custkey").alias("r_custkey"),
                F.col("l_partkey").alias("r_partkey"),
                F.col("l_quantity").alias("r_quantity"))
    pairs = sold.join(
        rebuy, (sold["o_custkey"] == rebuy["r_custkey"])
        & (sold["l_partkey"] == rebuy["r_partkey"]))
    part = load_table(spark, sf_dir, "part") \
        .select("p_partkey", "p_brand")
    return (
        pairs.join(maybe_broadcast(part),
                   pairs["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand")
        .agg(dsum(F.col("l_quantity")).alias("returned_qty"),
             dsum(F.col("r_quantity")).alias("rebought_qty"),
             F.count(F.lit(1)).alias("n_pairs"))
        .transform(sort_result, "p_brand")
    )


ORACLE["tpcds_q29_resold_quantities"] = f"""
WITH s AS ({_SQL_SALES_CUST})
SELECT p_brand,
       {sql_dsum('sold.l_quantity')} AS returned_qty,
       {sql_dsum('rebuy.l_quantity')} AS rebought_qty,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM s sold
JOIN s rebuy ON sold.o_custkey = rebuy.o_custkey
            AND sold.l_partkey = rebuy.l_partkey
JOIN part ON sold.l_partkey = p_partkey
WHERE sold.channel = 'store' AND sold.returned
  AND rebuy.channel = 'catalog' AND NOT rebuy.returned
GROUP BY p_brand ORDER BY p_brand
"""
QUERIES["tpcds_q29_resold_quantities"] = tpcds_q29_resold_quantities


# ---------------------------------------------------------------------------
# q37/q82 family: price-band items with quantity-on-hand in a band

def tpcds_q37_onhand_window(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """TPC-DS q37 (q82 is the store twin): items in a retail-price band
    whose quantity-on-hand (derived per-part store-channel quantity
    aggregate — the inventory analog, as q72 uses) lies in a band,
    and that actually sold on the catalog channel — aggregate-then-
    semi-join, never item×inventory×sales row explosion."""
    s = _sales(spark, sf_dir)
    onhand = (
        s.filter(F.col("channel") == "store")
        .groupBy("l_partkey")
        .agg(F.sum("l_quantity").alias("qoh"))
        .filter(F.col("qoh").between(100, 500))
        .select(F.col("l_partkey").alias("oh_partkey"))
    )
    sold = s.filter(F.col("channel") == "catalog") \
        .select(F.col("l_partkey").alias("cs_partkey")).distinct()
    part = load_table(spark, sf_dir, "part") \
        .filter(F.col("p_retailprice").between(900.0, 1500.0)) \
        .select("p_partkey", "p_name", "p_retailprice")
    return (
        part.join(onhand, part["p_partkey"] == onhand["oh_partkey"],
                  "left_semi")
        .join(sold, part["p_partkey"] == sold["cs_partkey"],
              "left_semi")
        .select("p_partkey", "p_name", "p_retailprice")
        .orderBy("p_partkey")
        .limit(100)
    )


ORACLE["tpcds_q37_onhand_window"] = f"""
WITH s AS ({_SQL_SALES})
SELECT p_partkey, p_name, p_retailprice
FROM part
WHERE p_retailprice BETWEEN 900.0 AND 1500.0
  AND p_partkey IN (
    SELECT l_partkey FROM s WHERE channel = 'store'
    GROUP BY l_partkey HAVING SUM(l_quantity) BETWEEN 100 AND 500)
  AND p_partkey IN (
    SELECT l_partkey FROM s WHERE channel = 'catalog')
ORDER BY p_partkey LIMIT 100
"""
QUERIES["tpcds_q37_onhand_window"] = tpcds_q37_onhand_window


# ---------------------------------------------------------------------------
# q50/q62 family: ship-latency bucket matrix for returned lines

def tpcds_q50_latency_matrix(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """TPC-DS q50 (q62 is the web-shipping twin): per supplier nation,
    counts of RETURNED lines by order→ship latency bucket (≤30,
    31–60, 61–90, 91–120, >120 days) — the conditional-count matrix
    the reference builds between the sale and return dates."""
    s = _sales(spark, sf_dir).filter(F.col("returned"))
    orders = load_table(spark, sf_dir, "orders") \
        .select("o_orderkey", "o_orderdate")
    supp = load_table(spark, sf_dir, "supplier") \
        .select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation") \
        .select("n_nationkey", "n_name")
    lat = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))

    def band(name, cond):
        return F.sum(F.when(cond, 1).otherwise(0)).alias(name)

    return (
        s.join(orders, s["l_orderkey"] == orders["o_orderkey"])
        .join(maybe_broadcast(supp), s["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(nation),
              supp["s_nationkey"] == nation["n_nationkey"])
        .withColumn("lat", lat)
        .groupBy("n_name")
        .agg(band("d_0_30", F.col("lat") <= 30),
             band("d_31_60", (F.col("lat") > 30) & (F.col("lat") <= 60)),
             band("d_61_90", (F.col("lat") > 60) & (F.col("lat") <= 90)),
             band("d_91_120",
                  (F.col("lat") > 90) & (F.col("lat") <= 120)),
             band("d_over_120", F.col("lat") > 120))
        .transform(sort_result, "n_name")
    )


ORACLE["tpcds_q50_latency_matrix"] = f"""
WITH s AS (
  SELECT t.*, date_diff('day', o_orderdate, l_shipdate) AS lat,
         o.o_orderdate
  FROM ({_SQL_SALES}) t JOIN orders o ON t.l_orderkey = o.o_orderkey
  WHERE t.returned
)
SELECT n_name,
       CAST(SUM(CASE WHEN lat <= 30 THEN 1 ELSE 0 END) AS BIGINT)
         AS d_0_30,
       CAST(SUM(CASE WHEN lat > 30 AND lat <= 60 THEN 1 ELSE 0 END)
            AS BIGINT) AS d_31_60,
       CAST(SUM(CASE WHEN lat > 60 AND lat <= 90 THEN 1 ELSE 0 END)
            AS BIGINT) AS d_61_90,
       CAST(SUM(CASE WHEN lat > 90 AND lat <= 120 THEN 1 ELSE 0 END)
            AS BIGINT) AS d_91_120,
       CAST(SUM(CASE WHEN lat > 120 THEN 1 ELSE 0 END) AS BIGINT)
         AS d_over_120
FROM s
JOIN supplier ON s.l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name ORDER BY n_name
"""
QUERIES["tpcds_q50_latency_matrix"] = tpcds_q50_latency_matrix


# ---------------------------------------------------------------------------
# q53/q63 family: quarterly manufacturer revenue vs its own average

def tpcds_q53_quarter_vs_avg(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """TPC-DS q53 (q63 is the month variant of the same plan): revenue
    per (manufacturer, year, quarter) compared against the
    manufacturer's average quarterly revenue; emit quarters deviating
    >10%. The window average divides two exact integers (fixed-sum and
    count) so the deviation gate is engine-identical."""
    s = _sales(spark, sf_dir).filter(F.col("channel") == "store")
    part = load_table(spark, sf_dir, "part") \
        .select("p_partkey",
                F.substring("p_brand", 7, 1).alias("mfgr"))
    agg = (
        s.join(maybe_broadcast(part), s["l_partkey"] == part["p_partkey"])
        .groupBy("mfgr", F.year("l_shipdate").alias("yr"),
                 F.quarter("l_shipdate").alias("qtr"))
        .agg(F.sum(fixed(F.col("net_price"))).alias("fx"))
    )
    w = Window.partitionBy("mfgr")
    avg_d = _dbl(F.sum("fx").over(w)) \
        / F.count(F.lit(1)).over(w).cast("double") / 1e4
    rev_d = _dbl(F.col("fx")) / 1e4
    return (
        agg.select("mfgr", "yr", "qtr", rev_d.alias("rev"),
                   F.round(rev_d / avg_d, 4).alias("ratio"))
        .filter((F.col("ratio") > 1.1) | (F.col("ratio") < 0.9))
        .transform(sort_result, "mfgr", "yr", "qtr")
    )


ORACLE["tpcds_q53_quarter_vs_avg"] = f"""
WITH agg AS (
  SELECT substr(p_brand, 7, 1) AS mfgr,
         CAST(year(l_shipdate) AS INT) AS yr,
         CAST(quarter(l_shipdate) AS INT) AS qtr,
         SUM({_FIXED_NET}) AS fx
  FROM ({_SQL_SALES}) s JOIN part ON s.l_partkey = p_partkey
  WHERE s.channel = 'store'
  GROUP BY 1, 2, 3
), win AS (
  SELECT mfgr, yr, qtr,
         {sql_dec2dbl('fx')} / 10000.0 AS rev,
         round(({sql_dec2dbl('fx')} / 10000.0)
               / ({sql_dec2dbl('SUM(fx) OVER (PARTITION BY mfgr)')}
                  / CAST(COUNT(*) OVER (PARTITION BY mfgr) AS DOUBLE)
                  / 10000.0), 4) AS ratio
  FROM agg
)
SELECT mfgr, yr, qtr, rev, ratio FROM win
WHERE ratio > 1.1 OR ratio < 0.9
ORDER BY mfgr, yr, qtr
"""
QUERIES["tpcds_q53_quarter_vs_avg"] = tpcds_q53_quarter_vs_avg


# ---------------------------------------------------------------------------
# q56/q60 family: three single-channel aggregates re-aggregated

def tpcds_q56_channel_union_totals(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """TPC-DS q56 (q60 shares the plan; only the item filter differs):
    per-brand revenue computed as a UNION ALL of three independent
    single-channel aggregates, then re-aggregated to the brand total —
    the reference's ss/cs/ws CTE-union shape. The exact fixed sums are
    what union and re-sum, so the result is associativity-proof."""
    s = _sales(spark, sf_dir)
    part = load_table(spark, sf_dir, "part") \
        .filter(F.col("p_size").isin(1, 5, 9)) \
        .select("p_partkey", "p_brand")
    branches = [
        s.filter(F.col("channel") == ch)
        .join(maybe_broadcast(part), s["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand")
        .agg(F.sum(fixed(F.col("net_price"))).alias("fx"))
        for ch in ("store", "catalog", "web")
    ]
    unioned = branches[0].unionByName(branches[1]) \
        .unionByName(branches[2])
    return (
        unioned.groupBy("p_brand")
        .agg((_dbl(F.sum("fx")) / 1e4).alias("total_net"))
        .orderBy(F.col("total_net").desc(), "p_brand")
        .limit(50)
    )


ORACLE["tpcds_q56_channel_union_totals"] = f"""
WITH s AS ({_SQL_SALES}), chans AS (
  SELECT p_brand, SUM({_FIXED_NET}) AS fx
  FROM s JOIN part ON s.l_partkey = p_partkey
  WHERE s.channel = 'store' AND p_size IN (1, 5, 9) GROUP BY 1
  UNION ALL
  SELECT p_brand, SUM({_FIXED_NET}) AS fx
  FROM s JOIN part ON s.l_partkey = p_partkey
  WHERE s.channel = 'catalog' AND p_size IN (1, 5, 9) GROUP BY 1
  UNION ALL
  SELECT p_brand, SUM({_FIXED_NET}) AS fx
  FROM s JOIN part ON s.l_partkey = p_partkey
  WHERE s.channel = 'web' AND p_size IN (1, 5, 9) GROUP BY 1
)
SELECT p_brand, {sql_dec2dbl('SUM(fx)')} / 10000.0 AS total_net
FROM chans GROUP BY p_brand
ORDER BY total_net DESC, p_brand LIMIT 50
"""
QUERIES["tpcds_q56_channel_union_totals"] = tpcds_q56_channel_union_totals


# ---------------------------------------------------------------------------
# q57 shape: monthly outliers vs the year average, with neighbors

def tpcds_q57_monthly_outliers(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """TPC-DS q57 shape (the call-center twin of q47): per supplier
    nation and month, revenue deviating >10% from that nation's yearly
    average, with the previous and next month's revenue alongside
    (lag/lead over the aggregate)."""
    s = _sales(spark, sf_dir).filter(F.col("channel") == "catalog")
    supp = load_table(spark, sf_dir, "supplier") \
        .select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation") \
        .select("n_nationkey", "n_name")
    agg = (
        s.join(maybe_broadcast(supp), s["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(nation),
              supp["s_nationkey"] == nation["n_nationkey"])
        .groupBy("n_name", F.year("l_shipdate").alias("yr"),
                 F.month("l_shipdate").alias("mo"))
        .agg(F.sum(fixed(F.col("net_price"))).alias("fx"))
    )
    wy = Window.partitionBy("n_name", "yr")
    ws = Window.partitionBy("n_name").orderBy("yr", "mo")
    rev = _dbl(F.col("fx")) / 1e4
    avg_d = _dbl(F.sum("fx").over(wy)) \
        / F.count(F.lit(1)).over(wy).cast("double") / 1e4
    out = agg.select(
        "n_name", "yr", "mo", rev.alias("rev"),
        F.round(avg_d, 4).alias("yr_avg"),
        (_dbl(F.lag("fx", 1).over(ws)) / 1e4).alias("prev_rev"),
        (_dbl(F.lead("fx", 1).over(ws)) / 1e4).alias("next_rev"),
        F.round(rev / avg_d, 4).alias("ratio"))
    return (
        out.filter((F.col("ratio") > 1.1) | (F.col("ratio") < 0.9))
        .transform(sort_result, "n_name", "yr", "mo")
    )


ORACLE["tpcds_q57_monthly_outliers"] = f"""
WITH agg AS (
  SELECT n_name, CAST(year(l_shipdate) AS INT) AS yr,
         CAST(month(l_shipdate) AS INT) AS mo,
         SUM({_FIXED_NET}) AS fx
  FROM ({_SQL_SALES}) s
  JOIN supplier ON s.l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE s.channel = 'catalog'
  GROUP BY 1, 2, 3
), win AS (
  SELECT n_name, yr, mo,
         {sql_dec2dbl('fx')} / 10000.0 AS rev,
         round({sql_dec2dbl('SUM(fx) OVER (PARTITION BY n_name, yr)')}
               / CAST(COUNT(*) OVER (PARTITION BY n_name, yr)
                      AS DOUBLE) / 10000.0, 4) AS yr_avg,
         {sql_dec2dbl(
             'lag(fx, 1) OVER (PARTITION BY n_name ORDER BY yr, mo)')}
           / 10000.0 AS prev_rev,
         {sql_dec2dbl(
             'lead(fx, 1) OVER (PARTITION BY n_name ORDER BY yr, mo)')}
           / 10000.0 AS next_rev,
         round(({sql_dec2dbl('fx')} / 10000.0)
               / ({sql_dec2dbl(
                   'SUM(fx) OVER (PARTITION BY n_name, yr)')}
                  / CAST(COUNT(*) OVER (PARTITION BY n_name, yr)
                         AS DOUBLE) / 10000.0), 4) AS ratio
  FROM agg
)
SELECT n_name, yr, mo, rev, yr_avg, prev_rev, next_rev, ratio
FROM win WHERE ratio > 1.1 OR ratio < 0.9
ORDER BY n_name, yr, mo
"""
QUERIES["tpcds_q57_monthly_outliers"] = tpcds_q57_monthly_outliers


# ---------------------------------------------------------------------------
# q96 shape: single scalar count through stacked gates

def tpcds_q96_band_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q96 shape: one scalar COUNT of store-channel lines in a
    quantity band on urgent orders — the half-join count whose entire
    plan should collapse to broadcast gates over one fact scan."""
    s = _sales(spark, sf_dir).filter(
        (F.col("channel") == "store")
        & F.col("l_quantity").between(26, 30))
    orders = load_table(spark, sf_dir, "orders") \
        .filter(F.col("o_orderpriority") == "1-URGENT") \
        .select("o_orderkey")
    return (
        s.join(orders, s["l_orderkey"] == orders["o_orderkey"],
               "left_semi")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


ORACLE["tpcds_q96_band_count"] = f"""
SELECT CAST(COUNT(*) AS BIGINT) AS cnt
FROM ({_SQL_SALES}) s
WHERE s.channel = 'store' AND l_quantity BETWEEN 26 AND 30
  AND s.l_orderkey IN (SELECT o_orderkey FROM orders
                       WHERE o_orderpriority = '1-URGENT')
"""
QUERIES["tpcds_q96_band_count"] = tpcds_q96_band_count
