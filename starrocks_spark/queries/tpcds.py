"""TPC-DS-shaped queries over the driver's fixtures — the reference's
largest published benchmark is TPC-DS 1 TB, 99 queries
(docs/en/benchmarking/TPC_DS_Benchmark.md:3; golden plans
fe/fe-core/src/test/java/com/starrocks/sql/plan/TPCDS1TTestBase.java:29),
and round 5 had zero TPC-DS query shapes. This module derives the
signature shapes onto the TPC-H-ish fixtures: a THREE-CHANNEL fact
model (store/catalog/web = l_linenumber % 3 — the multi-channel UNION
pattern), returns (l_returnflag = 'R'), item = part, and a derived
date dimension (year / month / week from the ship date).

Shapes covered (TPC-DS query number → what it exercises):
  q5  multi-channel sales/returns/profit ROLLUP report
  q11 year-over-year growth via 4-way self-join of a yearly CTE
  q21 before/after pivot-date ratio with bounds
  q34 per-order item-count buckets → customer join
  q36 gross-margin ROLLUP + rank within grouping level
  q38 3-channel INTERSECT of customer sets
  q45 OR of literal IN-list and IN-subquery
  q51 cumulative-sum window + FULL OUTER channel compare
  q59 week-over-week year ratio self-join
  q67 windowed top-N over a (brand, month) ROLLUP
  q88 eight cross-joined scalar-subquery time-band counts
  q93 returns-adjusted revenue (fact LEFT JOIN returns)
  q97 store/web (customer, item) overlap via FULL OUTER
  q10 multi-EXISTS channel gate on the customer profile
  q14 cross-channel INTERSECT + scalar-subquery threshold
  q33 sum over a UNION ALL of per-channel aggregates
  q49 per-channel return-ratio ranks, unioned
  q54 revenue-bucket customer segmentation
  q64 deep snowflake (two-hop dim chain + two first-hop dims)
  q78 exclusive-channel revenue via LEFT ANTI pairs
  q17 variance-based stability filter (fixed-point closed-form stdev)
  q23 frequent items ∩ best customers (two qualifying sets)
  q35 multi-EXISTS demographic stats
  q76 heterogeneous channel UNION with per-branch null columns
  q87 chained EXCEPT of channel customer sets
  q66 wide conditional-sum monthly matrix (pivot-by-CASE)
  q48 OR of multi-column band predicates
  q61 promotional-sales ratio via two scalar aggregates
  q99 shipping-delay bucket matrix

Scale notes: lineitem⋈orders is the one fact-fact shuffle (AQE
re-balances); part/customer joins broadcast; every double SUM goes
through the fixed-point dsum policy so the DuckDB oracles match
bit-for-bit; every window ORDER BY pins explicit NULL placement
(Spark and DuckDB defaults differ).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from starrocks_spark.catalog import load_table
from starrocks_spark.queries._util import (
    dsum, fixed, sql_dec2dbl, sql_dsum, sql_fixed, maybe_broadcast,
    sort_result,
)

QUERIES: dict = {}
ORACLE: dict = {}


# ---------------------------------------------------------------------------
# shared channelized fact derivation

def _sales(spark: SparkSession, sf_dir: str,
           with_cust: bool = False) -> DataFrame:
    """Channelized sales fact: lineitem + channel + returned flag
    (+ o_custkey via the orders join when needed — the one fact-fact
    shuffle; everything else broadcasts)."""
    li = load_table(spark, sf_dir, "lineitem")
    out = li.select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_shipdate",
        F.when(F.col("l_linenumber") % 3 == 0, "store")
        .when(F.col("l_linenumber") % 3 == 1, "catalog")
        .otherwise("web").alias("channel"),
        (F.col("l_returnflag") == "R").alias("returned"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .alias("net_price"),
    )
    if with_cust:
        orders = load_table(spark, sf_dir, "orders") \
            .select("o_orderkey", "o_custkey")
        out = out.join(
            orders, out["l_orderkey"] == orders["o_orderkey"]
        ).drop("o_orderkey")
    return out


_SQL_SALES = """
  SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
         l_extendedprice, l_discount, l_shipdate,
         CASE WHEN l_linenumber % 3 = 0 THEN 'store'
              WHEN l_linenumber % 3 = 1 THEN 'catalog'
              ELSE 'web' END AS channel,
         (l_returnflag = 'R') AS returned,
         l_extendedprice * (1 - l_discount) AS net_price
  FROM lineitem
"""

_SQL_SALES_CUST = f"""
  SELECT s.*, o.o_custkey
  FROM ({_SQL_SALES}) s JOIN orders o ON s.l_orderkey = o.o_orderkey
"""


# ---------------------------------------------------------------------------
# q5 shape: per-channel sales/returns/profit with ROLLUP

def tpcds_q5_channel_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q5 shape: every channel's sales, returns, and profit in
    one ROLLUP report (the multi-channel UNION-fact pattern — here the
    channels share one fact, so the rollup IS the union)."""
    s = _sales(spark, sf_dir)
    sales_amt = dsum(F.when(~F.col("returned"), F.col("net_price"))
                     .otherwise(F.lit(0.0)))
    returns_amt = dsum(F.when(F.col("returned"), F.col("net_price"))
                       .otherwise(F.lit(0.0)))
    return (
        s.rollup("channel")
        .agg(
            sales_amt.alias("sales_amt"),
            returns_amt.alias("returns_amt"),
            (sales_amt - returns_amt).alias("profit"),
        )
        .select(
            F.coalesce(F.col("channel"), F.lit("ALL")).alias("channel"),
            "sales_amt", "returns_amt", "profit",
        )
        .transform(sort_result, "channel")
    )


_S5 = sql_dsum("CASE WHEN NOT returned THEN net_price ELSE 0.0 END")
_R5 = sql_dsum("CASE WHEN returned THEN net_price ELSE 0.0 END")
ORACLE["tpcds_q5_channel_rollup"] = f"""
WITH s AS ({_SQL_SALES})
SELECT COALESCE(channel, 'ALL') AS channel,
       {_S5} AS sales_amt,
       {_R5} AS returns_amt,
       ({_S5}) - ({_R5}) AS profit
FROM s
GROUP BY ROLLUP(channel)
ORDER BY channel
"""
QUERIES["tpcds_q5_channel_rollup"] = tpcds_q5_channel_rollup


# ---------------------------------------------------------------------------
# q11 shape: year-over-year growth, 4-way self-join of a yearly CTE

def tpcds_q11_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q11 shape: customers whose web spend grew faster
    year-over-year than their store spend — the yearly CTE self-joined
    four times on the customer key (one shuffle each; AQE reuses the
    exchange where plans align)."""
    s = _sales(spark, sf_dir, with_cust=True) \
        .filter(F.year("l_shipdate").isin(1995, 1996))
    yearly = (
        s.groupBy("o_custkey", "channel", F.year("l_shipdate").alias("yr"))
        .agg(dsum(F.col("net_price")).alias("amt"))
    )

    def cell(ch: str, yr: int, alias: str) -> DataFrame:
        return yearly.filter(
            (F.col("channel") == ch) & (F.col("yr") == yr)
        ).select(F.col("o_custkey"), F.col("amt").alias(alias))

    j = (
        cell("store", 1995, "s95")
        .join(cell("store", 1996, "s96"), "o_custkey")
        .join(cell("web", 1995, "w95"), "o_custkey")
        .join(cell("web", 1996, "w96"), "o_custkey")
    )
    return (
        j.filter((F.col("s95") > 0) & (F.col("w95") > 0))
        .filter(F.col("w96") / F.col("w95") > F.col("s96") / F.col("s95"))
        .select("o_custkey", "s95", "s96", "w95", "w96")
        .transform(sort_result, "o_custkey")
    )


ORACLE["tpcds_q11_yoy_growth"] = f"""
WITH s AS ({_SQL_SALES_CUST}),
yearly AS (
  SELECT o_custkey, channel, year(l_shipdate) AS yr,
         {sql_dsum('net_price')} AS amt
  FROM s WHERE year(l_shipdate) IN (1995, 1996)
  GROUP BY o_custkey, channel, year(l_shipdate)
)
SELECT s95.o_custkey, s95.amt AS s95, s96.amt AS s96,
       w95.amt AS w95, w96.amt AS w96
FROM      (SELECT * FROM yearly WHERE channel='store' AND yr=1995) s95
     JOIN (SELECT * FROM yearly WHERE channel='store' AND yr=1996) s96
       USING (o_custkey)
     JOIN (SELECT * FROM yearly WHERE channel='web' AND yr=1995) w95
       USING (o_custkey)
     JOIN (SELECT * FROM yearly WHERE channel='web' AND yr=1996) w96
       USING (o_custkey)
WHERE s95.amt > 0 AND w95.amt > 0
  AND w96.amt / w95.amt > s96.amt / s95.amt
ORDER BY o_custkey
"""
QUERIES["tpcds_q11_yoy_growth"] = tpcds_q11_yoy_growth


# ---------------------------------------------------------------------------
# q21 shape: before/after pivot-date quantity ratio

def tpcds_q21_before_after(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q21 shape: per item, quantity shipped in the 90 days
    before vs after a pivot date, keeping items whose ratio stays
    within [2/3, 3/2] — the inventory-rebalance check."""
    s = _sales(spark, sf_dir).filter(
        (F.col("l_shipdate") >= "1998-01-01")
        & (F.col("l_shipdate") < "1999-01-01")
    )
    pivot = "1998-07-01"
    before = dsum(F.when(F.col("l_shipdate") < pivot, F.col("l_quantity"))
                  .otherwise(F.lit(0.0)))
    after = dsum(F.when(F.col("l_shipdate") >= pivot, F.col("l_quantity"))
                 .otherwise(F.lit(0.0)))
    return (
        s.groupBy("l_partkey")
        .agg(before.alias("qty_before"), after.alias("qty_after"))
        .filter(
            (F.col("qty_before") > 0)
            & (F.col("qty_after") / F.col("qty_before") >= 2.0 / 3.0)
            & (F.col("qty_after") / F.col("qty_before") <= 3.0 / 2.0)
        )
        .transform(sort_result, "l_partkey")
    )


_B = sql_dsum("CASE WHEN l_shipdate < TIMESTAMP '1998-07-01' "
              "THEN l_quantity ELSE 0.0 END")
_A = sql_dsum("CASE WHEN l_shipdate >= TIMESTAMP '1998-07-01' "
              "THEN l_quantity ELSE 0.0 END")
ORACLE["tpcds_q21_before_after"] = f"""
WITH s AS ({_SQL_SALES})
SELECT l_partkey, {_B} AS qty_before, {_A} AS qty_after
FROM s
WHERE l_shipdate >= TIMESTAMP '1998-01-01'
  AND l_shipdate < TIMESTAMP '1999-01-01'
GROUP BY l_partkey
HAVING ({_B}) > 0
   AND ({_A}) / ({_B}) >= 2.0 / 3.0
   AND ({_A}) / ({_B}) <= 3.0 / 2.0
ORDER BY l_partkey
"""
QUERIES["tpcds_q21_before_after"] = tpcds_q21_before_after


# ---------------------------------------------------------------------------
# q34 shape: order item-count buckets → customers

def tpcds_q34_basket_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q34 shape: orders whose basket holds 5–7 line items,
    joined back to the customer dimension (broadcast) — the
    group-then-having-then-dimension-join pattern."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    per_order = (
        li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("item_cnt"))
        .filter((F.col("item_cnt") >= 5) & (F.col("item_cnt") <= 7))
    )
    return (
        per_order
        .join(orders, per_order["l_orderkey"] == orders["o_orderkey"])
        .join(maybe_broadcast(cust),
              orders["o_custkey"] == cust["c_custkey"])
        .select("c_custkey", "c_name", "o_orderkey", "item_cnt")
        .transform(sort_result, "c_custkey", "o_orderkey")
    )


ORACLE["tpcds_q34_basket_counts"] = """
WITH per_order AS (
  SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS item_cnt
  FROM lineitem GROUP BY l_orderkey
  HAVING COUNT(*) BETWEEN 5 AND 7
)
SELECT c.c_custkey, c.c_name, o.o_orderkey, p.item_cnt
FROM per_order p
JOIN orders o ON p.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
ORDER BY c.c_custkey, o.o_orderkey
"""
QUERIES["tpcds_q34_basket_counts"] = tpcds_q34_basket_counts


# ---------------------------------------------------------------------------
# q36 shape: gross-margin ROLLUP + rank within grouping level

def tpcds_q36_margin_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q36 shape: gross margin over ROLLUP(brand, type) with
    lochierarchy = grouping(brand)+grouping(type) and a rank window
    WITHIN each hierarchy level (partitioned by the parent when the
    leaf level is present). NULL placement is pinned explicitly —
    Spark and DuckDB default differently."""
    s = _sales(spark, sf_dir)
    part = load_table(spark, sf_dir, "part")
    j = s.join(maybe_broadcast(part), s["l_partkey"] == part["p_partkey"])
    agg = (
        j.rollup("p_brand", "p_type")
        .agg(
            dsum(F.col("net_price")).alias("sales_amt"),
            dsum(F.col("l_quantity")).alias("qty"),
            (F.grouping("p_brand") + F.grouping("p_type")).cast("int")
            .alias("lochierarchy"),
            F.grouping("p_type").cast("int").alias("g_type"),
        )
        .withColumn("margin", F.col("sales_amt") / F.col("qty"))
    )
    w = Window.partitionBy(
        "lochierarchy",
        F.when(F.col("g_type") == 0, F.col("p_brand")),
    ).orderBy(
        F.col("margin").asc_nulls_last(),
        F.col("p_brand").asc_nulls_last(),
        F.col("p_type").asc_nulls_last(),
    )
    return (
        agg.withColumn("rk", F.rank().over(w))
        .select("p_brand", "p_type", "lochierarchy", "margin", "rk")
        .transform(sort_result,
            F.col("lochierarchy").desc(),
            F.col("p_brand").asc_nulls_last(),
            F.col("p_type").asc_nulls_last(),
        )
    )


ORACLE["tpcds_q36_margin_rank"] = f"""
WITH s AS ({_SQL_SALES}),
agg AS (
  SELECT p_brand, p_type,
         CAST(GROUPING(p_brand) + GROUPING(p_type) AS INT)
           AS lochierarchy,
         CAST(GROUPING(p_type) AS INT) AS g_type,
         ({sql_dsum('net_price')}) / ({sql_dsum('l_quantity')}) AS margin
  FROM s JOIN part ON s.l_partkey = part.p_partkey
  GROUP BY ROLLUP(p_brand, p_type)
)
SELECT p_brand, p_type, lochierarchy, margin,
       CAST(rank() OVER (
         PARTITION BY lochierarchy,
                      CASE WHEN g_type = 0 THEN p_brand END
         ORDER BY margin ASC NULLS LAST, p_brand ASC NULLS LAST,
                  p_type ASC NULLS LAST) AS INT) AS rk
FROM agg
ORDER BY lochierarchy DESC, p_brand ASC NULLS LAST,
         p_type ASC NULLS LAST
"""
QUERIES["tpcds_q36_margin_rank"] = tpcds_q36_margin_rank


# ---------------------------------------------------------------------------
# q38 shape: INTERSECT of customer sets across all three channels

def tpcds_q38_channel_intersect(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """TPC-DS q38 shape: count of customers who bought in ALL three
    channels — set INTERSECT over distinct key sets (each side is an
    aggregate-shrunk shuffle, never the fact)."""
    s = _sales(spark, sf_dir, with_cust=True)

    def channel_custs(ch: str) -> DataFrame:
        return s.filter(F.col("channel") == ch) \
            .select("o_custkey").distinct()

    both = (
        channel_custs("store")
        .intersect(channel_custs("catalog"))
        .intersect(channel_custs("web"))
    )
    return both.agg(F.count(F.lit(1)).alias("n_customers"))


ORACLE["tpcds_q38_channel_intersect"] = f"""
WITH s AS ({_SQL_SALES_CUST})
SELECT CAST(COUNT(*) AS BIGINT) AS n_customers FROM (
  SELECT DISTINCT o_custkey FROM s WHERE channel = 'store'
  INTERSECT
  SELECT DISTINCT o_custkey FROM s WHERE channel = 'catalog'
  INTERSECT
  SELECT DISTINCT o_custkey FROM s WHERE channel = 'web'
)
"""
QUERIES["tpcds_q38_channel_intersect"] = tpcds_q38_channel_intersect


# ---------------------------------------------------------------------------
# q45 shape: OR of literal IN-list and IN-subquery

def tpcds_q45_or_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q45 shape: web revenue by nation for customers in a
    literal nation list OR in a subquery (high-balance customers) —
    the OR forces the classic decorrelation: the subquery becomes a
    broadcast flag join, the IN-list a row-local predicate."""
    s = _sales(spark, sf_dir, with_cust=True) \
        .filter(F.col("channel") == "web")
    cust = load_table(spark, sf_dir, "customer")
    rich = cust.filter(F.col("c_acctbal") > 9000) \
        .select("c_custkey", F.lit(True).alias("_rich"))
    j = (
        s.join(maybe_broadcast(cust.select("c_custkey", "c_nationkey")),
               s["o_custkey"] == F.col("c_custkey"))
        .join(maybe_broadcast(rich), "c_custkey", "left")
        .filter(
            F.col("c_nationkey").isin(1, 3, 5, 7, 9)
            | F.col("_rich").isNotNull()
        )
    )
    return (
        j.groupBy("c_nationkey")
        .agg(dsum(F.col("net_price")).alias("web_sales"))
        .transform(sort_result, "c_nationkey")
    )


ORACLE["tpcds_q45_or_subquery"] = f"""
WITH s AS ({_SQL_SALES_CUST})
SELECT c.c_nationkey, {sql_dsum('s.net_price')} AS web_sales
FROM s JOIN customer c ON s.o_custkey = c.c_custkey
WHERE s.channel = 'web'
  AND (c.c_nationkey IN (1, 3, 5, 7, 9)
       OR c.c_custkey IN (SELECT c_custkey FROM customer
                          WHERE c_acctbal > 9000))
GROUP BY c.c_nationkey
ORDER BY c.c_nationkey
"""
QUERIES["tpcds_q45_or_subquery"] = tpcds_q45_or_subquery


# ---------------------------------------------------------------------------
# q51 shape: cumulative windows + FULL OUTER channel compare

def tpcds_q51_cumulative_compare(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """TPC-DS q51 shape: per item, monthly CUMULATIVE store vs web
    sales (fixed-point integer cumsum — exact and order-independent),
    FULL OUTER joined on (item, month), keeping months where the web
    cumulative overtakes the store cumulative."""
    s = _sales(spark, sf_dir).filter(F.col("l_partkey") < 100)
    month = F.date_format("l_shipdate", "yyyy-MM").alias("mon")

    def cum(ch: str, out: str) -> DataFrame:
        monthly = (
            s.filter(F.col("channel") == ch)
            .groupBy("l_partkey", month)
            .agg(F.sum(fixed(F.col("net_price"))).alias("_m"))
        )
        w = (
            Window.partitionBy("l_partkey").orderBy("mon")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return monthly.withColumn(
            out, F.sum("_m").over(w).cast("long")
        ).select("l_partkey", "mon", out)

    store = cum("store", "store_cum_fp")
    web = cum("web", "web_cum_fp")
    j = store.join(web, ["l_partkey", "mon"], "full_outer")
    return (
        j.filter(F.col("web_cum_fp") > F.col("store_cum_fp"))
        .transform(sort_result, "l_partkey", "mon")
    )


def _sql_cum(ch: str, out: str) -> str:
    return f"""
  SELECT l_partkey, mon,
         CAST(SUM(_m) OVER (PARTITION BY l_partkey ORDER BY mon
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS {out}
  FROM (
    SELECT l_partkey, strftime(l_shipdate, '%Y-%m') AS mon,
           SUM({sql_fixed('net_price')}) AS _m
    FROM s WHERE channel = '{ch}' AND l_partkey < 100
    GROUP BY l_partkey, strftime(l_shipdate, '%Y-%m')
  )
"""


ORACLE["tpcds_q51_cumulative_compare"] = f"""
WITH s AS ({_SQL_SALES}),
store AS ({_sql_cum('store', 'store_cum_fp')}),
web AS ({_sql_cum('web', 'web_cum_fp')})
SELECT COALESCE(store.l_partkey, web.l_partkey) AS l_partkey,
       COALESCE(store.mon, web.mon) AS mon,
       store.store_cum_fp, web.web_cum_fp
FROM store FULL OUTER JOIN web
  ON store.l_partkey = web.l_partkey AND store.mon = web.mon
WHERE web.web_cum_fp > store.store_cum_fp
ORDER BY l_partkey, mon
"""
QUERIES["tpcds_q51_cumulative_compare"] = tpcds_q51_cumulative_compare


# ---------------------------------------------------------------------------
# q59 shape: week-over-week ratio across years

def tpcds_q59_weekly_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q59 shape: store sales per week-of-year, 1996 vs 1995,
    self-joined on the week index with the growth ratio. Week index =
    (dayofyear − 1) / 7 — pure integer arithmetic, identical in both
    engines (ISO-week functions differ across engines)."""
    s = _sales(spark, sf_dir).filter(F.col("channel") == "store")
    wk = F.floor((F.dayofyear("l_shipdate") - 1) / 7).alias("wk")
    weekly = (
        s.filter(F.year("l_shipdate").isin(1995, 1996))
        .groupBy(F.year("l_shipdate").alias("yr"), wk)
        .agg(dsum(F.col("net_price")).alias("amt"))
    )
    y1 = weekly.filter(F.col("yr") == 1995) \
        .select("wk", F.col("amt").alias("amt_1995"))
    y2 = weekly.filter(F.col("yr") == 1996) \
        .select("wk", F.col("amt").alias("amt_1996"))
    return (
        y1.join(y2, "wk")
        .select(
            "wk", "amt_1995", "amt_1996",
            (F.col("amt_1996") / F.col("amt_1995")).alias("yoy_ratio"),
        )
        .transform(sort_result, "wk")
    )


ORACLE["tpcds_q59_weekly_yoy"] = f"""
WITH s AS ({_SQL_SALES}),
weekly AS (
  SELECT year(l_shipdate) AS yr,
         CAST(FLOOR((dayofyear(l_shipdate) - 1) / 7) AS BIGINT) AS wk,
         {sql_dsum('net_price')} AS amt
  FROM s
  WHERE channel = 'store' AND year(l_shipdate) IN (1995, 1996)
  GROUP BY year(l_shipdate), FLOOR((dayofyear(l_shipdate) - 1) / 7)
)
SELECT y1.wk, y1.amt AS amt_1995, y2.amt AS amt_1996,
       y2.amt / y1.amt AS yoy_ratio
FROM (SELECT * FROM weekly WHERE yr = 1995) y1
JOIN (SELECT * FROM weekly WHERE yr = 1996) y2 USING (wk)
ORDER BY wk
"""
QUERIES["tpcds_q59_weekly_yoy"] = tpcds_q59_weekly_yoy


# ---------------------------------------------------------------------------
# q67 shape: windowed top-N over a (brand, month) ROLLUP

def tpcds_q67_rollup_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q67 shape: sales over ROLLUP(brand, month), then the
    top 10 rows per hierarchy level by a DESC rank window — the
    window-over-rollup pattern the verdict called out as untested."""
    s = _sales(spark, sf_dir)
    part = load_table(spark, sf_dir, "part")
    j = s.join(maybe_broadcast(part), s["l_partkey"] == part["p_partkey"]) \
        .withColumn("mon", F.date_format("l_shipdate", "yyyy-MM"))
    agg = (
        j.rollup("p_brand", "mon")
        .agg(
            dsum(F.col("net_price")).alias("sumsales"),
            (F.grouping("p_brand") + F.grouping("mon")).cast("int")
            .alias("lochierarchy"),
        )
    )
    w = Window.partitionBy("lochierarchy").orderBy(
        F.col("sumsales").desc_nulls_last(),
        F.col("p_brand").asc_nulls_last(),
        F.col("mon").asc_nulls_last(),
    )
    return (
        agg.withColumn("rk", F.rank().over(w))
        .filter(F.col("rk") <= 10)
        .select("p_brand", "mon", "lochierarchy", "sumsales", "rk")
        .transform(sort_result, "lochierarchy", "rk")
    )


ORACLE["tpcds_q67_rollup_topn"] = f"""
WITH s AS ({_SQL_SALES}),
j AS (
  SELECT s.*, part.p_brand, strftime(l_shipdate, '%Y-%m') AS mon
  FROM s JOIN part ON s.l_partkey = part.p_partkey
),
agg AS (
  SELECT p_brand, mon,
         CAST(GROUPING(p_brand) + GROUPING(mon) AS INT) AS lochierarchy,
         {sql_dsum('net_price')} AS sumsales
  FROM j
  GROUP BY ROLLUP(p_brand, mon)
)
SELECT p_brand, mon, lochierarchy, sumsales, CAST(rk AS INT) AS rk
FROM (
  SELECT *, rank() OVER (
           PARTITION BY lochierarchy
           ORDER BY sumsales DESC NULLS LAST, p_brand ASC NULLS LAST,
                    mon ASC NULLS LAST) AS rk
  FROM agg
)
WHERE rk <= 10
ORDER BY lochierarchy, rk
"""
QUERIES["tpcds_q67_rollup_topn"] = tpcds_q67_rollup_topn


# ---------------------------------------------------------------------------
# q88 shape: eight cross-joined scalar-subquery time-band counts

def tpcds_q88_time_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q88 shape: one row of eight independent time-band counts
    — eight scalar aggregates cross-joined (each is its own tiny
    aggregate; Spark broadcasts the single-row sides)."""
    ev = load_table(spark, sf_dir, "events")
    out = None
    for i in range(8):
        lo, hi = i * 3, i * 3 + 2
        band = ev.filter(
            (F.hour("ts") >= lo) & (F.hour("ts") <= hi)
        ).agg(F.count(F.lit(1)).alias(f"h{lo}_{hi}"))
        out = band if out is None else out.crossJoin(band)
    return out


_BANDS = ", ".join(
    f"(SELECT CAST(COUNT(*) AS BIGINT) FROM events "
    f"WHERE hour(ts) BETWEEN {i*3} AND {i*3+2}) AS h{i*3}_{i*3+2}"
    for i in range(8)
)
ORACLE["tpcds_q88_time_bands"] = f"SELECT {_BANDS}"
QUERIES["tpcds_q88_time_bands"] = tpcds_q88_time_bands


# ---------------------------------------------------------------------------
# q93 shape: returns-adjusted revenue (fact LEFT JOIN returns)

def tpcds_q93_returns_adjusted(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """TPC-DS q93 shape: actual revenue per customer after refunds —
    the sales fact LEFT JOINed to the returns fact on the line key;
    returned lines refund half. Bottom-100 customers by adjusted
    revenue (deterministic tie-break on the key)."""
    s = _sales(spark, sf_dir, with_cust=True)
    # fresh lineage for the returns side — a filtered projection of the
    # SAME DataFrame would trip Spark's ambiguous-self-join detection
    returns = _sales(spark, sf_dir).filter(F.col("returned")).select(
        F.col("l_orderkey").alias("r_orderkey"),
        F.col("l_linenumber").alias("r_linenumber"),
        F.lit(True).alias("_ret"),
    )
    j = s.join(
        returns,
        (s["l_orderkey"] == returns["r_orderkey"])
        & (s["l_linenumber"] == returns["r_linenumber"]),
        "left",
    )
    adjusted = F.when(F.col("_ret").isNotNull(),
                      F.col("net_price") * 0.5) \
        .otherwise(F.col("net_price"))
    return (
        j.groupBy("o_custkey")
        .agg(dsum(adjusted).alias("act_revenue"))
        .orderBy(F.col("act_revenue").asc(), F.col("o_custkey").asc())
        .limit(100)
    )


ORACLE["tpcds_q93_returns_adjusted"] = f"""
WITH s AS ({_SQL_SALES_CUST}),
r AS (
  SELECT l_orderkey AS r_orderkey, l_linenumber AS r_linenumber,
         TRUE AS _ret
  FROM s WHERE returned
)
SELECT o_custkey,
       {sql_dsum("CASE WHEN _ret IS NOT NULL THEN net_price * 0.5 "
                  "ELSE net_price END")} AS act_revenue
FROM s LEFT JOIN r
  ON s.l_orderkey = r.r_orderkey AND s.l_linenumber = r.r_linenumber
GROUP BY o_custkey
ORDER BY act_revenue ASC, o_custkey ASC
LIMIT 100
"""
QUERIES["tpcds_q93_returns_adjusted"] = tpcds_q93_returns_adjusted


# ---------------------------------------------------------------------------
# q97 shape: store/web (customer, item) overlap via FULL OUTER

def tpcds_q97_channel_overlap(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """TPC-DS q97 shape: distinct (customer, item) pairs per channel,
    FULL OUTER joined to count store-only / web-only / both — the
    set-reconciliation report."""
    s = _sales(spark, sf_dir, with_cust=True)

    def pairs(ch: str, c: str, p: str) -> DataFrame:
        return (
            s.filter(F.col("channel") == ch)
            .select(F.col("o_custkey").alias(c),
                    F.col("l_partkey").alias(p))
            .distinct()
        )

    st = pairs("store", "sc", "sp")
    wb = pairs("web", "wc", "wp")
    j = st.join(
        wb, (st["sc"] == wb["wc"]) & (st["sp"] == wb["wp"]), "full_outer"
    )
    return j.agg(
        F.sum(F.when(F.col("sc").isNotNull() & F.col("wc").isNull(), 1)
              .otherwise(0)).alias("store_only"),
        F.sum(F.when(F.col("sc").isNull() & F.col("wc").isNotNull(), 1)
              .otherwise(0)).alias("web_only"),
        F.sum(F.when(F.col("sc").isNotNull() & F.col("wc").isNotNull(), 1)
              .otherwise(0)).alias("both_channels"),
    )


ORACLE["tpcds_q97_channel_overlap"] = f"""
WITH s AS ({_SQL_SALES_CUST}),
st AS (SELECT DISTINCT o_custkey AS sc, l_partkey AS sp
       FROM s WHERE channel = 'store'),
wb AS (SELECT DISTINCT o_custkey AS wc, l_partkey AS wp
       FROM s WHERE channel = 'web')
SELECT
  CAST(SUM(CASE WHEN sc IS NOT NULL AND wc IS NULL THEN 1 ELSE 0 END)
       AS BIGINT) AS store_only,
  CAST(SUM(CASE WHEN sc IS NULL AND wc IS NOT NULL THEN 1 ELSE 0 END)
       AS BIGINT) AS web_only,
  CAST(SUM(CASE WHEN sc IS NOT NULL AND wc IS NOT NULL THEN 1 ELSE 0 END)
       AS BIGINT) AS both_channels
FROM st FULL OUTER JOIN wb ON st.sc = wb.wc AND st.sp = wb.wp
"""
QUERIES["tpcds_q97_channel_overlap"] = tpcds_q97_channel_overlap


# ---------------------------------------------------------------------------
# q10 shape: customer profile gated by EXISTS over multiple channels

def tpcds_q10_exists_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q10 shape: count customers by nation who bought in the
    store channel AND (exist in web OR exist in catalog) — the
    multi-EXISTS decorrelation pattern (each EXISTS becomes a
    semi-join on the aggregate-shrunk customer set)."""
    s = _sales(spark, sf_dir, with_cust=True)
    cust = load_table(spark, sf_dir, "customer")

    def channel_custs(ch: str) -> DataFrame:
        return s.filter(F.col("channel") == ch) \
            .select("o_custkey").distinct()

    eligible = channel_custs("store").join(
        channel_custs("web").unionByName(channel_custs("catalog"))
        .distinct(),
        "o_custkey", "left_semi",
    )
    return (
        maybe_broadcast(cust)
        .join(eligible, cust["c_custkey"] == eligible["o_custkey"])
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .transform(sort_result, "c_nationkey")
    )


ORACLE["tpcds_q10_exists_profile"] = f"""
WITH s AS ({_SQL_SALES_CUST})
SELECT c.c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_customers
FROM customer c
WHERE EXISTS (SELECT 1 FROM s WHERE s.o_custkey = c.c_custkey
              AND s.channel = 'store')
  AND (EXISTS (SELECT 1 FROM s WHERE s.o_custkey = c.c_custkey
               AND s.channel = 'web')
       OR EXISTS (SELECT 1 FROM s WHERE s.o_custkey = c.c_custkey
                  AND s.channel = 'catalog'))
GROUP BY c.c_nationkey
ORDER BY c.c_nationkey
"""
QUERIES["tpcds_q10_exists_profile"] = tpcds_q10_exists_profile


# ---------------------------------------------------------------------------
# q33 shape: sum over a UNION of per-channel aggregates by item brand

def tpcds_q33_union_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q33 shape: each channel aggregates separately (its own
    scan + group), the three results UNION ALL, and an outer aggregate
    totals per brand — the classic multi-channel union-fact report."""
    s = _sales(spark, sf_dir)
    part = load_table(spark, sf_dir, "part")

    def per_channel(ch: str) -> DataFrame:
        return (
            s.filter(F.col("channel") == ch)
            .join(maybe_broadcast(part), s["l_partkey"] == part["p_partkey"])
            .groupBy("p_brand")
            .agg(dsum(F.col("net_price")).alias("amt"))
        )

    unioned = per_channel("store") \
        .unionByName(per_channel("catalog")) \
        .unionByName(per_channel("web"))
    return (
        unioned.groupBy("p_brand")
        .agg(dsum(F.col("amt")).alias("total_sales"))
        .transform(sort_result, "p_brand")
    )


def _sql_q33_channel(ch: str) -> str:
    return f"""
  SELECT p_brand, {sql_dsum('net_price')} AS amt
  FROM s JOIN part ON s.l_partkey = part.p_partkey
  WHERE channel = '{ch}' GROUP BY p_brand
"""


ORACLE["tpcds_q33_union_by_brand"] = f"""
WITH s AS ({_SQL_SALES}),
u AS (
  {_sql_q33_channel('store')}
  UNION ALL
  {_sql_q33_channel('catalog')}
  UNION ALL
  {_sql_q33_channel('web')}
)
SELECT p_brand, {sql_dsum('amt')} AS total_sales
FROM u GROUP BY p_brand ORDER BY p_brand
"""
QUERIES["tpcds_q33_union_by_brand"] = tpcds_q33_union_by_brand


# ---------------------------------------------------------------------------
# q49 shape: per-channel return ratios, ranked, unioned

def tpcds_q49_return_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q49 shape: per channel, each item's return ratio
    (returned qty / sold qty), rank within the channel, keep the worst
    10, UNION the channels — rank-inside-union-branches."""
    s = _sales(spark, sf_dir)

    def branch(ch: str) -> DataFrame:
        per_item = (
            s.filter(F.col("channel") == ch)
            .groupBy("l_partkey")
            .agg(
                dsum(F.when(F.col("returned"), F.col("l_quantity"))
                     .otherwise(F.lit(0.0))).alias("ret_qty"),
                dsum(F.col("l_quantity")).alias("sold_qty"),
            )
            .withColumn("ratio", F.col("ret_qty") / F.col("sold_qty"))
        )
        w = Window.orderBy(F.col("ratio").desc_nulls_last(),
                           F.col("l_partkey").asc())
        return (
            per_item.withColumn("rk", F.rank().over(w))
            .filter(F.col("rk") <= 10)
            .select(F.lit(ch).alias("channel"), "l_partkey",
                    "ratio", "rk")
        )

    return (
        branch("store").unionByName(branch("catalog"))
        .unionByName(branch("web"))
        .orderBy("channel", "rk", "l_partkey")
    )


_RQ = sql_dsum("CASE WHEN returned THEN l_quantity ELSE 0.0 END")
_SQ = sql_dsum("l_quantity")


def _sql_q49_branch(ch: str) -> str:
    return f"""
  SELECT channel, l_partkey, ratio, rk FROM (
    SELECT '{ch}' AS channel, l_partkey, ratio,
           CAST(rank() OVER (ORDER BY ratio DESC NULLS LAST,
                             l_partkey ASC) AS INT) AS rk
    FROM (
      SELECT l_partkey, ({_RQ}) / ({_SQ}) AS ratio
      FROM s WHERE channel = '{ch}' GROUP BY l_partkey
    )
  ) WHERE rk <= 10
"""


ORACLE["tpcds_q49_return_ranks"] = f"""
WITH s AS ({_SQL_SALES})
{_sql_q49_branch('store')}
UNION ALL
{_sql_q49_branch('catalog')}
UNION ALL
{_sql_q49_branch('web')}
ORDER BY channel, rk, l_partkey
"""
QUERIES["tpcds_q49_return_ranks"] = tpcds_q49_return_ranks


# ---------------------------------------------------------------------------
# q64 shape: snowflake join chain (fact → orders → customer → nation
# → region, plus part and supplier)

def tpcds_q64_snowflake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q64 shape: the deep snowflake — fact joined through a
    TWO-HOP dimension chain (customer → nation → region) plus two
    first-hop dims (part, supplier). Dims broadcast hop by hop; only
    the fact⋈orders join shuffles."""
    s = _sales(spark, sf_dir, with_cust=True)
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    j = (
        s.join(maybe_broadcast(cust), s["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation),
              cust["c_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region),
              nation["n_regionkey"] == region["r_regionkey"])
        .join(maybe_broadcast(part), s["l_partkey"] == part["p_partkey"])
        .join(maybe_broadcast(supplier),
              s["l_suppkey"] == supplier["s_suppkey"])
        .filter(F.col("p_size") < 10)
    )
    return (
        j.groupBy("r_name", "n_name", "p_brand")
        .agg(
            dsum(F.col("net_price")).alias("sales_amt"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .transform(sort_result, "r_name", "n_name", "p_brand")
    )


ORACLE["tpcds_q64_snowflake"] = f"""
WITH s AS ({_SQL_SALES_CUST})
SELECT r.r_name, n.n_name, p.p_brand,
       {sql_dsum('s.net_price')} AS sales_amt,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM s
JOIN customer c ON s.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
JOIN part p ON s.l_partkey = p.p_partkey
JOIN supplier sp ON s.l_suppkey = sp.s_suppkey
WHERE p.p_size < 10
GROUP BY r.r_name, n.n_name, p.p_brand
ORDER BY r.r_name, n.n_name, p.p_brand
"""
QUERIES["tpcds_q64_snowflake"] = tpcds_q64_snowflake


# ---------------------------------------------------------------------------
# q54 shape: revenue-bucket histogram of customers (scalar-subquery
# segmentation)

def tpcds_q54_revenue_buckets(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """TPC-DS q54 shape: per-customer revenue → fixed-width buckets →
    bucket histogram (the customer-segmentation report tail)."""
    s = _sales(spark, sf_dir, with_cust=True)
    per_cust = s.groupBy("o_custkey").agg(
        dsum(F.col("net_price")).alias("revenue")
    )
    bucket = F.floor(F.col("revenue") / 50000.0).cast("long")
    return (
        per_cust.select(bucket.alias("segment"))
        .groupBy("segment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .transform(sort_result, "segment")
    )


ORACLE["tpcds_q54_revenue_buckets"] = f"""
WITH s AS ({_SQL_SALES_CUST}),
per_cust AS (
  SELECT o_custkey, {sql_dsum('net_price')} AS revenue
  FROM s GROUP BY o_custkey
)
SELECT CAST(FLOOR(revenue / 50000.0) AS BIGINT) AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_customers
FROM per_cust
GROUP BY FLOOR(revenue / 50000.0)
ORDER BY segment
"""
QUERIES["tpcds_q54_revenue_buckets"] = tpcds_q54_revenue_buckets


# ---------------------------------------------------------------------------
# q78 shape: web sales with NO matching store activity (anti-join
# ratio report)

def tpcds_q78_web_only_ratio(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """TPC-DS q78 shape: per (customer, item), web sales with no store
    sale of the same pair — LEFT ANTI against the store pair set —
    then the top web-loyal customers by exclusive web revenue."""
    s = _sales(spark, sf_dir, with_cust=True)
    web = s.filter(F.col("channel") == "web")
    store_pairs = (
        s.filter(F.col("channel") == "store")
        .select(F.col("o_custkey").alias("sc"),
                F.col("l_partkey").alias("sp"))
        .distinct()
    )
    only_web = web.join(
        store_pairs,
        (web["o_custkey"] == store_pairs["sc"])
        & (web["l_partkey"] == store_pairs["sp"]),
        "left_anti",
    )
    return (
        only_web.groupBy("o_custkey")
        .agg(
            dsum(F.col("net_price")).alias("web_only_rev"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy(F.col("web_only_rev").desc(), F.col("o_custkey").asc())
        .limit(50)
    )


ORACLE["tpcds_q78_web_only_ratio"] = f"""
WITH s AS ({_SQL_SALES_CUST}),
store_pairs AS (
  SELECT DISTINCT o_custkey AS sc, l_partkey AS sp
  FROM s WHERE channel = 'store'
)
SELECT o_custkey, {sql_dsum('net_price')} AS web_only_rev,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM s
WHERE channel = 'web'
  AND NOT EXISTS (SELECT 1 FROM store_pairs
                  WHERE sc = s.o_custkey AND sp = s.l_partkey)
GROUP BY o_custkey
ORDER BY web_only_rev DESC, o_custkey ASC
LIMIT 50
"""
QUERIES["tpcds_q78_web_only_ratio"] = tpcds_q78_web_only_ratio


# ---------------------------------------------------------------------------
# q14 shape: cross-channel common items + scalar-subquery threshold

def tpcds_q14_cross_channel(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """TPC-DS q14 shape: items sold in ALL three channels (INTERSECT),
    then channel sales for those items filtered by a SCALAR subquery
    threshold (the cross-channel average) — intersect feeding a
    correlated-free scalar comparison."""
    s = _sales(spark, sf_dir)

    def channel_items(ch: str) -> DataFrame:
        return s.filter(F.col("channel") == ch) \
            .select("l_partkey").distinct()

    common = channel_items("store") \
        .intersect(channel_items("catalog")) \
        .intersect(channel_items("web"))
    per_item = (
        s.join(common, "l_partkey")
        .groupBy("channel", "l_partkey")
        .agg(dsum(F.col("net_price")).alias("amt"))
        # read twice (scalar average + the filtered aggregate):
        # cache() pins the reuse instead of betting on ReusedExchange
        # — at scale this is channels×items aggregated rows, far
        # smaller than the re-scan it avoids (r7 verdict #3)
        .cache()
    )
    avg_amt = per_item.agg(
        (dsum(F.col("amt")) / F.count(F.lit(1))).alias("_avg")
    )
    return (
        per_item.crossJoin(F.broadcast(avg_amt))
        .filter(F.col("amt") > F.col("_avg"))
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(F.col("amt")).alias("above_avg_sales"),
        )
        .transform(sort_result, "channel")
    )


ORACLE["tpcds_q14_cross_channel"] = f"""
WITH s AS ({_SQL_SALES}),
common AS (
  SELECT DISTINCT l_partkey FROM s WHERE channel = 'store'
  INTERSECT
  SELECT DISTINCT l_partkey FROM s WHERE channel = 'catalog'
  INTERSECT
  SELECT DISTINCT l_partkey FROM s WHERE channel = 'web'
),
per_item AS (
  SELECT channel, l_partkey, {sql_dsum('net_price')} AS amt
  FROM s JOIN common USING (l_partkey)
  GROUP BY channel, l_partkey
)
SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_items,
       {sql_dsum('amt')} AS above_avg_sales
FROM per_item
WHERE amt > (SELECT ({sql_dsum('amt')}) / COUNT(*) FROM per_item)
GROUP BY channel
ORDER BY channel
"""
QUERIES["tpcds_q14_cross_channel"] = tpcds_q14_cross_channel


# ---------------------------------------------------------------------------
# q17 shape: variance-based stability filter (portable stddev)

def tpcds_q17_qty_stddev(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q17 shape: items whose quantity shows low relative
    spread (stdev/mean ≤ threshold). Spark's stddev_samp merges
    per-partition M2 states — order-dependent in the last bits — so
    the spread is computed from FIXED-POINT sums (Σq, Σq²) in closed
    form: deterministic, partitioning-independent, and bit-identical
    in the oracle."""
    s = _sales(spark, sf_dir)
    per_item = (
        s.groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("l_quantity")).alias("qsum"),
            dsum(F.col("l_quantity") * F.col("l_quantity")).alias("qsq"),
        )
        .filter(F.col("n") >= 20)
    )
    mean = F.col("qsum") / F.col("n")
    var = (F.col("qsq") - F.col("qsum") * F.col("qsum") / F.col("n")) \
        / (F.col("n") - 1)
    cov = F.sqrt(var) / mean
    return (
        per_item.withColumn("qty_cov", cov)
        .filter(F.col("qty_cov") <= 0.58)
        .select("l_partkey", "n", "qty_cov")
        .transform(sort_result, "l_partkey")
    )


_QS = sql_dsum("l_quantity")
_QSQ = sql_dsum("l_quantity * l_quantity")
ORACLE["tpcds_q17_qty_stddev"] = f"""
WITH s AS ({_SQL_SALES}),
per_item AS (
  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n,
         {_QS} AS qsum, {_QSQ} AS qsq
  FROM s GROUP BY l_partkey
  HAVING COUNT(*) >= 20
)
SELECT l_partkey, n,
       sqrt((qsq - qsum * qsum / n) / (n - 1)) / (qsum / n) AS qty_cov
FROM per_item
WHERE sqrt((qsq - qsum * qsum / n) / (n - 1)) / (qsum / n) <= 0.58
ORDER BY l_partkey
"""
QUERIES["tpcds_q17_qty_stddev"] = tpcds_q17_qty_stddev


# ---------------------------------------------------------------------------
# q23 shape: frequent items ∩ best customers

def tpcds_q23_frequent_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q23 shape: 'frequent' items (sold on ≥ 5 distinct days
    in 1996) intersected with purchases by 'best' customers (top
    spenders above a scalar-subquery threshold) — two independent
    qualifying sets gating the fact scan."""
    s = _sales(spark, sf_dir, with_cust=True)
    y = s.filter(F.year("l_shipdate") == 1996)
    frequent = (
        y.groupBy("l_partkey")
        .agg(F.countDistinct(F.to_date("l_shipdate")).alias("d"))
        .filter(F.col("d") >= 5)
        .select("l_partkey")
    )
    spend = s.groupBy("o_custkey").agg(
        dsum(F.col("net_price")).alias("spend")
    )
    cutoff = spend.agg(
        (dsum(F.col("spend")) / F.count(F.lit(1))).alias("_avg")
    )
    best = (
        spend.crossJoin(F.broadcast(cutoff))
        .filter(F.col("spend") > F.col("_avg") * 1.5)
        .select("o_custkey")
    )
    hits = y.join(frequent, "l_partkey").join(best, "o_custkey")
    return hits.agg(
        F.count(F.lit(1)).alias("n_lines"),
        dsum(F.col("net_price")).alias("qualified_sales"),
    )


ORACLE["tpcds_q23_frequent_best"] = f"""
WITH s AS ({_SQL_SALES_CUST}),
y AS (SELECT * FROM s WHERE year(l_shipdate) = 1996),
frequent AS (
  SELECT l_partkey FROM y
  GROUP BY l_partkey
  HAVING COUNT(DISTINCT CAST(l_shipdate AS DATE)) >= 5
),
spend AS (
  SELECT o_custkey, {sql_dsum('net_price')} AS spend
  FROM s GROUP BY o_custkey
),
best AS (
  SELECT o_custkey FROM spend
  WHERE spend > (SELECT ({sql_dsum('spend')}) / COUNT(*) FROM spend) * 1.5
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
       {sql_dsum('net_price')} AS qualified_sales
FROM y
JOIN frequent USING (l_partkey)
JOIN best USING (o_custkey)
"""
QUERIES["tpcds_q23_frequent_best"] = tpcds_q23_frequent_best


# ---------------------------------------------------------------------------
# q35 shape: customer demographics gated by EXISTS, multi-agg

def tpcds_q35_demographic_stats(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """TPC-DS q35 shape: per nation, stats (count / min / max / sum)
    over account balances of customers who have store activity AND
    (web OR catalog activity) — EXISTS gates feeding a multi-aggregate
    rollup of the same column."""
    s = _sales(spark, sf_dir, with_cust=True)
    cust = load_table(spark, sf_dir, "customer")

    def has(ch: str) -> DataFrame:
        return s.filter(F.col("channel") == ch) \
            .select("o_custkey").distinct()

    gated = (
        cust.join(has("store"),
                  cust["c_custkey"] == F.col("o_custkey"), "left_semi")
        .join(has("web").unionByName(has("catalog")).distinct()
              .withColumnRenamed("o_custkey", "oc2"),
              F.col("c_custkey") == F.col("oc2"), "left_semi")
    )
    return (
        gated.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            dsum(F.col("c_acctbal")).alias("bal_sum"),
            F.min("c_acctbal").alias("bal_min"),
            F.max("c_acctbal").alias("bal_max"),
        )
        .transform(sort_result, "c_nationkey")
    )


ORACLE["tpcds_q35_demographic_stats"] = f"""
WITH s AS ({_SQL_SALES_CUST})
SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_cust,
       {sql_dsum('c_acctbal')} AS bal_sum,
       MIN(c_acctbal) AS bal_min, MAX(c_acctbal) AS bal_max
FROM customer c
WHERE EXISTS (SELECT 1 FROM s WHERE s.o_custkey = c.c_custkey
              AND s.channel = 'store')
  AND EXISTS (SELECT 1 FROM s WHERE s.o_custkey = c.c_custkey
              AND s.channel IN ('web', 'catalog'))
GROUP BY c_nationkey
ORDER BY c_nationkey
"""
QUERIES["tpcds_q35_demographic_stats"] = tpcds_q35_demographic_stats


# ---------------------------------------------------------------------------
# q76 shape: UNION of channel scans with per-channel null columns

def tpcds_q76_channel_union_nulls(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """TPC-DS q76 shape: each channel contributes rows with a
    DIFFERENT populated attribute column (the others NULL), UNION ALL,
    then a count/sum report by (channel, year) — the heterogeneous
    union-fact report q76 is known for."""
    s = _sales(spark, sf_dir)

    def branch(ch: str, attr) -> DataFrame:
        return s.filter(F.col("channel") == ch).select(
            F.lit(ch).alias("channel"),
            F.year("l_shipdate").alias("yr"),
            attr.alias("attr"),
            "net_price",
        )

    u = (
        branch("store", F.col("l_partkey").cast("string"))
        .unionByName(branch("catalog", F.lit(None).cast("string")))
        .unionByName(branch("web", F.col("l_suppkey").cast("string")))
    )
    return (
        u.groupBy("channel", "yr")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("attr").alias("n_attr"),
            dsum(F.col("net_price")).alias("sales_amt"),
        )
        .transform(sort_result, "channel", "yr")
    )


ORACLE["tpcds_q76_channel_union_nulls"] = f"""
WITH s AS ({_SQL_SALES}),
u AS (
  SELECT 'store' AS channel, year(l_shipdate) AS yr,
         CAST(l_partkey AS VARCHAR) AS attr, net_price
  FROM s WHERE channel = 'store'
  UNION ALL
  SELECT 'catalog', year(l_shipdate), NULL, net_price
  FROM s WHERE channel = 'catalog'
  UNION ALL
  SELECT 'web', year(l_shipdate), CAST(l_suppkey AS VARCHAR), net_price
  FROM s WHERE channel = 'web'
)
SELECT channel, yr, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(attr) AS BIGINT) AS n_attr,
       {sql_dsum('net_price')} AS sales_amt
FROM u GROUP BY channel, yr ORDER BY channel, yr
"""
QUERIES["tpcds_q76_channel_union_nulls"] = tpcds_q76_channel_union_nulls


# ---------------------------------------------------------------------------
# q87 shape: EXCEPT-based customer count

def tpcds_q87_except_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q87 shape: customers in the store channel EXCEPT those
    in web EXCEPT those in catalog — chained set difference over
    distinct key sets, then a count."""
    s = _sales(spark, sf_dir, with_cust=True)

    def custs(ch: str) -> DataFrame:
        return s.filter(F.col("channel") == ch) \
            .select("o_custkey").distinct()

    only_store = custs("store").exceptAll(custs("web")) \
        .exceptAll(custs("catalog"))
    return only_store.agg(F.count(F.lit(1)).alias("n_store_only"))


ORACLE["tpcds_q87_except_count"] = f"""
WITH s AS ({_SQL_SALES_CUST})
SELECT CAST(COUNT(*) AS BIGINT) AS n_store_only FROM (
  SELECT DISTINCT o_custkey FROM s WHERE channel = 'store'
  EXCEPT
  SELECT DISTINCT o_custkey FROM s WHERE channel = 'web'
  EXCEPT
  SELECT DISTINCT o_custkey FROM s WHERE channel = 'catalog'
)
"""
QUERIES["tpcds_q87_except_count"] = tpcds_q87_except_count


# ---------------------------------------------------------------------------
# q66 shape: wide conditional-sum matrix (shipping by month)

def tpcds_q66_monthly_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q66 shape: one row per (supplier-region bucket, year)
    with TWELVE conditional monthly sums — the wide pivot-by-CASE
    matrix q66 is known for, all in one aggregation pass."""
    s = _sales(spark, sf_dir)
    base = s.withColumn("mon", F.month("l_shipdate")) \
        .withColumn("yr", F.year("l_shipdate")) \
        .withColumn("sbucket", (F.col("l_suppkey") % 4).cast("int"))
    aggs = [
        dsum(F.when(F.col("mon") == m, F.col("net_price"))
             .otherwise(F.lit(0.0))).alias(f"m{m:02d}_sales")
        for m in range(1, 13)
    ]
    return (
        base.filter(F.col("yr") == 1997)
        .groupBy("sbucket")
        .agg(*aggs)
        .transform(sort_result, "sbucket")
    )


_M_COLS = ",\n       ".join(
    sql_dsum(f"CASE WHEN month(l_shipdate) = {m} THEN net_price "
             "ELSE 0.0 END") + f" AS m{m:02d}_sales"
    for m in range(1, 13)
)
ORACLE["tpcds_q66_monthly_matrix"] = f"""
WITH s AS ({_SQL_SALES})
SELECT CAST(l_suppkey % 4 AS INT) AS sbucket,
       {_M_COLS}
FROM s
WHERE year(l_shipdate) = 1997
GROUP BY l_suppkey % 4
ORDER BY sbucket
"""
QUERIES["tpcds_q66_monthly_matrix"] = tpcds_q66_monthly_matrix


# ---------------------------------------------------------------------------
# q48 shape: OR of multi-column band predicates

def tpcds_q48_or_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q48 shape: a disjunction of (quantity band AND price
    band) conjuncts — the multi-band OR predicate the optimizer must
    keep as one scan filter (no union split: bands overlap)."""
    s = _sales(spark, sf_dir)
    band = (
        ((F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 10)
         & (F.col("net_price") >= 1000) & (F.col("net_price") <= 30000))
        | ((F.col("l_quantity") >= 11) & (F.col("l_quantity") <= 30)
           & (F.col("net_price") >= 20000) & (F.col("net_price") <= 60000))
        | ((F.col("l_quantity") >= 31)
           & (F.col("net_price") >= 50000))
    )
    return s.filter(band).agg(
        F.count(F.lit(1)).alias("n_lines"),
        dsum(F.col("l_quantity")).alias("total_qty"),
        dsum(F.col("net_price")).alias("total_sales"),
    )


ORACLE["tpcds_q48_or_bands"] = f"""
WITH s AS ({_SQL_SALES})
SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
       {sql_dsum('l_quantity')} AS total_qty,
       {sql_dsum('net_price')} AS total_sales
FROM s
WHERE (l_quantity BETWEEN 1 AND 10
       AND net_price BETWEEN 1000 AND 30000)
   OR (l_quantity BETWEEN 11 AND 30
       AND net_price BETWEEN 20000 AND 60000)
   OR (l_quantity >= 31 AND net_price >= 50000)
"""
QUERIES["tpcds_q48_or_bands"] = tpcds_q48_or_bands


# ---------------------------------------------------------------------------
# q61 shape: promotional-sales ratio via two scalar aggregates

def tpcds_q61_promo_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q61 shape: promotional sales (discount ≥ 5%) over total
    sales as a percentage — two independent scalar aggregates
    cross-joined into one ratio row."""
    s = _sales(spark, sf_dir).filter(F.col("channel") == "store")
    promo = s.filter(F.col("l_discount") >= 0.05).agg(
        dsum(F.col("net_price")).alias("promo_sales")
    )
    total = s.agg(dsum(F.col("net_price")).alias("total_sales"))
    return promo.crossJoin(total).select(
        "promo_sales", "total_sales",
        (F.col("promo_sales") / F.col("total_sales") * 100.0)
        .alias("promo_pct"),
    )


ORACLE["tpcds_q61_promo_ratio"] = f"""
WITH s AS ({_SQL_SALES}),
promo AS (
  SELECT {sql_dsum('net_price')} AS promo_sales
  FROM s WHERE channel = 'store' AND l_discount >= 0.05
),
total AS (
  SELECT {sql_dsum('net_price')} AS total_sales
  FROM s WHERE channel = 'store'
)
SELECT promo_sales, total_sales,
       promo_sales / total_sales * 100.0 AS promo_pct
FROM promo CROSS JOIN total
"""
QUERIES["tpcds_q61_promo_ratio"] = tpcds_q61_promo_ratio


# ---------------------------------------------------------------------------
# q99 shape: shipping-delay bucket matrix

def tpcds_q99_delay_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q99 shape: per shipping bucket (supplier mod), counts of
    orders in delay bands (days between order and ship date) — the
    CASE-bucket count matrix."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders") \
        .select("o_orderkey", "o_orderdate")
    j = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]) \
        .withColumn(
            "delay",
            F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")),
        ) \
        .withColumn("sbucket", (F.col("l_suppkey") % 4).cast("int"))

    def band(name, cond):
        return F.sum(F.when(cond, 1).otherwise(0)).alias(name)

    return (
        j.groupBy("sbucket")
        .agg(
            band("d_0_30", F.col("delay") <= 30),
            band("d_31_60", (F.col("delay") > 30) & (F.col("delay") <= 60)),
            band("d_61_90", (F.col("delay") > 60) & (F.col("delay") <= 90)),
            band("d_over_90", F.col("delay") > 90),
        )
        .transform(sort_result, "sbucket")
    )


ORACLE["tpcds_q99_delay_buckets"] = """
WITH j AS (
  SELECT CAST(l_suppkey % 4 AS INT) AS sbucket,
         date_diff('day', CAST(o_orderdate AS DATE),
                   CAST(l_shipdate AS DATE)) AS delay
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)
SELECT sbucket,
       CAST(SUM(CASE WHEN delay <= 30 THEN 1 ELSE 0 END) AS BIGINT)
         AS d_0_30,
       CAST(SUM(CASE WHEN delay > 30 AND delay <= 60 THEN 1 ELSE 0 END)
         AS BIGINT) AS d_31_60,
       CAST(SUM(CASE WHEN delay > 60 AND delay <= 90 THEN 1 ELSE 0 END)
         AS BIGINT) AS d_61_90,
       CAST(SUM(CASE WHEN delay > 90 THEN 1 ELSE 0 END) AS BIGINT)
         AS d_over_90
FROM j GROUP BY sbucket ORDER BY sbucket
"""
QUERIES["tpcds_q99_delay_buckets"] = tpcds_q99_delay_buckets


# ---------------------------------------------------------------------------
# q1 / q30 / q81 shape: correlated scalar subquery — per-entity return
# total compared against 1.2× the average over its group (reference
# golden plans fe/fe-core/.../TPCDS1TTestBase.java:29; decorrelation in
# fe SubqueryUtils / Spark's RewriteCorrelatedScalarSubquery). The
# Spark side is the VERBATIM correlated form through spark.sql —
# Catalyst decorrelates to aggregate+join (plan-asserted in
# tests/test_tpcds_plans.py), exercising the optimizer path no other
# query hits.
#
# Determinism: the per-entity total stays an EXACT fixed-point
# DECIMAL(38,0) until the final comparison; avg is CAST(SUM AS
# DOUBLE)/COUNT (dec2dbl on the DuckDB side) so both engines compare
# bit-identical doubles.

_SP_FIXED_NET = ("CAST(FLOOR((l_extendedprice * (1 - l_discount)) * "
                 "10000.0 + 0.5) AS DECIMAL(38,0))")
_DK_FIXED_NET = sql_fixed("l_extendedprice * (1 - l_discount)")


def tpcds_q1_store_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q1: customers whose yearly return total at a store
    exceeds 1.2× that store's average customer return total
    (store := supplier; state gate := s_nationkey < 5)."""
    from starrocks_spark.catalog import register_tables

    register_tables(spark, sf_dir)
    return spark.sql(f"""
WITH ctr AS (
  SELECT o_custkey AS ctr_cust, l_suppkey AS ctr_store,
         SUM({_SP_FIXED_NET}) AS ctr_ret
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_returnflag = 'R' AND year(l_shipdate) = 1995
  GROUP BY 1, 2
)
SELECT c_custkey, ctr_store,
       CAST(ctr_ret AS DOUBLE) / 10000.0 AS total_return
FROM ctr JOIN customer ON ctr_cust = c_custkey
         JOIN supplier ON ctr_store = s_suppkey
WHERE s_nationkey < 5
  AND CAST(ctr_ret AS DOUBLE) >
      (SELECT 1.2 * (CAST(SUM(ctr2.ctr_ret) AS DOUBLE) / COUNT(*))
       FROM ctr ctr2 WHERE ctr2.ctr_store = ctr.ctr_store)
ORDER BY c_custkey, ctr_store LIMIT 100
""")


ORACLE["tpcds_q1_store_returns"] = f"""
WITH ctr AS (
  SELECT o_custkey AS ctr_cust, l_suppkey AS ctr_store,
         SUM({_DK_FIXED_NET}) AS ctr_ret
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_returnflag = 'R' AND year(l_shipdate) = 1995
  GROUP BY 1, 2
)
SELECT c_custkey, CAST(ctr_store AS BIGINT) AS ctr_store,
       {sql_dec2dbl('ctr_ret')} / 10000.0 AS total_return
FROM ctr JOIN customer ON ctr_cust = c_custkey
         JOIN supplier ON ctr_store = s_suppkey
WHERE s_nationkey < 5
  AND {sql_dec2dbl('ctr_ret')} >
      (SELECT 1.2 * ({sql_dec2dbl('SUM(ctr2.ctr_ret)')} / COUNT(*))
       FROM ctr ctr2 WHERE ctr2.ctr_store = ctr.ctr_store)
ORDER BY c_custkey, ctr_store LIMIT 100
"""
QUERIES["tpcds_q1_store_returns"] = tpcds_q1_store_returns


def tpcds_q30_web_state_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q30: web-channel return total per customer vs 1.2× the
    average over the customer's STATE (nation), returning customer
    attributes with the total."""
    from starrocks_spark.catalog import register_tables

    register_tables(spark, sf_dir)
    return spark.sql(f"""
WITH wr AS (
  SELECT o_custkey AS wr_cust, c_nationkey AS wr_state,
         SUM({_SP_FIXED_NET}) AS wr_ret
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  WHERE l_returnflag = 'R' AND l_linenumber % 3 = 2
  GROUP BY 1, 2
)
SELECT c_custkey, c_name, c_mktsegment,
       CAST(wr_ret AS DOUBLE) / 10000.0 AS total_return
FROM wr JOIN customer ON wr_cust = c_custkey
WHERE CAST(wr_ret AS DOUBLE) >
      (SELECT 1.2 * (CAST(SUM(wr2.wr_ret) AS DOUBLE) / COUNT(*))
       FROM wr wr2 WHERE wr2.wr_state = wr.wr_state)
ORDER BY c_custkey LIMIT 100
""")


ORACLE["tpcds_q30_web_state_returns"] = f"""
WITH wr AS (
  SELECT o_custkey AS wr_cust, c_nationkey AS wr_state,
         SUM({_DK_FIXED_NET}) AS wr_ret
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  WHERE l_returnflag = 'R' AND l_linenumber % 3 = 2
  GROUP BY 1, 2
)
SELECT c_custkey, c_name, c_mktsegment,
       {sql_dec2dbl('wr_ret')} / 10000.0 AS total_return
FROM wr JOIN customer ON wr_cust = c_custkey
WHERE {sql_dec2dbl('wr_ret')} >
      (SELECT 1.2 * ({sql_dec2dbl('SUM(wr2.wr_ret)')} / COUNT(*))
       FROM wr wr2 WHERE wr2.wr_state = wr.wr_state)
ORDER BY c_custkey LIMIT 100
"""
QUERIES["tpcds_q30_web_state_returns"] = tpcds_q30_web_state_returns


def tpcds_q81_catalog_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q81: catalog-channel returns per (customer, supplier
    nation) vs 1.2× the nation average — the q1 skeleton on a second
    channel with the supplier-side dimension, ordered by the return
    amount (the reference's output ordering)."""
    from starrocks_spark.catalog import register_tables

    register_tables(spark, sf_dir)
    return spark.sql(f"""
WITH cr AS (
  SELECT o_custkey AS cr_cust, s_nationkey AS cr_nation,
         SUM({_SP_FIXED_NET}) AS cr_ret
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  WHERE l_returnflag = 'R' AND l_linenumber % 3 = 1
  GROUP BY 1, 2
)
SELECT cr_cust, cr_nation,
       CAST(cr_ret AS DOUBLE) / 10000.0 AS total_return
FROM cr
WHERE CAST(cr_ret AS DOUBLE) >
      (SELECT 1.2 * (CAST(SUM(cr2.cr_ret) AS DOUBLE) / COUNT(*))
       FROM cr cr2 WHERE cr2.cr_nation = cr.cr_nation)
ORDER BY total_return DESC, cr_cust, cr_nation LIMIT 100
""")


ORACLE["tpcds_q81_catalog_returns"] = f"""
WITH cr AS (
  SELECT o_custkey AS cr_cust, s_nationkey AS cr_nation,
         SUM({_DK_FIXED_NET}) AS cr_ret
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  WHERE l_returnflag = 'R' AND l_linenumber % 3 = 1
  GROUP BY 1, 2
)
SELECT cr_cust, CAST(cr_nation AS INT) AS cr_nation,
       {sql_dec2dbl('cr_ret')} / 10000.0 AS total_return
FROM cr
WHERE {sql_dec2dbl('cr_ret')} >
      (SELECT 1.2 * ({sql_dec2dbl('SUM(cr2.cr_ret)')} / COUNT(*))
       FROM cr cr2 WHERE cr2.cr_nation = cr.cr_nation)
ORDER BY total_return DESC, cr_cust, cr_nation LIMIT 100
"""
QUERIES["tpcds_q81_catalog_returns"] = tpcds_q81_catalog_returns


# ---------------------------------------------------------------------------
# q4 shape: the full 3-channel × 2-year CTE chain (q11's big sibling):
# one yearly per-customer-per-channel total CTE self-joined SIX ways;
# keep customers whose catalog growth beats BOTH store and web growth.

def tpcds_q4_growth_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from starrocks_spark.catalog import register_tables

    register_tables(spark, sf_dir)
    return spark.sql(f"""
WITH yt AS (
  SELECT o_custkey AS cust, year(l_shipdate) AS yr,
         CASE WHEN l_linenumber % 3 = 0 THEN 'store'
              WHEN l_linenumber % 3 = 1 THEN 'catalog'
              ELSE 'web' END AS channel,
         SUM({_SP_FIXED_NET}) AS tot
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE year(l_shipdate) IN (1994, 1995)
  GROUP BY 1, 2, 3
)
SELECT s1.cust,
       CAST(c2.tot AS DOUBLE) / CAST(c1.tot AS DOUBLE) AS catalog_growth,
       CAST(s2.tot AS DOUBLE) / CAST(s1.tot AS DOUBLE) AS store_growth,
       CAST(w2.tot AS DOUBLE) / CAST(w1.tot AS DOUBLE) AS web_growth
FROM yt s1 JOIN yt s2 ON s1.cust = s2.cust
 JOIN yt c1 ON s1.cust = c1.cust JOIN yt c2 ON s1.cust = c2.cust
 JOIN yt w1 ON s1.cust = w1.cust JOIN yt w2 ON s1.cust = w2.cust
WHERE s1.channel = 'store'   AND s1.yr = 1994 AND s2.channel = 'store'
  AND s2.yr = 1995 AND c1.channel = 'catalog' AND c1.yr = 1994
  AND c2.channel = 'catalog' AND c2.yr = 1995 AND w1.channel = 'web'
  AND w1.yr = 1994 AND w2.channel = 'web' AND w2.yr = 1995
  AND c1.tot > 0 AND s1.tot > 0 AND w1.tot > 0
  AND CAST(c2.tot AS DOUBLE) / CAST(c1.tot AS DOUBLE)
      > CAST(s2.tot AS DOUBLE) / CAST(s1.tot AS DOUBLE)
  AND CAST(c2.tot AS DOUBLE) / CAST(c1.tot AS DOUBLE)
      > CAST(w2.tot AS DOUBLE) / CAST(w1.tot AS DOUBLE)
ORDER BY s1.cust LIMIT 100
""")


def _dk_q4_ratio(a: str, b: str) -> str:
    return f"{sql_dec2dbl(a)} / {sql_dec2dbl(b)}"


ORACLE["tpcds_q4_growth_chain"] = f"""
WITH yt AS (
  SELECT o_custkey AS cust, year(l_shipdate) AS yr,
         CASE WHEN l_linenumber % 3 = 0 THEN 'store'
              WHEN l_linenumber % 3 = 1 THEN 'catalog'
              ELSE 'web' END AS channel,
         SUM({_DK_FIXED_NET}) AS tot
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE year(l_shipdate) IN (1994, 1995)
  GROUP BY 1, 2, 3
)
SELECT s1.cust,
       {_dk_q4_ratio('c2.tot', 'c1.tot')} AS catalog_growth,
       {_dk_q4_ratio('s2.tot', 's1.tot')} AS store_growth,
       {_dk_q4_ratio('w2.tot', 'w1.tot')} AS web_growth
FROM yt s1 JOIN yt s2 ON s1.cust = s2.cust
 JOIN yt c1 ON s1.cust = c1.cust JOIN yt c2 ON s1.cust = c2.cust
 JOIN yt w1 ON s1.cust = w1.cust JOIN yt w2 ON s1.cust = w2.cust
WHERE s1.channel = 'store'   AND s1.yr = 1994 AND s2.channel = 'store'
  AND s2.yr = 1995 AND c1.channel = 'catalog' AND c1.yr = 1994
  AND c2.channel = 'catalog' AND c2.yr = 1995 AND w1.channel = 'web'
  AND w1.yr = 1994 AND w2.channel = 'web' AND w2.yr = 1995
  AND c1.tot > 0 AND s1.tot > 0 AND w1.tot > 0
  AND {_dk_q4_ratio('c2.tot', 'c1.tot')} > {_dk_q4_ratio('s2.tot', 's1.tot')}
  AND {_dk_q4_ratio('c2.tot', 'c1.tot')} > {_dk_q4_ratio('w2.tot', 'w1.tot')}
ORDER BY s1.cust LIMIT 100
"""
QUERIES["tpcds_q4_growth_chain"] = tpcds_q4_growth_chain
