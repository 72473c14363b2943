"""TPC-DS-shaped queries, fifth batch — the last 12 shape families,
closing coverage of all 99 TPC-DS query numbers (85→99). Same fixture
derivation as `queries/tpcds.py` (three-channel fact over lineitem,
item := part, store/warehouse := supplier, geography := nation;
reference benchmark docs/en/benchmarking/TPC_DS_Benchmark.md:3, golden
plans fe/fe-core/src/test/java/com/starrocks/sql/plan/
TPCDS1TTestBase.java:29). The time-of-day dimension the fixtures lack
is synthesized deterministically: hour := (l_orderkey·7 +
l_linenumber) mod 24 (both engines compute the identical value — the
same documented-synthetic-column policy the SSB module uses).

Shape families (TPC-DS query numbers → plan pattern exercised):
  q68     cross-nation per-(customer, nation-pair) two-measure report
          gated to two destination nations (q46's twin, the
          "bought in city A or B" list gate + extra measure)
  q69     store buyers with NO web and NO catalog purchase in the
          window — semi-join plus two anti-joins on the profile
  q71     brand revenue by (synthetic) hour of day across all three
          channels — the time-dim union report
  q73/q79 order-frequency band (8–12 items) with a customer-balance
          gate, per-customer basket report
  q74     year-over-year per-customer QUANTITY ratio via self-join of
          a yearly aggregate (q11's twin with ratio ordering)
  q77/q80 per-channel×nation sales vs returns via FULL OUTER merge of
          two independent aggregates, rolled up to channel totals
  q84     pure lookup projection (no aggregate): customers of one
          nation within an account-balance income band
  q86     web-only revenue ROLLUP(type, brand) with rank within each
          grouping level (q36's twin on a different hierarchy)
  q90     morning/evening scalar count ratio (two scalar aggregates
          of synthetic-hour bands, cross-joined once)
  q91     returned-loss report per (month, segment) on the catalog
          channel in one year
  q92     web lines discounted above 1.3× the part's window-average
          discount — decorrelated per-part aggregate, scalar total
  q94     q16's EXISTS/NOT-EXISTS order filter on the WEB channel in
          a ship-date window (count + net of clean multi-supplier
          orders)

Determinism policy identical to batches 1–4 (fixed-point dsum/davg,
counts CAST to BIGINT in DuckDB, full ORDER BY tiebreakers, exact
DECIMAL sums through windows). Scale notes: lineitem⋈orders is the
only fact-fact shuffle; q74's self-join runs over per-(customer,year)
aggregates, q77's FULL OUTER over per-(channel,nation) aggregates —
both thousands-row frames, never the fact; q92's per-part average
decorrelates to one aggregate joined back (no per-row subquery);
all dimension joins broadcast.
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

# synthetic hour-of-day (both engines: nonneg ints, % == pmod).
# Built lazily — Column construction needs an active session.
def _hour():
    return (F.col("l_orderkey") * 7 + F.col("l_linenumber")) % 24


_SQL_HOUR = "CAST((l_orderkey * 7 + l_linenumber) % 24 AS INT)"


def _dbl(col):
    return col.cast("double")


# ---------------------------------------------------------------------------
# q68 shape: two-destination cross-nation customer report

def tpcds_q68_two_city_report(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """TPC-DS q68 shape (q46's twin): per (customer, supplier-nation)
    extended-price and discount-amount sums for lines supplied from
    one of TWO listed nations that differ from the customer's own —
    the "bought in city A or B, not home" gate with two measures."""
    s = _sales(spark, sf_dir, with_cust=True)
    cust = maybe_broadcast(load_table(spark, sf_dir, "customer")
                       .select("c_custkey", "c_name", "c_nationkey"))
    supp = maybe_broadcast(load_table(spark, sf_dir, "supplier")
                       .select("s_suppkey", "s_nationkey"))
    nation = F.broadcast(load_table(spark, sf_dir, "nation")
                         .select("n_nationkey", "n_name"))
    return (
        s.join(cust, s["o_custkey"] == cust["c_custkey"])
        .join(supp, s["l_suppkey"] == supp["s_suppkey"])
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .filter(F.col("n_name").isin("NATION_9", "NATION_11")
                & (F.col("s_nationkey") != F.col("c_nationkey")))
        .groupBy("c_name", "n_name")
        .agg(dsum(F.col("l_extendedprice")).alias("ext_price"),
             dsum(F.col("l_extendedprice") * F.col("l_discount"))
             .alias("disc_amt"))
        .orderBy("c_name", "n_name")
        .limit(100)
    )


ORACLE["tpcds_q68_two_city_report"] = f"""
WITH s AS ({_SQL_SALES_CUST})
SELECT c_name, n_name,
       {sql_dsum('l_extendedprice')} AS ext_price,
       {sql_dsum('l_extendedprice * l_discount')} AS disc_amt
FROM s
JOIN customer ON s.o_custkey = c_custkey
JOIN supplier ON s.l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name IN ('NATION_9', 'NATION_11') AND s_nationkey <> c_nationkey
GROUP BY c_name, n_name
ORDER BY c_name, n_name LIMIT 100
"""
QUERIES["tpcds_q68_two_city_report"] = tpcds_q68_two_city_report


# ---------------------------------------------------------------------------
# q69 shape: store-only buyers (semi + two anti gates)

def tpcds_q69_store_only_customers(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """TPC-DS q69 shape: customers who bought on the store channel in
    1996 but on NEITHER web NOR catalog that year — one semi-join and
    two anti-joins over channel-filtered distinct customer sets,
    counted per demographic segment."""
    s = _sales(spark, sf_dir, with_cust=True) \
        .filter(F.year("l_shipdate") == 1996)

    def chan(ch):
        return s.filter(F.col("channel") == ch) \
            .select("o_custkey").distinct()

    cust = load_table(spark, sf_dir, "customer") \
        .select("c_custkey", "c_mktsegment")
    return (
        cust.join(chan("store"),
                  cust["c_custkey"] == F.col("o_custkey"), "left_semi")
        .join(chan("web"),
              cust["c_custkey"] == F.col("o_custkey"), "left_anti")
        .join(chan("catalog"),
              cust["c_custkey"] == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .transform(sort_result, "c_mktsegment")
    )


ORACLE["tpcds_q69_store_only_customers"] = f"""
WITH s AS (SELECT * FROM ({_SQL_SALES_CUST})
           WHERE year(l_shipdate) = 1996)
SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS cnt
FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM s WHERE channel = 'store')
  AND c_custkey NOT IN (SELECT o_custkey FROM s WHERE channel = 'web')
  AND c_custkey NOT IN (SELECT o_custkey FROM s
                        WHERE channel = 'catalog')
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""
QUERIES["tpcds_q69_store_only_customers"] = tpcds_q69_store_only_customers


# ---------------------------------------------------------------------------
# q71 shape: brand revenue by (synthetic) hour across channels

def tpcds_q71_hourly_brand(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """TPC-DS q71 shape: brand revenue per hour of day across all
    three channels (the union-then-time-dim report). The fixtures have
    no time dimension, so the hour is the documented synthetic
    derivation (module docstring); the revenue ordering within each
    hour is the shape the reference asserts."""
    s = _sales(spark, sf_dir).withColumn("hr", _hour().cast("int"))
    part = load_table(spark, sf_dir, "part") \
        .filter(F.substring("p_brand", 7, 1) == "2") \
        .select("p_partkey", "p_brand")
    return (
        s.join(maybe_broadcast(part), s["l_partkey"] == part["p_partkey"])
        .groupBy("hr", "p_brand")
        .agg(dsum(F.col("net_price")).alias("net"))
        .transform(sort_result, "hr", F.col("net").desc(), "p_brand")
    )


ORACLE["tpcds_q71_hourly_brand"] = f"""
SELECT {_SQL_HOUR} AS hr, p_brand,
       {sql_dsum('l_extendedprice * (1 - l_discount)')} AS net
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE substr(p_brand, 7, 1) = '2'
GROUP BY 1, 2
ORDER BY hr, net DESC, p_brand
"""
QUERIES["tpcds_q71_hourly_brand"] = tpcds_q71_hourly_brand


# ---------------------------------------------------------------------------
# q73/q79 family: frequency-band baskets with a balance gate

def tpcds_q73_basket_band(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """TPC-DS q73 (q79 shares the plan with a profit measure): orders
    whose basket holds 8–12 items, bought by positive-balance
    customers — the count-band HAVING plus dimension gate, with the
    per-order net alongside (the q79 measure)."""
    li = load_table(spark, sf_dir, "lineitem")
    per_order = (
        li.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("item_cnt"),
             dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
             .alias("order_net"))
        .filter(F.col("item_cnt").between(8, 12))
    )
    orders = load_table(spark, sf_dir, "orders") \
        .select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer") \
        .filter(F.col("c_acctbal") > 0.0) \
        .select("c_custkey", "c_name")
    return (
        per_order
        .join(orders, per_order["l_orderkey"] == orders["o_orderkey"])
        .join(maybe_broadcast(cust),
              orders["o_custkey"] == cust["c_custkey"])
        .select("c_custkey", "c_name", "l_orderkey", "item_cnt",
                "order_net")
        .orderBy(F.col("item_cnt").desc(), "c_custkey", "l_orderkey")
        .limit(100)
    )


ORACLE["tpcds_q73_basket_band"] = f"""
WITH per_order AS (
  SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS item_cnt,
         {sql_dsum('l_extendedprice * (1 - l_discount)')} AS order_net
  FROM lineitem GROUP BY l_orderkey
  HAVING COUNT(*) BETWEEN 8 AND 12
)
SELECT c_custkey, c_name, p.l_orderkey, p.item_cnt, p.order_net
FROM per_order p
JOIN orders ON p.l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_acctbal > 0.0
ORDER BY item_cnt DESC, c_custkey, l_orderkey LIMIT 100
"""
QUERIES["tpcds_q73_basket_band"] = tpcds_q73_basket_band


# ---------------------------------------------------------------------------
# q74 shape: year-over-year quantity ratio per customer

def tpcds_q74_yoy_quantity_ratio(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """TPC-DS q74 shape (q11's quantity twin): per-customer total
    quantity for 1995 and 1996 via self-join of one yearly aggregate,
    keeping customers whose 1996/1995 ratio exceeds 1 — ordered by the
    ratio. The ratio divides two exact fixed-point doubles."""
    s = _sales(spark, sf_dir, with_cust=True) \
        .withColumn("yr", F.year("l_shipdate")) \
        .filter(F.col("yr").isin(1995, 1996))
    yearly = (
        s.groupBy("o_custkey", "yr")
        .agg(F.sum(fixed(F.col("l_quantity"))).alias("fx"))
    )
    a = yearly.filter(F.col("yr") == 1995) \
        .select(F.col("o_custkey").alias("ck"),
                F.col("fx").alias("fx95"))
    b = yearly.filter(F.col("yr") == 1996) \
        .select(F.col("o_custkey").alias("ck2"),
                F.col("fx").alias("fx96"))
    ratio = F.round(_dbl(F.col("fx96")) / _dbl(F.col("fx95")), 4)
    return (
        a.join(b, F.col("ck") == F.col("ck2"))
        .filter(F.col("fx95") > 0)
        .select(F.col("ck").alias("o_custkey"),
                (_dbl(F.col("fx95")) / 1e4).alias("qty_1995"),
                (_dbl(F.col("fx96")) / 1e4).alias("qty_1996"),
                ratio.alias("ratio"))
        .filter(F.col("ratio") > 1.0)
        .orderBy(F.col("ratio").desc(), "o_custkey")
        .limit(100)
    )


ORACLE["tpcds_q74_yoy_quantity_ratio"] = f"""
WITH yearly AS (
  SELECT o_custkey, CAST(year(l_shipdate) AS INT) AS yr,
         SUM({sql_fixed('l_quantity')}) AS fx
  FROM ({_SQL_SALES_CUST}) s
  WHERE year(l_shipdate) IN (1995, 1996)
  GROUP BY 1, 2
)
SELECT a.o_custkey,
       {sql_dec2dbl('a.fx')} / 10000.0 AS qty_1995,
       {sql_dec2dbl('b.fx')} / 10000.0 AS qty_1996,
       round({sql_dec2dbl('b.fx')} / {sql_dec2dbl('a.fx')}, 4)
         AS ratio
FROM yearly a JOIN yearly b ON a.o_custkey = b.o_custkey
WHERE a.yr = 1995 AND b.yr = 1996 AND a.fx > 0
  AND round({sql_dec2dbl('b.fx')} / {sql_dec2dbl('a.fx')}, 4) > 1.0
ORDER BY ratio DESC, a.o_custkey LIMIT 100
"""
QUERIES["tpcds_q74_yoy_quantity_ratio"] = tpcds_q74_yoy_quantity_ratio


# ---------------------------------------------------------------------------
# q77/q80 family: sales vs returns FULL OUTER merge, rolled up

def tpcds_q77_sales_returns_outer(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """TPC-DS q77 (q80 shares the plan with extra dim gates): per
    (channel, supplier nation), the sales aggregate FULL OUTER merged
    with the returns aggregate (a nation may have returns and no
    sales, or vice versa), profit = sales − returns, plus a ROLLUP to
    channel totals over the merged frame."""
    s = _sales(spark, sf_dir)
    supp = maybe_broadcast(load_table(spark, sf_dir, "supplier")
                       .select("s_suppkey", "s_nationkey"))
    nation = F.broadcast(load_table(spark, sf_dir, "nation")
                         .select("n_nationkey", "n_name"))
    base = (
        s.join(supp, s["l_suppkey"] == supp["s_suppkey"])
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
    )
    sales = (
        base.filter(~F.col("returned"))
        .groupBy(F.col("channel").alias("s_chan"),
                 F.col("n_name").alias("s_nat"))
        .agg(F.sum(fixed(F.col("net_price"))).alias("fx_sales"))
    )
    rets = (
        base.filter(F.col("returned"))
        .groupBy(F.col("channel").alias("r_chan"),
                 F.col("n_name").alias("r_nat"))
        .agg(F.sum(fixed(F.col("net_price"))).alias("fx_ret"))
    )
    merged = (
        sales.join(rets, (F.col("s_chan") == F.col("r_chan"))
                   & (F.col("s_nat") == F.col("r_nat")), "full_outer")
        .select(
            F.coalesce(F.col("s_chan"), F.col("r_chan")).alias("channel"),
            F.coalesce(F.col("s_nat"), F.col("r_nat")).alias("n_name"),
            F.coalesce(F.col("fx_sales"), F.lit(0)).alias("fx_sales"),
            F.coalesce(F.col("fx_ret"), F.lit(0)).alias("fx_ret"))
    )
    return (
        merged.rollup("channel", "n_name")
        .agg((_dbl(F.sum("fx_sales")) / 1e4).alias("sales_amt"),
             (_dbl(F.sum("fx_ret")) / 1e4).alias("returns_amt"),
             (_dbl(F.sum("fx_sales") - F.sum("fx_ret")) / 1e4)
             .alias("profit"),
             F.grouping("channel").cast("int").alias("g_chan"),
             F.grouping("n_name").cast("int").alias("g_nat"))
        .transform(sort_result, "g_chan", "g_nat",
                                F.col("channel").asc_nulls_last(),
                                F.col("n_name").asc_nulls_last())
    )


ORACLE["tpcds_q77_sales_returns_outer"] = f"""
WITH base AS (
  SELECT s.channel, n_name, s.returned,
         {_FIXED_NET} AS fx
  FROM ({_SQL_SALES}) s
  JOIN supplier ON s.l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
), sales AS (
  SELECT channel AS s_chan, n_name AS s_nat, SUM(fx) AS fx_sales
  FROM base WHERE NOT returned GROUP BY 1, 2
), rets AS (
  SELECT channel AS r_chan, n_name AS r_nat, SUM(fx) AS fx_ret
  FROM base WHERE returned GROUP BY 1, 2
), merged AS (
  SELECT COALESCE(s_chan, r_chan) AS channel,
         COALESCE(s_nat, r_nat) AS n_name,
         COALESCE(fx_sales, 0) AS fx_sales,
         COALESCE(fx_ret, 0) AS fx_ret
  FROM sales FULL OUTER JOIN rets
    ON s_chan = r_chan AND s_nat = r_nat
)
SELECT channel, n_name,
       {sql_dec2dbl('SUM(fx_sales)')} / 10000.0 AS sales_amt,
       {sql_dec2dbl('SUM(fx_ret)')} / 10000.0 AS returns_amt,
       {sql_dec2dbl('SUM(fx_sales) - SUM(fx_ret)')} / 10000.0
         AS profit,
       CAST(GROUPING(channel) AS INT) AS g_chan,
       CAST(GROUPING(n_name) AS INT) AS g_nat
FROM merged
GROUP BY ROLLUP(channel, n_name)
ORDER BY g_chan, g_nat, channel ASC NULLS LAST, n_name ASC NULLS LAST
"""
QUERIES["tpcds_q77_sales_returns_outer"] = tpcds_q77_sales_returns_outer


# ---------------------------------------------------------------------------
# q84 shape: pure lookup projection through an income band

def tpcds_q84_income_band_lookup(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """TPC-DS q84 shape: no aggregate at all — project customers of
    one nation whose balance falls in an income band (the
    income_band/household chain analog), ordered. The whole plan is a
    broadcast dim gate over one dimension scan."""
    cust = load_table(spark, sf_dir, "customer") \
        .filter(F.col("c_acctbal").between(1000.0, 3000.0))
    nation = F.broadcast(
        load_table(spark, sf_dir, "nation")
        .filter(F.col("n_name") == "NATION_7")
        .select("n_nationkey"))
    return (
        cust.join(nation, cust["c_nationkey"] == nation["n_nationkey"],
                  "left_semi")
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy("c_custkey")
        .limit(100)
    )


ORACLE["tpcds_q84_income_band_lookup"] = """
SELECT c_custkey, c_name, c_acctbal
FROM customer
WHERE c_acctbal BETWEEN 1000.0 AND 3000.0
  AND c_nationkey IN (SELECT n_nationkey FROM nation
                      WHERE n_name = 'NATION_7')
ORDER BY c_custkey LIMIT 100
"""
QUERIES["tpcds_q84_income_band_lookup"] = tpcds_q84_income_band_lookup


# ---------------------------------------------------------------------------
# q86 shape: web revenue ROLLUP(type, brand) + rank per level

def tpcds_q86_web_rollup_rank(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """TPC-DS q86 shape (q36's web twin on the type→brand hierarchy):
    web-channel revenue over ROLLUP(p_type, p_brand) with a rank
    within each hierarchy level, partitioned by the parent at the leaf
    level. NULL placement pinned in both engines."""
    s = _sales(spark, sf_dir).filter(F.col("channel") == "web")
    part = load_table(spark, sf_dir, "part") \
        .select("p_partkey", "p_type", "p_brand")
    agg = (
        s.join(maybe_broadcast(part), s["l_partkey"] == part["p_partkey"])
        .rollup("p_type", "p_brand")
        .agg(dsum(F.col("net_price")).alias("net"),
             (F.grouping("p_type") + F.grouping("p_brand")).cast("int")
             .alias("lochierarchy"),
             F.grouping("p_brand").cast("int").alias("g_brand"))
    )
    w = Window.partitionBy(
        "lochierarchy",
        F.when(F.col("g_brand") == 0, F.col("p_type")),
    ).orderBy(F.col("net").desc_nulls_last(),
              F.col("p_type").asc_nulls_last(),
              F.col("p_brand").asc_nulls_last())
    return (
        agg.withColumn("rk", F.rank().over(w).cast("int"))
        .select("p_type", "p_brand", "lochierarchy", "net", "rk")
        .transform(sort_result, F.col("lochierarchy").desc(),
                                F.col("p_type").asc_nulls_last(),
                                F.col("p_brand").asc_nulls_last())
    )


ORACLE["tpcds_q86_web_rollup_rank"] = f"""
WITH s AS ({_SQL_SALES}),
agg AS (
  SELECT p_type, p_brand,
         {sql_dsum('net_price')} AS net,
         CAST(GROUPING(p_type) + GROUPING(p_brand) AS INT)
           AS lochierarchy,
         CAST(GROUPING(p_brand) AS INT) AS g_brand
  FROM s JOIN part ON s.l_partkey = p_partkey
  WHERE s.channel = 'web'
  GROUP BY ROLLUP(p_type, p_brand)
)
SELECT p_type, p_brand, lochierarchy, net,
       CAST(rank() OVER (
         PARTITION BY lochierarchy,
                      CASE WHEN g_brand = 0 THEN p_type END
         ORDER BY net DESC NULLS LAST, p_type ASC NULLS LAST,
                  p_brand ASC NULLS LAST) AS INT) AS rk
FROM agg
ORDER BY lochierarchy DESC, p_type ASC NULLS LAST,
         p_brand ASC NULLS LAST
"""
QUERIES["tpcds_q86_web_rollup_rank"] = tpcds_q86_web_rollup_rank


# ---------------------------------------------------------------------------
# q90 shape: morning/evening scalar count ratio

def tpcds_q90_ampm_ratio(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    """TPC-DS q90 shape: the ratio of web lines in a morning hour band
    to an evening band — two independent scalar counts cross-joined
    once (the reference's am/pm scalar-subquery division). Hour is the
    synthetic derivation (module docstring)."""
    s = _sales(spark, sf_dir) \
        .filter(F.col("channel") == "web") \
        .withColumn("hr", _hour().cast("int"))
    am = s.filter(F.col("hr").between(6, 11)) \
        .agg(F.count(F.lit(1)).alias("am_cnt"))
    pm = s.filter(F.col("hr").between(18, 23)) \
        .agg(F.count(F.lit(1)).alias("pm_cnt"))
    return am.crossJoin(pm).select(
        "am_cnt", "pm_cnt",
        F.round(F.col("am_cnt").cast("double")
                / F.col("pm_cnt").cast("double"), 4).alias("am_pm_ratio"))


ORACLE["tpcds_q90_ampm_ratio"] = f"""
WITH s AS (SELECT {_SQL_HOUR} AS hr FROM ({_SQL_SALES})
           WHERE channel = 'web'),
am AS (SELECT CAST(COUNT(*) AS BIGINT) AS am_cnt FROM s
       WHERE hr BETWEEN 6 AND 11),
pm AS (SELECT CAST(COUNT(*) AS BIGINT) AS pm_cnt FROM s
       WHERE hr BETWEEN 18 AND 23)
SELECT am_cnt, pm_cnt,
       round(CAST(am_cnt AS DOUBLE) / CAST(pm_cnt AS DOUBLE), 4)
         AS am_pm_ratio
FROM am, pm
"""
QUERIES["tpcds_q90_ampm_ratio"] = tpcds_q90_ampm_ratio


# ---------------------------------------------------------------------------
# q91 shape: monthly returned-loss report per segment

def tpcds_q91_monthly_return_loss(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """TPC-DS q91 shape: catalog-channel RETURN losses in one year,
    reported per (month, customer segment) for two segments — the
    call-center loss report (month := the return line's ship month)."""
    s = _sales(spark, sf_dir, with_cust=True).filter(
        (F.col("channel") == "catalog") & F.col("returned")
        & (F.year("l_shipdate") == 1997))
    cust = load_table(spark, sf_dir, "customer") \
        .filter(F.col("c_mktsegment").isin("AUTOMOBILE", "FURNITURE")) \
        .select("c_custkey", "c_mktsegment")
    return (
        s.join(cust, s["o_custkey"] == cust["c_custkey"])
        .groupBy(F.month("l_shipdate").alias("mo"),
                 F.col("c_mktsegment"))
        .agg(dsum(F.col("net_price")).alias("loss"),
             F.count(F.lit(1)).alias("n_returns"))
        .transform(sort_result, F.col("loss").desc(), "mo", "c_mktsegment")
    )


ORACLE["tpcds_q91_monthly_return_loss"] = f"""
WITH s AS ({_SQL_SALES_CUST})
SELECT CAST(month(l_shipdate) AS INT) AS mo, c_mktsegment,
       {sql_dsum('l_extendedprice * (1 - l_discount)')} AS loss,
       CAST(COUNT(*) AS BIGINT) AS n_returns
FROM s JOIN customer ON s.o_custkey = c_custkey
WHERE s.channel = 'catalog' AND s.returned
  AND year(l_shipdate) = 1997
  AND c_mktsegment IN ('AUTOMOBILE', 'FURNITURE')
GROUP BY 1, 2
ORDER BY loss DESC, mo, c_mktsegment
"""
QUERIES["tpcds_q91_monthly_return_loss"] = tpcds_q91_monthly_return_loss


# ---------------------------------------------------------------------------
# q92 shape: excess-discount scalar total (decorrelated per-part avg)

def tpcds_q92_excess_discount(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """TPC-DS q92 shape: total discount amount of web lines whose
    discount exceeds 1.3× the average discount for the same part over
    a 90-day window — the correlated scalar subquery decorrelated to
    ONE per-part aggregate joined back (never a per-row re-scan)."""
    s = _sales(spark, sf_dir).filter(
        (F.col("channel") == "web")
        & F.col("l_shipdate").between("1996-03-01", "1996-05-30"))
    part_avg = s.groupBy("l_partkey") \
        .agg(davg(F.col("l_discount")).alias("avg_disc"))
    return (
        s.join(part_avg.withColumnRenamed("l_partkey", "pk"),
               s["l_partkey"] == F.col("pk"))
        .filter(F.col("l_discount") > 1.3 * F.col("avg_disc"))
        .agg(dsum(F.col("l_extendedprice") * F.col("l_discount"))
             .alias("excess_discount_amt"),
             F.count(F.lit(1)).alias("n_lines"))
    )


ORACLE["tpcds_q92_excess_discount"] = f"""
WITH s AS (SELECT * FROM ({_SQL_SALES})
           WHERE channel = 'web'
             AND l_shipdate BETWEEN DATE '1996-03-01'
                                AND DATE '1996-05-30'),
part_avg AS (
  SELECT l_partkey AS pk, {sql_davg('l_discount')} AS avg_disc
  FROM s GROUP BY 1
)
SELECT {sql_dsum('l_extendedprice * l_discount')}
         AS excess_discount_amt,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM s JOIN part_avg ON s.l_partkey = pk
WHERE l_discount > 1.3 * avg_disc
"""
QUERIES["tpcds_q92_excess_discount"] = tpcds_q92_excess_discount


# ---------------------------------------------------------------------------
# q94 shape: clean multi-supplier web orders in a ship window

def tpcds_q94_web_clean_orders(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """TPC-DS q94 shape (q16's web twin): count and net revenue of web
    orders in a 1996 ship window that used at least two suppliers and
    had no returned line — per-order profile aggregate, then the band
    filters (one shuffle on the order key, no per-row subqueries)."""
    s = _sales(spark, sf_dir).filter(
        (F.col("channel") == "web")
        & F.col("l_shipdate").between("1996-01-01", "1996-06-30"))
    profile = (
        s.groupBy("l_orderkey")
        .agg(F.count_distinct("l_suppkey").alias("n_supp"),
             F.max(F.col("returned").cast("int")).alias("any_ret"),
             F.sum(fixed(F.col("net_price"))).alias("fx"))
        .filter((F.col("n_supp") >= 2) & (F.col("any_ret") == 0))
    )
    return profile.agg(
        F.count(F.lit(1)).alias("order_count"),
        (_dbl(F.sum("fx")) / 1e4).alias("total_net"))


ORACLE["tpcds_q94_web_clean_orders"] = f"""
WITH s AS (SELECT * FROM ({_SQL_SALES})
           WHERE channel = 'web'
             AND l_shipdate BETWEEN DATE '1996-01-01'
                                AND DATE '1996-06-30'),
profile AS (
  SELECT l_orderkey, COUNT(DISTINCT l_suppkey) AS n_supp,
         MAX(CASE WHEN returned THEN 1 ELSE 0 END) AS any_ret,
         SUM({_FIXED_NET}) AS fx
  FROM s GROUP BY 1
)
SELECT CAST(COUNT(*) AS BIGINT) AS order_count,
       {sql_dec2dbl('SUM(fx)')} / 10000.0 AS total_net
FROM profile WHERE n_supp >= 2 AND any_ret = 0
"""
QUERIES["tpcds_q94_web_clean_orders"] = tpcds_q94_web_clean_orders
