"""Aggregate-function library coverage (SURVEY.md §2.5).

One query per family of the reference's aggregate library
(be/src/exprs/agg/*, FunctionSet.java registrations), each with a
DuckDB oracle. Determinism rules used throughout:

- money sums → fixed-point policy (_util).
- interpolated percentiles run on integer-valued doubles at
  quarter-point fractions, where IEEE interpolation is exact in both
  engines.
- variance/corr are computed from exact integer power sums with an
  identical double-arithmetic formula on both sides (the naive
  engine-native stddev is order-dependent and won't hash-match).
- approx sketches (HLL / approx_count_distinct) are asserted as
  within-relative-error booleans against the exact count; the oracle
  pins the booleans TRUE. The sketch still runs for real on the Spark
  side (DataSketches HLL — same family the reference uses for
  ds_hll_count_distinct, be/src/exprs/agg/ds_hll_count_distinct.h).
- ties (max_by / mode) are broken by a composite key that is unique
  by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from starrocks_spark.catalog import load_table
from starrocks_spark.operators.aggregates import (
    bitmap_intersect_count,
    deterministic_mode,
    mann_whitney_u,
    state_merge_agg,
    sum_map,
)
from starrocks_spark.queries._util import (dsum, maybe_broadcast, sort_result,
                                            sql_dsum)


# ------------------------------------------------------------ group_concat

def agg_group_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """group_concat (be/src/exprs/agg/group_concat.h,
    FunctionSet.java:226) ≈ concat_ws over a sorted collect_list.
    State grows with group size, as in the reference; StarRocks bounds
    it with group_concat_max_len — here the group is ~300 names."""
    customer = load_table(spark, sf_dir, "customer")
    return (
        customer.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.concat_ws(",", F.array_sort(F.collect_list("c_name"))).alias("names"),
        )
    )


_GROUP_CONCAT_SQL = """
SELECT c_mktsegment,
       count(*) AS n_customers,
       string_agg(c_name, ',' ORDER BY c_name) AS names
FROM customer GROUP BY c_mktsegment
"""


# ------------------------------------------------------------ array_agg

def agg_array_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """array_agg / array_agg_distinct (array_agg.h;
    FunctionSet.java:416-417): distinct quantities per return flag,
    sorted, rendered as csv so the hash compare is format-stable."""
    li = load_table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("bigint")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_set(qty)), lambda x: x.cast("string")
            ),
            ",",
        ).alias("distinct_qtys"),
    )


_ARRAY_AGG_SQL = """
SELECT l_returnflag,
       count(*) AS n_rows,
       array_to_string(list_sort(list(DISTINCT CAST(l_quantity AS BIGINT))), ',')
         AS distinct_qtys
FROM lineitem GROUP BY l_returnflag
"""


# ------------------------------------------------------------ map_agg

def agg_map_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """map_agg (map_agg.h; FunctionSet.java:577): per order priority, a
    map of order-status → count, assembled with map_from_entries and
    rendered sorted. Two hash aggregates, both with map-side combine."""
    orders = load_table(spark, sf_dir, "orders")
    counts = orders.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    m = F.map_from_entries(
        F.array_sort(F.collect_list(F.struct("o_orderstatus", "cnt")))
    )
    return counts.groupBy("o_orderpriority").agg(
        F.array_join(
            F.transform(
                F.map_entries(m),
                lambda e: F.concat(e["key"], F.lit("="), e["value"].cast("string")),
            ),
            ",",
        ).alias("status_counts")
    )


_MAP_AGG_SQL = """
SELECT o_orderpriority,
       string_agg(o_orderstatus || '=' || cnt, ',' ORDER BY o_orderstatus)
         AS status_counts
FROM (
  SELECT o_orderpriority, o_orderstatus, count(*) AS cnt
  FROM orders GROUP BY 1, 2
) GROUP BY o_orderpriority
"""


# ------------------------------------------------------------ min_by/max_by

def _unique_key(price_col: str, id_col: str):
    # floor(price*1e9+0.5) is a multiple of 1e7 across distinct 2-decimal
    # prices; adding the id (< 1e7 at our scales) keeps ordering unique.
    return (
        F.floor(F.col(price_col) * F.lit(1e9) + F.lit(0.5)).cast("decimal(38,0)")
        + F.col(id_col).cast("decimal(38,0)")
    )


def agg_min_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by (maxmin_by.h): order id carrying the extreme price
    per return flag, tie-broken by a composite unique key."""
    li = load_table(spark, sf_dir, "lineitem")
    key = _unique_key("l_extendedprice", "l_orderkey")
    return li.groupBy("l_returnflag").agg(
        F.max_by("l_orderkey", key).alias("top_orderkey"),
        F.min_by("l_orderkey", key).alias("bottom_orderkey"),
        F.max("l_extendedprice").alias("max_price"),
        F.min("l_extendedprice").alias("min_price"),
    )


_MIN_MAX_BY_SQL = """
SELECT l_returnflag,
       arg_max(l_orderkey, CAST(FLOOR(l_extendedprice * 1000000000.0 + 0.5)
               AS DECIMAL(38,0)) + CAST(l_orderkey AS DECIMAL(38,0))) AS top_orderkey,
       arg_min(l_orderkey, CAST(FLOOR(l_extendedprice * 1000000000.0 + 0.5)
               AS DECIMAL(38,0)) + CAST(l_orderkey AS DECIMAL(38,0))) AS bottom_orderkey,
       max(l_extendedprice) AS max_price,
       min(l_extendedprice) AS min_price
FROM lineitem GROUP BY l_returnflag
"""


# ------------------------------------------------------------ min_n / max_n

def agg_min_max_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_n/min_n (minmax_n.h): top/bottom-5 prices per flag via a
    sorted slice. The collect is bounded in the reference by n; here
    the idiomatic scale path is the ranking-window top-k (see
    window_rank) — the slice form is the function-parity demo.
    Prices are rendered as DECIMAL(18,2) strings for format parity."""
    li = load_table(spark, sf_dir, "lineitem")
    dec = F.col("l_extendedprice").cast("decimal(18,2)")
    arr = F.array_sort(F.collect_list(dec))
    return li.groupBy("l_returnflag").agg(
        F.array_join(
            F.transform(F.slice(arr, 1, 5), lambda x: x.cast("string")), ","
        ).alias("min5"),
        F.array_join(
            F.transform(
                F.reverse(F.slice(F.reverse(arr), 1, 5)), lambda x: x.cast("string")
            ),
            ",",
        ).alias("max5"),
    )


_MIN_MAX_N_SQL = """
SELECT l_returnflag,
       array_to_string(list_slice(ls, 1, 5), ',') AS min5,
       array_to_string(list_slice(ls, -5, len(ls)), ',') AS max5
FROM (
  SELECT l_returnflag,
         list_sort(list(CAST(l_extendedprice AS DECIMAL(18,2)))) AS ls
  FROM lineitem GROUP BY l_returnflag
)
"""


# ------------------------------------------------------------ percentiles

def agg_percentile_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_cont / percentile_disc / median
    (percentile_cont.h; FunctionSet.java:345-349). Exact percentile on
    integer-valued quantities at quarter fractions → interpolation is
    exact IEEE in both engines. disc uses the explicit
    ceil(q*n)-th-sorted-element definition on both sides."""
    li = load_table(spark, sf_dir, "lineitem")
    pct = F.percentile("l_quantity", F.lit([0.25, 0.5, 0.75]))
    sorted_arr = F.array_sort(F.collect_list("l_quantity"))
    disc = F.element_at(
        sorted_arr, F.ceil(F.lit(0.5) * F.count(F.lit(1))).cast("int")
    )
    return li.groupBy("l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        pct.getItem(0).alias("p25"),
        pct.getItem(1).alias("p50"),
        pct.getItem(2).alias("p75"),
        disc.alias("p50_disc"),
    )


_PERCENTILE_SQL = """
SELECT l_linestatus,
       count(*) AS n,
       quantile_cont(l_quantity, 0.25) AS p25,
       quantile_cont(l_quantity, 0.5) AS p50,
       quantile_cont(l_quantity, 0.75) AS p75,
       list_sort(list(l_quantity))[CAST(ceil(0.5 * count(*)) AS INT)] AS p50_disc
FROM lineitem GROUP BY l_linestatus
"""


# ------------------------------------------------------------ variance family

def agg_stats_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stddev/variance/covariance/corr (variance.h, covariance.h;
    FunctionSet.java:351-362) from exact integer power sums — the
    engine-native one-pass versions are order-dependent in the last
    bits, so both sides compute (n, Σx, Σy, Σx², Σy², Σxy) exactly and
    apply the same closed-form double arithmetic. This IS the
    reference's merge algebra: power sums are the associative agg
    state."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("bigint")
    y = F.floor(F.col("l_discount") * F.lit(100.0) + F.lit(0.5)).cast("bigint")
    agg = li.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
        F.sum(x * y).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    var_x = (F.col("sxx") - sx * sx / n) / n
    var_y = (F.col("syy") - sy * sy / n) / n
    cov = (F.col("sxy") - sx * sy / n) / n
    return agg.select(
        n.cast("bigint").alias("n"),
        var_x.alias("var_pop_qty"),
        F.sqrt(var_x * n / (n - 1)).alias("stddev_samp_qty"),
        cov.alias("covar_pop"),
        (cov / F.sqrt(var_x * var_y)).alias("corr_qty_disc"),
    )


_STATS_SQL = """
SELECT CAST(n AS BIGINT) AS n,
       (sxx - sx * sx / n) / n AS var_pop_qty,
       sqrt((sxx - sx * sx / n) / n * n / (n - 1)) AS stddev_samp_qty,
       (sxy - sx * sy / n) / n AS covar_pop,
       ((sxy - sx * sy / n) / n)
         / sqrt(((sxx - sx * sx / n) / n) * ((syy - sy * sy / n) / n))
         AS corr_qty_disc
FROM (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
         CAST(sum(x * x) AS DOUBLE) AS sxx, CAST(sum(y * y) AS DOUBLE) AS syy,
         CAST(sum(x * y) AS DOUBLE) AS sxy
  FROM (
    SELECT CAST(l_quantity AS BIGINT) AS x,
           CAST(FLOOR(l_discount * 100.0 + 0.5) AS BIGINT) AS y
    FROM lineitem
  )
)
"""


# ------------------------------------------------------------ approx distinct

def agg_approx_distinct_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (hll_ndv.h; FunctionSet.java:325) and
    DataSketches HLL (ds_hll_count_distinct.h → Spark
    hll_sketch_agg/hll_sketch_estimate). Sketches are
    non-deterministic across engines, so the oracle pins the exact
    count and asserts the sketch estimates land within 5% — the same
    bound the reference's own tests use."""
    orders = load_table(spark, sf_dir, "orders")
    exact = F.count_distinct("o_custkey")
    approx = F.approx_count_distinct("o_custkey", rsd=0.01)
    hll = F.hll_sketch_estimate(F.hll_sketch_agg("o_custkey"))
    return orders.groupBy("o_orderpriority").agg(
        exact.alias("exact_users"),
        (F.abs(approx - exact) <= F.lit(0.05) * exact).alias("approx_ok"),
        (F.abs(hll - exact) <= F.lit(0.05) * exact).alias("hll_ok"),
    )


_APPROX_DISTINCT_SQL = """
SELECT o_orderpriority,
       count(DISTINCT o_custkey) AS exact_users,
       TRUE AS approx_ok,
       TRUE AS hll_ok
FROM orders GROUP BY o_orderpriority
"""


# ------------------------------------------------------------ histogram

def agg_histogram_equiwidth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """histogram (histogram.h): 20-bucket equi-width histogram of order
    totals. One hash aggregate on a computed bucket id — the same
    shape the reference's stats collector uses."""
    orders = load_table(spark, sf_dir, "orders")
    bucket = F.least(F.floor(F.col("o_totalprice") / F.lit(30000.0)), F.lit(19)).cast(
        "int"
    )
    return (
        orders.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
    )


_HISTOGRAM_SQL = """
SELECT CAST(least(FLOOR(o_totalprice / 30000.0), 19) AS INT) AS bucket,
       count(*) AS cnt, min(o_totalprice) AS lo, max(o_totalprice) AS hi
FROM orders GROUP BY 1
"""


# ------------------------------------------------------------ bitmap algebra

def agg_bitmap_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bitmap_union_count / intersect_count (bitmap_union*.h,
    intersect_count.h; FunctionSet.java:403-409). Spark-native
    emulation: per-dimension distinct counts replace per-dimension
    roaring bitmaps; the bitmap AND becomes a per-key
    count-distinct-of-dims filter. Both are single hash aggregates
    with bounded state — at 100 TB this is strictly cheaper than
    shipping bitmaps through a shuffle."""
    orders = load_table(spark, sf_dir, "orders")
    per_status = orders.agg(
        F.count_distinct(
            F.when(F.col("o_orderstatus") == "O", F.col("o_custkey"))
        ).alias("users_open"),
        F.count_distinct(
            F.when(F.col("o_orderstatus") == "F", F.col("o_custkey"))
        ).alias("users_finished"),
        F.count_distinct(
            F.when(F.col("o_orderstatus") == "P", F.col("o_custkey"))
        ).alias("users_partial"),
    )
    inter = bitmap_intersect_count(orders, "o_custkey", "o_orderstatus", ["O", "F", "P"])
    return per_status.crossJoin(inter)


_BITMAP_SQL = """
SELECT *
FROM (
  SELECT count(DISTINCT CASE WHEN o_orderstatus = 'O' THEN o_custkey END) AS users_open,
         count(DISTINCT CASE WHEN o_orderstatus = 'F' THEN o_custkey END) AS users_finished,
         count(DISTINCT CASE WHEN o_orderstatus = 'P' THEN o_custkey END) AS users_partial
  FROM orders
)
CROSS JOIN (
  SELECT count(*) AS intersect_count
  FROM (
    SELECT o_custkey FROM orders
    WHERE o_orderstatus IN ('O', 'F', 'P')
    GROUP BY o_custkey HAVING count(DISTINCT o_orderstatus) = 3
  )
)
"""


# ------------------------------------------------------------ mann-whitney

def agg_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mann_whitney_u_test (mann_whitney.h; FunctionSet.java:385):
    U test of l_quantity between line statuses O and F."""
    li = load_table(spark, sf_dir, "lineitem")
    return mann_whitney_u(li, "l_quantity", "l_linestatus", "O", "F")


_MANN_WHITNEY_SQL = """
WITH g AS (
  SELECT l_quantity AS x,
         count(*) AS cnt,
         count(*) FILTER (WHERE l_linestatus = 'O') AS cnt_a
  FROM lineitem WHERE l_linestatus IN ('O', 'F') GROUP BY 1
), r AS (
  SELECT x, cnt, cnt_a,
         COALESCE(SUM(cnt) OVER (ORDER BY x
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cnt_less
  FROM g
), s AS (
  SELECT CAST(SUM(cnt_a) AS DOUBLE) AS n1,
         CAST(SUM(cnt) - SUM(cnt_a) AS DOUBLE) AS n2,
         SUM(cnt_a * (cnt_less + (cnt + 1) / 2.0)) AS r1
  FROM r
)
SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
       r1 - n1 * (n1 + 1) / 2.0 AS u1,
       n1 * n2 - (r1 - n1 * (n1 + 1) / 2.0) AS u2,
       (r1 - n1 * (n1 + 1) / 2.0 - n1 * n2 / 2.0)
         / sqrt(n1 * n2 * (n1 + n2 + 1) / 12.0) AS z
FROM s
"""


# ------------------------------------------------------------ bool / sum_map

def agg_bool_sum_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """boolor_agg (boolor.h), count_if, and sum_map (sum_map.h) over a
    per-row measure map {qty, price}. sum_map explodes entries and
    re-aggregates with fixed-point sums (see operators.aggregates)."""
    li = load_table(spark, sf_dir, "lineitem")
    flags = li.groupBy("l_returnflag").agg(
        F.bool_or(F.col("l_discount") > 0.05).alias("any_big_discount"),
        F.bool_and(F.col("l_quantity") > 0).alias("all_positive_qty"),
        F.count_if(F.col("l_tax") == 0).alias("zero_tax_rows"),
    )
    mapped = li.select(
        "l_returnflag",
        F.create_map(
            F.lit("price"), F.col("l_extendedprice"), F.lit("qty"), F.col("l_quantity")
        ).alias("measures"),
    )
    summed = sum_map(mapped, "measures", ["l_returnflag"], scale=2)
    return flags.join(summed, "l_returnflag")


_BOOL_SUM_MAP_SQL = """
SELECT f.l_returnflag, any_big_discount, all_positive_qty, zero_tax_rows, summed
FROM (
  SELECT l_returnflag,
         bool_or(l_discount > 0.05) AS any_big_discount,
         bool_and(l_quantity > 0) AS all_positive_qty,
         count(*) FILTER (WHERE l_tax = 0) AS zero_tax_rows
  FROM lineitem GROUP BY l_returnflag
) f
JOIN (
  SELECT l_returnflag,
         'price=' || CAST(SUM(CAST(FLOOR(l_extendedprice * 100.0 + 0.5)
             AS DECIMAL(38,0))) AS VARCHAR)
         || ',qty=' || CAST(SUM(CAST(FLOOR(l_quantity * 100.0 + 0.5)
             AS DECIMAL(38,0))) AS VARCHAR) AS summed
  FROM lineitem GROUP BY l_returnflag
) s USING (l_returnflag)
"""


# ------------------------------------------------------------ state/merge

def agg_state_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """_state/_merge combinators (be/src/exprs/agg/combinator/):
    explicit two-phase aggregation sharded on l_suppkey % 32, merged to
    the same answer as a direct aggregate — proving the state algebra
    is associative (what makes 1000-node partial agg correct)."""
    li = load_table(spark, sf_dir, "lineitem")
    return state_merge_agg(
        li,
        ["l_returnflag"],
        (F.col("l_suppkey") % 32),
        {
            "total_qty": (F.sum(F.col("l_quantity").cast("bigint")), "sum"),
            "n_rows": (F.count(F.lit(1)), "sum"),
            "min_price": (F.min("l_extendedprice"), "min"),
            "max_price": (F.max("l_extendedprice"), "max"),
        },
    )


_STATE_MERGE_SQL = """
SELECT l_returnflag,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
       count(*) AS n_rows,
       min(l_extendedprice) AS min_price,
       max(l_extendedprice) AS max_price
FROM lineitem GROUP BY l_returnflag
"""


# ------------------------------------------------------------ any_value/mode

def agg_any_value_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """any_value (any_value.h) on a group-constant column + mode with a
    deterministic tie-break (operators.aggregates.deterministic_mode)."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    joined = customer.join(
        F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
    )
    anyv = joined.groupBy("c_nationkey").agg(
        F.any_value("n_name").alias("nation_name"),
        F.count(F.lit(1)).alias("n_customers"),
    )
    mode = deterministic_mode(customer, ["c_nationkey"], "c_mktsegment")
    return anyv.join(mode, "c_nationkey")


_ANY_VALUE_MODE_SQL = """
SELECT a.c_nationkey, nation_name, n_customers, c_mktsegment_mode
FROM (
  SELECT c_nationkey, any_value(n_name) AS nation_name,
         count(*) AS n_customers
  FROM customer JOIN nation ON c_nationkey = n_nationkey
  GROUP BY c_nationkey
) a
JOIN (
  SELECT c_nationkey, c_mktsegment AS c_mktsegment_mode
  FROM (
    SELECT c_nationkey, c_mktsegment,
           row_number() OVER (PARTITION BY c_nationkey
               ORDER BY count(*) DESC, c_mktsegment) AS rn
    FROM customer GROUP BY c_nationkey, c_mktsegment
  ) WHERE rn = 1
) m USING (c_nationkey)
"""


QUERIES = {
    "agg_group_concat": agg_group_concat,
    "agg_array_agg_distinct": agg_array_agg_distinct,
    "agg_map_agg": agg_map_agg,
    "agg_min_max_by": agg_min_max_by,
    "agg_min_max_n": agg_min_max_n,
    "agg_percentile_exact": agg_percentile_exact,
    "agg_stats_fixed": agg_stats_fixed,
    "agg_approx_distinct_bounds": agg_approx_distinct_bounds,
    "agg_histogram_equiwidth": agg_histogram_equiwidth,
    "agg_bitmap_algebra": agg_bitmap_algebra,
    "agg_mann_whitney": agg_mann_whitney,
    "agg_bool_sum_map": agg_bool_sum_map,
    "agg_state_merge": agg_state_merge,
    "agg_any_value_mode": agg_any_value_mode,
}

ORACLE = {
    "agg_group_concat": _GROUP_CONCAT_SQL,
    "agg_array_agg_distinct": _ARRAY_AGG_SQL,
    "agg_map_agg": _MAP_AGG_SQL,
    "agg_min_max_by": _MIN_MAX_BY_SQL,
    "agg_min_max_n": _MIN_MAX_N_SQL,
    "agg_percentile_exact": _PERCENTILE_SQL,
    "agg_stats_fixed": _STATS_SQL,
    "agg_approx_distinct_bounds": _APPROX_DISTINCT_SQL,
    "agg_histogram_equiwidth": _HISTOGRAM_SQL,
    "agg_bitmap_algebra": _BITMAP_SQL,
    "agg_mann_whitney": _MANN_WHITNEY_SQL,
    "agg_bool_sum_map": _BOOL_SUM_MAP_SQL,
    "agg_state_merge": _STATE_MERGE_SQL,
    "agg_any_value_mode": _ANY_VALUE_MODE_SQL,
}


def agg_corr_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation & sample covariance per market segment
    (reference: corr / covar_samp / covar_pop in FunctionSet) computed
    in CLOSED FORM from fixed-point sums (Σx, Σy, Σxy, Σx², n) — the
    built-in corr()'s distributed co-moment merge is order-dependent
    in the last bits, so this is the portable formulation both engines
    reproduce exactly. Correlates order price with customer account
    balance within each segment."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    j = orders.join(
        maybe_broadcast(cust), orders["o_custkey"] == cust["c_custkey"]
    ).select(
        "c_mktsegment",
        F.col("o_totalprice").alias("x"),
        F.col("c_acctbal").alias("y"),
    )
    agg = j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        dsum(F.col("x")).alias("sx"),
        dsum(F.col("y")).alias("sy"),
        dsum(F.col("x") * F.col("y")).alias("sxy"),
        dsum(F.col("x") * F.col("x")).alias("sxx"),
        dsum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n").cast("double")
    cov_s = (F.col("sxy") - F.col("sx") * F.col("sy") / n) / (n - 1)
    corr = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(
        (n * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (n * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return agg.select(
        "c_mktsegment", "n",
        cov_s.alias("covar_samp"),
        corr.alias("pearson_r"),
    ).transform(sort_result, "c_mktsegment")


_CORR_SQL = f"""
WITH j AS (
  SELECT c_mktsegment, o_totalprice AS x, c_acctbal AS y
  FROM orders JOIN customer ON o_custkey = c_custkey
),
agg AS (
  SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
         {sql_dsum('x')} AS sx, {sql_dsum('y')} AS sy,
         {sql_dsum('x * y')} AS sxy,
         {sql_dsum('x * x')} AS sxx,
         {sql_dsum('y * y')} AS syy
  FROM j GROUP BY c_mktsegment
)
SELECT c_mktsegment, n,
       (sxy - sx * sy / CAST(n AS DOUBLE))
         / (CAST(n AS DOUBLE) - 1) AS covar_samp,
       (CAST(n AS DOUBLE) * sxy - sx * sy)
         / sqrt((CAST(n AS DOUBLE) * sxx - sx * sx)
                * (CAST(n AS DOUBLE) * syy - sy * sy)) AS pearson_r
FROM agg
ORDER BY c_mktsegment
"""

QUERIES["agg_corr_fixed"] = agg_corr_fixed
ORACLE["agg_corr_fixed"] = _CORR_SQL
