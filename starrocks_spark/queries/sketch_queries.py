"""Sketch-state column queries: HLL_UNION and PERCENTILE_UNION value
columns on AGG_KEYS tables (operators/sketches.py; reference
be/src/exprs/agg/hll_union.h, percentile_union.h, types/hll.h) — the
flagship StarRocks rollup-table use case: keep a tiny re-mergeable
state per key, answer distinct/quantile queries off the rollup.

Oracle notes:
- HLL estimates are exact only at small per-key cardinality, so the
  table is keyed (event_type, user bucket) to keep each key's distinct
  user count tiny; the oracle is the exact COUNT(DISTINCT). (At real
  cardinalities the estimate is approximate by design — same as the
  reference's HLL.)
- The percentile state is a bucket histogram of exact counts, so its
  quantile read-out is bit-identical cross-engine at ANY cardinality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from starrocks_spark.catalog import load_table
from starrocks_spark.queries._util import maybe_broadcast, sort_result
from starrocks_spark.operators import sketches
from starrocks_spark.tables.models import ManagedTable, TableModel

_W = 2000.0   # percentile bucket width for l_extendedprice
_K = 256      # theta sketch size
_B = 64       # bucket count


def table_agg_keys_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AGG_KEYS table keyed (event_type, user bucket) with an
    HLL_UNION value column over user_id + a SUM count: 3 rowset
    inserts (each builds sketch states at ingest), compaction unions
    states, read estimates cardinality. Reference: HLL_UNION AGG
    column + hll_union_agg (hll_union.h)."""
    events = load_table(spark, sf_dir, "events")
    prepared = events.select(
        "event_id",
        "event_type",
        (F.col("user_id") % 32).alias("user_bucket"),
        F.col("user_id").alias("uv"),
        F.lit(1).cast("long").alias("n_events"),
    )
    t = ManagedTable.create(
        spark, TableModel.AGG_KEYS, ["event_type", "user_bucket"],
        agg_spec={"uv": "hll_union", "n_events": "sum"},
    )
    for i in range(3):
        # same keys across rowsets — forces the sketch-state union path
        t.insert(prepared.filter(F.col("event_id") % 3 == i))
    t.compact()
    return t.read().select(
        "event_type",
        "user_bucket",
        sketches.hll_estimate("uv").alias("approx_users"),
        "n_events",
    )


_HLL_SQL = """
SELECT event_type, user_id % 32 AS user_bucket,
       COUNT(DISTINCT user_id) AS approx_users,
       COUNT(*) AS n_events
FROM events
GROUP BY 1, 2
"""


def agg_percentile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCENTILE_UNION state algebra in one plan: partial histogram
    states per (returnflag, order shard) → element-wise merge to flag
    level → p50/p90/p99 read-out. The two-phase shape is exactly how
    a 1000-node cluster (or an AGG_KEYS rowset merge) computes
    quantiles off stored states. Reference: percentile_union.h,
    percentile_approx ingest/merge."""
    li = load_table(spark, sf_dir, "lineitem")
    partial = (
        li.groupBy(
            "l_returnflag", (F.col("l_orderkey") % 8).alias("_shard")
        )
        .agg(
            sketches.pct_state(F.col("l_extendedprice"), _W, _B)
            .alias("state")
        )
    )
    merged = partial.groupBy("l_returnflag").agg(
        sketches.pct_merge("state", _B).alias("state")
    )
    return merged.select(
        "l_returnflag",
        sketches.pct_quantile(F.col("state"), 0.5, _W).alias("q50"),
        sketches.pct_quantile(F.col("state"), 0.9, _W).alias("q90"),
        sketches.pct_quantile(F.col("state"), 0.99, _W).alias("q99"),
    ).transform(sort_result, "l_returnflag")


_BKT = sketches.sql_pct_bucket("l_extendedprice", _W, _B)

_PCT_SQL = f"""
WITH b AS (
  SELECT l_returnflag, {_BKT} AS bkt, COUNT(*) AS c
  FROM lineitem GROUP BY 1, 2
), t AS (
  SELECT l_returnflag, bkt, c,
         SUM(c) OVER (PARTITION BY l_returnflag ORDER BY bkt) AS cum,
         SUM(c) OVER (PARTITION BY l_returnflag) AS total
  FROM b
)
SELECT l_returnflag,
       CAST(MIN(CASE WHEN cum >= CEIL(0.5 * total) THEN bkt END) * {_W!r}
            AS DOUBLE) AS q50,
       CAST(MIN(CASE WHEN cum >= CEIL(0.9 * total) THEN bkt END) * {_W!r}
            AS DOUBLE) AS q90,
       CAST(MIN(CASE WHEN cum >= CEIL(0.99 * total) THEN bkt END) * {_W!r}
            AS DOUBLE) AS q99
FROM t
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def agg_theta_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta(KMV)-sketch distinct counting with partial→final merge:
    per-(priority, order year) partial states over o_custkey, merged
    across years to priority level, then estimated. K=256 < the
    per-priority distinct count, so this exercises the ESTIMATOR path
    (not the exact-below-K fallback); the md5-based hash makes the
    estimate itself reproducible in the oracle. Reference:
    be/src/exprs/agg/ds_theta_count_distinct.h (ds_theta union)."""
    orders = load_table(spark, sf_dir, "orders")
    partial = sketches.theta_state(
        orders.withColumn("o_year", F.year("o_orderdate")),
        ["o_orderpriority", "o_year"], F.col("o_custkey"), k=_K,
    )
    merged = partial.groupBy("o_orderpriority").agg(
        sketches.theta_merge("theta_state", k=_K).alias("state")
    )
    return merged.select(
        "o_orderpriority",
        F.size("state").alias("state_size"),
        F.round(sketches.theta_estimate(F.col("state"), k=_K), 4)
        .alias("approx_custkeys"),
    ).transform(sort_result, "o_orderpriority")


# The KMV merge is lossless (global K smallest = K smallest of the
# per-year K-smallest union), so the oracle builds the global state
# directly and applies the identical estimator.
_THETA_SQL = f"""
WITH st AS (
  SELECT o_orderpriority,
         {sketches.sql_theta_state('o_custkey', 256)} AS state
  FROM (SELECT DISTINCT o_orderpriority, o_custkey FROM orders)
  GROUP BY o_orderpriority
)
SELECT o_orderpriority,
       CAST(len(state) AS INT) AS state_size,
       ROUND({sketches.sql_theta_estimate('state', 256)}, 4)
         AS approx_custkeys
FROM st
ORDER BY o_orderpriority
"""


def agg_approx_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_top_k state algebra: per-(returnflag, order shard)
    frequent-brand states (capacity 64), merged across shards, top-5
    read-out. Capacity exceeds the 25 distinct brands so the result is
    exact — the same exact-within-counter-budget contract as the
    reference sketch (be/src/exprs/agg/approx_top_k.h); the capped
    path is pinned by tests/test_sketches.py. Brand dimension joins
    broadcast; everything else is groupBy-sum."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    df = li.join(maybe_broadcast(part), li.l_partkey == part.p_partkey)
    states = sketches.topk_state(
        df.withColumn("_shard", F.col("l_orderkey") % 8),
        ["l_returnflag", "_shard"], F.col("p_brand"), capacity=64,
    )
    return (
        sketches.topk_merge_read(states, ["l_returnflag"], k=5,
                                 capacity=64)
        .select("l_returnflag", F.col("item").alias("p_brand"),
                F.col("cnt").alias("n_items"), "rank")
        .transform(sort_result, "l_returnflag", "rank")
    )


_TOPK_SQL = """
WITH counted AS (
  SELECT l_returnflag, p_brand, COUNT(*) AS n_items
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY 1, 2
), ranked AS (
  SELECT l_returnflag, p_brand, n_items,
         CAST(ROW_NUMBER() OVER (PARTITION BY l_returnflag
              ORDER BY n_items DESC, p_brand ASC) AS INT) AS rank
  FROM counted
)
SELECT l_returnflag, p_brand, n_items, rank
FROM ranked WHERE rank <= 5
ORDER BY l_returnflag, rank
"""


QUERIES = {
    "table_agg_keys_hll": table_agg_keys_hll,
    "agg_percentile_sketch": agg_percentile_sketch,
    "agg_theta_distinct": agg_theta_distinct,
    "agg_approx_top_k": agg_approx_top_k,
}

ORACLE = {
    "table_agg_keys_hll": _HLL_SQL,
    "agg_percentile_sketch": _PCT_SQL,
    "agg_theta_distinct": _THETA_SQL,
    "agg_approx_top_k": _TOPK_SQL,
}
