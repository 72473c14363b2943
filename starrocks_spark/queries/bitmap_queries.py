"""Bitmap value-function queries (functions/bitmap.py; reference
bitmap_functions.cpp, unnest_bitmap.h): build per-segment user
bitmaps, run the algebra, unnest the intersection back to rows."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from starrocks_spark.catalog import load_table
from starrocks_spark.functions import bitmap as B


def _two_bitmaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: (bitmap of 'click' users, bitmap of 'view' users)."""
    events = load_table(spark, sf_dir, "events")
    per_type = (
        events.filter(F.col("event_type").isin("click", "view"))
        .groupBy("event_type")
        .agg(B.bitmap_agg(F.col("user_id")).alias("bm"))
    )
    return per_type.groupBy().pivot("event_type", ["click", "view"]).agg(
        F.first("bm")
    )


def func_bitmap_value_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bitmap_and/or/xor/andnot/count/contains over two user bitmaps."""
    bm = _two_bitmaps(spark, sf_dir)
    return bm.select(
        B.bitmap_count(F.col("click")).alias("n_click"),
        B.bitmap_count(F.col("view")).alias("n_view"),
        B.bitmap_count(B.bitmap_and(F.col("click"), F.col("view")))
        .alias("n_both"),
        B.bitmap_count(B.bitmap_or(F.col("click"), F.col("view")))
        .alias("n_any"),
        B.bitmap_count(B.bitmap_xor(F.col("click"), F.col("view")))
        .alias("n_sym"),
        B.bitmap_count(B.bitmap_andnot(F.col("click"), F.col("view")))
        .alias("n_click_only"),
        B.bitmap_contains(F.col("click"), F.lit(1)).alias("has_user_1"),
    )


_BITMAP_OPS_SQL = """
WITH c AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
     v AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'view')
SELECT (SELECT COUNT(*) FROM c) AS n_click,
       (SELECT COUNT(*) FROM v) AS n_view,
       (SELECT COUNT(*) FROM c WHERE user_id IN (SELECT user_id FROM v))
         AS n_both,
       (SELECT COUNT(*) FROM (SELECT user_id FROM c UNION
                              SELECT user_id FROM v)) AS n_any,
       (SELECT COUNT(*) FROM (SELECT user_id FROM c WHERE user_id NOT IN
                                (SELECT user_id FROM v)
                              UNION ALL
                              SELECT user_id FROM v WHERE user_id NOT IN
                                (SELECT user_id FROM c))) AS n_sym,
       (SELECT COUNT(*) FROM c WHERE user_id NOT IN
          (SELECT user_id FROM v)) AS n_click_only,
       (SELECT COUNT(*) FROM c WHERE user_id = 1) > 0 AS has_user_1
"""


def unnest_bitmap_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unnest_bitmap: explode the click∩view bitmap back into rows,
    via subdivide_bitmap chunks (unnest_bitmap.h, subdivide_bitmap.h
    — the reference subdivides before unnesting for row-batch
    control; semantics must be chunking-invariant)."""
    bm = _two_bitmaps(spark, sf_dir)
    inter = bm.select(
        B.bitmap_and(F.col("click"), F.col("view")).alias("both_bm")
    )
    chunks = inter.select(
        F.explode(B.subdivide_bitmap(F.col("both_bm"), 100)).alias("chunk")
    )
    return chunks.select(F.explode("chunk").alias("user_id"))


_UNNEST_BITMAP_SQL = """
SELECT user_id FROM (
  SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
  INTERSECT
  SELECT DISTINCT user_id FROM events WHERE event_type = 'view'
)
"""


QUERIES = {
    "func_bitmap_value_ops": func_bitmap_value_ops,
    "unnest_bitmap_users": unnest_bitmap_users,
}

ORACLE = {
    "func_bitmap_value_ops": _BITMAP_OPS_SQL,
    "unnest_bitmap_users": _UNNEST_BITMAP_SQL,
}


def bitmap_sql_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r8 bitmap SQL-name surface end-to-end through the public
    dialect entry (plans/dialect.py _BITMAP_WRAPS): bitmap_agg →
    count / subset-limit / positional sub_bitmap / base64 roundtrip —
    the same names test_bitmap_functions proves against the
    reference's R files (be/src/exprs/bitmap_functions.cpp)."""
    from starrocks_spark.plans.dialect import starrocks_sql

    # REPARTITION(1): the final ORDER BY sorts in one partition, with
    # no range-sampling job (see queries/_util.py sort_result)
    return starrocks_sql(spark, """
        SELECT /*+ REPARTITION(1) */ o_orderpriority AS prio,
               bitmap_count(bitmap_agg(o_custkey)) AS n_cust,
               bitmap_to_string(bitmap_subset_limit(
                   bitmap_agg(o_custkey), 0, 5)) AS first5,
               bitmap_to_string(sub_bitmap(
                   bitmap_agg(o_custkey), -3, 3)) AS last3,
               bitmap_to_string(base64_to_bitmap(bitmap_to_base64(
                   bitmap_subset_in_range(bitmap_agg(o_custkey),
                                          100, 200)))) AS mid
        FROM orders GROUP BY o_orderpriority ORDER BY prio
    """, sf_dir)


_BITMAP_SQL_SURFACE_ORACLE = """
WITH b AS (
  SELECT o_orderpriority AS prio,
         list_sort(list(DISTINCT o_custkey)) AS ids
  FROM orders GROUP BY o_orderpriority
)
SELECT prio,
       CAST(len(ids) AS INT) AS n_cust,
       array_to_string(ids[1:5], ',') AS first5,
       array_to_string(ids[-3:], ',') AS last3,
       array_to_string(list_sort(list_filter(ids,
           x -> x >= 100 AND x < 200)), ',') AS mid
FROM b ORDER BY prio
"""

QUERIES["dialect_bitmap_sql_surface"] = bitmap_sql_surface
ORACLE["dialect_bitmap_sql_surface"] = _BITMAP_SQL_SURFACE_ORACLE
