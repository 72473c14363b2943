"""Join-surface fill-ins (SURVEY.md §2.4, §2.1, §4.1):

- non-equi range join → BroadcastNestedLoopJoin
  (be/src/exec/cross_join_node.h:28, nljoin_probe_operator.h:30)
- PK point lookup — the short-circuit LOOKUP_NODE/FETCH_NODE path
  (be/src/exec/lookup_node.cpp; here a pushed-down unique-key filter)
- large IN-list → broadcast semi join
  (LargeInPredicateToJoinRule.java via operators/in_rewrite.py)
- json_each over the events props column
  (be/src/exprs/table_function/json_each.cpp)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from starrocks_spark.catalog import load_table
from starrocks_spark.operators.in_rewrite import filter_in_values
from starrocks_spark.queries._util import fixed, lit_frame, sort_result, sql_fixed


def join_nonequi_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band join: price buckets as a tiny boundary table, orders
    joined on lo <= price < hi. Non-equi → Spark plans a broadcast
    nested-loop join; the small side MUST be the broadcast side."""
    orders = load_table(spark, sf_dir, "orders")
    buckets = lit_frame(
        spark,
        [("micro", 0.0, 50_000.0), ("small", 50_000.0, 150_000.0),
         ("mid", 150_000.0, 300_000.0), ("large", 300_000.0, 1e9)],
        "bucket string, lo double, hi double",
    )
    return (
        orders.join(
            F.broadcast(buckets),
            (orders.o_totalprice >= buckets.lo)
            & (orders.o_totalprice < buckets.hi),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            (F.sum(fixed(F.col("o_totalprice"))).cast("double") / 1e4)
            .alias("total"),
        )
    )


_NONEQUI_SQL = """
WITH buckets(bucket, lo, hi) AS (
  VALUES ('micro', 0.0, 50000.0), ('small', 50000.0, 150000.0),
         ('mid', 150000.0, 300000.0), ('large', 300000.0, 1000000000.0)
)
SELECT bucket, COUNT(*) AS n,
       CAST(SUM(CAST(FLOOR((o_totalprice) * 10000.0 + 0.5)
                AS DECIMAL(38,0))) AS DOUBLE) / 10000.0 AS total
FROM orders JOIN buckets
  ON o_totalprice >= lo AND o_totalprice < hi
GROUP BY bucket
"""


def point_lookup_pk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PK point query (LOOKUP_NODE): equality filter on the unique
    key — pushed to the parquet scan, prunes row groups by stats."""
    customer = load_table(spark, sf_dir, "customer")
    return customer.filter(F.col("c_custkey").isin(1, 777, 1500, 9999)) \
        .select("c_custkey", "c_name", "c_mktsegment")


_POINT_SQL = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE c_custkey IN (1, 777, 1500, 9999)
"""


def large_in_list_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN list with 500 values → broadcast LEFT SEMI against a local
    relation instead of a 500-branch OR chain."""
    orders = load_table(spark, sf_dir, "orders")
    values = [3 + 7 * i for i in range(500)]
    picked = filter_in_values(orders, "o_custkey", values)
    return picked.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.countDistinct("o_custkey").alias("n_cust"),
    )


_LARGE_IN_SQL = f"""
SELECT o_orderpriority, COUNT(*) AS n, COUNT(DISTINCT o_custkey) AS n_cust
FROM orders
WHERE o_custkey IN ({', '.join(str(3 + 7 * i) for i in range(500))})
GROUP BY o_orderpriority
"""


def json_each_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """json_each: explode every key/value pair of the events.props
    JSON object into rows (json_each.cpp)."""
    events = load_table(spark, sf_dir, "events")
    kv = events.select(
        "event_id",
        F.explode(
            F.from_json("props", "map<string,string>")
        ).alias("key", "value"),
    )
    return kv.groupBy("key").agg(
        F.count("*").alias("n"),
        F.countDistinct("value").alias("n_values"),
    )


_JSON_EACH_SQL = """
SELECT k AS key, COUNT(*) AS n,
       COUNT(DISTINCT props ->> k) AS n_values
FROM events, unnest(json_keys(props)) AS t(k)
GROUP BY k
"""


QUERIES = {
    "join_nonequi_range": join_nonequi_range,
    "point_lookup_pk": point_lookup_pk,
    "large_in_list_join": large_in_list_join,
    "json_each_props": json_each_props,
}

ORACLE = {
    "join_nonequi_range": _NONEQUI_SQL,
    "point_lookup_pk": _POINT_SQL,
    "large_in_list_join": _LARGE_IN_SQL,
    "json_each_props": _JSON_EACH_SQL,
}


def join_or_union_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR-of-equalities join executed as a UNION of hash-join branches
    (operators/or_rewrite.py; reference SplitJoinORToUnionRule) — the
    naive form would be a quadratic nested-loop join. The oracle runs
    the disjunctive join directly; tests/test_plans.py asserts the
    rewritten plan contains no nested loop."""
    from starrocks_spark.operators.or_rewrite import or_split_join

    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    c1 = F.col("c_custkey") == F.col("o_custkey")
    c2 = F.col("c_custkey") == (F.col("o_orderkey") % 2000)
    joined = or_split_join(customer, orders, [c1, c2])
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("o_orderkey").alias("sum_okey"),
            F.countDistinct("c_custkey").alias("n_customers"),
        )
        .transform(sort_result, "c_mktsegment")
    )


_OR_UNION_SQL = """
SELECT c_mktsegment, COUNT(*) AS n_pairs,
       CAST(SUM(o_orderkey) AS BIGINT) AS sum_okey,
       COUNT(DISTINCT c_custkey) AS n_customers
FROM customer JOIN orders
  ON c_custkey = o_custkey OR c_custkey = o_orderkey % 2000
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""

QUERIES["join_or_union_split"] = join_or_union_split
ORACLE["join_or_union_split"] = _OR_UNION_SQL


def star_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UKFK join pruning (plans/star.py; reference PruneUKFKJoinRule):
    lineitem declares its three dims (part, supplier, orders) with
    enforced key integrity; a revenue-by-part-type query NEEDS only
    part columns, so the star builder joins exactly ONE dim — supplier
    and orders are never constructed (asserted) — and results match
    the oracle's single-join SQL."""
    from starrocks_spark.plans.star import StarSchema

    li = load_table(spark, sf_dir, "lineitem")
    star = StarSchema(li)
    star.add_dim("part", load_table(spark, sf_dir, "part"),
                 fk="l_partkey", pk="p_partkey")
    star.add_dim("supplier", load_table(spark, sf_dir, "supplier"),
                 fk="l_suppkey", pk="s_suppkey")
    star.add_dim("orders", load_table(spark, sf_dir, "orders"),
                 fk="l_orderkey", pk="o_orderkey")

    joined = star.join_needed(["p_type"])
    assert star.last_joined == ["part"], star.last_joined
    return (
        joined.groupBy("p_type")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(fixed(F.col("l_extendedprice"))).cast("long")
            .alias("rev_f"),
        )
        .transform(sort_result, "p_type")
    )


_STAR_SQL = f"""
SELECT p_type, COUNT(*) AS n_items,
       CAST(SUM({sql_fixed('l_extendedprice')}) AS BIGINT) AS rev_f
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_type
ORDER BY p_type
"""

QUERIES["star_pruned_join"] = star_pruned_join
ORACLE["star_pruned_join"] = _STAR_SQL


def join_colocate_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Colocate join end-to-end (reference: colocate groups,
    Partitions.thrift:63-66 — tables bucketed identically join with
    ZERO data movement): orders and customer are written bucketed by
    the join key into the same bucket count; the join compiles to a
    SortMergeJoin with NO Exchange on either side — asserted here at
    plan level, value-checked by the oracle. The merge hint only pins
    the strategy broadcast would shadow at fixture scale; at 100 TB
    both sides exceed the broadcast threshold and the bucketed SMJ is
    what the planner picks unaided."""
    import shutil

    from starrocks_spark.catalog import load_table as _lt

    orders = _lt(spark, sf_dir, "orders")
    customer = _lt(spark, sf_dir, "customer")
    warehouse = spark.conf.get(
        "spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("q_b_orders", "q_b_customer"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)
    orders.write.bucketBy(8, "o_custkey").sortBy("o_custkey") \
        .mode("overwrite").saveAsTable("q_b_orders")
    customer.write.bucketBy(8, "c_custkey").sortBy("c_custkey") \
        .mode("overwrite").saveAsTable("q_b_customer")
    bo = spark.table("q_b_orders")
    bc = spark.table("q_b_customer")
    joined = bo.join(bc.hint("merge"), bo["o_custkey"] == bc["c_custkey"])
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan  # colocate contract
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(fixed(F.col("o_totalprice")).cast("long"))
            .alias("revenue_f"),
        )
        .transform(sort_result, "c_mktsegment")
    )


_COLOCATE_SQL = f"""
SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM({sql_fixed('o_totalprice')}) AS BIGINT) AS revenue_f
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""

QUERIES["join_colocate_bucketed"] = join_colocate_bucketed
ORACLE["join_colocate_bucketed"] = _COLOCATE_SQL
