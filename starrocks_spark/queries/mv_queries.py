"""Materialized-view queries: full + partition-incremental (PCT)
refresh end-to-end (tables/materialized_view.py; reference
MaterializedView.java:140, mv/refresh/pct/).

The scenario: an MV of monthly revenue per order-priority over a
mutable copy of orders. After the initial full refresh, one month of
new rows lands; the PCT refresh must recompute only that month and
the final MV state must equal the from-scratch aggregate — which is
exactly what the oracle checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from starrocks_spark.catalog import load_table
from starrocks_spark.queries._util import (fixed, maybe_broadcast, sort_result,
                                            sql_dsum, sql_fixed)
from starrocks_spark.tables.materialized_view import MaterializedView


def _definition(source: DataFrame) -> DataFrame:
    return (
        source.withColumn(
            "month", F.date_format("o_orderdate", "yyyy-MM")
        )
        .groupBy("month", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(fixed(F.col("o_totalprice"))).alias("rev_f"),
        )
    )


def mv_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full refresh → one-month append → PCT refresh (must touch only
    the appended month) → read. Returns the settled MV."""
    orders = load_table(spark, sf_dir, "orders")
    mv = MaterializedView(
        spark,
        _definition,
        partition_col="month",
        source_partition_expr="date_format(o_orderdate, 'yyyy-MM')",
    )
    base = orders.filter(F.year("o_orderdate") < 2001)
    n0 = mv.refresh(base)
    assert n0 == -1, "first refresh must be full"

    # late-arriving batch: all 2001 orders, shifted keys, landing in
    # their own months
    late = orders.filter(F.year("o_orderdate") >= 2001)
    source2 = base.unionByName(late)
    n1 = mv.refresh(source2)
    # the refresh's own snapshot already records every partition value
    # (driver-side metadata, one row per month) — deriving the late-
    # month bound from it replaces a distinct().count() Spark job over
    # orders with a dict scan (r13, guide §1.2 fixed-overhead shape)
    late_months = sum(
        1 for r in mv._read_meta() if r["__part"] >= "2001-01"
    )
    assert 0 < n1 <= late_months, (
        f"PCT refresh touched {n1} partitions, expected <= {late_months}"
    )
    # a no-op refresh rewrites nothing
    assert mv.refresh(source2) == 0

    return mv.read().select(
        "month", "o_orderpriority", "n_orders",
        (F.col("rev_f").cast("double") / 1e4).alias("revenue"),
    )


_MV_SQL = f"""
SELECT strftime(o_orderdate, '%Y-%m') AS month,
       o_orderpriority,
       COUNT(*) AS n_orders,
       {sql_dsum('o_totalprice')} AS revenue
FROM orders
GROUP BY month, o_orderpriority
"""


QUERIES = {"mv_incremental_refresh": mv_incremental_refresh}
ORACLE = {"mv_incremental_refresh": _MV_SQL}


def mv_transparent_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transparent MV rewrite (tables/mv_rewrite.py; reference
    rule/transformation/materialization/): a (month, priority) revenue
    MV is registered in the MVCatalog; a month-grain aggregate query is
    then answered FROM THE MV (narrower-grain re-aggregation) after a
    PCT freshness check — asserted via the recorded route. The oracle
    aggregates the base table directly."""
    from starrocks_spark.tables.materialized_view import MaterializedView
    from starrocks_spark.tables.mv_rewrite import MVCatalog

    orders = load_table(spark, sf_dir, "orders")
    src = orders.select(
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        "o_orderpriority",
        fixed(F.col("o_totalprice")).cast("long").alias("o_totalprice_f"),
    )

    def defn(s: DataFrame) -> DataFrame:
        return s.groupBy("month", "o_orderpriority").agg(
            F.sum("o_totalprice_f").alias("rev_f"),
            F.count(F.lit(1)).alias("n_orders"),
        )

    mv = MaterializedView(spark, defn, partition_col="month",
                          source_partition_expr="month")
    cat = MVCatalog()
    cat.register(mv, "orders", ["month", "o_orderpriority"],
                 {"rev_f": ("sum", "o_totalprice_f"),
                  "n_orders": ("count", "*")})
    out = cat.serve_agg(
        spark, src, "orders", ["month"],
        {"revenue_f": ("sum", "o_totalprice_f"),
         "n_orders": ("count", "*")},
    )
    assert cat.last_route and cat.last_route.startswith("mv:"),         cat.last_route
    return sort_result(out, "month")


_MV_REWRITE_SQL = f"""
SELECT strftime(o_orderdate, '%Y-%m') AS month,
       CAST(SUM({sql_fixed('o_totalprice')}) AS BIGINT) AS revenue_f,
       COUNT(*) AS n_orders
FROM orders
GROUP BY month
ORDER BY month
"""

QUERIES["mv_transparent_rewrite"] = mv_transparent_rewrite
ORACLE["mv_transparent_rewrite"] = _MV_REWRITE_SQL


def mv_join_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table (join) MV rewrite (tables/mv_rewrite.py serve_star;
    reference: rule/transformation/materialization/
    AggregatedMaterializedViewRewriter.java): an MV materializing
    lineitem ⋈ part ⋈ supplier at (month, p_brand, p_type) grain
    serves a brand-grain star aggregate. The supplier join is EXTRA
    relative to the query — legal only because the star schema
    declares it integrity-enforced (the UKFK precondition). A second
    probe asks for a supplier attribute the MV lacks and must route to
    the base star join with ONLY the supplier dim joined (plans/
    star.py pruning). Routes are asserted; the oracle aggregates the
    base join directly."""
    from starrocks_spark.plans.star import StarSchema
    from starrocks_spark.tables.mv_rewrite import MVCatalog

    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    fact = li.select(
        "l_partkey", "l_suppkey",
        F.date_format("l_shipdate", "yyyy-MM").alias("month"),
        fixed(F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .cast("long").alias("rev_f"),
    )
    star = StarSchema(fact)
    star.add_dim("part", part.select("p_partkey", "p_brand", "p_type"),
                 fk="l_partkey", pk="p_partkey", integrity="enforced")
    star.add_dim("supplier", supplier.select("s_suppkey", "s_name"),
                 fk="l_suppkey", pk="s_suppkey", integrity="enforced")

    def defn(src: DataFrame) -> DataFrame:
        return (
            src.join(maybe_broadcast(part.select("p_partkey", "p_brand",
                                             "p_type")),
                     src["l_partkey"] == F.col("p_partkey"))
            .join(maybe_broadcast(supplier.select("s_suppkey")),
                  F.col("l_suppkey") == F.col("s_suppkey"))
            .groupBy("month", "p_brand", "p_type")
            .agg(F.sum("rev_f").alias("rev_f"),
                 F.count(F.lit(1)).alias("n"))
        )

    mv = MaterializedView(spark, defn, partition_col="month",
                          source_partition_expr="month")
    cat = MVCatalog()
    cat.register_join(
        mv, "lineitem",
        joins={"part": ("l_partkey", "p_partkey"),
               "supplier": ("l_suppkey", "s_suppkey")},
        dims=["month", "p_brand", "p_type"],
        measures={"rev_f": ("sum", "rev_f"), "n": ("count", "*")},
    )
    out = cat.serve_star(
        spark, star, "lineitem", ["p_brand"],
        {"revenue_f": ("sum", "rev_f"), "n_rows": ("count", "*")},
    )
    assert cat.last_route and cat.last_route.startswith("mv:"), \
        cat.last_route
    # a supplier-attribute grain is NOT covered -> base star join with
    # only the needed dim joined (join pruning)
    cat.serve_star(
        spark, star, "lineitem", ["s_name"],
        {"revenue_f": ("sum", "rev_f")},
    )
    assert cat.last_route == "__base__", cat.last_route
    assert star.last_joined == ["supplier"], star.last_joined
    return sort_result(out, "p_brand")


_MV_JOIN_SQL = f"""
SELECT p_brand,
       CAST(SUM({sql_fixed('l_extendedprice * (1 - l_discount)')})
            AS BIGINT) AS revenue_f,
       COUNT(*) AS n_rows
FROM lineitem
JOIN part ON lineitem.l_partkey = part.p_partkey
JOIN supplier ON lineitem.l_suppkey = supplier.s_suppkey
GROUP BY p_brand
ORDER BY p_brand
"""

QUERIES["mv_join_rewrite"] = mv_join_rewrite
ORACLE["mv_join_rewrite"] = _MV_JOIN_SQL
