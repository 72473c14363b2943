"""Query profile: per-operator runtime metrics after execution — the
analog of the reference's query profile / EXPLAIN ANALYZE surface
(fe QueryProfileManager + be/src/util/runtime_profile.h; SHOW PROFILE).

Spark already collects SQLMetrics (rows produced, shuffle bytes, spill
sizes) on every physical operator; this module surfaces them as a
DataFrame so profiles can be stored, diffed, and queried like any
other table. Driver-side py4j walking of the executed plan is
metadata-scale (dozens of nodes), never data-scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from starrocks_spark.queries._util import sort_result


def profile(df: DataFrame) -> DataFrame:
    """Execute ``df`` and return one row per (operator, metric): node
    id, operator name, metric name, value. Runs ``df``'s own plan
    (``collect``, not ``count`` — count would execute a different
    aggregate plan and leave these metrics empty) and reads the
    AQE-final tree, so what you see is what actually ran."""
    df.collect()
    spark = df.sparkSession
    plan = df._jdf.queryExecution().executedPlan()

    rows: list[tuple[int, str, str, str, int]] = []

    def _walk(node, depth: int) -> None:
        name = node.nodeName()
        node_id = node.id()
        metrics = node.metrics()
        it = metrics.iterator()
        while it.hasNext():
            entry = it.next()
            metric = entry._2()
            opt = metric.name()  # Scala Option[String]
            metric_name = opt.get() if not opt.isEmpty() else entry._1()
            rows.append(
                (node_id, name, depth, str(metric_name),
                 int(metric.value()))
            )
        # AQE wrapper nodes hide their real subtree behind accessors:
        # AdaptiveSparkPlan.executedPlan(), *QueryStage.plan()
        if name == "AdaptiveSparkPlan":
            _walk(node.executedPlan(), depth + 1)
            return
        if "QueryStage" in name:
            _walk(node.plan(), depth + 1)
            return
        children = node.children()
        cit = children.iterator()
        while cit.hasNext():
            _walk(cit.next(), depth + 1)

    _walk(plan, 0)
    return spark.createDataFrame(
        rows, "node_id int, operator string, depth int, "
              "metric string, value long"
    )


def profile_summary(df: DataFrame) -> DataFrame:
    """Condensed profile: one row per operator with the headline
    metrics (rows produced, peak memory, spill) — what SHOW PROFILE
    prints in the reference."""
    from pyspark.sql import functions as F

    p = profile(df)
    return (
        p.groupBy("node_id", "operator")
        .agg(
            F.max(F.when(F.col("metric") == "number of output rows",
                         F.col("value"))).alias("output_rows"),
            F.max(F.when(F.col("metric").contains("peak memory"),
                         F.col("value"))).alias("peak_memory"),
            F.max(F.when(F.col("metric").contains("spill"),
                         F.col("value"))).alias("spill_bytes"),
        )
        .transform(sort_result, "node_id")
    )
