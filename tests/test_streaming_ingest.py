"""Streaming PK upsert must NOT rewrite the whole table per batch:
_merge_batch routes through SnapshotTable.merge (zone-map-pruned
copy-on-write), so a single-key micro-batch rewrites at most one
data file. Also checks version semantics and replay safety of the
merge path itself (batch-level, no stream needed — foreachBatch
calls exactly this function)."""

import logging
import os

from pyspark.sql import functions as F

from starrocks_spark.scratch import scratch_root
from starrocks_spark.streaming import ingest
from starrocks_spark.streaming.ingest import _merge_batch, state_partitions_for
from starrocks_spark.tables.lakehouse import SnapshotTable


def _mk_table(spark, tmp_path, n=1000, files=4):
    base = spark.range(n).select(
        F.col("id").alias("user_id"),
        F.col("id").cast("timestamp").alias("ts"),
        F.col("id").alias("event_id"),
        F.lit("init").alias("event_type"),
    )
    t = SnapshotTable(spark, str(tmp_path / "pk"))
    _merge_batch(base, t, "user_id", ["ts", "event_id"],
                 key_partitions=files)
    assert len(t.snapshot().files) == files
    return t


def test_single_key_batch_rewrites_at_most_one_file(spark, tmp_path):
    t = _mk_table(spark, tmp_path)
    batch = spark.createDataFrame(
        [(7, 100_000, 99, "upd")],
        "user_id long, ts_s long, event_id long, event_type string",
    ).select(
        "user_id", F.col("ts_s").cast("timestamp").alias("ts"),
        "event_id", "event_type",
    )
    _merge_batch(batch, t, "user_id", ["ts", "event_id"])
    assert t.last_files_rewritten <= 1  # zone-map pruning held
    got = t.read().filter(F.col("user_id") == 7).collect()
    assert len(got) == 1 and got[0]["event_type"] == "upd"
    assert t.read().count() == 1000  # no rows invented or lost


def test_stale_batch_row_is_ignored_and_replay_safe(spark, tmp_path):
    t = _mk_table(spark, tmp_path)
    v1 = t.snapshot().version
    stale = spark.createDataFrame(
        [(7, 0, 0, "stale")],
        "user_id long, ts_s long, event_id long, event_type string",
    ).select(
        "user_id", F.col("ts_s").cast("timestamp").alias("ts"),
        "event_id", "event_type",
    )
    _merge_batch(stale, t, "user_id", ["ts", "event_id"])
    assert t.read().filter(
        F.col("user_id") == 7
    ).collect()[0]["event_type"] == "init"  # older version loses
    fresh = spark.createDataFrame(
        [(7, 100_000, 99, "upd")],
        "user_id long, ts_s long, event_id long, event_type string",
    ).select(
        "user_id", F.col("ts_s").cast("timestamp").alias("ts"),
        "event_id", "event_type",
    )
    _merge_batch(fresh, t, "user_id", ["ts", "event_id"])
    first = sorted(tuple(r) for r in t.read().collect())
    _merge_batch(fresh, t, "user_id", ["ts", "event_id"])  # replay
    second = sorted(tuple(r) for r in t.read().collect())
    assert first == second
    # history: every applied merge is one commit, old versions readable
    assert t.read(version=v1).filter(
        F.col("user_id") == 7
    ).collect()[0]["event_type"] == "init"


def test_stream_source_dirs_live_under_scratch_root(spark, sf_dir):
    """Both stream-source staging paths are created under the process
    scratch root, whose atexit hook removes them."""
    ingest.read_events_stream(spark, sf_dir)
    ingest.read_events_stream_split(spark, sf_dir, n_splits=2)
    root = scratch_root()
    staged = ingest._STAGE_DIRS[f"{sf_dir}/events.parquet"]
    split = ingest._SPLIT_DIRS[(sf_dir, 2)]
    for d in (staged, split):
        assert os.path.commonpath([root, d]) == root, d


def test_state_partitions_sum_directory_part_files(spark, tmp_path,
                                                    monkeypatch):
    """A directory-backed table (the x10 corpus layout: part files
    under <table>.parquet/) is sized by its data files, not by the
    directory entry; Spark's hidden _SUCCESS/.crc files do not count."""
    table = tmp_path / "events.parquet"
    table.mkdir()
    for i in range(3):
        (table / f"part-{i:05d}.parquet").write_bytes(b"x" * 1000)
    (table / "_SUCCESS").write_bytes(b"x" * 100_000)
    (table / ".part-00000.parquet.crc").write_bytes(b"x" * 100_000)
    # 3000 data bytes x 4 (decompression factor) / 6000 per store = 2
    monkeypatch.setenv("SPARK_GRAFT_STATE_STORE_BYTES", "6000")
    expected = min(2, spark.sparkContext.defaultParallelism)
    assert state_partitions_for(spark, str(tmp_path)) == expected


def test_state_partitions_single_file_corpus_gets_one_store(spark, sf_dir):
    assert state_partitions_for(spark, sf_dir) == 1


def test_state_partitions_unresolvable_path_is_logged(spark, tmp_path,
                                                      caplog):
    """A missing or remote path falls back to the 1-store floor, and
    says so in the log instead of silently sizing it as 0 bytes."""
    for sf in (str(tmp_path / "missing"), "s3a://bucket/corpus"):
        caplog.clear()
        with caplog.at_level(logging.WARNING, logger=ingest.__name__):
            assert state_partitions_for(spark, sf) == 1
        assert f"{sf}/events.parquet" in caplog.text
