"""Event-stream analytics: ASOF join, sessionization, funnel,
retention, tumbling/session time windows.

Reference coverage:
- ASOF join (PlanNodes.thrift ASOF_INNER/ASOF_LEFT_OUTER) →
  operators/asof_join.py (union + ordered window)
- session_number (be/src/exprs/agg/window.h:788) → operators/sessionize.py
- window_funnel (be/src/exprs/agg/window_funnel.h) → operators/funnel.py
- retention (be/src/exprs/agg/retention.h) → operators/retention.py
- time_slice (time_functions.cpp) → epoch bucketing
- Structured-Streaming-style tumbling / session windows evaluated in
  batch (F.window / F.session_window)

Timestamps are compared as unix microseconds (integers) to stay
formatter-agnostic between engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from starrocks_spark.catalog import load_table
from starrocks_spark.operators import asof_join, retention, sessionize, window_funnel
from starrocks_spark.queries._util import dsum, lit_frame, sort_result, sql_dsum


def asof_purchase_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each purchase, the user's most recent prior (or same-time)
    view event — ASOF LEFT JOIN."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("view_value"))
    )
    joined = asof_join(purchases, views, on="ts", by="user_id")
    return joined.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("purchase_us"),
        F.unix_micros("ts_right").alias("view_us"),
        "view_value",
    )


_ASOF_SQL = """
WITH purchases AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
), views AS (
  SELECT user_id, ts, MAX(value) AS view_value
  FROM events WHERE event_type = 'view' GROUP BY user_id, ts
)
SELECT p.event_id, p.user_id,
       epoch_us(p.ts) AS purchase_us,
       epoch_us(v.ts) AS view_us,
       v.view_value
FROM purchases p ASOF LEFT JOIN views v
  ON p.user_id = v.user_id AND p.ts >= v.ts
"""


def asof_inner_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASOF INNER with a 1-hour tolerance: purchase matched to the
    nearest prior click within 60 minutes."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.count(F.lit(1)).alias("n_clicks"))
    )
    joined = asof_join(
        purchases,
        clicks,
        on="ts",
        by="user_id",
        how="inner",
        tolerance=F.expr("INTERVAL 60 MINUTES"),
    )
    return joined.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("purchase_us"),
        F.unix_micros("ts_right").alias("click_us"),
    )


_ASOF_INNER_SQL = """
WITH purchases AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
), clicks AS (
  SELECT user_id, ts FROM events WHERE event_type = 'click' GROUP BY user_id, ts
)
SELECT p.event_id, p.user_id,
       epoch_us(p.ts) AS purchase_us,
       epoch_us(c.ts) AS click_us
FROM purchases p ASOF JOIN clicks c
  ON p.user_id = c.user_id AND p.ts >= c.ts
WHERE p.ts - c.ts <= INTERVAL 60 MINUTE
"""


def sessionize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session stats per user (30-minute inactivity gap)."""
    ev = load_table(spark, sf_dir, "events")
    s = sessionize(ev, by="user_id", ts="ts", gap_seconds=1800)
    per_session = s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
            / F.lit(1000000.0)
        ).alias("session_secs"),
    )
    return per_session.groupBy("user_id").agg(
        F.max("session_id").alias("n_sessions"),
        F.sum("n_events").alias("n_events"),
        F.max("session_secs").alias("max_session_secs"),
    )


_SESSIONIZE_SQL = """
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sess AS (
  SELECT user_id, ts,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS session_id
  FROM marked
), per_session AS (
  SELECT user_id, session_id, COUNT(*) AS n_events,
         (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) / 1000000.0 AS session_secs
  FROM sess GROUP BY user_id, session_id
)
SELECT user_id,
       MAX(session_id) AS n_sessions,
       CAST(SUM(n_events) AS BIGINT) AS n_events,
       MAX(session_secs) AS max_session_secs
FROM per_session
GROUP BY user_id
"""


def funnel_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """window_funnel(view → click → purchase, 24h window): user counts
    per funnel depth."""
    ev = load_table(spark, sf_dir, "events")
    levels = window_funnel(
        ev,
        steps=["view", "click", "purchase"],
        by="user_id",
        ts="ts",
        window_seconds=86400,
    )
    return sort_result(
        levels.groupBy("level").agg(F.count(F.lit(1)).alias("users")), "level"
    )


_FUNNEL_SQL = """
WITH e1 AS (
  SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY user_id
), e2 AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN e1 ON e.user_id = e1.user_id
  WHERE e.event_type = 'click' AND e.ts > e1.t1
    AND epoch_us(e.ts) - epoch_us(e1.t1) <= 86400000000
  GROUP BY e.user_id
), e3 AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN e2 ON e.user_id = e2.user_id
                JOIN e1 ON e.user_id = e1.user_id
  WHERE e.event_type = 'purchase' AND e.ts > e2.t2
    AND epoch_us(e.ts) - epoch_us(e1.t1) <= 86400000000
  GROUP BY e.user_id
)
SELECT level, COUNT(*) AS users FROM (
  SELECT e1.user_id,
         1 + CAST(e2.user_id IS NOT NULL AS INT)
           + CAST(e3.user_id IS NOT NULL AS INT) AS level
  FROM e1
  LEFT JOIN e2 ON e1.user_id = e2.user_id
  LEFT JOIN e3 ON e1.user_id = e3.user_id
)
GROUP BY level
ORDER BY level
"""


_FUNNEL_FIXTURE = [
    (1, "A", 0), (1, "B", 10), (1, "C", 20),
    (2, "A", 0), (2, "A", 10), (2, "B", 20), (2, "C", 30),
    (3, "A", 0), (3, "B", 10), (3, "B", 20), (3, "C", 30),
    (4, "B", 0), (4, "A", 10), (4, "C", 20), (4, "B", 30), (4, "C", 40),
    (5, "A", 0), (5, "B", 150), (5, "C", 160),
    (6, "A", 0), (6, "B", 0), (6, "C", 0),
    (7, "B", 0), (7, "C", 10),
]

# hand-computed per window_funnel.h semantics (window=100s):
# u3 separates DEDUPLICATION (repeat B kills the chain), u4 separates
# FIXED (leap C before B kills it), u6 separates INCREASE (equal ts).
_FUNNEL_MODE_EXPECTED = {
    0: {1: 3, 2: 3, 3: 3, 4: 3, 5: 1, 6: 3, 7: 0},
    1: {1: 3, 2: 3, 3: 2, 4: 3, 5: 1, 6: 3, 7: 0},
    2: {1: 3, 2: 3, 3: 3, 4: 1, 5: 1, 6: 3, 7: 0},
    3: {1: 3, 2: 3, 3: 2, 4: 1, 5: 1, 6: 3, 7: 0},
    4: {1: 3, 2: 3, 3: 3, 4: 3, 5: 1, 6: 1, 7: 0},
}


def funnel_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """window_funnel mode flags (dedup=1 / fixed=2 / increase=4;
    be/src/exprs/agg/window_funnel.h) over a fixture whose per-mode
    levels are hand-computed — the oracle is that expected table, so a
    semantic drift in any mode's state machine fails the hash."""
    from starrocks_spark.operators.funnel import window_funnel_modes

    df = lit_frame(
        spark, _FUNNEL_FIXTURE, "user_id long, event_type string, tsec long"
    ).select(
        "user_id", "event_type", F.timestamp_seconds("tsec").alias("ts")
    )
    out = None
    for m in sorted(_FUNNEL_MODE_EXPECTED):
        lv = window_funnel_modes(
            df, ["A", "B", "C"], window_seconds=100, mode=m
        ).select(F.lit(m).alias("mode"), "user_id", "level")
        out = lv if out is None else out.unionByName(lv)
    return sort_result(out, "mode", "user_id")


_FUNNEL_MODES_SQL = "SELECT * FROM (VALUES\n" + ",\n".join(
    f"  ({m}, {u}, {lvl})"
    for m in sorted(_FUNNEL_MODE_EXPECTED)
    for u, lvl in sorted(_FUNNEL_MODE_EXPECTED[m].items())
) + "\n) AS t(mode, user_id, level) ORDER BY mode, user_id"


def retention_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """retention([active w1, active w2, purchased w3]) cohort counts."""
    ev = load_table(spark, sf_dir, "events")
    conds = [
        (F.col("ts") >= "2024-01-01") & (F.col("ts") < "2024-01-08"),
        (F.col("ts") >= "2024-01-08") & (F.col("ts") < "2024-01-15"),
        (F.col("ts") >= "2024-01-15")
        & (F.col("ts") < "2024-01-22")
        & (F.col("event_type") == "purchase"),
    ]
    r = retention(ev, conds, by="user_id")
    return r.agg(
        F.sum("r1").alias("week1_users"),
        F.sum("r2").alias("week1_and_week2"),
        F.sum("r3").alias("week1_and_purchase_week3"),
    )


_RETENTION_SQL = """
WITH per_user AS (
  SELECT user_id,
         MAX(CASE WHEN ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-08'
                  THEN 1 ELSE 0 END) AS c1,
         MAX(CASE WHEN ts >= TIMESTAMP '2024-01-08' AND ts < TIMESTAMP '2024-01-15'
                  THEN 1 ELSE 0 END) AS c2,
         MAX(CASE WHEN ts >= TIMESTAMP '2024-01-15' AND ts < TIMESTAMP '2024-01-22'
                  AND event_type = 'purchase' THEN 1 ELSE 0 END) AS c3
  FROM events GROUP BY user_id
)
SELECT CAST(SUM(c1) AS BIGINT) AS week1_users,
       CAST(SUM(c1 * c2) AS BIGINT) AS week1_and_week2,
       CAST(SUM(c1 * c3) AS BIGINT) AS week1_and_purchase_week3
FROM per_user
"""


def tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregation (streaming-style, evaluated
    in batch — same F.window used under readStream)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), dsum(F.col("value")).alias("value_sum"))
        .select(
            F.unix_micros(F.col("w.start")).alias("hour_us"),
            "event_type",
            "cnt",
            "value_sum",
        )
    )


_TUMBLING_SQL = f"""
SELECT epoch_us(date_trunc('hour', ts)) AS hour_us,
       event_type,
       COUNT(*) AS cnt,
       {sql_dsum('value')} AS value_sum
FROM events
GROUP BY 1, 2
"""


def time_slice_quarter_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """time_slice(ts, INTERVAL 15 MINUTE) equivalent: epoch bucketing
    (reference: time_functions.cpp time_slice)."""
    ev = load_table(spark, sf_dir, "events")
    bucket = (F.unix_micros("ts") - F.unix_micros("ts") % F.lit(900000000)).alias(
        "slice_us"
    )
    return (
        ev.groupBy(bucket, "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 1)
    )


_TIME_SLICE_SQL = """
SELECT epoch_us(ts) - epoch_us(ts) % 900000000 AS slice_us,
       event_type, COUNT(*) AS cnt
FROM events
GROUP BY 1, 2
HAVING COUNT(*) > 1
"""


def session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session window (F.session_window, the batch twin of the
    Structured Streaming operator): per-user session starts + sizes."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("sw.start")).alias("session_start_us"),
            "n_events",
        )
    )


_SESSION_WINDOW_SQL = """
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


QUERIES = {
    "asof_purchase_view": asof_purchase_view,
    "asof_inner_tolerance": asof_inner_tolerance,
    "sessionize_stats": sessionize_stats,
    "funnel_counts": funnel_counts,
    "funnel_modes": funnel_modes,
    "retention_weekly": retention_weekly,
    "tumbling_hourly": tumbling_hourly,
    "time_slice_quarter_hour": time_slice_quarter_hour,
    "session_window_agg": session_window_agg,
}

ORACLE = {
    "asof_purchase_view": _ASOF_SQL,
    "asof_inner_tolerance": _ASOF_INNER_SQL,
    "sessionize_stats": _SESSIONIZE_SQL,
    "funnel_counts": _FUNNEL_SQL,
    "funnel_modes": _FUNNEL_MODES_SQL,
    "retention_weekly": _RETENTION_SQL,
    "tumbling_hourly": _TUMBLING_SQL,
    "time_slice_quarter_hour": _TIME_SLICE_SQL,
    "session_window_agg": _SESSION_WINDOW_SQL,
}
