"""Streaming family: bounded file-source replays through watermarked
windows, exact dedup and the stateful counter, CUSUM and PIT-window
operators, each drained into a memory table."""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import functions as F

from queries._common import _EV_TS, _events
from sqlfeatureextraction_spark.streaming.stream import run_stream_to_memory


def _events_dir(sf_dir, prefix):
    """A fresh directory holding a symlink to events.parquet: the file
    stream source reads directories, and the link stages it in O(1)."""
    wdir = tempfile.mkdtemp(prefix=prefix)
    os.symlink(
        os.path.abspath(f"{sf_dir}/events.parquet"),
        os.path.join(wdir, "events.parquet"),
    )
    return wdir


def _drain(spark, stream, prefix, output_mode):
    """Run the bounded stream to completion into a fresh memory table
    and return that table."""
    name = f"{prefix}{uuid.uuid4().hex[:8]}"
    run_stream_to_memory(stream, name, output_mode)
    return spark.table(name)


def _q_stream_windowed_counts(spark, sf_dir):
    """§2.9 streaming: bounded file-source → watermarked tumbling window
    aggregation → memory sink, driven to completion.  Equal to the batch
    tumbling agg (Spark window() is left-closed [start, end))."""
    from sqlfeatureextraction_spark.streaming.stream import windowed_counts

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    wdir = _events_dir(sf_dir, "stream_wc_src_")
    stream = (
        spark.readStream.schema(ev.schema)
        .parquet(wdir)
        # watermarks require TIMESTAMP (parquet stores TIMESTAMP_NTZ)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    agg = windowed_counts(
        stream, window="10 minutes", entity_col="event_type", cost_col="value"
    )
    res = _drain(spark, agg, "stream_wc_", "complete")
    return res.select(
        F.col("window_start").cast("timestamp").cast("long").alias(
            "window_start_sec"
        ),
        "event_type",
        F.col("n_turns").cast("long").alias("n_turns"),
        F.round("total_cost", 4).alias("total_cost"),
    )


def _q_stream_exact_dedup(spark, sf_dir):
    """§2.9 streaming exact dedup (global regime): first arrival of a
    (user_id, event_type) pair emits, repeats are suppressed across
    micro-batches.  Projecting to the KEY columns makes the output
    independent of which physical row arrived first, so the bounded
    replay equals batch DISTINCT."""
    from sqlfeatureextraction_spark.streaming.stream import (
        exact_dedup_stream,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    wdir = _events_dir(sf_dir, "stream_dd_src_")
    stream = (
        spark.readStream.schema(ev.schema)
        .parquet(wdir)
        .select("user_id", "event_type")
    )
    out = exact_dedup_stream(stream, ["user_id", "event_type"])
    res = _drain(spark, out, "stream_dd_", "append")
    return res.select(
        F.col("user_id").cast("long").alias("user_id"),
        "event_type",
    )


def _q_stream_stateful_counter(spark, sf_dir):
    """§2.9 custom stateful streaming: applyInPandasWithState running
    turn counter + gap-session ids per entity, kept in GroupState across
    micro-batches (streaming analog of the reference's
    prevSessionID/queryID counters, enc/IntentCreatorMultiThread.java:73-78)."""
    from sqlfeatureextraction_spark.streaming.stream import (
        stateful_turn_counter,
    )

    src = _events(spark, sf_dir).select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("ts").cast("timestamp").alias("ts"),
        F.col("event_id").alias("turn_idx"),
    )
    sdir = tempfile.mkdtemp(prefix="stream_sc_src_")
    src.write.mode("overwrite").parquet(sdir)
    stream = spark.readStream.schema(src.schema).parquet(sdir)
    counted = stateful_turn_counter(stream, entity_col="conv_id", gap_s=1800)
    res = _drain(spark, counted, "stream_sc_", "append")
    return res.select(
        "conv_id",
        F.col("ts").cast("long").alias("ts_sec"),
        "turn_no",
        "session_id",
    )


def _q_stream_cusum(spark, sf_dir):
    """§2.9 streaming CUSUM monitor: the closed prefix-sum form makes
    the statistic incremental with TWO scalars of per-entity state
    (running prefix + its running min, seeded at the empty prefix);
    each emitted row equals the batch closed form over full history —
    so unlike most streaming rows this one has a FULL SQL oracle."""
    from sqlfeatureextraction_spark.streaming.stream import (
        stateful_cusum,
    )

    src = _events(spark, sf_dir).select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("ts").cast("timestamp").alias("ts"),
        F.col("event_id"),
        F.col("value"),
    )
    sdir = tempfile.mkdtemp(prefix="stream_cusum_src_")
    src.write.mode("overwrite").parquet(sdir)
    stream = spark.readStream.schema(src.schema).parquet(sdir)
    # quantize_dp=2 (events.value has 2dp granularity): scaled int64
    # state accumulation — bit-identical to the SQL replay across
    # engines and micro-batch boundaries, where a float cumsum
    # drifts by ulps into ROUND boundaries.
    out = stateful_cusum(
        stream, entity_col="conv_id", mu=100.0, sigma=60.0, h=2.0,
        quantize_dp=2,
    )
    res = _drain(spark, out, "stream_cusum_", "append")
    import shutil

    shutil.rmtree(sdir, ignore_errors=True)  # the memory sink holds results
    return res.select(
        F.col("conv_id").cast("long").alias("user_id"),
        "event_id",
        "ts_sec",
        "cusum",
        "is_shift",
    )


def _q_stream_pit_window(spark, sf_dir):
    """§2.9 streaming flagship analog: the W2/W3 right-closed
    (ts−300s, ts] rolling window computed INCREMENTALLY via
    applyInPandasWithState (trailing-window arrays in GroupState,
    vectorized cumsum+searchsorted per batch — no per-row Python),
    driven to completion over the bounded events table.  Shares the
    batch pit_window_sum oracle exactly: streaming ≡ batch on bounded
    input, including RANGE-frame tie semantics.  True cross-batch state
    carry is pinned in tests/test_stateful_stream.py."""
    from sqlfeatureextraction_spark.streaming.stream import (
        stateful_pit_window,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    wdir = _events_dir(sf_dir, "stream_pw_src_")
    stream = (
        spark.readStream.schema(ev.schema)
        .parquet(wdir)
        .select(
            F.col("user_id").cast("string").alias("user_id"),
            F.col("event_id").cast("long").alias("event_id"),
            F.col("ts").cast("timestamp").alias("ts"),
            F.col("value").cast("double").alias("value"),
        )
    )
    out = stateful_pit_window(
        stream,
        entity_col="user_id",
        id_col="event_id",
        window_s=300,
    )
    res = _drain(spark, out, "stream_pw_", "append")
    return res.select(
        "event_id",
        F.col("user_id").cast("long").alias("user_id"),
        "ts_sec",
        F.round("w_sum", 4).alias("w_sum"),
        "w_cnt",
    )


ORACLE = {
    # streaming CUSUM == batch closed form over full history with
    # the same fixed (mu, sigma, h) — P - least(0, running min P)
    "stream_cusum": f"""
            WITH e AS (
              SELECT user_id, event_id, ts_sec,
                     CAST(ROUND(value * 100) AS BIGINT) AS v
              FROM ({_EV_TS})
            ),
            p AS (
              SELECT user_id, event_id, ts_sec,
                     SUM(v - 10000) OVER (
                       PARTITION BY user_id
                       ORDER BY ts_sec, event_id
                       ROWS UNBOUNDED PRECEDING) AS pre
              FROM e
            ),
            s AS (
              SELECT user_id, event_id, ts_sec,
                     ROUND(CAST(pre - LEAST(0, MIN(pre) OVER (
                       PARTITION BY user_id
                       ORDER BY ts_sec, event_id
                       ROWS UNBOUNDED PRECEDING)) AS DOUBLE)
                       / 100.0, 6) AS cusum
              FROM p
            )
            SELECT user_id, event_id, ts_sec, cusum,
                   cusum > 2.0 * 60.0 AS is_shift
            FROM s
        """,
    # streaming PIT window: identical semantics to pit_window_sum —
    # the incremental applyInPandasWithState path must reproduce the
    # batch RANGE frame bit-for-bit on bounded input
    "stream_pit_window": f"""
            SELECT event_id, user_id, ts_sec,
                   ROUND(SUM(value) OVER w, 4) AS w_sum,
                   COUNT(*) OVER w AS w_cnt
            FROM ({_EV_TS})
            WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec
                         RANGE BETWEEN 299 PRECEDING AND CURRENT ROW)
        """,
    # streaming tumbling agg == batch tumbling agg over the bounded
    # source (Spark window() is left-closed [start, end))
    "stream_windowed_counts": """
            SELECT CAST(floor(epoch(ts)/600)*600 AS BIGINT)
                     AS window_start_sec,
                   event_type,
                   COUNT(*) AS n_turns,
                   ROUND(SUM(value), 4) AS total_cost
            FROM events GROUP BY 1, 2
        """,
    # streaming first-arrival dedup projected to key cols ==
    # batch DISTINCT over the bounded source
    "stream_exact_dedup": """
            SELECT DISTINCT CAST(user_id AS BIGINT) AS user_id,
                   event_type
            FROM events
        """,
    # GroupState counters over a bounded stream == batch window fns
    "stream_stateful_counter": """
            WITH base AS (
              SELECT CAST(user_id AS VARCHAR) AS conv_id,
                     CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
                     ts, event_id
              FROM events
            ), lagd AS (
              SELECT conv_id, ts_sec, ts, event_id,
                     COALESCE(LAG(ts_sec) OVER
                       (PARTITION BY conv_id ORDER BY ts, event_id),
                       ts_sec) AS prev_sec
              FROM base
            )
            SELECT conv_id, ts_sec,
                   CAST(ROW_NUMBER() OVER
                     (PARTITION BY conv_id ORDER BY ts, event_id)
                     AS BIGINT) AS turn_no,
                   CAST(SUM(CASE WHEN ts_sec - prev_sec > 1800
                                 THEN 1 ELSE 0 END)
                        OVER (PARTITION BY conv_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING)
                     AS BIGINT) AS session_id
            FROM lagd
        """,
}
