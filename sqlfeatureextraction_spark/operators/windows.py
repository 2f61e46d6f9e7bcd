"""FIXED (tumbling + stride) event-time windows and empty-window backfill.

Reference analogs:
  W1 FIXED windows — enc/APMWindowFragmentIntent.java:210-263: windows
     [start, start+W) advanced by a stride (the reference's loop has a
     stride bug, SURVEY §4.4.1 — `plus()` result discarded; we
     implement the documented intent: stride = slide_s).  Reference
     membership is (start, end] right-closed (:340-347), which Spark's
     `F.window` (left-closed) cannot express — so windows are derived
     arithmetically on epoch seconds.
  W4 window expansion — :237-252 (data augmentation by shifted copies).
  W5 empty-window backfill — :102-119,163-178: windows after the
     business-hours gate with no rows get synthesized records.
     Spark-first: window_cost_metrics GENERATES the dense spine with
     its empty windows already marked (lag-based gap-fill, no spine
     join); the APM encoder's zeroed records are
     functions/apmencode.apm_empty_windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sqlfeatureextraction_spark.config import FeatureConfig


def _epoch(col):
    return F.col(col).cast("timestamp").cast("long")


def assign_fixed_windows(
    df: DataFrame, cfg: FeatureConfig, ts_col: str = "ts"
) -> DataFrame:
    """Tag each row with every strided window (start, end] containing it.

    Right-closed membership: row at t belongs to windows with
    start ∈ [t − W, t), start ≡ 0 (mod slide) — i.e. at most
    ceil(W/slide) windows; generated per-row with sequence()+explode
    (no join, no shuffle).  With slide == window this is tumbling.
    """
    w, s = cfg.window_size_s, cfg.slide_s
    t = _epoch(ts_col)
    # smallest window start ≥ t − W aligned to slide; largest start < t
    # (right-closed membership: start < t ≤ start + W ⇔ start ∈ [t−W, t))
    first = F.ceil((t - w) / s) * s
    last = F.ceil(t / s) * s - s
    starts = F.sequence(first, last, F.lit(s))
    out = df.withColumn("window_start_sec", F.explode(starts)).withColumn(
        "window_end_sec", F.col("window_start_sec") + w
    )
    if cfg.business_hour_min is not None:
        out = out.where(
            F.hour(F.timestamp_seconds("window_start_sec"))
            > cfg.business_hour_min
        )
    return out


def expand_windows(df: DataFrame, cfg: FeatureConfig, factor: int) -> DataFrame:
    """W4 augmentation: replicate each (window, row) pair at
    `factor − 1` extra shifted window positions."""
    if factor <= 1:
        return df
    shift = F.explode(
        F.sequence(F.lit(0), F.lit(factor - 1), F.lit(1))
    ).alias("_shift")
    out = df.select("*", shift)
    step = cfg.slide_s
    return (
        out.withColumn(
            "window_start_sec", F.col("window_start_sec") - F.col("_shift") * step
        )
        .withColumn("window_end_sec", F.col("window_start_sec") + cfg.window_size_s)
        .drop("_shift")
    )


def window_cost_metrics(
    df: DataFrame,
    cfg: FeatureConfig,
    entity_col: str = "conv_id",
    ts_col: str = "ts",
    cost_col: str = "cost",
) -> DataFrame:
    """A7: per-window total-cost metrics over the dense FIXED spine —
    the aggregate-job version of the reference's windowed cost logging
    (enc/APMWindowFragmentIntent.java:261,301,551-559): per strided
    window (start, start+W] and entity, the member count and summed
    cost, INCLUDING empty windows (n_turns = 0, total_cost = 0,
    is_empty = true) so the empty-window usage rate is an aggregation
    away.

    The dense spine is ~100-600x the input, so it is GENERATED with
    its metrics already attached (lag-based gap-fill over the
    aggregated windows, exactly like the backfill-spine query): no
    per-generated-row join probe against the dense spine, which at
    real scale would shuffle or broadcast the spine itself.  The
    joins that remain touch only the per-(entity, window) aggregate
    and the per-entity bounds — both tiny relative to the output —
    and share one entity-keyed exchange with the gap-fill window.

    Row-for-row identical to the spine LEFT JOIN formulation: the
    aggregate is clamped to the spine range [mn, mx] (window starts
    below floor(min_ts/slide)*slide exist — assignment reaches back
    W seconds — and were dropped by the spine join), entities whose
    every assigned window falls outside the clamp still emit their
    all-empty spine (bounds LEFT JOIN keeps them), and the trailing
    empty windows up to mx are generated by extending the last run.
    """
    from pyspark.sql import Window

    s = cfg.slide_s
    assigned = assign_fixed_windows(df, cfg, ts_col=ts_col)
    agg = assigned.groupBy(entity_col, "window_start_sec").agg(
        F.count("*").alias("n_turns"),
        F.sum(cost_col).alias("total_cost"),
    )
    bounds = df.groupBy(entity_col).agg(
        (F.floor(F.min(_epoch(ts_col)) / s) * s).alias("_mn"),
        (F.ceil(F.max(_epoch(ts_col)) / s) * s).alias("_mx"),
    )
    clamped = agg.join(bounds, [entity_col]).where(
        F.col("window_start_sec").between(F.col("_mn"), F.col("_mx"))
    )
    base = bounds.join(
        clamped.select(
            entity_col, "window_start_sec", "n_turns", "total_cost"
        ),
        [entity_col],
        "left",
    )
    w = Window.partitionBy(entity_col).orderBy(
        F.asc_nulls_first("window_start_sec")
    )
    gap_start = F.coalesce(
        F.lag("window_start_sec").over(w) + s, F.col("_mn")
    )
    gen_end = F.when(
        F.lead("window_start_sec").over(w).isNull(), F.col("_mx")
    ).otherwise(F.col("window_start_sec"))
    runs = base.select(
        entity_col,
        "window_start_sec",
        "n_turns",
        "total_cost",
        gap_start.alias("_gs"),
        gen_end.alias("_ge"),
    )
    gen = runs.select(
        entity_col,
        "window_start_sec",
        "n_turns",
        "total_cost",
        F.explode(
            F.sequence(F.col("_gs"), F.col("_ge"), F.lit(s))
        ).alias("_ws"),
    )
    nonempty = F.col("_ws") == F.col("window_start_sec")
    out = gen.select(
        entity_col,
        F.col("_ws").alias("window_start_sec"),
        F.coalesce(F.when(nonempty, F.col("n_turns")), F.lit(0))
        .cast("long")
        .alias("n_turns"),
        F.coalesce(F.when(nonempty, F.col("total_cost")), F.lit(0))
        .cast("long")
        .alias("total_cost"),
        (~F.col("_ws").eqNullSafe(F.col("window_start_sec"))).alias(
            "is_empty"
        ),
    )
    if cfg.business_hour_min is not None:
        out = out.where(
            F.hour(F.timestamp_seconds("window_start_sec"))
            > cfg.business_hour_min
        )
    return out


def metrics_summary(metrics: DataFrame) -> DataFrame:
    """Roll the per-window metrics up to the run-level counters the
    reference logs (used-empty-windows / total, total cost)."""
    return metrics.agg(
        F.count("*").alias("n_windows"),
        F.sum(F.col("is_empty").cast("long")).alias("n_empty"),
        F.round(
            F.sum(F.col("is_empty").cast("double")) / F.count("*"), 6
        ).alias("empty_rate"),
        F.sum("total_cost").alias("total_cost"),
    )


def session_window_agg(
    df: DataFrame,
    gap_s: int,
    entity_col: str = "conv_id",
    ts_col: str = "ts",
    value_col: str | None = None,
) -> DataFrame:
    """Per-entity session aggregation via Spark's NATIVE
    ``F.session_window`` (the same operator the streaming engine uses
    for watermarked session windows — here exercised in batch, so the
    batch and streaming paths share one definition of "session").
    Semantics (verified against Spark 4.1): an event extends the
    session while it starts AT OR before the current session end
    (last_ts + gap) — an exact-gap arrival MERGES; the split happens
    only when the gap is strictly exceeded.  Identical to the
    lag-flag formulation in :func:`sessionize.sessionize` with a
    ``> gap`` split, which is how the driver oracle replays it.

    The timestamp is truncated to whole seconds BEFORE windowing so
    gap arithmetic is integral and engine-exact.  One shuffle on the
    entity key; the session merge is Spark's built-in sort-based
    merging, no Python.

    Output: (entity_col, session_start, session_end = last+gap,
    n_events[, total = sum(value_col) rounded 4dp]).
    """
    sec_ts = (
        F.col(ts_col).cast("timestamp").cast("long").cast("timestamp")
    )
    aggs = [F.count(F.lit(1)).alias("n_events")]
    if value_col is not None:
        aggs.append(F.round(F.sum(value_col), 4).alias("total"))
    out = df.groupBy(
        entity_col, F.session_window(sec_ts, f"{int(gap_s)} seconds")
    ).agg(*aggs)
    return out.select(
        entity_col,
        F.col("session_window.start").cast("long").alias("session_start"),
        F.col("session_window.end").cast("long").alias("session_end"),
        *(
            ["n_events", "total"]
            if value_col is not None
            else ["n_events"]
        ),
    )
