"""Flagship and point-in-time window family: the transcript window
features (built-in and salted-merge selectors), as-of joins, trailing,
tumbling, strided and session windows, backfill spines, window metrics,
interval union/join and the OR-window merge."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from queries._common import _EV_TS, _events


SESSION_GAP_S = 1800


def _q_pit_window_sum(spark, sf_dir):
    """W2/W3: right-closed trailing (ts−300s, ts] per-entity window agg."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_sec").rangeBetween(-299, 0)
    return ev.select(
        "event_id",
        "user_id",
        "ts_sec",
        F.round(F.sum("value").over(w), 4).alias("w_sum"),
        F.count("*").over(w).alias("w_cnt"),
    )


def _q_sessionize(spark, sf_dir):
    """Gap-based sessionization with monotonic session_id (running sum
    of gap-exceeded flags)."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
    gap = F.col("ts_sec") - F.lag("ts_sec").over(w)
    flag = F.when(gap > SESSION_GAP_S, F.lit(1)).otherwise(F.lit(0))
    return ev.select(
        "event_id",
        "user_id",
        "ts_sec",
        F.sum(flag)
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("session_id"),
    )


def _q_session_window(spark, sf_dir):
    """Spark-native F.session_window (batch mode, second-truncated
    timestamps) pinned against the classic lag-flag gap-session SQL:
    merge at diff <= gap, split at diff > gap, end = last + gap."""
    from sqlfeatureextraction_spark.operators.windows import (
        session_window_agg,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return session_window_agg(
        ev, gap_s=300, entity_col="user_id", value_col="value"
    )


def _q_lag_lead(spark, sf_dir):
    """W10/P9 analog: lag gap + lead value per entity, stable order."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        (F.col("ts_sec") - F.lag("ts_sec").over(w)).alias("prev_gap_s"),
        F.lead("value").over(w).alias("next_value"),
    )


def _q_topk_per_group(spark, sf_dir):
    """W6/W7: top-3 rows per entity by value (cost) desc, defined ties.

    The map-side WindowGroupLimit (partial top-3 per task before the
    exchange) only helps if the scan actually parallelizes — a
    single-row-group file would run the pre-shuffle sort serially, so
    spread such scans first (no-op at real scale).  Spreading BY THE
    WINDOW KEY (user_id) lets the rank window reuse the spread's
    hashpartitioning, so the plan has ONE exchange instead of a
    synthetic-key spread followed by an ENSURE_REQUIREMENTS exchange
    on user_id; the columns are projected first so the exchange
    carries 4 narrow columns, not the whole event row."""
    from sqlfeatureextraction_spark.scanspread import spread_small_scan

    ev = spread_small_scan(
        _events(spark, sf_dir).select(
            "user_id", "event_id", "value"
        ),
        "user_id",
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        ev.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("user_id", "rk", "event_id", "value")
    )


def _q_asof_last_match(spark, sf_dir):
    """J4 as-of lookup: most recent 'signup' value at-or-before each
    event (backward as-of via last(ignorenulls) running window)."""
    ev = _events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_sec", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sig = F.when(F.col("event_type") == "signup", F.col("value"))
    return ev.select(
        "event_id",
        "user_id",
        F.last(sig, ignorenulls=True).over(w).alias("last_signup_value"),
    )


def _q_backfill_spine(spark, sf_dir):
    """W5 backfill: dense per-entity minute spine, zero-filled counts.

    Formulation: gap-fill between consecutive event-minutes via lag
    (the spine [min..max] per user is exactly the union of
    [prev_minute+1 .. minute] runs, since min/max minutes both carry
    events).  Equivalent rows to the bounds-spine LEFT JOIN form, but
    the dense spine (~100-600x the input) is GENERATED with its count
    already attached — no join probe per generated row, no second
    scan of the input, no broadcast of the per-minute counts (which
    at real scale would not be broadcastable at all)."""
    ev = _events(spark, sf_dir).withColumn(
        "minute", F.floor(F.col("ts_sec") / 60).cast("long")
    )
    # one exchange total: clustering by user_id up front satisfies the
    # (user_id, minute) groupBy AND the lag window, and parallelizes
    # the aggregation even when the scan is a serial single-row-group
    # read (the partial agg would otherwise run on one task)
    cnt = (
        ev.repartition("user_id")
        .groupBy("user_id", "minute")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("user_id").orderBy("minute")
    run = cnt.withColumn(
        "gap_start",
        F.coalesce(F.lag("minute").over(w) + 1, F.col("minute")),
    )
    return run.select(
        "user_id",
        F.col("minute").alias("ev_minute"),
        "n",
        F.explode(F.sequence("gap_start", "minute")).alias("minute"),
    ).select(
        "user_id",
        "minute",
        F.when(F.col("minute") == F.col("ev_minute"), F.col("n"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("n_events"),
    )


def _q_transcript_window_features(spark, sf_dir):
    """Flagship point-in-time window features over the transcript view
    of events, projected to oracle-checkable scalars (width, tool-intent
    bits, per-segment sums and the vector sum per (conv_id, ts_sec)
    anchor).  The gate rows ``transcript_window_features`` and
    ``transcript_wf_merge`` both run it.

    The window engine's member rows (``select_members_salted`` over the
    raw turns: encode, select and per-segment sums in one salted Arrow
    pass) reduced by the scalar finisher's JVM sums — equal to reducing
    the dense window vectors (pinned by
    tests/test_asof_merge.py::test_selectors_and_finishers).  Nothing
    is cached: the vocabulary fit and the pass each scan the
    transcripts."""
    from sqlfeatureextraction_spark.config import FeatureConfig
    from sqlfeatureextraction_spark.operators.asof_merge import (
        select_members_salted,
    )
    from sqlfeatureextraction_spark.operators.pit_window import scalar_finish
    from sqlfeatureextraction_spark.synth import events_as_transcripts
    from sqlfeatureextraction_spark.vocab import fit_vocabulary

    cfg = FeatureConfig()
    tx = events_as_transcripts(spark, sf_dir)
    vocab = fit_vocabulary(tx, max_tokens=256)
    layout = vocab.layout(n_grans=len(cfg.granularities_s))
    members = select_members_salted(tx, vocab, cfg)
    return scalar_finish(members, vocab, cfg, layout)


def _q_tumbling_window_agg(spark, sf_dir):
    """W1 tumbling windows, right-closed (start, start+300]."""
    ev = _events(spark, sf_dir)
    ws = (F.ceil(F.col("ts_sec") / 300) * 300 - 300).cast("long")
    return (
        ev.withColumn("window_start_sec", ws)
        .groupBy("user_id", "window_start_sec")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("w_sum"),
        )
    )


def _q_sliding_window_count(spark, sf_dir):
    """W1 strided windows (W=300s, slide=60s) via per-row sequence
    explode — each event lands in exactly 5 windows."""
    from sqlfeatureextraction_spark.config import FeatureConfig
    from sqlfeatureextraction_spark.operators.windows import assign_fixed_windows

    cfg = FeatureConfig(window_size_s=300, slide_s=60)
    ev = _events(spark, sf_dir)
    return (
        assign_fixed_windows(ev, cfg, ts_col="ts")
        .groupBy("user_id", "window_start_sec")
        .agg(F.count("*").alias("n_events"))
    )


def _q_session_stats(spark, sf_dir):
    """Sessionize + per-session aggregates (counts, bounds, duration)."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
    gap = F.col("ts_sec") - F.lag("ts_sec").over(w)
    flag = F.when(gap > SESSION_GAP_S, F.lit(1)).otherwise(F.lit(0))
    sess = ev.withColumn(
        "session_id",
        F.sum(flag).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts_sec").alias("start_sec"),
        F.max("ts_sec").alias("end_sec"),
        (F.max("ts_sec") - F.min("ts_sec")).alias("duration_s"),
    )


def _q_fixed_window_expand(spark, sf_dir):
    """W4 window expansion: strided windows (W=300, slide=60) with
    3× shifted augmentation; per-window event counts."""
    from sqlfeatureextraction_spark.config import FeatureConfig
    from sqlfeatureextraction_spark.operators.windows import (
        assign_fixed_windows,
        expand_windows,
    )

    cfg = FeatureConfig(window_size_s=300, slide_s=60)
    ev = _events(spark, sf_dir)
    w = expand_windows(assign_fixed_windows(ev, cfg, ts_col="ts"), cfg, 3)
    return w.groupBy("user_id", "window_start_sec").agg(
        F.count("*").alias("n_events")
    )


def _q_session_validity(spark, sf_dir):
    """D6 session validity gate (reference 2 ≤ n < 50): sessionized
    events surviving the per-session turn-count filter."""
    from sqlfeatureextraction_spark.operators.sessionize import (
        filter_valid_sessions,
        sessionize,
    )

    ev = _events(spark, sf_dir).withColumnRenamed("user_id", "conv_id")
    sess = sessionize(
        ev, gap_s=SESSION_GAP_S, ts_col="ts", order_cols=("event_id",)
    )
    kept = filter_valid_sessions(sess, min_turns=2, max_turns=50)
    return kept.select(
        "event_id",
        F.col("conv_id").alias("user_id"),
        F.col("session_id").cast("long").alias("session_id"),
    )


def _q_reorganize_chains(spark, sf_dir):
    """W9 lead-chaining: for every event, the chain of 'first row past
    the running W-window end' hops — via the DISTRIBUTED hop-map path
    (bucketed forward as-of + iterative joins; no per-conversation
    single task), equality-pinned against the local pandas path in
    pytest."""
    from sqlfeatureextraction_spark.operators.reorganize import (
        reorganize_sessions_distributed,
    )
    from sqlfeatureextraction_spark.synth import conv_id_col

    ev = _events(spark, sf_dir).select(
        conv_id_col(F.col("user_id")).alias("conv_id"), "ts"
    )
    out = reorganize_sessions_distributed(
        ev, window_s=7200, max_hops=8, entity_col="conv_id", ts_col="ts"
    )
    return out.select(
        "conv_id",
        "chain_start_sec",
        "seq",
        F.col("ts").cast("timestamp").cast("long").alias("ts_sec"),
    )


def _q_or_combine(spark, sf_dir):
    """A4 bitwise-OR window merge (reference updateMinBitSet,
    enc/MinWindowQueryIntent.java:124-153): per (conv_id, ts) anchor,
    the element-wise OR of all member turn vectors in the trailing
    right-closed window, projected to per-segment popcounts the DuckDB
    oracle re-derives from the generating columns (OR popcount =
    |union of member bit sets| per segment)."""
    from sqlfeatureextraction_spark.config import FeatureConfig
    from sqlfeatureextraction_spark.operators.asof_merge import (
        or_combine_window_features,
    )
    from sqlfeatureextraction_spark.synth import events_as_transcripts
    from sqlfeatureextraction_spark.vocab import fit_vocabulary

    cfg = FeatureConfig()
    tx = events_as_transcripts(spark, sf_dir)
    vocab = fit_vocabulary(tx, max_tokens=256)
    layout = vocab.layout(n_grans=len(cfg.granularities_s))
    wf = or_combine_window_features(tx, vocab, cfg)

    def seg_sum(name):
        s = layout.seg(name)
        return F.aggregate(
            F.slice("window_features_or", s.offset + 1, s.width),
            F.lit(0.0),
            lambda a, v: a + v,
        ).cast("long")

    total = F.aggregate(
        F.col("window_features_or"), F.lit(0.0), lambda a, v: a + v
    ).cast("long")
    return wf.select(
        "conv_id",
        F.col("ts").cast("timestamp").cast("long").alias("ts_sec"),
        seg_sum("time").alias("time_or"),
        seg_sum("role").alias("role_or"),
        seg_sum("tool").alias("tool_or"),
        seg_sum("bow").alias("bow_or"),
        seg_sum("lag").alias("lag_or"),
        total.alias("or_popcount"),
    )


def _q_window_metrics(spark, sf_dir):
    """A7/S7: per-window total-cost metrics over the dense FIXED spine
    including empty windows (the reference's windowed cost + empty-rate
    logging as an aggregate job)."""
    from sqlfeatureextraction_spark.config import FeatureConfig
    from sqlfeatureextraction_spark.operators.windows import (
        window_cost_metrics,
    )

    from sqlfeatureextraction_spark.scanspread import spread_small_scan

    cfg = FeatureConfig(window_size_s=300, slide_s=60)
    ev = _events(spark, sf_dir).withColumn(
        "cost", (F.col("value") * 1000).cast("long")
    )
    # spread the (single-row-group) scan BY THE ENTITY KEY: the
    # window-assign explode, both aggregations, the clamp joins and
    # the gap-fill window inside window_cost_metrics all cluster by
    # user_id, so this one narrow exchange serves the entire chain
    # (no-op at real scale, where partial aggregation + one
    # post-agg exchange is the right topology)
    ev = spread_small_scan(
        ev.select("user_id", "ts", "cost"), "user_id"
    )
    return window_cost_metrics(
        ev, cfg, entity_col="user_id", ts_col="ts", cost_col="cost"
    )


def _q_asof_join_orders(spark, sf_dir):
    """J4 generic two-table as-of join: newest order (by custkey) at or
    before each event ts — union-trick formulation; right side deduped
    per (key, ts) for cross-engine determinism."""
    from sqlfeatureextraction_spark.operators.asof_join import asof_join

    e = _events(spark, sf_dir).select("event_id", "user_id", "ts_sec")
    o = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").cast("timestamp").cast("long").alias("ts_sec"),
            F.col("o_totalprice").alias("price"),
        )
        .groupBy("user_id", "ts_sec")
        .agg(F.max("price").alias("price"))
    )
    return asof_join(e, o, on="ts_sec", by="user_id", value_cols=("price",))


def _q_merge_intervals(spark, sf_dir):
    """F13 interval union: [ts, ts+600] per event, merged per user
    (gaps-and-islands with window functions)."""
    from sqlfeatureextraction_spark.operators.intervals import merge_intervals

    ev = _events(spark, sf_dir).select(
        "user_id",
        F.col("ts_sec").alias("start_s"),
        (F.col("ts_sec") + 600).alias("end_s"),
    )
    return merge_intervals(ev, key_col="user_id")


def _q_interval_join(spark, sf_dir):
    """Containment join via bucketized equi-join: probes (ts+300 hits
    its event's merged island; every 7th probe is shifted +1e6 s and
    misses) LEFT-joined to the same merged islands as merge_intervals.
    Spark's native plan for the range predicate is a
    BroadcastNestedLoopJoin; the operator replicates intervals into
    fixed-width buckets and equi-joins on (key, bucket) instead."""
    from sqlfeatureextraction_spark.operators.intervals import (
        interval_join,
        merge_intervals,
    )

    ev = _events(spark, sf_dir).select(
        "user_id",
        F.col("ts_sec").alias("start_s"),
        (F.col("ts_sec") + 600).alias("end_s"),
    )
    islands = merge_intervals(ev, key_col="user_id").drop("n_merged")
    probes = _events(spark, sf_dir).select(
        "user_id",
        "event_id",
        (
            F.col("ts_sec")
            + F.when(F.col("event_id") % 7 == 0, 1000000).otherwise(300)
        ).alias("ts_p"),
    )
    return interval_join(
        probes,
        islands,
        key_col="user_id",
        ts_col="ts_p",
        bucket_s=3600,
        how="left",
    )


def _q_session_split(spark, sf_dir):
    """Per-session ordered train/test split (the reference's dataset
    step: first floor(n·0.8) lines of each session → train,
    enc/APMWindowFragmentIntent.java:560-587) over the events-as-
    sessions adapter; deterministic under (ts, event_id) order."""
    from sqlfeatureextraction_spark.operators.sessionize import (
        train_test_split_by_session,
    )

    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .where(F.col("user_id") % 10 == 0)
        .select(
            F.col("user_id").cast("long").alias("conv_id"),
            F.col("event_id").cast("long").alias("sql_id"),
            "ts",
        )
    )
    out = train_test_split_by_session(
        ev, entity_col="conv_id", order_cols=("ts", "sql_id")
    )
    return out.select("conv_id", "sql_id", "split")


def _flagship_oracle_sql() -> str:
    """Independent DuckDB re-derivation of the flagship scalar
    projection (width / tool-segment sum / whole-vector sum per
    (conv_id, ts_sec) anchor).

    The Spark engine dedupes window members by (tool, xxhash64(vector));
    vector equality is equivalent to equality of the vector's input
    components — (dow, hour, role, lag-bucket pattern, in-vocab token
    set) — which SQL canonicalizes as the ``intent`` string (role is
    constant 'user' in the events-as-transcripts adapter; the lag bit
    pattern is monotone in the thresholds, so it is determined by its
    popcount).  Per-turn vector sum = 2 time bits + 1 role bit + 1 tool
    bit + |in-vocab token set| + lag popcount."""
    from sqlfeatureextraction_spark.config import FeatureConfig

    cfg = FeatureConfig()
    grans = cfg.granularities_s
    n_grans = len(grans)
    w, k, n = cfg.window_size_s, cfg.top_k_entities, cfg.top_n_members
    lag_sum = (
        f"CASE WHEN lag_sec IS NULL THEN {n_grans} ELSE "
        + " + ".join(
            f"(CASE WHEN lag_sec >= {g} THEN 1 ELSE 0 END)" for g in grans
        )
        + " END"
    )
    tok = (
        "list_filter(string_split_regex(lower(coalesce(props, '')),"
        " '[^a-z0-9]+'), x -> x <> '')"
    )
    return f"""
        WITH tokt AS (
          SELECT user_id, event_id, UNNEST({tok}) AS t FROM events
        ),
        vcb AS (
          SELECT t FROM (
            SELECT t, COUNT(*) AS n FROM tokt GROUP BY t
            ORDER BY n DESC, t ASC LIMIT 256
          )
        ),
        tools AS (SELECT DISTINCT coalesce(event_type, '') AS tool FROM events),
        turn AS (
          SELECT printf('u%05d', user_id) AS conv_id, user_id, event_id,
                 coalesce(event_type, '') AS tool, ts,
                 CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
                 CAST(trunc(value * 1000) AS BIGINT) AS cost
          FROM events
        ),
        ivt AS (
          SELECT user_id, event_id, list_sort(list(DISTINCT t)) AS iv
          FROM tokt JOIN vcb USING (t) GROUP BY user_id, event_id
        ),
        tf AS (
          SELECT turn.*,
                 coalesce(len(iv), 0) AS bow_sum,
                 coalesce(array_to_string(iv, ' '), '') AS tokkey,
                 isodow(ts) - 1 AS dow, hour(ts) AS hr,
                 ts_sec - LAG(ts_sec) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id) AS lag_sec
          FROM turn LEFT JOIN ivt USING (user_id, event_id)
        ),
        tf2 AS (
          SELECT *, {lag_sum} AS lag_sum,
                 concat(dow, '|', hr, '|', {lag_sum}, '|', tokkey) AS intent
          FROM tf
        ),
        tf3 AS (SELECT *, 4 + bow_sum + lag_sum AS vec_sum FROM tf2),
        anch AS (SELECT DISTINCT user_id, conv_id, ts_sec FROM tf3),
        mem AS (
          SELECT a.user_id, a.conv_id, a.ts_sec AS a_ts,
                 f.tool, f.intent, f.cost, f.ts_sec AS m_ts,
                 f.event_id AS m_turn, f.vec_sum, f.bow_sum, f.lag_sum
          FROM anch a JOIN tf3 f ON a.user_id = f.user_id
           AND f.ts_sec > a.ts_sec - {w} AND f.ts_sec <= a.ts_sec
        ),
        ddr AS (
          SELECT *,
            SUM(cost) OVER (PARTITION BY user_id, a_ts, tool, intent)
              AS g_cost,
            ROW_NUMBER() OVER (PARTITION BY user_id, a_ts, tool, intent
                               ORDER BY m_ts, m_turn) AS rn
          FROM mem
        ),
        dd AS (SELECT * FROM ddr WHERE rn = 1),
        rk AS (
          SELECT *,
            SUM(g_cost) OVER (PARTITION BY user_id, a_ts, tool) AS tool_cost
          FROM dd
        ),
        rk2 AS (
          SELECT *,
            DENSE_RANK() OVER (PARTITION BY user_id, a_ts
                               ORDER BY tool_cost DESC, tool ASC) AS slot,
            ROW_NUMBER() OVER (PARTITION BY user_id, a_ts, tool
                               ORDER BY g_cost DESC, m_ts ASC, m_turn ASC)
              AS mi
          FROM rk
        ),
        sel AS (SELECT * FROM rk2 WHERE slot <= {k} AND mi <= {n})
        SELECT conv_id, a_ts AS ts_sec,
          CAST((SELECT COUNT(*) FROM tools)
               + {k * n} * (31 + 1 + (SELECT COUNT(*) FROM tools)
                            + (SELECT COUNT(*) FROM vcb) + {n_grans})
               AS INT) AS width,
          CAST(COUNT(DISTINCT tool) AS BIGINT) AS tool_bits,
          CAST(2 * COUNT(*) AS BIGINT) AS time_sum,
          CAST(COUNT(*) AS BIGINT) AS role_sum,
          CAST(COUNT(*) AS BIGINT) AS tool_sum,
          CAST(SUM(bow_sum) AS BIGINT) AS bow_sum,
          CAST(SUM(lag_sum) AS BIGINT) AS lag_sum,
          CAST(COUNT(DISTINCT tool) + SUM(vec_sum) AS BIGINT) AS feat_sum
        FROM sel GROUP BY conv_id, a_ts
    """


def _or_combine_oracle_sql() -> str:
    """Independent DuckDB re-derivation of the A4 OR-window per-segment
    popcounts.  OR popcount = |union of member bit sets| per segment,
    re-derived from the GENERATING columns: time = distinct dow values
    + distinct hour values, role = 1 (constant 'user'), tool = distinct
    tools (all in-vocab: the tool dictionary is fitted from the same
    data), bow = distinct in-vocab tokens over all member texts, lag =
    MAX member lag popcount (the default granularities are ascending,
    so each member's lag bits are a prefix and the union is the longest
    prefix)."""
    from sqlfeatureextraction_spark.config import FeatureConfig

    cfg = FeatureConfig()
    grans = cfg.granularities_s
    n_grans = len(grans)
    w = cfg.window_size_s
    lag_sum = (
        f"CASE WHEN lag_sec IS NULL THEN {n_grans} ELSE "
        + " + ".join(
            f"(CASE WHEN lag_sec >= {g} THEN 1 ELSE 0 END)" for g in grans
        )
        + " END"
    )
    tok = (
        "list_filter(string_split_regex(lower(coalesce(props, '')),"
        " '[^a-z0-9]+'), x -> x <> '')"
    )
    return f"""
        WITH tokt AS (
          SELECT user_id, event_id, UNNEST({tok}) AS t FROM events
        ),
        vcb AS (
          SELECT t FROM (
            SELECT t, COUNT(*) AS n FROM tokt GROUP BY t
            ORDER BY n DESC, t ASC LIMIT 256
          )
        ),
        turn AS (
          SELECT printf('u%05d', user_id) AS conv_id, user_id, event_id,
                 coalesce(event_type, '') AS tool, ts,
                 CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
          FROM events
        ),
        tf AS (
          SELECT turn.*,
                 isodow(ts) - 1 AS dow, hour(ts) AS hr,
                 ts_sec - LAG(ts_sec) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id) AS lag_sec
          FROM turn
        ),
        tf2 AS (SELECT *, {lag_sum} AS lag_sum FROM tf),
        anch AS (SELECT DISTINCT user_id, conv_id, ts_sec FROM tf2),
        mem AS (
          SELECT a.user_id, a.conv_id, a.ts_sec AS a_ts,
                 f.event_id, f.tool, f.dow, f.hr, f.lag_sum
          FROM anch a JOIN tf2 f ON a.user_id = f.user_id
           AND f.ts_sec > a.ts_sec - {w} AND f.ts_sec <= a.ts_sec
        ),
        bowc AS (
          SELECT m.user_id, m.a_ts, COUNT(DISTINCT tk.t) AS bow_or
          FROM mem m
          JOIN tokt tk
            ON m.user_id = tk.user_id AND m.event_id = tk.event_id
          JOIN vcb ON tk.t = vcb.t
          GROUP BY m.user_id, m.a_ts
        ),
        agg AS (
          SELECT user_id, conv_id, a_ts,
                 COUNT(DISTINCT dow) + COUNT(DISTINCT hr) AS time_or,
                 COUNT(DISTINCT tool) AS tool_or,
                 MAX(lag_sum) AS lag_or
          FROM mem GROUP BY user_id, conv_id, a_ts
        )
        SELECT g.conv_id, g.a_ts AS ts_sec,
               CAST(g.time_or AS BIGINT) AS time_or,
               CAST(1 AS BIGINT) AS role_or,
               CAST(g.tool_or AS BIGINT) AS tool_or,
               CAST(coalesce(b.bow_or, 0) AS BIGINT) AS bow_or,
               CAST(g.lag_or AS BIGINT) AS lag_or,
               CAST(g.time_or + 1 + g.tool_or + coalesce(b.bow_or, 0)
                    + g.lag_or AS BIGINT) AS or_popcount
        FROM agg g LEFT JOIN bowc b
          ON g.user_id = b.user_id AND g.a_ts = b.a_ts
    """


ORACLE = {
    "pit_window_sum": f"""
            SELECT event_id, user_id, ts_sec,
                   ROUND(SUM(value) OVER w, 4) AS w_sum,
                   COUNT(*) OVER w AS w_cnt
            FROM ({_EV_TS})
            WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec
                         RANGE BETWEEN 299 PRECEDING AND CURRENT ROW)
        """,
    # native session_window equivalence: gap sessions split when
    # the (second-floored) diff strictly exceeds 300s
    "session_window_native": f"""
            WITH o AS (
              SELECT user_id, ts_sec, event_id, value,
                     LAG(ts_sec) OVER (
                       PARTITION BY user_id ORDER BY ts_sec, event_id
                     ) AS prev
              FROM ({_EV_TS})
            ),
            s AS (
              SELECT *, SUM(CASE WHEN prev IS NULL
                                   OR ts_sec - prev > 300
                                 THEN 1 ELSE 0 END) OVER (
                PARTITION BY user_id ORDER BY ts_sec, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
              ) AS sid
              FROM o
            )
            SELECT user_id,
                   MIN(ts_sec) AS session_start,
                   MAX(ts_sec) + 300 AS session_end,
                   COUNT(*) AS n_events,
                   ROUND(SUM(value), 4) AS total
            FROM s
            GROUP BY user_id, sid
        """,
    "sessionize": f"""
            WITH g AS (
              SELECT event_id, user_id, ts_sec,
                     ts_sec - LAG(ts_sec) OVER
                       (PARTITION BY user_id ORDER BY ts_sec, event_id) AS gap
              FROM ({_EV_TS})
            )
            SELECT event_id, user_id, ts_sec,
                   CAST(SUM(CASE WHEN gap > {SESSION_GAP_S} THEN 1 ELSE 0 END)
                        OVER
                     (PARTITION BY user_id ORDER BY ts_sec, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS session_id
            FROM g
        """,
    "lag_lead": f"""
            SELECT event_id, user_id,
                   ts_sec - LAG(ts_sec) OVER w AS prev_gap_s,
                   LEAD(value) OVER w AS next_value
            FROM ({_EV_TS})
            WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec, event_id)
        """,
    "topk_per_group": """
            SELECT user_id, rk, event_id, value FROM (
              SELECT user_id, event_id, value,
                     CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                        ORDER BY value DESC, event_id ASC) AS INT) AS rk
              FROM events
            ) WHERE rk <= 3
        """,
    "asof_last_match": f"""
            SELECT event_id, user_id,
                   LAST_VALUE(CASE WHEN event_type = 'signup' THEN value END
                              IGNORE NULLS) OVER
                     (PARTITION BY user_id ORDER BY ts_sec, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS last_signup_value
            FROM ({_EV_TS})
        """,
    "backfill_spine": f"""
            WITH e AS (
              SELECT user_id, ts_sec // 60 AS minute FROM ({_EV_TS})
            ),
            b AS (SELECT user_id, MIN(minute) AS mn, MAX(minute) AS mx
                  FROM e GROUP BY user_id),
            s AS (SELECT user_id, UNNEST(range(mn, mx + 1)) AS minute FROM b),
            c AS (SELECT user_id, minute, COUNT(*) AS n
                  FROM e GROUP BY user_id, minute)
            SELECT s.user_id, s.minute,
                   CAST(COALESCE(c.n, 0) AS BIGINT) AS n_events
            FROM s LEFT JOIN c USING (user_id, minute)
        """,
    "tumbling_window_agg": f"""
            SELECT user_id,
                   CAST(ceil(ts_sec / 300.0) * 300 - 300 AS BIGINT)
                     AS window_start_sec,
                   COUNT(*) AS n_events,
                   ROUND(SUM(value), 4) AS w_sum
            FROM ({_EV_TS})
            GROUP BY 1, 2
        """,
    "sliding_window_count": f"""
            WITH x AS (
              SELECT user_id,
                     UNNEST(range(
                       CAST(ceil((ts_sec - 300) / 60.0) * 60 AS BIGINT),
                       CAST(ceil(ts_sec / 60.0) * 60 - 60 AS BIGINT) + 1,
                       60)) AS window_start_sec
              FROM ({_EV_TS})
            )
            SELECT user_id, window_start_sec, COUNT(*) AS n_events
            FROM x GROUP BY 1, 2
        """,
    "session_stats": f"""
            WITH g AS (
              SELECT user_id, event_id, ts_sec,
                     ts_sec - LAG(ts_sec) OVER
                       (PARTITION BY user_id ORDER BY ts_sec, event_id) AS gap
              FROM ({_EV_TS})
            ),
            s AS (
              SELECT user_id, ts_sec,
                     CAST(SUM(CASE WHEN gap > {SESSION_GAP_S} THEN 1 ELSE 0
                              END)
                       OVER (PARTITION BY user_id ORDER BY ts_sec, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS session_id
              FROM g
            )
            SELECT user_id, session_id, COUNT(*) AS n_events,
                   MIN(ts_sec) AS start_sec, MAX(ts_sec) AS end_sec,
                   MAX(ts_sec) - MIN(ts_sec) AS duration_s
            FROM s GROUP BY user_id, session_id
        """,
    "asof_join_orders": f"""
            WITH e AS (
              SELECT event_id, user_id, ts_sec FROM ({_EV_TS})
            ),
            o AS (
              SELECT o_custkey AS user_id,
                     CAST(floor(epoch(CAST(o_orderdate AS TIMESTAMP)))
                          AS BIGINT) AS ts_sec,
                     MAX(o_totalprice) AS price
              FROM orders GROUP BY 1, 2
            )
            SELECT e.event_id, e.user_id, e.ts_sec,
                   o.ts_sec AS asof_ts_asof, o.price AS price_asof
            FROM e ASOF LEFT JOIN o
              ON e.user_id = o.user_id AND o.ts_sec <= e.ts_sec
        """,
    "merge_intervals": f"""
            WITH iv AS (
              SELECT user_id, ts_sec AS start_s, ts_sec + 600 AS end_s
              FROM ({_EV_TS})
            ),
            flagged AS (
              SELECT user_id, start_s, end_s,
                CASE WHEN MAX(end_s) OVER
                  (PARTITION BY user_id ORDER BY start_s, end_s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                  OR start_s > MAX(end_s) OVER
                  (PARTITION BY user_id ORDER BY start_s, end_s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                THEN 1 ELSE 0 END AS new_island
              FROM iv
            ),
            islands AS (
              SELECT user_id, start_s, end_s,
                SUM(new_island) OVER
                  (PARTITION BY user_id ORDER BY start_s, end_s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
              FROM flagged
            )
            SELECT user_id, MIN(start_s) AS island_start,
                   MAX(end_s) AS island_end, COUNT(*) AS n_merged
            FROM islands GROUP BY user_id, isl
        """,
    # containment join vs the same merged islands; DuckDB does the
    # range predicate directly, the engine does the bucketized
    # equi-join — identical pairs because islands are disjoint
    "interval_join": f"""
            WITH iv AS (
              SELECT user_id, ts_sec AS start_s, ts_sec + 600 AS end_s
              FROM ({_EV_TS})
            ),
            flagged AS (
              SELECT user_id, start_s, end_s,
                CASE WHEN MAX(end_s) OVER
                  (PARTITION BY user_id ORDER BY start_s, end_s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                  OR start_s > MAX(end_s) OVER
                  (PARTITION BY user_id ORDER BY start_s, end_s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                THEN 1 ELSE 0 END AS new_island
              FROM iv
            ),
            islands AS (
              SELECT user_id, MIN(start_s) AS island_start,
                     MAX(end_s) AS island_end
              FROM (
                SELECT user_id, start_s, end_s,
                  SUM(new_island) OVER
                    (PARTITION BY user_id ORDER BY start_s, end_s
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
                FROM flagged
              ) GROUP BY user_id, isl
            ),
            probes AS (
              SELECT user_id, event_id,
                     ts_sec + CASE WHEN event_id % 7 = 0
                                   THEN 1000000 ELSE 300 END AS ts_p
              FROM ({_EV_TS})
            )
            SELECT p.user_id, p.event_id, p.ts_p,
                   i.island_start, i.island_end
            FROM probes p LEFT JOIN islands i
              ON p.user_id = i.user_id
             AND p.ts_p >= i.island_start AND p.ts_p <= i.island_end
        """,
    "session_split": """
            SELECT conv_id, sql_id,
                   CASE WHEN rn <= CAST(floor(n * 0.8) AS INT)
                        THEN 'train' ELSE 'test' END AS split
            FROM (
              SELECT CAST(user_id AS BIGINT) AS conv_id,
                     CAST(event_id AS BIGINT) AS sql_id,
                     ROW_NUMBER() OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS rn,
                     COUNT(*) OVER (PARTITION BY user_id) AS n
              FROM events WHERE user_id % 10 = 0
            )
        """,
    "fixed_window_expand": f"""
            WITH x AS (
              SELECT user_id,
                     UNNEST(range(
                       CAST(ceil((ts_sec - 300) / 60.0) * 60 AS BIGINT),
                       CAST(ceil(ts_sec / 60.0) * 60 - 60 AS BIGINT) + 1,
                       60)) AS ws
              FROM ({_EV_TS})
            ),
            y AS (
              SELECT user_id, ws - j * 60 AS window_start_sec
              FROM x CROSS JOIN (SELECT UNNEST(range(3)) AS j)
            )
            SELECT user_id, window_start_sec, COUNT(*) AS n_events
            FROM y GROUP BY 1, 2
        """,
    "session_validity": f"""
            WITH g AS (
              SELECT event_id, user_id, ts_sec,
                     ts_sec - LAG(ts_sec) OVER
                       (PARTITION BY user_id ORDER BY ts_sec, event_id) AS gap
              FROM ({_EV_TS})
            ),
            s AS (
              SELECT event_id, user_id,
                     CAST(SUM(CASE WHEN gap > {SESSION_GAP_S} THEN 1 ELSE 0
                              END)
                       OVER (PARTITION BY user_id ORDER BY ts_sec, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS session_id
              FROM g
            ),
            c AS (
              SELECT *, COUNT(*) OVER (PARTITION BY user_id, session_id)
                     AS n
              FROM s
            )
            SELECT event_id, user_id, session_id FROM c
            WHERE n >= 2 AND n < 50
        """,
    # W9 value-based recursive re-derivation: the hop map
    # nv(v) = min ts > v + W is chain-independent
    "reorganize_chains": """
            WITH RECURSIVE e AS (
              SELECT printf('u%05d', user_id) AS conv_id,
                     CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
              FROM events
            ),
            d AS (SELECT DISTINCT conv_id, ts_sec FROM e),
            nxt AS (
              SELECT a.conv_id, a.ts_sec AS v, MIN(b.ts_sec) AS nv
              FROM d a JOIN d b
                ON b.conv_id = a.conv_id AND b.ts_sec > a.ts_sec + 7200
              GROUP BY 1, 2
            ),
            ch AS (
              SELECT conv_id, ts_sec AS chain_start_sec, 0 AS seq, ts_sec
              FROM e
              UNION ALL
              SELECT c.conv_id, c.chain_start_sec, c.seq + 1, m.nv
              FROM ch c JOIN nxt m
                ON m.conv_id = c.conv_id AND m.v = c.ts_sec
              WHERE c.seq + 1 < 8
            )
            SELECT conv_id, chain_start_sec, CAST(seq AS INT) AS seq,
                   ts_sec
            FROM ch
        """,
    "or_combine": _or_combine_oracle_sql(),
    "window_metrics": f"""
            WITH e AS (
              SELECT user_id, ts_sec,
                     CAST(trunc(value * 1000) AS BIGINT) AS cost
              FROM ({_EV_TS})
            ),
            a AS (
              SELECT user_id, cost,
                     UNNEST(range(
                       CAST(ceil((ts_sec - 300) / 60.0) * 60 AS BIGINT),
                       CAST(ceil(ts_sec / 60.0) * 60 - 60 AS BIGINT) + 1,
                       60)) AS ws
              FROM e
            ),
            g AS (
              SELECT user_id, ws, COUNT(*) AS n, SUM(cost) AS c
              FROM a GROUP BY 1, 2
            ),
            b AS (
              SELECT user_id,
                     (MIN(ts_sec) // 60) * 60 AS mn,
                     CAST(ceil(MAX(ts_sec) / 60.0) * 60 AS BIGINT) AS mx
              FROM e GROUP BY 1
            ),
            s AS (
              SELECT user_id,
                     UNNEST(range(mn, mx + 1, 60)) AS window_start_sec
              FROM b
            )
            SELECT s.user_id, s.window_start_sec,
                   CAST(COALESCE(g.n, 0) AS BIGINT) AS n_turns,
                   CAST(COALESCE(g.c, 0) AS BIGINT) AS total_cost,
                   g.n IS NULL AS is_empty
            FROM s LEFT JOIN g
              ON g.user_id = s.user_id AND g.ws = s.window_start_sec
        """,
    # both flagship paths compute the same vectors (path equality is
    # pinned by pytest), so they share one independent SQL oracle
    "transcript_window_features": _flagship_oracle_sql(),
    "transcript_wf_merge": _flagship_oracle_sql(),
}
