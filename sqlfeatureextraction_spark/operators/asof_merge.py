"""Salted pandas member selector — the hot-key path, and the deployment
pipeline's window stage.

Emits the same member rows as ``pit_window.select_members`` (the
member-row contract in the pit_window module docstring) and feeds the
same finishers; ``window_features_merge`` is its dense composition.
Semantics are the reference's (enc/APMWindowFragmentIntent.java:
266-493): trailing right-closed ``(ts−W, ts]`` window per distinct
(conv_id, ts); dedupe intent-equal members summing cost; top-K
entities; top-N members.  It runs as ONE narrow shuffle + ONE sorted
pandas pass:

  1. adaptive time salting (``_salted``): a per-conversation stats pass
     (count, min/max ts) splits a conversation of n rows into
     ``ceil(n / ROWS_PER_BUCKET)`` time-range buckets; rows
     in the trailing ``W−1`` seconds of a bucket are REPLICATED into
     the next bucket as context-only (is_anchor=false) so every anchor
     still sees its full trailing window — overlap replication, the
     classic point-in-time-join trick (SURVEY §7.3).  The reference
     pins a hot session to one thread (enc/APMFragmentIntent.java:
     1069-1097 — it cannot split it; we can);
  2. ``groupBy(_grp, salt).applyInPandas`` over coarse conversation
     buckets: inside, a two-pointer ``np.searchsorted`` builds
     (anchor, member) pairs and dedupe / top-K / top-N are pandas
     groupby + sorts — numpy column ops only, no per-row Python.

Against the JVM selector it wins on hot, dense windows (one
conversation holding 100k rows, local[4] on 4 cores: 14.8 s vs 70.9 s,
scripts/skew_bench.py) and shuffles each input row at most twice (once
if not replicated).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sqlfeatureextraction_spark.config import FeatureConfig
from sqlfeatureextraction_spark.layout import VectorLayout
from sqlfeatureextraction_spark.operators.pit_window import (
    TURN_SUMS,
    dense_finish,
)
from sqlfeatureextraction_spark.vocab import Vocabulary

# Target rows per time-salt bucket: a conversation of n rows splits
# into ceil(n / ROWS_PER_BUCKET) buckets (one bucket and no replicated
# rows when n fits).
ROWS_PER_BUCKET = 65536


def _salted(vec: DataFrame, cfg: FeatureConfig) -> DataFrame:
    """Adaptive time-range salting with overlap replication.

    A fixed global span is wrong at both ends: tied to the window width
    it shatters sparse long-lived conversations into millions of tiny
    groups (measured 34× slower than the built-in path at sf0.1); tied
    to the data span it leaves hot conversations unsplit.  Instead a
    cheap per-conversation stats pass (count, min/max ts — one
    map-side-combined shuffle on conv_id, NOT a driver-side census)
    sizes the span per conversation:

      buckets = ceil(n_rows / ROWS_PER_BUCKET)
      span    = max(ceil(lifetime / buckets), 8·W)   if buckets > 1
      span    = lifetime + W + 2                     if buckets == 1

    so a normal conversation is exactly ONE group with ZERO replication
    and a hot conversation splits into ~n/64k tasks with ≤ (W−1)/8W ≈
    12% replicated context rows.  The stats join and the groupBy that
    follows share the conv_id partitioning.  Replicated rows carry
    is_anchor=false and emit nothing themselves (the reference's
    single-thread-per-session split, enc/APMFragmentIntent.java:
    1069-1097, can never split a hot session; this can).
    """
    w = cfg.window_size_s
    stats = vec.groupBy("conv_id").agg(
        F.count("*").alias("_n"),
        F.min("ts_sec").alias("_t0"),
        F.max("ts_sec").alias("_t1"),
    )
    nb = F.ceil(F.col("_n") / ROWS_PER_BUCKET)
    life = F.col("_t1") - F.col("_t0")
    span = F.when(nb <= 1, life + w + 2).otherwise(
        F.greatest(F.ceil(life / nb), F.lit(8 * w))
    )
    stats = stats.select(
        "conv_id", F.col("_t0"), span.cast("long").alias("_span")
    )

    vec = vec.join(stats, "conv_id")
    rel = F.col("ts_sec") - F.col("_t0")
    bucket = F.floor(rel / F.col("_span")).cast("long")
    base = vec.withColumn("salt", bucket).withColumn("is_anchor", F.lit(True))
    repl = (
        vec.where(rel % F.col("_span") >= F.col("_span") - (w - 1))
        .withColumn("salt", (bucket + 1).cast("long"))
        .withColumn("is_anchor", F.lit(False))
    )
    return base.unionByName(repl).drop("_t0", "_span")


def _window_merge_fn(cfg: FeatureConfig, sums: list[str]):
    """Member-selection core of the merge path.

    Returns member rows — (anchor conv_id, ts_sec, ts, slot_idx,
    member_idx, tool, rep_turn_idx, *sums) — NOT assembled vectors:
    shipping the wide feature arrays through the pandas stage (input
    AND output) measured 30× slower than the narrow formulation at
    local[2] (object-dtype vstack of millions of tiny ndarrays + Arrow
    list-array materialization).  The finishers take it from there,
    identically to the JVM selector, so no wide array enters this
    stage.  ``sums`` (a subset of TURN_SUMS) pass through
    the dedupe as the representative's segment sums."""
    k, n = cfg.top_k_entities, cfg.top_n_members
    win = cfg.window_size_s

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        # A group is a HASH BUCKET of conversations (× time salt), not a
        # single conversation: per-call pandas overhead (~5-10 ms) made
        # one-conv-per-group 10× slower than the builtin path on many
        # small conversations.  All conversations in the bucket are
        # processed in ONE vectorized pass over a composite timeline:
        # ts′ = ts + conv_ordinal · OFFSET with OFFSET > span + 2W, so a
        # single searchsorted serves every conversation and windows can
        # never cross conversation boundaries.
        pdf = pdf.sort_values(
            ["conv_id", "ts_sec", "turn_idx"], kind="mergesort"
        ).reset_index(drop=True)
        ts = pdf["ts_sec"].to_numpy(np.int64)
        anchor_mask = pdf["is_anchor"].to_numpy(bool)
        empty = {
            "conv_id": pd.Series(dtype=object),
            "ts_sec": pd.Series(dtype=np.int64),
            "ts": pd.Series(dtype="datetime64[us]"),
            "slot_idx": pd.Series(dtype=np.int32),
            "member_idx": pd.Series(dtype=np.int32),
            "tool": pd.Series(dtype=object),
            "rep_turn_idx": pd.Series(dtype=np.int64),
            **{s: pd.Series(dtype=np.int32) for s in sums},
        }
        if len(ts) == 0 or not anchor_mask.any():
            return pd.DataFrame(empty)
        conv_arr = pdf["conv_id"].to_numpy()
        # ordinal per conversation (input is conv-sorted)
        new_conv = np.empty(len(ts), dtype=bool)
        new_conv[0] = True
        new_conv[1:] = conv_arr[1:] != conv_arr[:-1]
        ordinal = np.cumsum(new_conv) - 1
        off = np.int64(int(ts.max()) - int(ts.min()) + 2 * win + 10)
        tsx = ts + ordinal * off
        anchor_tsx = np.unique(tsx[anchor_mask])
        lo = np.searchsorted(tsx, anchor_tsx - win, side="right")
        hi = np.searchsorted(tsx, anchor_tsx, side="right")
        counts = hi - lo
        total = int(counts.sum())
        # vectorized ragged ranges: member row index per (anchor, member)
        ridx = np.repeat(np.arange(len(anchor_tsx)), counts)
        offs = np.arange(total) - np.repeat(np.cumsum(counts) - counts, counts)
        midx = np.repeat(lo, counts) + offs

        pairs = pd.DataFrame(
            {
                "a": ridx,
                "tool": pdf["tool"].fillna("").to_numpy()[midx],
                "h": pdf["vec_hash"].to_numpy(np.int64)[midx],
                "cost": pdf["cost"].to_numpy(np.int64)[midx],
                "mts": ts[midx],
                "mturn": pdf["turn_idx"].to_numpy(np.int64)[midx],
                **{s: pdf[s].to_numpy()[midx] for s in sums},
            }
        )
        # A2 dedupe: first (ts, turn) representative + summed cost per
        # (anchor, tool, vec_hash) — input is ts/turn-sorted already;
        # the sums depend on vec_hash alone, so "first" is exact
        grp = pairs.groupby(["a", "tool", "h"], sort=False)
        dd = grp.agg(
            cost=("cost", "sum"),
            mts=("mts", "first"),
            mturn=("mturn", "first"),
            **{s: (s, "first") for s in sums},
        ).reset_index()

        # W6 top-K tools by summed cost (cost desc, tool asc)
        tc = dd.groupby(["a", "tool"], sort=False)["cost"].sum().reset_index()
        tc = tc.sort_values(["a", "cost", "tool"], ascending=[True, False, True], kind="mergesort")
        tc["slot"] = tc.groupby("a", sort=False).cumcount()
        tc = tc[tc["slot"] < k]

        # W7 top-N members per selected tool (cost desc, ts, turn asc)
        mm = dd.merge(tc[["a", "tool", "slot"]], on=["a", "tool"])
        mm = mm.sort_values(
            ["a", "slot", "cost", "mts", "mturn"],
            ascending=[True, True, False, True, True],
            kind="mergesort",
        )
        mm["mi"] = mm.groupby(["a", "slot"], sort=False).cumcount()
        mm = mm[mm["mi"] < n]

        # anchor representative = first (min turn_idx) row at each
        # anchor epoch — same convention as the builtin path/oracle
        first_at = np.searchsorted(tsx, anchor_tsx, side="left")
        a = mm["a"].to_numpy()
        res = {
            "conv_id": conv_arr[first_at[a]],
            "ts_sec": ts[first_at[a]],
            "ts": pdf["ts"].to_numpy()[first_at[a]],
            "slot_idx": mm["slot"].to_numpy().astype(np.int32),
            "member_idx": mm["mi"].to_numpy().astype(np.int32),
            "tool": mm["tool"].to_numpy(),
            "rep_turn_idx": mm["mturn"].to_numpy(np.int64),
            **{s: mm[s].to_numpy(np.int32) for s in sums},
        }
        return pd.DataFrame(res)

    return fn


def select_members_salted(vec: DataFrame, cfg: FeatureConfig) -> DataFrame:
    """Salted pandas member selector: turn table → member rows.

    Stage plan (all NARROW — feature arrays are never selected in):
      1. per-conv stats + adaptive time salting (`_salted`);
      2. ONE narrow shuffle into coarse conversation buckets
         ((hash(conv_id) % 4·cores, salt)) → vectorized pandas member
         selection (searchsorted over the composite timeline, dedupe,
         top-K/top-N) emitting ≤ k·n member rows per anchor."""
    sums = [c for c in TURN_SUMS if c in vec.columns]
    cols = ["conv_id", "ts", "ts_sec", "turn_idx", "tool", "cost", "vec_hash"]
    salted = _salted(vec.select(*cols, *sums), cfg)
    # coarse conversation buckets: many conversations per pandas call
    # (per-call overhead amortized ~300×), vectorized inside over the
    # composite timeline; the time salt still splits hot conversations
    n_grp = max(vec.sparkSession.sparkContext.defaultParallelism * 4, 8)
    salted = salted.withColumn(
        "_grp", F.pmod(F.xxhash64("conv_id"), F.lit(n_grp))
    )
    member_schema = (
        "conv_id string, ts_sec long, ts timestamp, slot_idx int,"
        " member_idx int, tool string, rep_turn_idx long"
    ) + "".join(f", {s} int" for s in sums)
    return salted.groupBy("_grp", "salt").applyInPandas(
        _window_merge_fn(cfg, sums), member_schema
    )


def window_features_merge(
    vec: DataFrame,
    vocab: Vocabulary,
    cfg: FeatureConfig,
    layout: VectorLayout,
) -> DataFrame:
    """(conv_id, ts) → window_features — the salted selector and the
    dense finisher (the selected representatives join their feature
    vectors back by (conv_id, turn_idx); ``dense_finish`` says where
    the wide array crosses the wire)."""
    return dense_finish(
        select_members_salted(vec, cfg), vec, vocab, cfg, layout
    )
