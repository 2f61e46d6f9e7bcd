"""Salted Arrow member selection — the hot-key path, and the deployment
pipeline's whole window stage.

Semantics are the reference's (enc/APMWindowFragmentIntent.java:
266-493): trailing right-closed ``(ts−W, ts]`` window per distinct
(conv_id, ts); dedupe intent-equal members summing cost; top-K
entities; top-N members.  Two products share one selection core
(``_select``: pairs, dedupe, top-K, top-N as numpy index arrays over
one group's Arrow table):

  * ``select_members_salted`` — member rows from a turn table that
    carries vec_hash, the contract of the pit_window module docstring
    (``transcript_wf_merge`` finishes them with ``scalar_finish``);
  * ``window_features_merge`` — finished anchor rows from raw turns:
    the turns are encoded inside the pass (the vectorize module's one
    cell builder and fingerprint) and the window vector is scattered
    there too, so no turn vector crosses an exchange and no join-back,
    collect_list or per-anchor aggregate follows.

Each runs as ONE salted shuffle + ONE grouped Arrow pass:

  1. adaptive time salting (``_salted``): per-conversation count and
     min/max ts (window aggregates over conv_id) split a conversation
     of n rows into ``ceil(n / ROWS_PER_BUCKET)`` time-range buckets;
     rows in the trailing ``W−1`` seconds of a bucket are REPLICATED
     into the next bucket as context-only (is_anchor=false) so every
     anchor still sees its full trailing window — overlap replication,
     the classic point-in-time-join trick (SURVEY §7.3).  The reference
     pins a hot session to one thread (enc/APMFragmentIntent.java:
     1069-1097 — it cannot split it; we can);
  2. ``groupBy(_grp, salt).applyInArrow`` over coarse conversation
     buckets: inside, a two-pointer ``np.searchsorted`` builds
     (anchor, member) pairs, and dedupe / top-K / top-N are
     ``np.lexsort`` + ``np.add.reduceat`` over runs — numpy column ops
     only, no per-row Python and no pandas.

Against the JVM selector it wins on hot, dense windows (one
conversation holding 100k rows, local[4] on 4 cores: 14.8 s vs 70.9 s,
scripts/skew_bench.py) and shuffles each input row at most twice (once
if not replicated).
"""

from __future__ import annotations

from typing import Iterator, NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sqlfeatureextraction_spark.config import FeatureConfig
from sqlfeatureextraction_spark.layout import VectorLayout, window_vector_width
from sqlfeatureextraction_spark.operators.pit_window import (
    TURN_SUMS,
    window_scatter,
)
from sqlfeatureextraction_spark.operators.vectorize import (
    CELL_INPUTS,
    _cell_builder,
    _cell_inputs,
    _cost,
    _fingerprint,
    _with_lag,
    dense_rows,
    sparse_rows,
)
from sqlfeatureextraction_spark.vocab import Vocabulary

# Target rows per time-salt bucket: a conversation of n rows splits
# into ceil(n / ROWS_PER_BUCKET) buckets (one bucket and no replicated
# rows when n fits).
ROWS_PER_BUCKET = 65536

# turn-table columns the selection core reads
_SELECT_COLS = ("conv_id", "ts", "ts_sec", "turn_idx", "tool", "cost", "vec_hash")

# Vector floats (turn + window vectors) per output batch of
# window_features_merge (64 MiB of float32): bounds the dense matrices
# a worker builds at once
_BATCH_FLOATS = 1 << 24


def _salted(turns: DataFrame, cfg: FeatureConfig) -> DataFrame:
    """Adaptive time-range salting with overlap replication.

    A fixed global span is wrong at both ends: tied to the window width
    it shatters sparse long-lived conversations into millions of tiny
    groups (measured 34× slower than the built-in path at sf0.1); tied
    to the data span it leaves hot conversations unsplit.  Instead the
    span is sized per conversation from its count and min/max ts_sec,
    taken as ``Window.partitionBy("conv_id")`` aggregates:

      buckets = ceil(n_rows / ROWS_PER_BUCKET)
      span    = max(ceil(lifetime / buckets), 8·W)   if buckets > 1
      span    = lifetime + W + 2                     if buckets == 1

    so a normal conversation is exactly ONE group with ZERO replication
    and a hot conversation splits into ~n/64k tasks with ≤ (W−1)/8W ≈
    12% replicated context rows.  Replicated rows carry is_anchor=false
    and emit nothing themselves (the reference's single-thread-per-
    session split, enc/APMFragmentIntent.java:1069-1097, can never split
    a hot session; this can).  On turns already partitioned by conv_id
    (the deployment pipeline's sessionized turns) the aggregates reuse
    that exchange: no aggregate, broadcast or join; otherwise they
    shuffle the turns once on conv_id."""
    w = cfg.window_size_s
    conv = Window.partitionBy("conv_id")
    nb = F.ceil(F.col("_n") / ROWS_PER_BUCKET)
    life = F.col("_t1") - F.col("_t0")
    span = F.when(nb <= 1, life + w + 2).otherwise(
        F.greatest(F.ceil(life / nb), F.lit(8 * w))
    )
    rel = F.col("ts_sec") - F.col("_t0")
    copies = F.when(
        rel % F.col("_span") >= F.col("_span") - (w - 1),
        F.array(F.lit(True), F.lit(False)),
    ).otherwise(F.array(F.lit(True)))
    # one Generate builds the replicas.  explode_outer (never empty
    # here): a plain explode of a computed array lets Catalyst push a
    # size() filter that re-evaluates it
    return (
        turns.withColumns(
            {
                "_n": F.count(F.lit(1)).over(conv),
                "_t0": F.min("ts_sec").over(conv),
                "_t1": F.max("ts_sec").over(conv),
            }
        )
        .withColumn("_span", span.cast("long"))
        .withColumn("is_anchor", F.explode_outer(copies))
        .withColumn(
            "salt",
            F.floor(rel / F.col("_span")).cast("long")
            + F.when(F.col("is_anchor"), 0).otherwise(1),
        )
        .drop("_n", "_t0", "_t1", "_span")
    )


class Selection(NamedTuple):
    """One group's selection, as row indices into its Arrow table.

    Per anchor (distinct (conv_id, ts_sec) holding an is_anchor row):
    ``first``/``last`` are its min- and max-turn_idx rows at ts_sec.
    Per selected member, in (anchor, slot, member) order: ``anchor``
    (ordinal into first/last), ``slot`` (slot_idx), ``member``
    (member_idx) and ``rep`` (the representative turn's row)."""

    first: np.ndarray
    last: np.ndarray
    anchor: np.ndarray
    slot: np.ndarray
    member: np.ndarray
    rep: np.ndarray


def _runs(*keys: np.ndarray) -> np.ndarray:
    """Start positions of the runs of equal key tuples in sorted arrays."""
    brk = np.zeros(len(keys[0]), dtype=bool)
    brk[:1] = True
    for key in keys:
        brk[1:] |= key[1:] != key[:-1]
    return np.flatnonzero(brk)


def _rank(starts: np.ndarray, n: int) -> np.ndarray:
    """Position of each of n elements within its run."""
    return np.arange(n) - np.repeat(starts, np.diff(np.append(starts, n)))


def _string_rank(col: pa.ChunkedArray) -> np.ndarray:
    """Per row, the rank of its value (NULL as "") among the column's
    distinct values in byte order — Spark's string order."""
    enc = pc.dictionary_encode(pc.fill_null(col.combine_chunks(), ""))
    rank = np.empty(len(enc.dictionary), dtype=np.int64)
    rank[pc.array_sort_indices(enc.dictionary).to_numpy()] = np.arange(
        len(enc.dictionary)
    )
    return rank[enc.indices.to_numpy()]


def _select(table: pa.Table, cfg: FeatureConfig) -> Selection:
    """The member-selection core of both salted passes.

    A group is a HASH BUCKET of conversations (× time salt), not a
    single conversation: per-call overhead made one-conv-per-group 10×
    slower than the builtin path on many small conversations.  All
    conversations in the bucket are processed in ONE vectorized pass
    over a composite timeline: ts′ = ts + conv_code · OFFSET with
    OFFSET > span + 2W, so a single searchsorted serves every
    conversation and windows can never cross conversation boundaries.

    Tie-breaking is the JVM selector's: dedupe representative =
    earliest (ts, turn_idx) member; tools by (summed cost desc, tool
    asc); members by (cost desc, ts asc, turn_idx asc)."""
    k, n, win = cfg.top_k_entities, cfg.top_n_members, cfg.window_size_s
    empty = np.zeros(0, dtype=np.int64)
    is_anchor = table["is_anchor"].to_numpy()
    if not is_anchor.any():
        return Selection(empty, empty, empty, empty, empty, empty)
    conv = pc.dictionary_encode(
        table["conv_id"].combine_chunks()
    ).indices.to_numpy()
    ts = table["ts_sec"].to_numpy()
    # sorted row space: (conv, ts_sec, turn_idx); `order` maps back
    order = np.lexsort((table["turn_idx"].to_numpy(), ts, conv))
    ts = ts[order]
    tsx = ts + conv[order].astype(np.int64) * np.int64(
        int(ts.max()) - int(ts.min()) + 2 * win + 10
    )
    anchor_tsx = np.unique(tsx[is_anchor[order]])
    first = np.searchsorted(tsx, anchor_tsx, side="left")
    lo = np.searchsorted(tsx, anchor_tsx - win, side="right")
    hi = np.searchsorted(tsx, anchor_tsx, side="right")

    # (anchor, member) pairs: vectorized ragged ranges lo..hi-1
    counts = hi - lo
    a = np.repeat(np.arange(len(anchor_tsx)), counts)
    m = np.repeat(lo - np.cumsum(counts) + counts, counts) + np.arange(
        counts.sum()
    )
    src = order[m]
    tool = _string_rank(table["tool"])[src]
    vh = table["vec_hash"].to_numpy()[src]
    cost = table["cost"].to_numpy()[src]

    # A2 dedupe per (anchor, tool, vec_hash): stable sort keeps each
    # run in member (ts, turn) order, so its first row is the
    # representative; cost sums over the run
    o = np.lexsort((vh, tool, a))
    a, tool, m = a[o], tool[o], m[o]
    g = _runs(a, tool, vh[o])
    g_a, g_tool, g_rep = a[g], tool[g], m[g]
    g_cost = np.add.reduceat(cost[o], g)

    # W6 top-K tools by summed cost (cost desc, tool asc); a tool's
    # dedupe groups are one run of the (anchor, tool, vec_hash) order
    t = _runs(g_a, g_tool)
    t_a = g_a[t]
    o = np.lexsort((g_tool[t], -np.add.reduceat(g_cost, t), t_a))
    t_slot = np.empty(len(t), dtype=np.int64)
    t_slot[o] = _rank(_runs(t_a[o]), len(t))
    g_slot = np.repeat(t_slot, np.diff(np.append(t, len(g))))

    # W7 top-N members per selected tool (cost desc, ts, turn asc —
    # the sorted row order)
    keep = g_slot < k
    g_a, g_slot, g_cost, g_rep = (
        g_a[keep], g_slot[keep], g_cost[keep], g_rep[keep]
    )
    o = np.lexsort((g_rep, -g_cost, g_slot, g_a))
    g_a, g_slot, g_rep = g_a[o], g_slot[o], g_rep[o]
    g_member = _rank(_runs(g_a, g_slot), len(o))
    sel = g_member < n
    return Selection(
        order[first],
        order[hi - 1],
        g_a[sel],
        g_slot[sel],
        g_member[sel],
        order[g_rep[sel]],
    )


def _grouped(vec: DataFrame, cfg: FeatureConfig):
    """``_salted`` rows grouped by (coarse conversation bucket, salt):
    many conversations per Arrow call (per-call overhead amortized
    ~300×), vectorized inside over the composite timeline; the time
    salt still splits hot conversations."""
    n_grp = max(vec.sparkSession.sparkContext.defaultParallelism * 4, 8)
    return (
        _salted(vec, cfg)
        .withColumn("_grp", F.pmod(F.xxhash64("conv_id"), F.lit(n_grp)))
        .groupBy("_grp", "salt")
    )


def select_members_salted(vec: DataFrame, cfg: FeatureConfig) -> DataFrame:
    """Salted member selector: turn table → member rows (the pit_window
    module docstring's contract), narrow — feature arrays are never
    selected in.  Stage plan: adaptive time salting (``_salted``, whose
    window aggregates shuffle the turns on conv_id unless they already
    are), ONE narrow shuffle into coarse conversation buckets, then
    ``_select`` emitting ≤ k·n member rows per anchor."""
    sums = [c for c in TURN_SUMS if c in vec.columns]

    def members(table: pa.Table) -> pa.Table:
        sel = _select(table, cfg)
        at = sel.first[sel.anchor]
        return pa.table(
            {
                "conv_id": table["conv_id"].take(at),
                "ts_sec": table["ts_sec"].take(at),
                "ts": table["ts"].take(at),
                "slot_idx": pa.array(sel.slot, pa.int32()),
                "member_idx": pa.array(sel.member, pa.int32()),
                "tool": pc.fill_null(table["tool"].take(sel.rep), ""),
                "rep_turn_idx": pc.cast(
                    table["turn_idx"].take(sel.rep), pa.int64()
                ),
                **{s: table[s].take(sel.rep) for s in sums},
            }
        )

    ts_type = vec.schema["ts"].dataType.simpleString()
    member_schema = (
        f"conv_id string, ts_sec long, ts {ts_type}, slot_idx int,"
        " member_idx int, tool string, rep_turn_idx long"
    ) + "".join(f", {s} int" for s in sums)
    return _grouped(vec.select(*_SELECT_COLS, *sums), cfg).applyInArrow(
        members, member_schema
    )


def window_features_merge(
    turns: DataFrame,
    vocab: Vocabulary,
    cfg: FeatureConfig,
    layout: VectorLayout,
) -> DataFrame:
    """Raw turns (conv_id, turn_idx, role, text, tool, duration_ms, ts
    and, when sessionized, session_id) → one finished row per anchor:
    (conv_id, ts_sec, features, session_id, turn_idx, ts,
    window_features) — ``session_id`` only when the turns have it.

    The whole window stage is one salted pass.  Below the ``(_grp,
    salt)`` shuffle, on the conv_id partitioning the turns already have
    (``sessionize``'s) or take here: ts_sec, lag_sec, cost, dow, hour
    and the tokens, and ``_salted``'s per-conversation aggregates.  Each
    group's Arrow call then encodes its turns (``_cell_builder`` cells,
    ``_fingerprint`` vec_hash), runs ``_select`` and ``window_scatter``
    over the selected representatives' cells.  ``features`` (the
    anchor's dense turn vector), ``session_id`` and ``turn_idx`` are the
    anchor's LAST turn at ts_sec (max turn_idx), ``ts`` its first (min
    turn_idx) — the oracle's and ``dense_finish``'s convention.  No
    turn vector crosses an exchange.  Output batches hold at most
    ``_BATCH_FLOATS`` vector floats, so a hot group's dense matrices
    are built in slices."""
    _, cells = _cell_builder(vocab, cfg)
    carry = [c for c in ("session_id",) if c in turns.columns]
    fill = window_scatter(vocab, cfg, layout)
    width = layout.width
    per_batch = max(
        1,
        _BATCH_FLOATS
        // (
            width
            + window_vector_width(layout, cfg.top_k_entities, cfg.top_n_members)
        ),
    )
    out = ["conv_id", "ts_sec", "features", *carry, "turn_idx", "ts"]

    def finish(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        table = pa.Table.from_batches(list(batches))
        n = table.num_rows
        r, c, v = cells(*(table[k].combine_chunks() for k in CELL_INPUTS))
        table = table.append_column(
            "vec_hash", pa.array(_fingerprint(r, c, v, n), pa.int64())
        )
        feats = sparse_rows(r, c, v, n)
        sel = _select(table, cfg)
        bounds = np.searchsorted(sel.anchor, np.arange(len(sel.first) + 1))
        for lo in range(0, len(sel.first), per_batch):
            hi = min(lo + per_batch, len(sel.first))
            mem = slice(bounds[lo], bounds[hi])
            rep = sel.rep[mem]
            wf = fill(
                hi - lo,
                sel.anchor[mem] - lo,
                sel.slot[mem],
                sel.member[mem],
                table["tool"].take(rep).combine_chunks(),
                feats.take(rep),
            )
            first, last = sel.first[lo:hi], sel.last[lo:hi]
            idx, val = feats.take(last).flatten()
            own = dense_rows(
                pc.list_parent_indices(idx).to_numpy(),
                pc.list_flatten(idx).to_numpy(),
                pc.list_flatten(val).to_numpy(),
                hi - lo,
                width,
            )
            yield pa.RecordBatch.from_arrays(
                [
                    own
                    if name == "features"
                    else table[name].take(first if name == "ts" else last)
                    .combine_chunks()
                    for name in out
                ]
                + [wf],
                names=out + ["window_features"],
            )

    df = _with_lag(turns).select(
        "conv_id",
        "ts",
        "ts_sec",
        "turn_idx",
        _cost().alias("cost"),
        *carry,
        *_cell_inputs(),
    )
    vector = T.ArrayType(T.FloatType())
    schema = T.StructType(
        [
            T.StructField(name, vector) if name == "features" else df.schema[name]
            for name in out
        ]
        + [T.StructField("window_features", vector)]
    )
    return _grouped(df, cfg).applyInArrow(finish, schema)
