"""The one trailing-window engine: a salted Arrow pass over raw turns.

Semantics are the reference's (enc/APMWindowFragmentIntent.java:
266-493, ``processPerQueryWindows``): a trailing right-closed
``(ts−W, ts]`` window per distinct (conv_id, ts) — membership test at
:340-347; dedupe intent-equal members summing cost (:306-337); top-K
entities by cost (:369-374); top-N members per entity (:376-386).  The
reference re-filters the whole event list per window and re-parses
every SQL per window; here every turn is encoded once per pass and one
sort-based selection serves all of its windows.

The membership rule, the anchor convention and the tie order live in
``_select`` alone:

  * one anchor per distinct (conv_id, ts_sec) holding an is_anchor row;
    its ``ts`` is the min-turn_idx row's full-precision timestamp (the
    reference skips a window whose end equals the previous one,
    :280-284);
  * dedupe representative = earliest (ts, turn_idx) member of the
    intent-equal (tool, vec_hash) group; tools by (summed cost desc,
    tool asc); members by (cost desc, ts asc, turn_idx asc) — a
    defined total order (the reference's is JVM-HashMap order, SURVEY
    §4.4.4).

Three products share one input projection (``_inputs``: ts_sec,
lag_sec, cost and the cell-builder inputs, below the shuffle), one
salted shuffle (``_grouped``), one per-group encode step (``_encode``:
the vectorize module's ``_cell_builder`` cells and ``_fingerprint``
vec_hash) and that one core:

  * ``select_members_salted`` — one row per SELECTED member,
    (conv_id, ts_sec, ts, slot_idx, member_idx, tool, rep_turn_idx,
    s_time … s_lag), the representative's per-segment sums from one
    ``np.bincount`` over the cells; ``pit_window.scalar_finish``
    reduces them (the flagship gate rows);
  * ``window_features_merge`` — finished anchor rows with the dense
    window vector, scattered from the representatives' cells by
    ``pit_window.window_scatter`` (the deployment pipeline's window
    stage);
  * ``or_combine_window_features`` — the element-wise OR of the
    window's member vectors (the reference's "merge" combine mode).

No turn vector crosses an exchange in any of them, and no join-back
or collect_list follows the pass.  Each runs as ONE salted shuffle +
ONE grouped Arrow pass:

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

History: this pass replaced a JVM selector (a range-frame
``collect_list`` member listing, a hash dedupe and rank windows) and
the dense finisher that joined the representatives' vectors back.  On
a hot key (one conversation holding 100k rows, local[4] on 4 cores,
``scripts/skew_bench.py``) the salted pass took 14.8 s against the JVM
selector's 70.9 s; on the normal layout (sf0.1, local[4],
``bench_extra.py count``, min of 3 reps, 3 runs each) the flagship row
read 1.91-2.13 s against 3.82-4.23 s and ``or_combine`` 1.70-2.35 s
against 5.05-5.50 s.
"""

from __future__ import annotations

import dataclasses
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

# Vector floats per output batch of the passes that emit vectors
# (64 MiB of float32): bounds the dense matrices a worker builds at once
_BATCH_FLOATS = 1 << 24

# top-K / top-N bound that keeps every tool and every dedupe group
_UNBOUNDED = np.iinfo(np.int64).max


def _salted(turns: DataFrame, cfg: FeatureConfig) -> DataFrame:
    """Adaptive time-range salting with overlap replication.

    A fixed global span is wrong at both ends: tied to the window width
    it shatters sparse long-lived conversations into millions of tiny
    groups (measured 34× slower than the JVM selector this pass
    replaced, at sf0.1); tied to the data span it leaves hot
    conversations unsplit.  Instead the
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
    a hot session; this can).  The aggregates reuse the conv_id
    exchange below them (``_inputs``' lag window, or ``sessionize``'s):
    no aggregate, broadcast, join or second conv_id shuffle."""
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
    """The member-selection core of every product (the membership rule,
    anchor convention and tie order of the module docstring).

    A group is a HASH BUCKET of conversations (× time salt), not a
    single conversation: per-call overhead made one-conv-per-group 10×
    slower than the JVM selector on many small conversations.  All
    conversations in the bucket are processed in ONE vectorized pass
    over a composite timeline: ts′ = ts + conv_code · OFFSET with
    OFFSET > span + 2W, so a single searchsorted serves every
    conversation and windows can never cross conversation boundaries.

    Reads conv_id, ts_sec, turn_idx, is_anchor, tool, cost and
    vec_hash."""
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


def _inputs(turns: DataFrame, *carry: str) -> DataFrame:
    """The one input projection of every product: raw turns → conv_id,
    ts, ts_sec, turn_idx, cost, the ``carry`` columns and the cell
    builder's inputs, computed below the salted shuffle on the conv_id
    partitioning the lag window takes (``sessionize``'s, when the turns
    are sessionized)."""
    return _with_lag(turns).select(
        "conv_id",
        "ts",
        "ts_sec",
        "turn_idx",
        _cost().alias("cost"),
        *carry,
        *_cell_inputs(),
    )


def _grouped(df: DataFrame, cfg: FeatureConfig):
    """``_salted`` rows grouped by (coarse conversation bucket, salt):
    many conversations per Arrow call (per-call overhead amortized
    ~300×), vectorized inside over the composite timeline; the time
    salt still splits hot conversations."""
    n_grp = max(df.sparkSession.sparkContext.defaultParallelism * 4, 8)
    return (
        _salted(df, cfg)
        .withColumn("_grp", F.pmod(F.xxhash64("conv_id"), F.lit(n_grp)))
        .groupBy("_grp", "salt")
    )


def _encode(batches: Iterator[pa.RecordBatch], cells):
    """One group's ``_inputs`` rows → (table + vec_hash, cells): the
    canonical (row, col, val) cells of its turn vectors and their
    fingerprint."""
    table = pa.Table.from_batches(list(batches))
    n = table.num_rows
    r, c, v = cells(*(table[k].combine_chunks() for k in CELL_INPUTS))
    table = table.append_column(
        "vec_hash", pa.array(_fingerprint(r, c, v, n), pa.int64())
    )
    return table, (r, c, v)


def _batches(sel: Selection, row_floats: int):
    """(anchor range, member slice) per output batch: consecutive
    anchors holding at most ``_BATCH_FLOATS`` vector floats."""
    per_batch = max(1, _BATCH_FLOATS // row_floats)
    bounds = np.searchsorted(sel.anchor, np.arange(len(sel.first) + 1))
    for lo in range(0, len(sel.first), per_batch):
        hi = min(lo + per_batch, len(sel.first))
        yield lo, hi, slice(bounds[lo], bounds[hi])


def _take(table: pa.Table, name: str, rows: np.ndarray) -> pa.Array:
    return table[name].take(rows).combine_chunks()


def select_members_salted(
    turns: DataFrame, vocab: Vocabulary, cfg: FeatureConfig
) -> DataFrame:
    """Raw turns (conv_id, turn_idx, role, text, tool, duration_ms, ts)
    → one row per SELECTED member: (conv_id, ts_sec, ts, slot_idx,
    member_idx, tool, rep_turn_idx, s_time … s_lag).  ``ts`` is the
    anchor's (min turn_idx at ts_sec), ``tool`` is "" for NULL, and
    ``s_*`` are the representative turn's per-segment vector sums —
    exact small integers (0/1 bits and small counts), one
    ``np.bincount`` over the group's cells."""
    layout, cells = _cell_builder(vocab, cfg)
    starts = np.asarray([s.offset for s in layout.segments])
    n_seg = len(starts)

    def members(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        table, (r, c, v) = _encode(batches, cells)
        n = table.num_rows
        sel = _select(table, cfg)
        # zero-width segments hold no cells, so side="right" maps every
        # col to its own segment
        seg = np.searchsorted(starts, c, side="right") - 1
        sums = np.bincount(
            r * n_seg + seg, weights=v, minlength=n * n_seg
        ).reshape(n, n_seg)[sel.rep].astype(np.int32)
        at = sel.first[sel.anchor]
        yield pa.RecordBatch.from_arrays(
            [
                _take(table, "conv_id", at),
                _take(table, "ts_sec", at),
                _take(table, "ts", at),
                pa.array(sel.slot, pa.int32()),
                pa.array(sel.member, pa.int32()),
                pc.fill_null(_take(table, "tool", sel.rep), ""),
                pc.cast(_take(table, "turn_idx", sel.rep), pa.int64()),
                *[pa.array(sums[:, i]) for i in range(n_seg)],
            ],
            names=[
                "conv_id", "ts_sec", "ts", "slot_idx", "member_idx", "tool",
                "rep_turn_idx", *TURN_SUMS,
            ],
        )

    df = _inputs(turns)
    schema = T.StructType(
        [df.schema[c] for c in ("conv_id", "ts_sec", "ts")]
        + [
            T.StructField("slot_idx", T.IntegerType()),
            T.StructField("member_idx", T.IntegerType()),
            T.StructField("tool", T.StringType()),
            T.StructField("rep_turn_idx", T.LongType()),
        ]
        + [T.StructField(s, T.IntegerType()) for s in TURN_SUMS]
    )
    return _grouped(df, cfg).applyInArrow(members, schema)


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

    Each group's Arrow call encodes its turns, runs ``_select`` and
    ``window_scatter`` over the selected representatives' cells.
    ``features`` (the anchor's dense turn vector), ``session_id`` and
    ``turn_idx`` are the anchor's LAST turn at ts_sec (max turn_idx),
    ``ts`` its first (min turn_idx) — the oracle's convention.  Output
    batches hold at most ``_BATCH_FLOATS`` vector floats, so a hot
    group's dense matrices are built in slices."""
    _, cells = _cell_builder(vocab, cfg)
    carry = [c for c in ("session_id",) if c in turns.columns]
    fill = window_scatter(vocab, cfg, layout)
    width = layout.width
    row_floats = width + window_vector_width(
        layout, cfg.top_k_entities, cfg.top_n_members
    )
    out = ["conv_id", "ts_sec", "features", *carry, "turn_idx", "ts"]

    def finish(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        table, (r, c, v) = _encode(batches, cells)
        feats = sparse_rows(r, c, v, table.num_rows)
        sel = _select(table, cfg)
        for lo, hi, mem in _batches(sel, row_floats):
            rep = sel.rep[mem]
            wf = fill(
                hi - lo,
                sel.anchor[mem] - lo,
                sel.slot[mem],
                sel.member[mem],
                _take(table, "tool", rep),
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
                    else _take(table, name, first if name == "ts" else last)
                    for name in out
                ]
                + [wf],
                names=out + ["window_features"],
            )

    df = _inputs(turns, *carry)
    vector = T.ArrayType(T.FloatType())
    schema = T.StructType(
        [
            T.StructField(name, vector) if name == "features" else df.schema[name]
            for name in out
        ]
        + [T.StructField("window_features", vector)]
    )
    return _grouped(df, cfg).applyInArrow(finish, schema)


def or_combine_window_features(
    turns: DataFrame, vocab: Vocabulary, cfg: FeatureConfig
) -> DataFrame:
    """Raw turns → (conv_id, ts, window_features_or): per anchor, the
    element-wise OR (max) of every member turn vector in the trailing
    ``(ts−W, ts]`` window — the reference's "merge" combine mode
    (enc/MinWindowQueryIntent.java:124-153 ``updateMinBitSet``; the
    declared-but-unimplemented branch at APMWindowFragmentIntent.java:
    449-451), where the window vector is the OR of the member vectors
    instead of the concat-and-pad layout.

    OR is idempotent, so only distinct member vectors matter: ``_select``
    with unbounded top-K / top-N keeps one representative per (tool,
    vec_hash), and one ``np.maximum.at`` scatter of the representatives'
    cells per output batch builds the dense vectors."""
    layout, cells = _cell_builder(vocab, cfg)
    width = layout.width
    every = dataclasses.replace(
        cfg, top_k_entities=_UNBOUNDED, top_n_members=_UNBOUNDED
    )

    def combine(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        table, (r, c, v) = _encode(batches, cells)
        feats = sparse_rows(r, c, v, table.num_rows)
        sel = _select(table, every)
        for lo, hi, mem in _batches(sel, width):
            idx, val = feats.take(sel.rep[mem]).flatten()
            owner = sel.anchor[mem][pc.list_parent_indices(idx).to_numpy()]
            mat = np.zeros((hi - lo, width), dtype=np.float32)
            np.maximum.at(
                mat,
                (owner - lo, pc.list_flatten(idx).to_numpy()),
                pc.list_flatten(val).to_numpy(),
            )
            first = sel.first[lo:hi]
            bounds = pa.array(np.arange(hi - lo + 1) * width, pa.int32())
            yield pa.RecordBatch.from_arrays(
                [
                    _take(table, "conv_id", first),
                    _take(table, "ts", first),
                    pa.ListArray.from_arrays(bounds, mat.ravel()),
                ],
                names=["conv_id", "ts", "window_features_or"],
            )

    df = _inputs(turns)
    schema = T.StructType(
        [
            df.schema["conv_id"],
            df.schema["ts"],
            T.StructField("window_features_or", T.ArrayType(T.FloatType())),
        ]
    )
    return _grouped(df, cfg).applyInArrow(combine, schema)
