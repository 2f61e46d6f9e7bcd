"""Per-turn feature vectorization (the reference's per-query encoder).

Reference analog: ``APMFragmentIntent.getQueryIntent``
(enc/APMFragmentIntent.java:1240-1261) — parse one SQL, scatter
fragment bits into a fixed-width BitSet, serialized as a '0'/'1'
string.  Executed row-at-a-time in Java; re-parsed once per window the
row appears in (enc/APMWindowFragmentIntent.java:312-320 — an O(W·N)
re-compute the Spark plan eliminates: the vector is computed ONCE per
turn here and reused by every downstream window).

Spark-first restatement:
  * day-of-week / hour / lag computed by JVM built-ins
    (``weekday``, ``hour``, ``lag().over(window)``) — codegen'd;
  * ONE cell builder (``_cell_builder``) maps a batch's Arrow columns
    to the turn vectors' canonical cell set (row, col, val): the
    role/tool/token → bit lookups are vectorized C++ ``pyarrow``
    ``index_in`` calls and the rest is numpy segment ops — no per-row
    Python objects anywhere;
  * ONE fingerprint (``_fingerprint``) over those cells defines
    ``vec_hash``, the window dedupe key, for every encoder;
  * both encoders are thin Arrow shells over the two:
    ``with_turn_features`` (one scalar Arrow UDF → dense array or
    sparse struct<idx,val>) and ``with_turn_scalars`` (one
    ``mapInArrow`` pass → per-segment sums);
  * the vocabulary rides inside the closure — Spark pickles it once
    per task (equivalent to a broadcast for a dict this small).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa  # module-level: Arrow-UDF type hints resolve here
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sqlfeatureextraction_spark.config import FeatureConfig
from sqlfeatureextraction_spark.functions.text import tokenize_col
from sqlfeatureextraction_spark.layout import VectorLayout
from sqlfeatureextraction_spark.vocab import Vocabulary

TURN_ORDER = ["ts", "turn_idx"]  # stable secondary sort (north rule)


def _np(arr) -> np.ndarray:
    return arr.to_numpy(zero_copy_only=False)


def _cell_builder(vocab: Vocabulary, cfg: FeatureConfig):
    """Returns (layout, cells): ``cells(dow, hour, role, tool, toks,
    lag_sec)`` maps one batch's Arrow columns to the canonical cell set
    of its turn vectors — (row, col, val) arrays, row-major, col
    strictly ascending within a row, duplicate bow cells merged, val
    float32 (0/1 bits and small token counts, exact below 2^24).

    Segments: time one-hot 7 dow ‖ 24 hour
    (enc/APMFragmentIntent.java:752-777); role / tool one-hot, where
    vocabulary misses leave bits unset (the reference swallows lookup
    misses, enc/APMFragmentIntent.java:303-305); bag-of-token presence
    or counts; lag bit i iff lag >= gran_i, every bit when the lag is
    null (enc/APMFragmentIntent.java:791-802) — elementwise, so any
    granularity ordering is encoded correctly."""
    import pyarrow.compute as pc

    layout = vocab.layout(n_grans=len(cfg.granularities_s))
    off = {s.name: s.offset for s in layout.segments}
    grans = np.asarray(cfg.granularities_s, dtype=np.int64)
    # position i of each value list == bit i (dicts are built by
    # enumerate over the sorted values, so sorting reconstructs them)
    roles, tools, tokens = (
        pa.array(sorted(d, key=d.get), type=pa.string())
        for d in (vocab.roles, vocab.tools, vocab.tokens)
    )
    n_tokens = len(tokens)
    binary = cfg.binary_bow

    def cells(dow, hour, role, tool, toks, lag_sec):
        n = len(dow)
        rows = np.arange(n, dtype=np.int64)
        rr, cc, vv = [], [], []

        def add(r, c, v=None):
            rr.append(r)
            cc.append(c)
            vv.append(np.ones(len(r), dtype=np.float32) if v is None else v)

        add(rows, off["time"] + _np(dow).astype(np.int64))
        add(rows, off["time"] + 7 + _np(hour).astype(np.int64))
        for col, values, seg in (
            (role, roles, "role"),
            (pc.fill_null(tool, ""), tools, "tool"),
        ):
            idx = _np(pc.index_in(col, value_set=values).fill_null(-1))
            ok = idx >= 0
            add(rows[ok], off[seg] + idx[ok].astype(np.int64))

        # bag-of-token: flatten the list column once, index_in the flat
        # values, merge duplicate (row, token) cells
        parent = _np(pc.list_parent_indices(toks)).astype(np.int64)
        pos = pc.index_in(pc.list_flatten(toks), value_set=tokens)
        pos = _np(pos.fill_null(-1))
        keep = pos >= 0
        if keep.any():
            key = parent[keep] * n_tokens + pos[keep]
            uk, counts = np.unique(key, return_counts=True)
            add(
                uk // n_tokens,
                off["bow"] + uk % n_tokens,
                None if binary else counts.astype(np.float32),
            )

        lag = np.asarray(_np(lag_sec), dtype=np.float64)
        ri, ci = np.nonzero(
            np.isnan(lag)[:, None] | (lag[:, None] >= grans[None, :])
        )
        add(ri, off["lag"] + ci)

        # every add() above is row-major with cols ascending within a
        # row, in layout segment order, so a STABLE sort on the row
        # alone yields the canonical (row, col) order — merging a few
        # presorted runs, much cheaper than a full lexsort
        r, c, v = (np.concatenate(x) for x in (rr, cc, vv))
        order = np.argsort(r, kind="stable")
        return r[order], c[order], v[order]

    return layout, cells


def _mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer, vectorized (uint64 in/out)."""
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def _fingerprint(r: np.ndarray, c: np.ndarray, v: np.ndarray, n: int):
    """vec_hash of each of n rows: a 64-bit fingerprint of the row's
    canonical cell set.  Each (col, val) cell is injectively packed into
    64 bits (col << 32 | float32-bits(val)) and splitmix64-mixed; the
    mixes are XOR-folded per row (cells have distinct cols, so the fold
    is over a set and order-insensitive) and re-mixed with the cell
    count.  Vector equality ⇒ identical fingerprint; distinct vectors
    collide with 2^-64-class probability.  The hash is a PURELY
    INTERNAL dedupe key — it never appears in any output — so only the
    induced equality partition matters."""
    packed = (c.astype(np.uint64) << np.uint64(32)) | v.view(np.uint32).astype(
        np.uint64
    )
    acc = np.zeros(n, dtype=np.uint64)
    np.bitwise_xor.at(acc, r, _mix64(packed))
    cnt = np.bincount(r, minlength=n).astype(np.uint64)
    return _mix64(acc ^ (cnt * np.uint64(0x9E3779B97F4A7C15))).astype(np.int64)


def _with_lag(transcripts: DataFrame) -> DataFrame:
    """Appends ts_sec and lag_sec (null on a conversation's first turn).
    The lag window shuffles once on conv_id; the encoders are
    per-partition after it."""
    w = Window.partitionBy("conv_id").orderBy(*TURN_ORDER)
    return transcripts.withColumn(
        # NTZ parquet timestamps need the intermediate cast; session TZ
        # is pinned to UTC so the epoch is well-defined
        "ts_sec",
        F.col("ts").cast("timestamp").cast("long"),
    ).withColumn("lag_sec", F.col("ts_sec") - F.lag("ts_sec").over(w))


def _cell_inputs() -> list:
    """The cell builder's argument columns, in its parameter order."""
    return [
        # ISO day-of-week, Monday=bit 0 — matches the reference's
        # getDayOfWeek().getValue()-1 (enc/APMFragmentIntent.java:752-777)
        F.weekday("ts").cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hour"),
        F.col("role"),
        F.col("tool"),
        tokenize_col(F.col("text")).alias("_toks"),
        F.col("lag_sec"),
    ]


def _cost() -> Column:
    return F.coalesce(F.col("duration_ms"), F.lit(1)).cast("long")


_TURN_SCALAR_SCHEMA = (
    "conv_id string, turn_idx int, tool string, ts_sec bigint,"
    " cost bigint, vec_hash bigint, s_time int, s_role int, s_tool int,"
    " s_bow int, s_lag int"
)


def with_turn_scalars(
    transcripts: DataFrame,
    vocab: Vocabulary,
    cfg: FeatureConfig,
) -> tuple[DataFrame, VectorLayout]:
    """Narrow per-turn encoding for scalar-projection consumers: the
    same cells and vec_hash as ``with_turn_features``, reduced in one
    ``mapInArrow`` pass to (vec_hash, per-segment sums) — the full
    vector never leaves the Python worker (guide §2.3: shuffle keys and
    metadata, not payloads).  The per-segment sums are exact small
    integers (0/1 bits + small counts), identical to summing the dense
    float32 vector.

    Output columns: conv_id, turn_idx, tool, ts_sec, cost, vec_hash,
    s_time, s_role, s_tool, s_bow, s_lag.  (No ``ts``: scalar
    consumers key on the integral ``ts_sec`` anchor only.)"""
    layout, cells = _cell_builder(vocab, cfg)
    starts = np.asarray([s.offset for s in layout.segments])
    n_seg = len(starts)
    inputs = ["dow", "hour", "role", "tool", "_toks", "lag_sec"]
    passthrough = ["conv_id", "turn_idx", "tool", "ts_sec", "cost"]

    def encode_batches(batches):
        for b in batches:
            n = b.num_rows
            r, c, v = cells(*(b.column(k) for k in inputs))
            # zero-width segments hold no cells, so side="right" maps
            # every col to its own segment
            seg = np.searchsorted(starts, c, side="right") - 1
            sums = np.bincount(
                r * n_seg + seg, weights=v, minlength=n * n_seg
            ).reshape(n, n_seg).astype(np.int32)
            yield pa.RecordBatch.from_arrays(
                [b.column(k) for k in passthrough]
                + [pa.array(_fingerprint(r, c, v, n), type=pa.int64())]
                + [pa.array(sums[:, i]) for i in range(n_seg)],
                names=passthrough
                + ["vec_hash"]
                + [f"s_{s.name}" for s in layout.segments],
            )

    df = _with_lag(transcripts).select(
        "conv_id", "turn_idx", "ts_sec", _cost().alias("cost"), *_cell_inputs()
    )
    return df.mapInArrow(encode_batches, _TURN_SCALAR_SCHEMA), layout


def with_turn_features(
    transcripts: DataFrame,
    vocab: Vocabulary,
    cfg: FeatureConfig,
    sparse: bool | str = False,
) -> tuple[DataFrame, VectorLayout]:
    """Append per-turn feature vectors: ts_sec:long, lag_sec:long (null
    on the first turn), features, cost:long, vec_hash:long.

    The lag window shuffles once on conv_id; everything else is
    per-partition (no further shuffle).  At scale the input should
    already be bucketed/partitioned by conv_id so this is shuffle-free.

    sparse=False → dense array<float> `features` (the reference's
    fixed-width format, right for narrow vocabularies; float32 halves
    the dominant cache/shuffle bytes); sparse=True → the canonical cell
    set as struct<idx:array<int>, val:array<float>> (idx strictly
    ascending; ~nonzeros×8 bytes per turn instead of width×4);
    sparse="auto" → sparse iff the turn width exceeds 1024.  Window
    paths accept either; full window vectors are bit-identical (pinned
    by tests).  Both formats come from the same cells, so vec_hash is
    the same either way."""
    layout, cells = _cell_builder(vocab, cfg)
    width = layout.width
    if sparse == "auto":
        sparse = width > 1024
    feature_type = (
        "struct<idx:array<int>, val:array<float>>"
        if sparse
        else "array<float>"
    )

    @F.arrow_udf(f"struct<features:{feature_type}, vec_hash:bigint>")
    def encode(
        dow: pa.Array,
        hour: pa.Array,
        role: pa.Array,
        tool: pa.Array,
        toks: pa.Array,
        lag_sec: pa.Array,
    ) -> pa.Array:
        n = len(dow)
        r, c, v = cells(dow, hour, role, tool, toks, lag_sec)
        if sparse:
            bounds = pa.array(np.searchsorted(r, np.arange(n + 1)), pa.int32())
            features = pa.StructArray.from_arrays(
                [
                    pa.ListArray.from_arrays(bounds, c.astype(np.int32)),
                    pa.ListArray.from_arrays(bounds, v),
                ],
                names=["idx", "val"],
            )
        else:
            mat = np.zeros((n, width), dtype=np.float32)
            mat[r, c] = v
            bounds = pa.array(np.arange(n + 1) * width, pa.int32())
            features = pa.ListArray.from_arrays(bounds, mat.ravel())
        return pa.StructArray.from_arrays(
            [features, pa.array(_fingerprint(r, c, v, n))],
            names=["features", "vec_hash"],
        )

    df = (
        _with_lag(transcripts)
        .withColumn("_enc", encode(*_cell_inputs()))
        .withColumns(
            {
                "features": F.col("_enc.features"),
                "cost": _cost(),
                "vec_hash": F.col("_enc.vec_hash"),
            }
        )
        .drop("_enc")
    )
    return df, layout
