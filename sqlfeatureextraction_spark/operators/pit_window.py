"""Point-in-time (per-event, trailing) window features — SLIDING mode.

Reference analog: ``processPerQueryWindows``
(enc/APMWindowFragmentIntent.java:266-304): for each event, the window
``(ts − W, ts]`` — right-closed, membership test at :340-347 — then
group members by entity (:92), dedupe intent-equal members summing cost
(:306-337), take top-K entities by cost (:369-374) and top-N members
per entity (:376-386), and concatenate member vectors with zero-padding
(:422-493).  The reference re-filters the WHOLE event list per window —
O(W·N) — and re-parses every SQL per window; this plan is a single
sort-based pass that reuses the per-turn vector computed once.

One member-row contract, two producers, two finishers.  A selector
emits one row per SELECTED member:

    (conv_id, ts_sec, ts, slot_idx, member_idx, tool, rep_turn_idx)

plus the representative's per-segment sums ``s_time … s_lag`` when the
turn table carries them (``vectorize.with_turn_scalars``).  Producers:

  * ``select_members`` (here) — the JVM selector;
  * ``asof_merge.select_members_salted`` — the salted Arrow selector,
    which wins on hot, dense conversations (scripts/skew_bench.py).

Finishers:

  * ``dense_finish`` — the representatives' feature vectors join back
    and one Arrow UDF scatters the fixed-width window vector
    (``window_scatter``);
  * ``scalar_finish`` — ``SCALAR_FIELDS`` by exact integer sums on the
    JVM, no vector and no Python stage.

``window_features_builtin`` (here) is the JVM selector's dense
composition.  ``asof_merge.window_features_merge`` does not go through
the member rows: its salted Arrow pass encodes raw turns, selects and
scatters in one go (the same ``window_scatter``) and emits finished
anchor rows.

JVM selector formulation:

  1. member lists via ``collect_list().over(rangeBetween(-(W-1), 0))``
     — Spark's sort-based window exec: one shuffle on conv_id, one
     sorted pass per partition; the right-closed ``(ts−W, ts]`` bound
     is ``rangeBetween(-(W−1), 0)`` on integral epoch seconds (Spark's
     own ``F.window`` is left-closed and cannot express this).
     **Member structs are NARROW** — (ts_sec, turn_idx, tool, cost,
     vec_hash[, s_*]), NOT the feature array: carrying the ~2KB vector
     through the window materialization and the dedupe shuffle
     multiplies shuffle bytes by the mean window size (measured: the
     dominant cost at 3M rows, and catastrophic for dense windows).
  2. one anchor row per distinct (conv_id, ts) — the reference skips
     windows with an end-ts equal to the previous one (:280-284);
     with ties all peer rows carry identical member lists (RANGE frame
     includes peers), so any representative is exact.
  3. dedupe/top-K/top-N as a hash groupBy + window functions on the
     (conv_id, ts) key family — ranks instead of a top-tools self-join
     (a join would recompute the whole upstream twice).

Tie-breaking is a DEFINED total order (the reference's is JVM-HashMap
order, SURVEY §4.4.4): entities by (cost desc, tool asc); members by
(cost desc, ts asc, turn_idx asc); dedupe representative = earliest
(ts, turn_idx) member of the intent-equal group.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sqlfeatureextraction_spark.config import FeatureConfig
from sqlfeatureextraction_spark.layout import VectorLayout, window_vector_width
from sqlfeatureextraction_spark.vocab import Vocabulary

# per-turn segment sums (vectorize.with_turn_scalars) that ride along
# with the member rows when the turn table carries them
TURN_SUMS = ("s_time", "s_role", "s_tool", "s_bow", "s_lag")

# scalar projection fields emitted by scalar_finish: the fixed width,
# the tool-intent segment sum, PER-SEGMENT sums of the slotted turn
# vectors (time/role/tool/bow/lag — each independently
# oracle-checkable), and the whole-vector sum
SCALAR_FIELDS = (
    "width",
    "tool_bits",
    "time_sum",
    "role_sum",
    "tool_sum",
    "bow_sum",
    "lag_sum",
    "feat_sum",
)


def pit_member_pairs(vec: DataFrame, cfg: FeatureConfig) -> DataFrame:
    """(anchor conv_id, ts_sec, ts) × exploded NARROW members with
    ts' ∈ (ts−W, ts]: m_ts_sec, m_turn_idx, m_tool ("" for NULL),
    m_cost, m_vec_hash, plus the ``TURN_SUMS`` the turn table carries.

    The anchor at each distinct (conv_id, ts_sec) is its MIN-turn_idx
    row (its full-precision ts becomes the output ts) — the same
    convention as the salted selector and the pandas oracle, so
    sub-second timestamps cannot make the two selectors disagree."""
    sums = [c for c in TURN_SUMS if c in vec.columns]
    w = (
        Window.partitionBy("conv_id")
        .orderBy("ts_sec")
        .rangeBetween(-(cfg.window_size_s - 1), 0)
    )
    tie = Window.partitionBy("conv_id", "ts_sec").orderBy(F.asc("turn_idx"))
    member = F.struct("ts_sec", "turn_idx", "tool", "cost", "vec_hash", *sums)
    # explicit conv_id repartition: a Python eval node upstream
    # cannot advertise partitioning, so without this the planner
    # satisfies the tie window with a (conv_id, ts_sec) exchange and
    # then needs a SECOND exchange back to conv_id for the range
    # window; pinning conv_id here lets one exchange serve the entire
    # downstream chain (every partition spec is a conv_id superset)
    vec = vec.repartition("conv_id")
    # _rn FIRST: its (conv_id, ts_sec, turn_idx) sort also satisfies
    # the (conv_id, ts_sec)-sorted range-frame member window, so the
    # planner emits ONE sort for both (members computed over ALL rows
    # — the _rn filter only selects which row keeps the list, and a
    # filter on a window output never pushes below the other window)
    anchors = (
        vec.withColumn("_rn", F.row_number().over(tie))
        .select(
            "conv_id",
            "ts_sec",
            "ts",
            "_rn",
            F.collect_list(member).over(w).alias("members"),
        )
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    m = F.explode("members").alias("m")
    return anchors.select("conv_id", "ts_sec", "ts", m).select(
        "conv_id",
        "ts_sec",
        "ts",
        F.col("m.ts_sec").alias("m_ts_sec"),
        F.col("m.turn_idx").alias("m_turn_idx"),
        F.coalesce(F.col("m.tool"), F.lit("")).alias("m_tool"),
        F.col("m.cost").alias("m_cost"),
        F.col("m.vec_hash").alias("m_vec_hash"),
        *[F.col(f"m.{s}").alias(s) for s in sums],
    )


def select_members(vec: DataFrame, cfg: FeatureConfig) -> DataFrame:
    """JVM member selector: turn table → member rows (module
    docstring).  Input: a turn table with conv_id, ts, ts_sec,
    turn_idx, tool, cost, vec_hash (``with_turn_features`` or
    ``with_turn_scalars`` output).

    Whole chain: one hash exchange on conv_id (``pit_member_pairs``);
    every groupBy/window after it is keyed on a superset of conv_id
    and reuses it.  The member-rank window runs BEFORE the slot-rank
    window so its filter shrinks the rows the second sort sees."""
    sums = [c for c in TURN_SUMS if c in vec.columns]
    pairs = pit_member_pairs(vec, cfg)

    # A2 dedupe: intent-equal members within the window, summing cost;
    # representative = earliest (ts, turn_idx) member.  Kept
    # HASH-aggregable (all-primitive keys and buffers; min(struct)
    # would force a SortAggregate + an extra 5-key sort):
    #   * the per-segment sums are functionally dependent on
    #     m_vec_hash (equal hash ⇒ equal vector ⇒ equal sums), so
    #     adding them to the GROUP KEY cannot split any group;
    #   * the (m_ts_sec, m_turn_idx) representative order packs into
    #     one BIGINT — ts_sec < 2^32 until year 2106 and turn_idx is a
    #     non-negative int32, so (ts_sec << 31) + turn_idx stays below
    #     2^63 and preserves the lexicographic order exactly.
    g_ord_packed = (
        F.shiftleft(F.col("m_ts_sec"), 31) + F.col("m_turn_idx")
    ).cast("long")
    dedup = pairs.groupBy(
        "conv_id", "ts_sec", "ts", "m_tool", "m_vec_hash", *sums
    ).agg(
        F.sum("m_cost").alias("g_cost"),
        F.min(g_ord_packed).alias("g_ord"),
    )

    # W7 then W6: member rank FIRST (its sort also satisfies the
    # order-free tool_cost window: same partition-key prefix), filter
    # to <= top_n per tool, THEN rank tools — the slot sort runs on
    # the filtered rows
    tool_cost_w = Window.partitionBy("conv_id", "ts_sec", "m_tool")
    mem_w = Window.partitionBy("conv_id", "ts_sec", "m_tool").orderBy(
        F.desc("g_cost"), F.asc("g_ord")
    )
    slot_w = Window.partitionBy("conv_id", "ts_sec").orderBy(
        F.desc("tool_cost"), F.asc("m_tool")
    )
    members = (
        dedup.withColumn("member_idx", F.row_number().over(mem_w) - 1)
        .withColumn("tool_cost", F.sum("g_cost").over(tool_cost_w))
        .where(F.col("member_idx") < cfg.top_n_members)
        .withColumn("slot_idx", F.dense_rank().over(slot_w) - 1)
        .where(F.col("slot_idx") < cfg.top_k_entities)
    )
    return members.select(
        "conv_id",
        "ts_sec",
        "ts",
        "slot_idx",
        "member_idx",
        F.col("m_tool").alias("tool"),
        # the low 31 bits of the packed order are the turn_idx
        F.col("g_ord").bitwiseAND(F.lit((1 << 31) - 1)).alias("rep_turn_idx"),
        *sums,
    )


def window_scatter(vocab: Vocabulary, cfg: FeatureConfig, layout: VectorLayout):
    """W8 fixed-width scatter shared by every dense finisher: returns
    ``fill(n_anchors, anchor, slot, member, tool, features)``, which
    writes the selected members (one entry per member in the numpy
    index arrays ``anchor``/``slot``/``member`` and the aligned Arrow
    arrays ``tool`` and ``features``) into an (n_anchors, width)
    float32 matrix and returns it as a ``list<float>`` Arrow array.

    Layout: tool_intent(|T|) ‖ slot-major, member-minor turn vectors,
    zero-padded (enc/APMWindowFragmentIntent.java:487-490).  Numpy
    index arithmetic only: the tool bits and the member vectors are
    each one fancy-indexed assignment, whatever the member count.
    ``features`` is the dense ``list<float>`` or the sparse
    ``struct<idx, val>`` transport; the sparse cells are densified
    here, at the only place the fixed-width form is needed."""
    k, n = cfg.top_k_entities, cfg.top_n_members
    tool_bits = dict(vocab.tools)
    turn_w = layout.width
    n_tools = layout.seg("tool").width
    out_w = window_vector_width(layout, k, n)

    def fill(
        n_anchors: int,
        anchor: np.ndarray,
        slot: np.ndarray,
        member: np.ndarray,
        tool: pa.Array,
        features: pa.Array,
    ) -> pa.Array:
        # float32 like the turn vectors (exact for 0/1 bits + small counts)
        mat = np.zeros((n_anchors, out_w), dtype=np.float32)
        # a view: splitting the contiguous last axis never copies
        body = mat[:, n_tools:].reshape(n_anchors, k * n, turn_w)
        cell = slot.astype(np.int64) * n + member
        codes = pc.dictionary_encode(pc.fill_null(tool, ""))
        bits = np.array(
            [tool_bits.get(t, -1) for t in codes.dictionary.to_pylist()],
            dtype=np.int64,
        )[codes.indices.to_numpy(zero_copy_only=False)]
        known = bits >= 0
        mat[anchor[known], bits[known]] = 1.0
        if pa.types.is_struct(features.type):
            idx, val = features.flatten()
            off = idx.offsets.to_numpy()
            owner = np.repeat(np.arange(len(idx)), np.diff(off))
            body[anchor[owner], cell[owner], _list_values(idx)] = (
                _list_values(val)
            )
        else:
            body[anchor, cell] = _list_values(features).reshape(
                len(features), turn_w
            )
        bounds = pa.array(np.arange(n_anchors + 1) * out_w, pa.int32())
        return pa.ListArray.from_arrays(bounds, pa.array(mat.ravel()))

    return fill


def _list_values(lst: pa.Array) -> np.ndarray:
    """The flat values of a (possibly sliced) list array, as numpy."""
    off = lst.offsets.to_numpy()
    return lst.values.to_numpy(zero_copy_only=False)[off[0] : off[-1]]


def _assemble_udf(vocab: Vocabulary, cfg: FeatureConfig, layout: VectorLayout):
    """One Arrow UDF over each anchor's collected (slot_idx, member_idx,
    tool, features) slots: the slot structs flatten to aligned member
    arrays, and ``window_scatter`` fills the whole batch at once."""
    fill = window_scatter(vocab, cfg, layout)

    @F.arrow_udf(T.ArrayType(T.FloatType()))
    def assemble(slots: pa.Array) -> pa.Array:
        slot_idx, member_idx, tool, features = slots.flatten().flatten()
        return fill(
            len(slots),
            slots.value_parent_indices().to_numpy(),
            slot_idx.to_numpy(),
            member_idx.to_numpy(),
            tool,
            features,
        )

    return assemble


def dense_finish(
    members: DataFrame,
    vec: DataFrame,
    vocab: Vocabulary,
    cfg: FeatureConfig,
    layout: VectorLayout,
) -> DataFrame:
    """Member rows → (conv_id, ts_sec, ts, window_features).

    The ≤ k·n selected representatives join their feature vectors back
    by (conv_id, turn_idx): the wide array moves once on the vec side
    of this join (a shuffle, or a broadcast when vec is small), and
    again when the per-anchor ``collect_list`` sends its partial
    buffers through an exchange on (conv_id, ts_sec, ts) — unless the
    joined rows are already clustered by conv_id.  The deployment
    pipeline does not run this finisher: ``asof_merge.
    window_features_merge`` encodes and scatters inside its salted
    pass, so there no turn vector crosses an exchange.
    `vec` should be cached/materialized by the caller since it feeds
    both the selector and this join.  ts_sec rides
    along (1:1 with ts per conv — the anchor key family) so downstream
    joins can normalize on the epoch key even with sub-second
    timestamps."""
    feats = vec.select(
        "conv_id",
        F.col("turn_idx").cast("long").alias("rep_turn_idx"),
        F.col("features").alias("g_features"),
    )
    joined = members.join(feats, ["conv_id", "rep_turn_idx"])
    slots = joined.groupBy("conv_id", "ts_sec", "ts").agg(
        F.collect_list(
            F.struct(
                F.col("slot_idx"),
                F.col("member_idx"),
                F.col("tool"),
                F.col("g_features").alias("features"),
            )
        ).alias("slots")
    )
    assemble = _assemble_udf(vocab, cfg, layout)
    return slots.select(
        "conv_id",
        "ts_sec",
        "ts",
        assemble(F.col("slots")).alias("window_features"),
    )


def scalar_finish(
    members: DataFrame,
    vocab: Vocabulary,
    cfg: FeatureConfig,
    layout: VectorLayout,
) -> DataFrame:
    """Member rows carrying ``TURN_SUMS`` → (conv_id, ts_sec,
    *SCALAR_FIELDS) by exact integer arithmetic on the JVM — the same
    values as reducing ``dense_finish``'s vectors, without the wide
    vector, the feature join-back or the assembly UDF:

      * segment sums of the assembled window matrix = Σ over selected
        members of their per-turn segment sums (slots never overlap:
        (slot_idx, member_idx) is unique per anchor);
      * the tool-intent popcount = the number of distinct
        in-vocabulary tools among selected members.  Every selected
        slot has exactly one member_idx == 0 row and its own tool, so
        a plain sum counts them — no collect_set, whose
        ObjectHashAggregate can fall back to sort-based aggregation."""
    out_w = window_vector_width(
        layout, cfg.top_k_entities, cfg.top_n_members
    )
    slot_bit = (F.col("member_idx") == 0) & F.col("tool").isin(
        sorted(vocab.tools)
    )
    agg = members.groupBy("conv_id", "ts_sec").agg(
        F.sum(slot_bit.cast("long")).alias("tool_bits"),
        *[F.sum(s).cast("long").alias(f"{s[2:]}_sum") for s in TURN_SUMS],
    )
    seg_total = sum(F.col(f"{s[2:]}_sum") for s in TURN_SUMS)
    return agg.withColumns(
        {
            "width": F.lit(out_w).cast("int"),
            "feat_sum": (F.col("tool_bits") + seg_total).cast("bigint"),
        }
    ).select("conv_id", "ts_sec", *SCALAR_FIELDS)


def window_features_builtin(
    vec: DataFrame,
    vocab: Vocabulary,
    cfg: FeatureConfig,
    layout: VectorLayout,
) -> DataFrame:
    """(conv_id, ts) → window_features:array<float> — the JVM selector
    and the dense finisher."""
    return dense_finish(select_members(vec, cfg), vec, vocab, cfg, layout)


def ewma_time_decay(
    df: DataFrame,
    half_life_s: float,
    entity_col: str = "conv_id",
    ts_col: str = "ts",
    value_col: str = "value",
    order_cols: tuple = (),
    round_dp: int = 6,
    quantize_dp: int | None = None,
) -> DataFrame:
    """Time-decayed running sum over irregular event times — the
    classic point-in-time recency feature: at each row,
    ``ewma = Σ_{j ≤ i} v_j · 2^{-(t_i − t_j)/half_life}`` (each past
    observation halves in weight every ``half_life_s`` seconds;
    strictly causal, uses only rows with t' ≤ t).

    Spark-first, NO per-row loop: the linear recurrence folds into a
    prefix sum via rescaling — with λ = ln2/half_life and t0 = the
    entity's first timestamp (a window min),
    ``ewma_i = exp(−λ(t_i−t0)) · Σ_{j≤i} v_j·exp(λ(t_j−t0))`` —
    one conversation-key window computing the cumsum, whole-stage
    codegen, identical arithmetic order in any SQL engine (so the
    oracle matches to rounding).

    Range constraint (documented, asserted): the rescaled exponent
    λ·(t_max−t0) must stay under ~700 or exp overflows double — at
    half-life h the window span must be ≲ 1000·h.  For longer spans
    segment the timeline and carry the boundary value (the streaming
    path's state-passing does exactly that); this operator targets
    the windowed-feature regime where spans are session/window
    sized.

    ``quantize_dp`` makes the prefix sum cross-engine exact: each
    rescaled term v_j*exp(lam*(t_j-t0)) is rounded to that many
    decimal places and accumulated as a scaled int64 (associative —
    partition-merge order and window-frame association cannot change
    a bit), so the only remaining float steps are the per-row exp()
    and one multiply+round, whose ulp noise does not accumulate.
    Without it a 10k-row running double sum drifts by ulps into
    ROUND boundaries and two engines can disagree on the 6th
    decimal.  Term magnitudes must satisfy |term|*10^dp*rows <
    2^63 — trivially true in the windowed-feature regime.

    Output: df's columns + ewma (rounded).
    """
    import math

    lam = math.log(2.0) / float(half_life_s)
    w_all = Window.partitionBy(entity_col)
    w_ord = Window.partitionBy(entity_col).orderBy(
        ts_col, *[F.asc(c) for c in order_cols]
    )
    t = F.col(ts_col).cast("timestamp").cast("long")
    t0 = F.min(t).over(w_all)
    scaled = F.col(value_col) * F.exp(F.lit(lam) * (t - t0))
    if quantize_dp is not None:
        s = 10 ** quantize_dp
        term = F.round(scaled * s).cast("long")
        run = F.sum(term).over(
            w_ord.rowsBetween(Window.unboundedPreceding, 0)
        )
        return df.withColumn(
            "ewma",
            F.round(
                F.exp(-F.lit(lam) * (t - t0))
                * (run.cast("double") / F.lit(float(s))),
                round_dp,
            ),
        )
    run = F.sum(scaled).over(
        w_ord.rowsBetween(Window.unboundedPreceding, 0)
    )
    return df.withColumn(
        "ewma", F.round(F.exp(-F.lit(lam) * (t - t0)) * run, round_dp)
    )
