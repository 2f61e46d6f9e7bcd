"""Point-in-time (per-event, trailing) window features: the parts the
window engine's products share.

The window engine is ``asof_merge``: one salted Arrow pass over raw
turns that lists the trailing ``(ts − W, ts]`` members of every
distinct (conv_id, ts), dedupes, ranks and selects them
(enc/APMWindowFragmentIntent.java:266-493), and owns the membership
rule, the anchor convention and the tie order.  This module holds what
its products hand on to:

  * ``window_scatter`` — the fixed-width window vector scatter
    (tool intent ‖ slot-major, member-minor turn vectors, zero-padded;
    :422-493) that ``asof_merge.window_features_merge`` runs inside
    its pass;
  * ``scalar_finish`` — ``SCALAR_FIELDS`` of the window vectors by
    exact integer sums on the JVM, from the member rows of
    ``asof_merge.select_members_salted``, without building the vector;
  * ``ewma_time_decay`` — a time-decayed running sum, the other
    point-in-time recency feature.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sqlfeatureextraction_spark.config import FeatureConfig
from sqlfeatureextraction_spark.layout import VectorLayout, window_vector_width
from sqlfeatureextraction_spark.vocab import Vocabulary

# the representative turn's per-segment sums that every member row
# carries (asof_merge.select_members_salted), in layout segment order
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


def window_scatter(vocab: Vocabulary, cfg: FeatureConfig, layout: VectorLayout):
    """W8 fixed-width scatter of the window vectors: returns
    ``fill(n_anchors, anchor, slot, member, tool, features)``, which
    writes the selected members (one entry per member in the numpy
    index arrays ``anchor``/``slot``/``member`` and the aligned Arrow
    arrays ``tool`` and ``features``) into an (n_anchors, width)
    float32 matrix and returns it as a ``list<float>`` Arrow array.

    Layout: tool_intent(|T|) ‖ slot-major, member-minor turn vectors,
    zero-padded (enc/APMWindowFragmentIntent.java:487-490).  Numpy
    index arithmetic only: the tool bits and the member vectors are
    each one fancy-indexed assignment, whatever the member count.
    ``features`` is the sparse ``struct<idx, val>`` transport
    (``vectorize.sparse_rows``); its cells are densified here, at the
    only place the fixed-width form is needed."""
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
        idx, val = features.flatten()
        owner = pc.list_parent_indices(idx).to_numpy()
        body[anchor[owner], cell[owner], pc.list_flatten(idx).to_numpy()] = (
            pc.list_flatten(val).to_numpy()
        )
        bounds = pa.array(np.arange(n_anchors + 1) * out_w, pa.int32())
        return pa.ListArray.from_arrays(bounds, pa.array(mat.ravel()))

    return fill


def scalar_finish(
    members: DataFrame,
    vocab: Vocabulary,
    cfg: FeatureConfig,
    layout: VectorLayout,
) -> DataFrame:
    """Member rows carrying ``TURN_SUMS`` → (conv_id, ts_sec,
    *SCALAR_FIELDS) by exact integer arithmetic on the JVM — the same
    values as reducing ``asof_merge.window_features_merge``'s window
    vectors, without building them:

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
