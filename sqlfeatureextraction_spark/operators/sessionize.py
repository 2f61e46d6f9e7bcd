"""Gap-based sessionization with monotonic session_id.

Reference analog: sessions arrive labeled in the MINC logs and are
split/validated by running counters (`prevSessionID`/`queryID`,
enc/IntentCreatorMultiThread.java:73-78, 339-394; validity filter
2 ≤ n < 50 at :249-253).  The transcript engine derives sessions from
event-time gaps: a new session starts when ts − prev_ts > gap.

Spark-first: one window spec (partitionBy conv_id, orderBy ts,
turn_idx) feeds lag + a running sum of gap-exceeded flags — a single
shuffle, whole-stage codegen throughout, no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

TURN_ORDER = ["ts", "turn_idx"]


def _epoch(col):
    return F.col(col).cast("timestamp").cast("long")


def sessionize(
    df: DataFrame,
    gap_s: int = 1800,
    entity_col: str = "conv_id",
    ts_col: str = "ts",
    order_cols: tuple = ("turn_idx",),
) -> DataFrame:
    """Append session_id (0-based, monotonic per entity) and gap_s lag."""
    w = Window.partitionBy(entity_col).orderBy(ts_col, *order_cols)
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    gap = _epoch(ts_col) - F.lag(_epoch(ts_col)).over(w)
    flag = F.when(gap > gap_s, F.lit(1)).otherwise(F.lit(0))
    return df.withColumn("prev_gap_s", gap).withColumn(
        "session_id", F.sum(flag).over(run)
    )


def filter_valid_sessions(
    sess: DataFrame,
    min_turns: int = 2,
    max_turns: int = 50,
    entity_col: str = "conv_id",
) -> DataFrame:
    """Session validity gate (reference 2 ≤ n < 50,
    enc/IntentCreatorMultiThread.java:249-253) — a windowed count +
    filter, no join."""
    w = Window.partitionBy(entity_col, "session_id")
    return (
        sess.withColumn("_n", F.count("*").over(w))
        .where((F.col("_n") >= min_turns) & (F.col("_n") < max_turns))
        .drop("_n")
    )


def train_test_split_by_session(
    df: DataFrame,
    entity_col: str = "conv_id",
    order_cols: tuple = ("ts", "turn_idx"),
    train_ratio: float = 0.8,
    split_col: str = "split",
) -> DataFrame:
    """Deterministic per-session ordered train/test split (the
    reference's dataset step, enc/APMWindowFragmentIntent.java:560-587:
    ``subList(0, (int)(n*ratio))`` of each session's ordered lines →
    train, the rest → test; floor semantics, so an n=4 session at 0.8
    yields 3 train + 1 test).

    One window-function pass on the (entity) partitioning — no join,
    no shuffle beyond the partitionBy; deterministic under the defined
    total order."""
    w = Window.partitionBy(entity_col).orderBy(*order_cols)
    wn = Window.partitionBy(entity_col)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .withColumn("_n", F.count("*").over(wn))
        .withColumn(
            split_col,
            F.when(
                F.col("_rn")
                <= F.floor(F.col("_n") * F.lit(train_ratio)).cast("int"),
                F.lit("train"),
            ).otherwise(F.lit("test")),
        )
        .drop("_rn", "_n")
    )


def pack_transcript_spans(
    tx: DataFrame,
    conv_col: str = "conv_id",
    order_cols: tuple = ("turn_idx",),
    role_col: str = "role",
    text_col: str = "text",
    sep: str = "\n",
    train_roles: tuple = ("assistant",),
) -> DataFrame:
    """Transcript → training-example packing manifest with loss-mask
    spans: render each conversation as the ordered concatenation of
    ``"<role>: <text>"`` pieces joined by ``sep``, and emit one row per
    turn with its character span in that rendering plus ``train_on``
    (true for roles the loss is computed on — assistant turns by
    default, the standard SFT masking).  The packed string itself is
    never materialized (same manifest-not-payload design as
    curation.pack_sequences): a writer reconstructs it from the spans,
    and downstream tokenizer offsets are affine in the char offsets.

    Offsets are exact by construction: ``start`` of a turn is the
    window running sum of ``len(piece) + len(sep)`` over PRECEDING
    turns in (order_cols) order, ``end = start + len(piece)``, with
    ``piece = role + ": " + coalesce(text, '')``.

    Plan shape: ONE window spec (partitionBy conv, orderBy order_cols)
    computing the running sum — a single shuffle on the conversation
    key, whole-stage codegen, no Python; per-task work is bounded by
    conversation length, the same bound every transcript window op in
    this engine carries.

    Output: (conv_col, *order_cols, role_col, start_char, end_char,
    train_on).
    """
    piece = F.length(F.col(role_col)) + F.lit(2) + F.length(
        F.coalesce(F.col(text_col), F.lit(""))
    )
    w = Window.partitionBy(conv_col).orderBy(
        *[F.asc(c) for c in order_cols]
    )
    prev = F.sum(piece + F.lit(len(sep))).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(prev, F.lit(0)).cast("long")
    return tx.select(
        conv_col,
        *order_cols,
        role_col,
        start.alias("start_char"),
        (start + piece).cast("long").alias("end_char"),
        F.col(role_col).isin(*train_roles).alias("train_on"),
    )


def pair_prompt_response(
    tx: DataFrame,
    conv_col: str = "conv_id",
    order_cols: tuple = ("turn_idx",),
    role_col: str = "role",
    text_col: str = "text",
    ts_col: str | None = None,
    prompt_role: str = "user",
    response_role: str = "assistant",
) -> DataFrame:
    """Prompt→response pair extraction: every ``response_role`` turn
    paired with the NEAREST PRECEDING ``prompt_role`` turn in the same
    conversation — the step that turns raw transcripts into SFT /
    preference-tuning pairs (intervening tool/system turns are skipped
    over, not broken on; a response with no preceding prompt in its
    conversation is dropped).

    Spark-first: one window spec (partitionBy conv, orderBy
    order_cols) and ``last(..., ignorenulls=True)`` over a
    role-gated projection — the conditional as-of lookup stays
    whole-stage-codegen JVM, one shuffle on the conversation key,
    per-task work bounded by conversation length.  If ``ts_col`` is
    given, the prompt's timestamp is carried the same way and
    ``latency_s`` (response ts − prompt ts, epoch seconds) is
    emitted — the think-time feature.

    Output: (conv_col, *order_cols, prompt_idx = the prompt's first
    order col, prompt_text, response_text[, latency_s]).
    """
    w = Window.partitionBy(conv_col).orderBy(
        *[F.asc(c) for c in order_cols]
    ).rowsBetween(Window.unboundedPreceding, -1)
    is_prompt = F.col(role_col) == prompt_role
    gate = lambda c: F.when(is_prompt, c)  # noqa: E731
    idx0 = F.col(order_cols[0])
    out = tx.withColumn(
        "prompt_idx", F.last(gate(idx0), ignorenulls=True).over(w)
    ).withColumn(
        "prompt_text",
        F.last(
            gate(F.coalesce(F.col(text_col), F.lit(""))),
            ignorenulls=True,
        ).over(w),
    )
    if ts_col is not None:
        out = out.withColumn(
            "_p_ts",
            F.last(gate(_epoch(ts_col)), ignorenulls=True).over(w),
        ).withColumn("latency_s", _epoch(ts_col) - F.col("_p_ts"))
    cols = [
        conv_col,
        *order_cols,
        "prompt_idx",
        "prompt_text",
        F.coalesce(F.col(text_col), F.lit("")).alias("response_text"),
    ]
    if ts_col is not None:
        cols.append("latency_s")
    return out.where(
        (F.col(role_col) == response_role)
        & F.col("prompt_idx").isNotNull()
    ).select(*cols)


def assemble_context_budget(
    tx: DataFrame,
    budget_tokens: int,
    conv_col: str = "conv_id",
    order_cols: tuple = ("turn_idx",),
    text_col: str = "text",
) -> DataFrame:
    """Context-window assembly under a token budget: for every turn
    (the anchor), how many IMMEDIATELY PRECEDING turns of the same
    conversation fit in ``budget_tokens`` — the step that decides how
    much history each SFT training example carries.  The included
    context is the maximal contiguous suffix of prior turns whose
    whitespace-token total is ≤ the budget (greedy-from-the-anchor
    backwards, the standard truncation rule).

    Spark-first, no self-join: with per-turn token counts t_k and the
    exclusive running sum p_k = Σ_{m<k} t_m, turn k belongs to anchor
    i's context iff p_k ≥ p_i − budget.  Every turn is charged
    ``max(1, tokens)`` (the role header always costs something), so
    p is STRICTLY increasing within a conversation and a window
    ``ORDER BY p RANGE BETWEEN budget PRECEDING AND CURRENT ROW``
    selects exactly the suffix {j..i}: count−1 = context turns,
    p_i − min(p) = context tokens, min(idx) on the proper frame = the
    first included turn.  Two window sorts over ONE hash exchange on
    the conversation key; whole-stage codegen throughout (the same
    backwards-budget scan a per-conversation Python loop would do,
    expressed as prefix sums — O(n log n) in-partition, no
    quadratic self-join, no single-task conversation pinning).

    Output: (conv_col, *order_cols, n_tokens, ctx_turns, ctx_tokens,
    ctx_start_idx) — ctx_start_idx is NULL when no prior turn fits.
    """
    idx0 = F.col(order_cols[0])
    toks = F.greatest(
        F.lit(1),
        F.size(
            F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+")
        )
        - F.when(
            F.trim(F.coalesce(F.col(text_col), F.lit(""))) == "", 1
        ).otherwise(0),
    )
    w_ord = Window.partitionBy(conv_col).orderBy(
        *[F.asc(c) for c in order_cols]
    )
    cum_excl = w_ord.rowsBetween(Window.unboundedPreceding, -1)
    stepped = tx.withColumn("n_tokens", toks).withColumn(
        "_p", F.coalesce(F.sum("n_tokens").over(cum_excl), F.lit(0))
    )
    w_rng = (
        Window.partitionBy(conv_col)
        .orderBy(F.col("_p").cast("long"))
        .rangeBetween(-int(budget_tokens), 0)
    )
    w_prior = (
        Window.partitionBy(conv_col)
        .orderBy(F.col("_p").cast("long"))
        .rangeBetween(-int(budget_tokens), -1)
    )
    return stepped.select(
        conv_col,
        *order_cols,
        "n_tokens",
        (F.count(F.lit(1)).over(w_rng) - F.lit(1)).alias("ctx_turns"),
        (F.col("_p") - F.min("_p").over(w_rng)).alias("ctx_tokens"),
        F.min(idx0).over(w_prior).alias("ctx_start_idx"),
    )


def build_preference_pairs(
    tx: DataFrame,
    conv_col: str = "conv_id",
    order_cols: tuple = ("turn_idx",),
    role_col: str = "role",
    text_col: str = "text",
    score_col: str = "score",
    prompt_role: str = "user",
    response_role: str = "assistant",
) -> DataFrame:
    """Preference-pair (chosen/rejected) construction for DPO/RLHF:
    assistant responses that answer the SAME prompt (regenerations /
    retries — multiple ``response_role`` turns sharing the nearest
    preceding ``prompt_role`` turn) are reduced to one training pair
    per prompt: chosen = highest ``score_col``, rejected = lowest,
    with the earlier turn (full numeric order-column tuple) winning
    score ties on the chosen side and the later turn losing them on
    the rejected side (deterministic, order-stable even when the
    leading order column has duplicates).  Prompts with a single
    response, or whose best and
    worst scores are equal, yield no pair — the standard DPO margin
    filter.

    Spark-first: prompt attribution is the same one-window
    last(ignorenulls) lookup as :func:`pair_prompt_response`; the
    per-prompt reduction is ONE groupBy with ``max_by``/``min_by``
    over lexicographic struct keys (score, −idx) — no self-join, no
    row_number + filter + re-join, partial aggregation map-side.
    Two narrow shuffles total (conversation key, then prompt key).

    Output: (conv_col, prompt_idx, prompt_text, n_responses,
    chosen_idx, chosen_text, chosen_score, rejected_idx,
    rejected_text, rejected_score).
    """
    w = Window.partitionBy(conv_col).orderBy(
        *[F.asc(c) for c in order_cols]
    ).rowsBetween(Window.unboundedPreceding, -1)
    is_prompt = F.col(role_col) == prompt_role
    idx0 = F.col(order_cols[0])
    resp = (
        tx.withColumn(
            "prompt_idx",
            F.last(F.when(is_prompt, idx0), ignorenulls=True).over(w),
        )
        .withColumn(
            "prompt_text",
            F.last(
                F.when(is_prompt, F.coalesce(F.col(text_col), F.lit(""))),
                ignorenulls=True,
            ).over(w),
        )
        .where(
            (F.col(role_col) == response_role)
            & F.col("prompt_idx").isNotNull()
        )
    )
    cand = F.struct(
        idx0.alias("idx"),
        F.coalesce(F.col(text_col), F.lit("")).alias("text"),
        F.col(score_col).cast("double").alias("score"),
    )
    hi_key = F.struct(
        F.col(score_col).cast("double").alias("s"),
        *[
            (-F.col(c)).alias(f"i{k}")
            for k, c in enumerate(order_cols)
        ],
    )
    agg = resp.groupBy(conv_col, "prompt_idx").agg(
        # max, not first: constant within a group except in the
        # degenerate equal-prompt_idx collision case, where max keeps
        # the reduction deterministic and cross-engine reproducible
        F.max("prompt_text").alias("prompt_text"),
        F.count(F.lit(1)).alias("n_responses"),
        F.max_by(cand, hi_key).alias("_c"),
        F.min_by(cand, hi_key).alias("_r"),
    )
    return agg.where(
        (F.col("n_responses") >= 2)
        & (F.col("_c.score") > F.col("_r.score"))
    ).select(
        conv_col,
        "prompt_idx",
        "prompt_text",
        "n_responses",
        F.col("_c.idx").alias("chosen_idx"),
        F.col("_c.text").alias("chosen_text"),
        F.col("_c.score").alias("chosen_score"),
        F.col("_r.idx").alias("rejected_idx"),
        F.col("_r.text").alias("rejected_text"),
        F.col("_r.score").alias("rejected_score"),
    )


def merge_consecutive_turns(
    tx: DataFrame,
    conv_col: str = "conv_id",
    order_cols: tuple = ("turn_idx",),
    role_col: str = "role",
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """Transcript normalization: collapse RUNS of consecutive turns
    with the same role into one turn (double submissions, streamed
    chunks, multi-message replies), concatenating texts in turn order
    with ``sep`` — the canonicalization most chat-template renderers
    require (strict role alternation).

    Spark-first: the run id is a running sum of role-change flags
    (lag over one conversation window — the same segmenting idiom as
    :func:`sessionize`); the per-run reduction is a groupBy whose
    text assembly is ``array_join(transform(array_sort(collect_list(
    struct(order…, text)))))`` — sorted in-group, so the result is
    deterministic regardless of shuffle arrival order, all JVM.
    Per-task memory is bounded by the longest same-role run, not the
    conversation.  Two narrow shuffles (conversation window, then the
    run-key aggregation).

    Output: (conv_col, seg_idx = 0-based run index, role_col, text =
    joined run text, n_merged, first_idx, last_idx).
    """
    w = Window.partitionBy(conv_col).orderBy(
        *[F.asc(c) for c in order_cols]
    )
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    role = F.coalesce(F.col(role_col), F.lit(""))
    changed = F.when(
        F.lag(role).over(w).isNull() | (F.lag(role).over(w) != role),
        F.lit(1),
    ).otherwise(F.lit(0))
    idx0 = F.col(order_cols[0])
    seg = tx.withColumn("seg_idx", F.sum(changed).over(run) - F.lit(1))
    item = F.struct(
        *[F.col(c).alias(f"o{k}") for k, c in enumerate(order_cols)],
        F.coalesce(F.col(text_col), F.lit("")).alias("t"),
    )
    return (
        seg.groupBy(conv_col, "seg_idx")
        .agg(
            F.max(role).alias(role_col),  # constant within a run
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(item)), lambda s: s["t"]
                ),
                sep,
            ).alias(text_col),
            F.count(F.lit(1)).alias("n_merged"),
            F.min(idx0).alias("first_idx"),
            F.max(idx0).alias("last_idx"),
        )
    )


def conversation_features(
    tx: DataFrame,
    conv_col: str = "conv_id",
    order_cols: tuple = ("turn_idx",),
    role_col: str = "role",
    text_col: str = "text",
    ts_col: str | None = None,
    roles: tuple = ("user", "assistant", "tool", "system"),
) -> DataFrame:
    """Conversation-level structural feature vector — the per-dialog
    signals agent-transcript curation filters on: per-role turn
    counts, token totals, role-alternation ratio (how conversational
    the dialog is vs one side monologuing), and mean inter-turn gap.

    Spark-first: ONE window pass (lag over the conversation order for
    the alternation flag and the gap) feeding ONE map-side-combinable
    groupBy of conditional-sum aggregates — two narrow shuffles on
    the conversation key, all codegen, per-task state O(1).

    Output: (conv_col, n_turns, n_<role> per role, n_tokens,
    n_alternations, alternation_ratio = role changes / (n_turns−1),
    0.0 for single-turn[, sum_gap_s, n_gaps, mean_gap_s rounded
    4dp]).  The integer companions (n_alternations, sum_gap_s,
    n_gaps) carry the same information as the rounded ratios but are
    exact — cross-engine comparisons should prefer them, since
    ROUND of a run-order-dependent double AVG can flip at a rounding
    boundary between engines.
    """
    w = Window.partitionBy(conv_col).orderBy(
        *[F.asc(c) for c in order_cols]
    )
    role = F.coalesce(F.col(role_col), F.lit(""))
    toks = F.size(
        F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+")
    ) - F.when(
        F.trim(F.coalesce(F.col(text_col), F.lit(""))) == "", 1
    ).otherwise(0)
    prev_role = F.lag(role).over(w)
    changed = F.when(
        prev_role.isNotNull() & (prev_role != role), 1
    ).otherwise(0)
    stepped = tx.select(
        conv_col,
        role.alias("_role"),
        toks.alias("_tok"),
        changed.alias("_chg"),
        *(
            [
                (
                    _epoch(ts_col) - F.lag(_epoch(ts_col)).over(w)
                ).alias("_gap")
            ]
            if ts_col is not None
            else []
        ),
    )
    aggs = [
        F.count(F.lit(1)).alias("n_turns"),
        *[
            F.sum((F.col("_role") == r).cast("int")).alias(f"n_{r}")
            for r in roles
        ],
        F.sum("_tok").alias("n_tokens"),
        F.sum("_chg").alias("n_alternations"),
        F.round(
            F.sum("_chg")
            / F.greatest(F.count(F.lit(1)) - F.lit(1), F.lit(1)),
            6,
        ).alias("alternation_ratio"),
    ]
    if ts_col is not None:
        aggs.append(F.sum("_gap").alias("sum_gap_s"))
        aggs.append(F.count("_gap").alias("n_gaps"))
        aggs.append(F.round(F.avg("_gap"), 4).alias("mean_gap_s"))
    return stepped.groupBy(conv_col).agg(*aggs)


def transition_counts(
    tx: DataFrame,
    conv_col: str = "conv_id",
    order_cols: tuple = ("turn_idx",),
    state_col: str = "tool",
    round_dp: int = 6,
) -> DataFrame:
    """First-order transition statistics over per-conversation state
    sequences (tool→tool, role→role, …) — the Markov features agent-
    behavior models and anomaly filters train on: for every observed
    (prev_state, state) pair, its count and the conditional
    probability P(state | prev_state).

    Spark-first: one lag over the conversation window (transitions
    never cross conversations), one map-side-combinable groupBy on
    the pair, and the row-normalization as a window sum over the
    pair-count aggregate partitioned by prev_state — the third
    "shuffle" moves only the (distinct pairs)-row table.  NULL
    states participate as the empty string; each conversation's
    first turn contributes no transition.

    Output: (prev_state, state, n, p = n / Σ_state' n rounded).
    """
    w = Window.partitionBy(conv_col).orderBy(
        *[F.asc(c) for c in order_cols]
    )
    st = F.coalesce(F.col(state_col), F.lit(""))
    pairs = (
        tx.select(st.alias("state"), F.lag(st).over(w).alias("prev_state"))
        .where(F.col("prev_state").isNotNull())
        .groupBy("prev_state", "state")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    row_tot = F.sum("n").over(Window.partitionBy("prev_state"))
    return pairs.select(
        "prev_state",
        "state",
        "n",
        F.round(F.col("n") / row_tot, round_dp).alias("p"),
    )


def with_edit_distance_features(
    tx: DataFrame,
    conv_col: str = "conv_id",
    order_cols: tuple = ("turn_idx",),
    text_col: str = "text",
    role_col: str | None = None,
    round_dp: int = 6,
) -> DataFrame:
    """Turn-over-turn edit-distance features — the retry/self-
    correction detector: Levenshtein distance from each turn to the
    PREVIOUS turn in its conversation (optionally the previous turn
    of the same role, the natural "edited resubmission" comparison),
    plus the normalized similarity 1 − d/max(len, len_prev) ∈ [0, 1]
    (1 = identical, 0 = disjoint).  First turns get NULLs.

    Spark-first: one lag over the conversation window feeding the
    builtin ``levenshtein`` — JVM, no UDF, one shuffle; the
    same-role variant gates the lag with the pair_prompt_response
    conditional-window idiom instead of a self-join.

    Output: tx's columns + (prev_len, edit_dist, edit_sim).
    """
    w = Window.partitionBy(conv_col).orderBy(
        *[F.asc(c) for c in order_cols]
    )
    cur = F.coalesce(F.col(text_col), F.lit(""))
    if role_col is None:
        prev = F.lag(cur).over(w)
    else:
        # previous SAME-ROLE turn: lag over the (conv, role) window —
        # no self-join needed
        role = F.coalesce(F.col(role_col), F.lit(""))
        w_role = Window.partitionBy(conv_col, role).orderBy(
            *[F.asc(c) for c in order_cols]
        )
        prev = F.lag(cur).over(w_role)
    d = F.levenshtein(cur, prev)
    mx = F.greatest(F.length(cur), F.length(prev))
    sim = F.when(mx > 0, F.round(1 - d / mx, round_dp)).otherwise(
        F.lit(1.0)
    )
    return (
        tx.withColumn("prev_len", F.length(prev))
        .withColumn("edit_dist", d)
        .withColumn(
            "edit_sim", F.when(prev.isNotNull(), sim)
        )
    )
