"""Transcript/SFT family: conversation-shaped views of ``events`` (roles
derived from ``event_id``) packed, paired, merged, budgeted, linearized
and featurized into SFT and preference data."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from queries._common import _EV_TS, _event_turns, _events


def _q_pack_transcripts(spark, sf_dir):
    """Transcript → SFT-example packing manifest: per-conversation
    ordered "role: text" rendering offsets plus assistant-turn
    loss-mask flags, with roles derived deterministically from
    event_id (the shared-driver-data convention).  One window spec on
    the conversation key — single shuffle, no Python; the packed
    string is never materialized (manifest-not-payload, as
    curation.pack_sequences)."""
    from sqlfeatureextraction_spark.operators.sessionize import (
        pack_transcript_spans,
    )

    tx = _event_turns(spark, sf_dir)
    return pack_transcript_spans(
        tx,
        conv_col="user_id",
        order_cols=("ts_sec", "event_id"),
        role_col="role",
        text_col="text",
    )


def _q_qa_pairs(spark, sf_dir):
    """Prompt→response pair extraction (SFT/preference-data step):
    every assistant turn paired with the nearest preceding user turn
    in its conversation via last(ignorenulls) over one conversation
    window — intervening tool/system turns are skipped over; orphan
    responses drop.  Roles derive deterministically from event_id
    (the shared-driver-data convention); latency_s = response minus
    prompt epoch seconds."""
    from sqlfeatureextraction_spark.operators.sessionize import (
        pair_prompt_response,
    )

    tx = _event_turns(spark, sf_dir, ts=True)
    return pair_prompt_response(
        tx,
        conv_col="user_id",
        order_cols=("ts_sec", "event_id"),
        ts_col="ts",
    )


def _q_edit_distance(spark, sf_dir):
    """Turn-over-turn Levenshtein features per user (builtin
    levenshtein over one lag window — retry/self-correction
    detection), normalized similarity in [0,1]."""
    from sqlfeatureextraction_spark.operators.sessionize import (
        with_edit_distance_features,
    )

    ev = _events(spark, sf_dir)
    tx = ev.select(
        "user_id", "ts_sec", "event_id", F.col("props").alias("text")
    )
    out = with_edit_distance_features(
        tx, conv_col="user_id", order_cols=("ts_sec", "event_id")
    )
    return out.select(
        "user_id", "ts_sec", "event_id", "prev_len", "edit_dist", "edit_sim"
    )


def _q_linearize_tree(spark, sf_dir):
    """Branching-conversation linearization: a deterministic tree per
    user (event_id%3==0 turns attach to the grandparent -> real
    branches), all root->leaf paths via bounded iterative ascent;
    output exploded to (leaf, pos, node) for the cross-engine hash."""
    from sqlfeatureextraction_spark.operators.reorganize import (
        linearize_conversation_tree,
    )

    # every-5th event: keeps per-user tree height (= ascent rounds)
    # around a dozen at sf0.01 while still exercising real branches
    ev = _events(spark, sf_dir).where(
        F.pmod(F.col("event_id"), F.lit(5)) == 0
    )
    w = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
    t = ev.select(
        "user_id",
        "event_id",
        F.row_number().over(w).alias("rn"),
        F.lag("event_id", 1).over(w).alias("p1"),
        F.lag("event_id", 2).over(w).alias("p2"),
    ).select(
        "user_id",
        F.col("event_id").alias("node_id"),
        F.when(F.col("rn") == 1, F.lit(None).cast("long"))
        .when(
            (F.pmod(F.col("event_id"), F.lit(3)) == 0)
            & (F.col("rn") >= 3),
            F.col("p2"),
        )
        .otherwise(F.col("p1"))
        .alias("parent_id"),
    )
    out = linearize_conversation_tree(
        t, conv_col="user_id", max_depth=200
    )
    return out.select(
        "user_id",
        "leaf_id",
        "depth",
        F.posexplode("path").alias("pos", "node_id"),
    )


def _q_conversation_features(spark, sf_dir):
    """Per-conversation structural feature vector: role counts,
    token totals, alternation ratio, mean inter-turn gap — one
    window pass + one conditional-sum groupBy."""
    from sqlfeatureextraction_spark.operators.sessionize import (
        conversation_features,
    )

    tx = _event_turns(spark, sf_dir, ts=True)
    out = conversation_features(
        tx,
        conv_col="user_id",
        order_cols=("ts_sec", "event_id"),
        ts_col="ts",
    )
    # Driver row keeps only the exact-integer feature companions
    # (n_alternations, sum_gap_s, n_gaps) and drops the rounded
    # ratio/mean doubles: ROUND of a run-order-dependent double AVG
    # sitting at a 4dp/6dp boundary can flip between engines'
    # rounding implementations.  The integers carry the same
    # information (ratio = n_alternations/(n_turns-1), mean =
    # sum_gap_s/n_gaps) and hash identically everywhere.
    return out.select(
        "user_id",
        "n_turns",
        "n_user",
        "n_assistant",
        "n_tool",
        "n_system",
        "n_tokens",
        "n_alternations",
        "sum_gap_s",
        "n_gaps",
    )


def _q_sft_pipeline(spark, sf_dir):
    """End-to-end SFT data prep as ONE composed lineage: merge
    consecutive same-role turns -> pair each assistant reply with its
    nearest preceding user prompt -> exact-dedup identical
    (prompt, response) pairs keeping the earliest -> quality-gate on
    response token count.  Every stage is an engine operator; Catalyst
    sees the whole plan (filters push through, the conversation-key
    exchange is shared by the merge window and the pairing window)."""
    from sqlfeatureextraction_spark.operators.sessionize import (
        merge_consecutive_turns,
        pair_prompt_response,
    )

    tx = _event_turns(spark, sf_dir)
    merged = merge_consecutive_turns(
        tx, conv_col="user_id", order_cols=("ts_sec", "event_id")
    )
    pairs = pair_prompt_response(
        merged, conv_col="user_id", order_cols=("seg_idx",)
    )
    n_tok = F.size(F.split(F.trim(F.col("response_text")), r"\s+"))
    gated = pairs.where(n_tok >= 4).withColumn("n_resp_tokens", n_tok)
    w = Window.partitionBy("prompt_text", "response_text").orderBy(
        "user_id", "seg_idx"
    )
    # Driver row hashes the two text columns (md5 + length) rather
    # than emitting the raw merged strings: they embed newlines
    # (\n-joined same-role runs), which are CSV/transport-fragile in
    # cross-engine hash comparators.
    return (
        gated.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            "user_id",
            "prompt_idx",
            F.md5("prompt_text").alias("prompt_md5"),
            F.length("prompt_text").alias("prompt_len"),
            F.md5("response_text").alias("response_md5"),
            F.length("response_text").alias("response_len"),
            "n_resp_tokens",
        )
    )


def _q_merge_turns(spark, sf_dir):
    """Chat-template normalization: consecutive same-role turns
    collapsed into one turn (run-id = running sum of role-change
    flags; in-group sort makes the join deterministic).

    Driver row projects ``md5(text) + length(text)`` instead of the
    raw merged text: the merged column embeds newlines (turn pieces
    joined with \\n) and multi-line values are CSV/transport-fragile
    in cross-engine hash comparators.  Same discriminating power —
    any content difference still flips the digest."""
    from sqlfeatureextraction_spark.operators.sessionize import (
        merge_consecutive_turns,
    )

    tx = _event_turns(spark, sf_dir)
    out = merge_consecutive_turns(
        tx, conv_col="user_id", order_cols=("ts_sec", "event_id")
    )
    return out.select(
        "user_id",
        "seg_idx",
        "role",
        F.md5("text").alias("text_md5"),
        F.length("text").alias("text_len"),
        "n_merged",
        "first_idx",
        "last_idx",
    )


def _q_preference_pairs(spark, sf_dir):
    """DPO preference-pair construction: assistant regenerations
    sharing the nearest preceding user prompt reduced to one
    chosen/rejected pair per prompt by reward score (events.value),
    strict-margin filter, deterministic tie-breaks — one window
    lookup + one max_by/min_by groupBy, no self-join."""
    from sqlfeatureextraction_spark.operators.sessionize import (
        build_preference_pairs,
    )

    tx = _event_turns(spark, sf_dir, F.col("value").alias("score"))
    out = build_preference_pairs(
        tx,
        conv_col="user_id",
        order_cols=("ts_sec", "event_id"),
    )
    return out.select(
        "user_id",
        "prompt_idx",
        "prompt_text",
        "n_responses",
        "chosen_idx",
        "chosen_text",
        F.round("chosen_score", 4).alias("chosen_score"),
        "rejected_idx",
        "rejected_text",
        F.round("rejected_score", 4).alias("rejected_score"),
    )


def _q_context_budget(spark, sf_dir):
    """Context-window assembly under a token budget (SFT history
    builder): per turn, how many immediately preceding turns — and
    their token total — fit in a 25-token budget; greedy backwards
    truncation expressed as prefix sums + a RANGE frame (no
    self-join, one conversation-key shuffle)."""
    from sqlfeatureextraction_spark.operators.sessionize import (
        assemble_context_budget,
    )

    ev = _events(spark, sf_dir)
    tx = ev.select(
        "user_id", "ts_sec", "event_id", F.col("props").alias("text")
    )
    out = assemble_context_budget(
        tx,
        budget_tokens=25,
        conv_col="user_id",
        order_cols=("ts_sec", "event_id"),
    )
    return out.select(
        "user_id",
        "ts_sec",
        "event_id",
        "n_tokens",
        "ctx_turns",
        "ctx_tokens",
        F.coalesce("ctx_start_idx", F.lit(-1)).alias("ctx_start_idx"),
    )


ORACLE = {
    # prompt→response pairing: nearest preceding user turn per
    # assistant turn (last_value IGNORE NULLS over the preceding
    # frame), roles derived from event_id, orphans dropped
    "qa_pairs": f"""
            WITH t AS (
              SELECT user_id, ts_sec, event_id,
                     (['user', 'assistant', 'tool', 'system'])
                       [(event_id % 4) + 1] AS role,
                     props AS text
              FROM ({_EV_TS})
            ),
            p AS (
              SELECT user_id, ts_sec, event_id, role,
                     coalesce(text, '') AS rtext,
                     LAST_VALUE(CASE WHEN role = 'user'
                                     THEN ts_sec END IGNORE NULLS)
                       OVER w AS prompt_idx,
                     LAST_VALUE(CASE WHEN role = 'user'
                                     THEN coalesce(text, '') END
                                IGNORE NULLS)
                       OVER w AS prompt_text,
                     LAST_VALUE(CASE WHEN role = 'user'
                                     THEN ts_sec END IGNORE NULLS)
                       OVER w AS p_ts
              FROM t
              WINDOW w AS (
                PARTITION BY user_id ORDER BY ts_sec, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
            )
            SELECT user_id, ts_sec, event_id, prompt_idx, prompt_text,
                   rtext AS response_text, ts_sec - p_ts AS latency_s
            FROM p
            WHERE role = 'assistant' AND prompt_idx IS NOT NULL
        """,
    # turn-over-turn Levenshtein + normalized similarity
    "edit_distance": f"""
            WITH t AS (
              SELECT user_id, ts_sec, event_id,
                     coalesce(props, '') AS text,
                     LAG(coalesce(props, '')) OVER (
                       PARTITION BY user_id ORDER BY ts_sec, event_id
                     ) AS prev
              FROM ({_EV_TS})
            )
            SELECT user_id, ts_sec, event_id,
                   length(prev) AS prev_len,
                   levenshtein(text, prev) AS edit_dist,
                   CASE WHEN prev IS NULL THEN NULL
                        WHEN greatest(length(text), length(prev)) = 0
                        THEN 1.0
                        ELSE ROUND(1 - CAST(levenshtein(text, prev)
                                            AS DOUBLE)
                             / greatest(length(text), length(prev)), 6)
                   END AS edit_sim
            FROM t
        """,
    # branching-tree linearization: recursive-CTE ascent from the
    # leaves, paths root-first, exploded to (leaf, pos, node)
    "linearize_tree": f"""
            WITH RECURSIVE r AS (
              SELECT user_id, event_id,
                     ROW_NUMBER() OVER w AS rn,
                     LAG(event_id, 1) OVER w AS p1,
                     LAG(event_id, 2) OVER w AS p2
              FROM ({_EV_TS})
              WHERE event_id % 5 = 0
              WINDOW w AS (
                PARTITION BY user_id ORDER BY ts_sec, event_id)
            ),
            t AS (
              SELECT user_id, event_id AS node_id,
                     CASE WHEN rn = 1 THEN NULL
                          WHEN event_id % 3 = 0 AND rn >= 3 THEN p2
                          ELSE p1 END AS parent_id
              FROM r
            ),
            leaves AS (
              SELECT t.user_id, t.node_id, t.parent_id
              FROM t
              LEFT JOIN (
                SELECT DISTINCT user_id, parent_id FROM t
                WHERE parent_id IS NOT NULL
              ) k
                ON t.user_id = k.user_id AND t.node_id = k.parent_id
              WHERE k.parent_id IS NULL
            ),
            walk AS (
              SELECT user_id, node_id AS leaf_id,
                     parent_id AS pending, [node_id] AS path
              FROM leaves
              UNION ALL
              SELECT w.user_id, w.leaf_id, t.parent_id,
                     list_prepend(t.node_id, w.path)
              FROM walk w
              JOIN t ON t.user_id = w.user_id
                    AND t.node_id = w.pending
            )
            SELECT user_id, leaf_id, len(path) AS depth,
                   i - 1 AS pos, path[i] AS node_id
            FROM walk
            CROSS JOIN unnest(generate_series(1, len(path))) AS g(i)
            WHERE pending IS NULL
        """,
    # per-conversation structural features: role counts, token
    # totals, alternation ratio, mean gap
    "conversation_features": f"""
            WITH t AS (
              SELECT user_id, ts_sec, event_id,
                     (['user', 'assistant', 'tool', 'system'])
                       [(event_id % 4) + 1] AS role,
                     coalesce(props, '') AS text
              FROM ({_EV_TS})
            ),
            l AS (
              SELECT *,
                     LAG(role) OVER w AS prev_role,
                     ts_sec - LAG(ts_sec) OVER w AS gap,
                     len(regexp_split_to_array(trim(text), '\\s+'))
                       - CASE WHEN trim(text) = '' THEN 1 ELSE 0 END
                       AS ntok
              FROM t
              WINDOW w AS (
                PARTITION BY user_id ORDER BY ts_sec, event_id)
            )
            SELECT user_id, COUNT(*) AS n_turns,
                   CAST(SUM(CASE WHEN role = 'user' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_user,
                   CAST(SUM(CASE WHEN role = 'assistant'
                                 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_assistant,
                   CAST(SUM(CASE WHEN role = 'tool' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_tool,
                   CAST(SUM(CASE WHEN role = 'system'
                                 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_system,
                   CAST(SUM(ntok) AS BIGINT) AS n_tokens,
                   CAST(SUM(CASE WHEN prev_role IS NOT NULL
                                  AND prev_role <> role
                                 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_alternations,
                   CAST(SUM(gap) AS BIGINT) AS sum_gap_s,
                   COUNT(gap) AS n_gaps
            FROM l
            GROUP BY user_id
        """,
    # composed SFT prep: merge same-role runs -> prompt/response
    # pairing -> exact pair dedup (earliest kept) -> >=4-token
    # response gate
    "sft_pipeline": f"""
            WITH t AS (
              SELECT user_id, ts_sec, event_id,
                     (['user', 'assistant', 'tool', 'system'])
                       [(event_id % 4) + 1] AS role,
                     coalesce(props, '') AS text
              FROM ({_EV_TS})
            ),
            l AS (
              SELECT *, LAG(role) OVER (
                PARTITION BY user_id ORDER BY ts_sec, event_id
              ) AS prev_role
              FROM t
            ),
            s AS (
              SELECT *, SUM(CASE WHEN prev_role IS NULL
                                   OR prev_role <> role
                                 THEN 1 ELSE 0 END) OVER (
                PARTITION BY user_id ORDER BY ts_sec, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
              ) - 1 AS seg_idx
              FROM l
            ),
            m AS (
              SELECT user_id, seg_idx, MAX(role) AS role,
                     string_agg(text, chr(10)
                                ORDER BY ts_sec, event_id) AS text
              FROM s GROUP BY user_id, seg_idx
            ),
            p AS (
              SELECT user_id, seg_idx, role,
                     coalesce(text, '') AS rtext,
                     LAST_VALUE(CASE WHEN role = 'user'
                                     THEN seg_idx END IGNORE NULLS)
                       OVER w AS prompt_idx,
                     LAST_VALUE(CASE WHEN role = 'user'
                                     THEN coalesce(text, '') END
                                IGNORE NULLS) OVER w AS prompt_text
              FROM m
              WINDOW w AS (
                PARTITION BY user_id ORDER BY seg_idx
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
            ),
            q AS (
              SELECT *,
                     len(regexp_split_to_array(trim(rtext), '\\s+'))
                       AS n_resp_tokens
              FROM p
              WHERE role = 'assistant' AND prompt_idx IS NOT NULL
            ),
            d AS (
              SELECT *, ROW_NUMBER() OVER (
                PARTITION BY prompt_text, rtext
                ORDER BY user_id, seg_idx
              ) AS rn
              FROM q WHERE n_resp_tokens >= 4
            )
            SELECT user_id, prompt_idx,
                   md5(prompt_text) AS prompt_md5,
                   length(prompt_text) AS prompt_len,
                   md5(rtext) AS response_md5,
                   length(rtext) AS response_len,
                   n_resp_tokens
            FROM d WHERE rn = 1
        """,
    # consecutive same-role run merging: run id = running sum of
    # role-change flags; ordered string_agg join
    "merge_turns": f"""
            WITH t AS (
              SELECT user_id, ts_sec, event_id,
                     (['user', 'assistant', 'tool', 'system'])
                       [(event_id % 4) + 1] AS role,
                     coalesce(props, '') AS text
              FROM ({_EV_TS})
            ),
            l AS (
              SELECT *, LAG(role) OVER (
                PARTITION BY user_id ORDER BY ts_sec, event_id
              ) AS prev_role
              FROM t
            ),
            s AS (
              SELECT *, SUM(CASE WHEN prev_role IS NULL
                                   OR prev_role <> role
                                 THEN 1 ELSE 0 END) OVER (
                PARTITION BY user_id ORDER BY ts_sec, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
              ) - 1 AS seg_idx
              FROM l
            )
            SELECT user_id, seg_idx, MAX(role) AS role,
                   md5(string_agg(text, chr(10)
                                  ORDER BY ts_sec, event_id))
                     AS text_md5,
                   length(string_agg(text, chr(10)
                                     ORDER BY ts_sec, event_id))
                     AS text_len,
                   COUNT(*) AS n_merged,
                   MIN(ts_sec) AS first_idx,
                   MAX(ts_sec) AS last_idx
            FROM s
            GROUP BY user_id, seg_idx
        """,
    # DPO preference pairs: assistant regenerations per nearest
    # preceding user prompt -> chosen (max score, earlier wins
    # ties) vs rejected (min score, later loses ties), strict
    # margin, >=2 responses
    "preference_pairs": f"""
            WITH t AS (
              SELECT user_id, ts_sec, event_id,
                     (['user', 'assistant', 'tool', 'system'])
                       [(event_id % 4) + 1] AS role,
                     coalesce(props, '') AS text,
                     value AS score
              FROM ({_EV_TS})
            ),
            p AS (
              SELECT user_id, ts_sec, event_id, role, text, score,
                     LAST_VALUE(CASE WHEN role = 'user'
                                     THEN ts_sec END IGNORE NULLS)
                       OVER w AS prompt_idx,
                     LAST_VALUE(CASE WHEN role = 'user'
                                     THEN text END IGNORE NULLS)
                       OVER w AS prompt_text
              FROM t
              WINDOW w AS (
                PARTITION BY user_id ORDER BY ts_sec, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
            ),
            r AS (
              SELECT * FROM p
              WHERE role = 'assistant' AND prompt_idx IS NOT NULL
            ),
            rr AS (
              SELECT *,
                     ROW_NUMBER() OVER (
                       PARTITION BY user_id, prompt_idx
                       ORDER BY score DESC, ts_sec ASC, event_id ASC
                     ) AS rk_hi,
                     ROW_NUMBER() OVER (
                       PARTITION BY user_id, prompt_idx
                       ORDER BY score ASC, ts_sec DESC, event_id DESC
                     ) AS rk_lo,
                     COUNT(*) OVER (
                       PARTITION BY user_id, prompt_idx
                     ) AS n_responses,
                     MAX(prompt_text) OVER (
                       PARTITION BY user_id, prompt_idx
                     ) AS g_prompt_text
              FROM r
            )
            SELECT hi.user_id, hi.prompt_idx,
                   hi.g_prompt_text AS prompt_text,
                   hi.n_responses,
                   hi.ts_sec AS chosen_idx, hi.text AS chosen_text,
                   ROUND(hi.score, 4) AS chosen_score,
                   lo.ts_sec AS rejected_idx, lo.text AS rejected_text,
                   ROUND(lo.score, 4) AS rejected_score
            FROM rr hi
            JOIN rr lo
              ON hi.user_id = lo.user_id
             AND hi.prompt_idx = lo.prompt_idx
            WHERE hi.rk_hi = 1 AND lo.rk_lo = 1
              AND hi.n_responses >= 2 AND hi.score > lo.score
        """,
    # context-window assembly under a 25-token budget: greedy
    # backwards truncation as prefix sums + RANGE frames; every
    # turn charged max(1, whitespace tokens)
    "context_budget": f"""
            WITH t AS (
              SELECT user_id, ts_sec, event_id,
                     greatest(1,
                       len(regexp_split_to_array(
                             trim(coalesce(props, '')), '\\s+'))
                       - CASE WHEN trim(coalesce(props, '')) = ''
                              THEN 1 ELSE 0 END) AS n_tokens
              FROM ({_EV_TS})
            ),
            c AS (
              SELECT *,
                     CAST(coalesce(SUM(n_tokens) OVER (
                       PARTITION BY user_id ORDER BY ts_sec, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING), 0) AS BIGINT) AS p
              FROM t
            )
            SELECT user_id, ts_sec, event_id,
                   CAST(n_tokens AS INTEGER) AS n_tokens,
                   COUNT(*) OVER w - 1 AS ctx_turns,
                   CAST(p - MIN(p) OVER w AS BIGINT) AS ctx_tokens,
                   coalesce(MIN(ts_sec) OVER wp, -1) AS ctx_start_idx
            FROM c
            WINDOW w AS (PARTITION BY user_id ORDER BY p
                         RANGE BETWEEN 25 PRECEDING AND CURRENT ROW),
                   wp AS (PARTITION BY user_id ORDER BY p
                          RANGE BETWEEN 25 PRECEDING AND 1 PRECEDING)
        """,
    # SFT packing manifest: char spans of "role: text" pieces in
    # the per-conversation rendering (sep "\n"), assistant-masked
    "pack_transcripts": f"""
            WITH t AS (
              SELECT user_id, ts_sec, event_id,
                     (['user', 'assistant', 'tool', 'system'])
                       [(event_id % 4) + 1] AS role,
                     coalesce(props, '') AS text
              FROM ({_EV_TS})
            ),
            p AS (
              SELECT user_id, ts_sec, event_id, role,
                     CAST(length(role) + 2 + length(text) AS BIGINT)
                       AS piece
              FROM t
            ),
            s AS (
              SELECT *, CAST(coalesce(SUM(piece + 1) OVER (
                       PARTITION BY user_id ORDER BY ts_sec, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                     ), 0) AS BIGINT) AS start_char
              FROM p
            )
            SELECT user_id, ts_sec, event_id, role, start_char,
                   start_char + piece AS end_char,
                   role = 'assistant' AS train_on
            FROM s
        """,
}
