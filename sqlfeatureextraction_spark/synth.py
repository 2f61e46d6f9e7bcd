"""Deterministic synthetic transcripts table (FIXTURES.md §1).

Target schema (BASELINE input_hint):
  conv_id:string, turn_idx:int32, role:string, text:string,
  tool:string, ts:timestamp, duration_ms:int64 (aux cost weight)

Determinism: a single seeded numpy Generator builds the whole table in
pandas; Spark ingests it via Arrow.  Unlike the reference (one shared
``Random(999)`` consumed in file order, tools/IOUtil.java:63-81 — jitter
depends on read order), every random draw here is a pure function of
the seed, so the fixture is stable under any partitioning.

Edge rows included on purpose:
  * one hot conv_id holding ~25% of all turns (skew / salting tests)
  * ties: several turns at the exact same ts within a conv
    (pins (conv_id, ts, turn_idx) tie-breaking, cf. reference
    equal-end-ts dedupe at enc/APMWindowFragmentIntent.java:280-284)
  * gaps larger than the session threshold inside one conv
  * a single-turn conversation, empty texts, OOV tokens
  * turns exactly on window boundaries (right-closed membership)
"""

from __future__ import annotations

import numpy as np
import pandas as pd

ROLES = ["user", "assistant", "system", "tool"]
TOOLS = ["", "search", "code", "browse", "bash", "fetch"]

# Small token vocabulary so bag-of-token vectors are hand-checkable.
_BASE_TOKENS = [
    "plan",
    "step",
    "run",
    "test",
    "fix",
    "read",
    "write",
    "file",
    "error",
    "retry",
    "ok",
    "done",
    "call",
    "result",
    "think",
    "answer",
    "query",
    "data",
    "join",
    "merge",
]
VOCAB_TOKENS = _BASE_TOKENS + [f"tok{i:03d}" for i in range(180)]
OOV_TOKENS = ["zzqx", "unseen1", "unseen2"]

BASE_EPOCH = 1704067200  # 2024-01-01T00:00:00Z


def make_transcripts_pdf(
    n_convs: int = 200,
    mean_turns: int = 24,
    seed: int = 42,
    hot_share: float = 0.25,
    session_gap_s: int = 1800,
) -> pd.DataFrame:
    """Build the deterministic transcripts table as pandas."""
    rng = np.random.default_rng(seed)

    conv_sizes = np.clip(
        rng.zipf(1.6, size=n_convs), 1, mean_turns * 6
    ).astype(np.int64)
    total = int(conv_sizes.sum())
    # hot conversation: ~hot_share of all rows
    hot_extra = int(total * hot_share / max(1e-9, 1 - hot_share))
    conv_sizes[0] += hot_extra

    rows: dict[str, list] = {
        "conv_id": [],
        "turn_idx": [],
        "role": [],
        "text": [],
        "tool": [],
        "ts_sec": [],
        "duration_ms": [],
    }
    for ci, size in enumerate(conv_sizes):
        conv_id = f"conv_{ci:06d}"
        # conversation start spread over ~14 days, minute resolution
        start = BASE_EPOCH + int(rng.integers(0, 14 * 86400 // 60)) * 60
        ts = start
        for ti in range(int(size)):
            if ti > 0:
                # inter-turn gap: mostly short; occasionally 0 (tie) or
                # > session_gap (session split); deterministic draw order
                u = rng.random()
                if u < 0.06:
                    gap = 0  # tie at identical ts
                elif u < 0.10:
                    gap = session_gap_s + int(rng.integers(60, 7200))
                else:
                    gap = int(rng.integers(1, 240))
                ts += gap
            role = ROLES[int(rng.integers(0, len(ROLES)))]
            tool = TOOLS[int(rng.integers(0, len(TOOLS)))]
            n_tok = int(rng.integers(0, 12))
            toks = [
                VOCAB_TOKENS[int(rng.integers(0, len(VOCAB_TOKENS)))]
                for _ in range(n_tok)
            ]
            if rng.random() < 0.05 and toks:
                toks[0] = OOV_TOKENS[int(rng.integers(0, len(OOV_TOKENS)))]
            rows["conv_id"].append(conv_id)
            rows["turn_idx"].append(ti)
            rows["role"].append(role)
            rows["text"].append(" ".join(toks))
            rows["tool"].append(tool)
            rows["ts_sec"].append(ts)
            rows["duration_ms"].append(int(rng.integers(1, 5000)))

    pdf = pd.DataFrame(rows)
    pdf["turn_idx"] = pdf["turn_idx"].astype(np.int32)
    pdf["duration_ms"] = pdf["duration_ms"].astype(np.int64)
    pdf["ts"] = pd.to_datetime(pdf["ts_sec"], unit="s", utc=True).dt.tz_localize(
        None
    )
    return pdf.drop(columns=["ts_sec"])


def conv_id_col(user_id):
    """``'u%05d'`` of an integer id column, for every int32 value.

    Built from concat/lpad instead of ``format_string``: the
    java.util.Formatter call costs ~300ns per row (measured: +0.28 s
    serially over 1M rows on the single-row-group scan task) while
    concat+lpad codegens to cheap byte ops.  Like ``%05d``, the width
    counts the sign (-3 → ``u-0003``) and never truncates longer ids."""
    from pyspark.sql import functions as F

    s = user_id.cast("int").cast("string")

    def pad(digits, width):
        return F.when(F.length(digits) >= width, digits).otherwise(
            F.lpad(digits, width, "0")
        )

    return F.concat(
        F.lit("u"),
        F.when(
            s.startswith("-"),
            F.concat(F.lit("-"), pad(F.substring(s, 2, 10), 4)),
        ).otherwise(pad(s, 5)),
    )


def events_as_transcripts(spark, sf_dir: str):
    """Adapt the driver-provided ``events`` table to the transcript shape.

    Used by ``entry()`` and the flagship gate queries (queries/windows.py)
    so correctness checks run on shared driver data: user_id→conv_id,
    event_type→tool, props→text.
    """
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w_cols = [
        conv_id_col(F.col("user_id")).alias("conv_id"),
        F.col("event_id").cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.col("props").alias("text"),
        F.col("event_type").alias("tool"),
        (F.col("value") * 1000).cast("long").alias("duration_ms"),
        F.col("ts"),
    ]
    return ev.select(*w_cols)
