"""Pieces shared by more than one query family: the ``events`` scan
with epoch seconds, the role-from-``event_id`` convention of the
transcript-shaped views, and the DuckDB fragments the oracles build
on.  Each has exactly one copy here."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    # ts is TIMESTAMP_NTZ in parquet; session TZ is UTC so the double cast
    # yields the same epoch seconds DuckDB's epoch() computes
    return ev.withColumn("ts_sec", F.col("ts").cast("timestamp").cast("long"))


def _event_turns(
    spark: SparkSession, sf_dir: str, *extra: Column, ts: bool = False
) -> DataFrame:
    """``events`` viewed as transcript turns: (user_id, ts_sec,
    event_id[, ts], role, text, *extra), the role being user,
    assistant, tool, system by ``event_id`` mod 4 (the convention the
    oracles replay)."""
    roles = F.array(
        F.lit("user"), F.lit("assistant"), F.lit("tool"), F.lit("system")
    )
    role = F.element_at(
        roles, (F.pmod(F.col("event_id"), F.lit(4)) + 1).cast("int")
    )
    return _events(spark, sf_dir).select(
        "user_id",
        "ts_sec",
        "event_id",
        *(["ts"] if ts else []),
        role.alias("role"),
        F.col("props").alias("text"),
        *extra,
    )


_EV_TS = "SELECT *, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec FROM events"
_TOK = (
    "list_filter(string_split_regex(lower(coalesce(text, '')), '[^a-z0-9]+'),"
    " x -> x <> '')"
)

# Space-split tokenizer shared by the curation oracles — mirrors
# curation.tokens_col exactly (lowercase, split on single spaces, drop
# empties); deliberately simpler than _TOK, see curation.py docstring.
_SPTOK = (
    "list_filter(string_split(lower(coalesce(text, '')), ' '), x -> x <> '')"
)


def _shingle_cte(n: int) -> str:
    """CTE fragment: documents → exploded (doc_id, word n-gram) rows,
    mirroring curation.shingles_col."""
    return f"""
            tok AS (SELECT doc_id, {_SPTOK} AS toks FROM documents),
            sh AS (
              SELECT doc_id, array_to_string(toks[i:i+{n - 1}], ' ') AS sh
              FROM tok CROSS JOIN unnest(
                generate_series(1, greatest(len(toks) - {n - 1}, 0))) AS g(i)
            )"""
