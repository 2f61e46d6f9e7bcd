"""Vocabulary fit — the "schema dictionary" stage.

Reference analog: ``ExcelReader.main`` scans the raw log, extracts
table/column names, sorts lexicographically and assigns bit positions
by enumeration (rdr/ExcelReader.java:92-146, rdr/DDLParser.java:31-100),
later loaded into HashMaps by ch/SchemaParser.java:143-259.

Spark-first restatement: the fit is a distributed
``select(explode(tokens)).distinct().sort()`` with dense indices
assigned on the (tiny) result; the fitted vocabulary is the ONLY
driver-side object in the engine and is shipped to executors via
broadcast.  At 10^12 turns the distinct+sort shuffles only unique
tokens (bounded by vocabulary size, not data size).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sqlfeatureextraction_spark.functions.text import tokenize_col
from sqlfeatureextraction_spark.layout import VectorLayout


@dataclass(frozen=True)
class Vocabulary:
    """Fitted dictionaries: value → dense index per segment."""

    tokens: dict  # token -> bit pos within bow segment
    roles: dict  # role  -> bit pos within role segment
    tools: dict  # tool  -> bit pos within tool segment

    def layout(self, n_grans: int = 9) -> VectorLayout:
        return VectorLayout.build(
            n_roles=len(self.roles),
            n_tools=len(self.tools),
            n_tokens=len(self.tokens),
            n_grans=n_grans,
        )

    def to_df(self, spark: SparkSession) -> DataFrame:
        """Vocabulary as a dimension table (segment, value, bit_pos)."""
        rows = (
            [("bow", k, v) for k, v in self.tokens.items()]
            + [("role", k, v) for k, v in self.roles.items()]
            + [("tool", k, v) for k, v in self.tools.items()]
        )
        return spark.createDataFrame(rows, "segment string, value string, bit_pos int")

    @staticmethod
    def from_df(df: DataFrame) -> "Vocabulary":
        rows = df.collect()  # vocabulary is tiny by construction
        segs: dict[str, dict] = {"bow": {}, "role": {}, "tool": {}}
        for r in rows:
            segs[r["segment"]][r["value"]] = r["bit_pos"]
        return Vocabulary(tokens=segs["bow"], roles=segs["role"], tools=segs["tool"])


MAX_LITERAL_VOCAB = 4096


def with_oov_stats(
    df: DataFrame,
    vocab: "Vocabulary",
    text_col: str = "text",
    row_key: str | None = None,
) -> DataFrame:
    """Append n_tokens / n_oov per row.

    The reference swallows vocabulary misses silently (bits just stay
    unset, enc/APMFragmentIntent.java:303-305,450-459); we surface OOV
    counts as columns (and via ``observe_oov`` as run metrics).

    Two plans, picked by vocabulary size:
      * |V| ≤ MAX_LITERAL_VOCAB: array_contains on a literal token
        array — JVM-side, zero shuffle, but O(|V|) per token, so
        unsuitable for 100k-token vocabularies;
      * larger: explode → broadcast LEFT ANTI join against the vocab
        dimension → per-row count join-back (needs ``row_key``, a
        unique row id column).  This is the scale path — per-token
        work is a broadcast-hash probe.
    """
    toks = tokenize_col(F.col(text_col))
    if len(vocab.tokens) <= MAX_LITERAL_VOCAB or row_key is None:
        vocab_arr = F.lit(sorted(vocab.tokens))
        n_oov = F.size(
            F.filter(toks, lambda t: ~F.array_contains(vocab_arr, t))
        )
        return df.withColumn("n_tokens", F.size(toks)).withColumn(
            "n_oov", n_oov
        )
    spark = df.sparkSession
    vocab_df = spark.createDataFrame(
        [(t,) for t in sorted(vocab.tokens)], "t string"
    )
    tok_rows = df.select(row_key, F.explode(toks).alias("t"))
    oov = (
        tok_rows.join(F.broadcast(vocab_df), "t", "left_anti")
        .groupBy(row_key)
        .agg(F.count(F.lit(1)).alias("n_oov"))
    )
    return (
        df.withColumn("n_tokens", F.size(toks))
        .join(oov, row_key, "left")
        .withColumn("n_oov", F.coalesce(F.col("n_oov"), F.lit(0)))
    )


def observe_oov(df: DataFrame, name: str = "oov_metrics") -> DataFrame:
    """A6 accumulator analog: attach an observation aggregating OOV
    totals; read via QueryExecutionListener or `observedMetrics`."""
    return df.observe(
        name,
        F.sum("n_oov").alias("total_oov"),
        F.sum("n_tokens").alias("total_tokens"),
        F.count(F.lit(1)).alias("rows"),
    )


def fit_vocabulary(
    transcripts: DataFrame,
    max_tokens: int | None = None,
    min_count: int = 1,
) -> Vocabulary:
    """Fit token/role/tool dictionaries from a transcripts DataFrame.

    Token selection is frequency-thresholded then lexicographically
    ordered, so the bit assignment is independent of partitioning.
    """
    # a single-row-group input file scans as ONE working task no
    # matter the split configs (row groups are atomic to the reader;
    # getNumPartitions() counts splits, not row groups, so it cannot
    # see this) — spread the tokenize/explode across the cores when
    # the scan is provably effectively-serial and tiny (no-op on
    # real-scale inputs, guide §2.5)
    from sqlfeatureextraction_spark.scanspread import spread_small_scan

    # spread ONLY the text column (plus a cheap near-unique spread
    # key): shuffling derived columns — or computing them serially on
    # the scan task just to hash them — would cost more than the
    # serial tokenize being avoided
    key_cols = [
        c for c in ("text", "ts", "turn_idx") if c in transcripts.columns
    ] or list(transcripts.columns)
    tok_src = spread_small_scan(
        transcripts.select(*key_cols), F.xxhash64(*key_cols)
    )
    # explode_outer + null filter instead of explode: a plain explode
    # triggers InferFiltersFromGenerate, whose pushed-down size()
    # predicate re-runs the tokenizer once per row BELOW the spread
    # exchange (serially, on the scan task); the rule does not fire
    # for outer generates, and tokens are never null so the rows are
    # identical (see dedup.with_minhash for the measured cost)
    tok_counts = (
        tok_src.select(
            F.explode_outer(tokenize_col(F.col("text"))).alias("v")
        )
        .where(F.col("v").isNotNull())
        .groupBy("v")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") >= min_count)
    )
    if max_tokens is not None:
        # keep the max_tokens most frequent, ties broken lexicographically
        tok_counts = tok_counts.orderBy(F.desc("n"), F.asc("v")).limit(max_tokens)

    # the (role, tool) pair-distinct job is independent of the token
    # job — submit both from driver threads so the small job backfills
    # the token job's tail instead of serializing after it (guide §2.6)
    pairs_df = transcripts.select(
        F.col("role").alias("r"),
        F.coalesce(F.col("tool"), F.lit("")).alias("t"),
    ).distinct()
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        tok_f = pool.submit(lambda: tok_counts.select("v").collect())
        pairs_f = pool.submit(pairs_df.collect)
        tokens = sorted(r["v"] for r in tok_f.result())
        pairs = pairs_f.result()
    roles = sorted({p["r"] for p in pairs if p["r"] is not None})
    tools = sorted({p["t"] for p in pairs})

    return Vocabulary(
        tokens={t: i for i, t in enumerate(tokens)},
        roles={r: i for i, r in enumerate(roles)},
        tools={t: i for i, t in enumerate(tools)},
    )
