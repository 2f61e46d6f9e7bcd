"""Training-corpus curation operators: eval-set decontamination,
corpus-wide duplicated-substring fraction, deterministic domain-mix
sampling, hash-ordered shard assignment, PII scrubbing, and
intra-document repetition stats.

These extend the reference's data-hygiene surface (its pipeline gates
queries with StringCleaner + recurring-pattern prunes,
rdr/StringCleaner.java:11-23, enc/IntentCreatorMultiThread.java:54-66)
to the operations a large-scale LLM training-data pipeline needs over
a document corpus.  Design rules shared with the rest of the engine:

* everything hot is built-in column functions (JVM, whole-stage
  codegen) — no Python in any per-row path;
* candidate generation is always an equi-join or a hash/groupBy, never
  all-pairs;
* determinism comes from cryptographic hashes of stable keys (md5 of
  the document id), never from RNG state, so every operator is
  reproducible across runs, engines, and cluster sizes — the DuckDB
  oracles recompute the exact same md5 thresholds;
* global-order operations (shard assignment) use the range-repartition
  exact-ntile pattern (functions/sqlencode.fit_range_bins) instead of
  a single-task global Window.

Shingling convention (shared verbatim by the DuckDB oracle SQL,
``_SPTOK``/``_shingle_cte`` in queries/_common.py): lowercase, split on single spaces, drop empty
tokens, word n-grams joined by a single space.  A deliberately
simpler tokenizer than functions/text.tokenize_col — decontamination
and substring-dup detection operate on surface text, and the oracle
must be able to mirror the split exactly with ``string_split``.
"""

from __future__ import annotations

from typing import Mapping

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "tokens_col",
    "shingles_col",
    "adjacent_pairs_col",
    "decontaminate",
    "dup_substring_fraction",
    "remove_duplicate_spans",
    "domain_mix_sample",
    "token_budget_sample",
    "group_sample_exact",
    "chunk_documents",
    "chunk_dup_fraction",
    "mix_threshold_hex",
    "exact_ntile",
    "exact_rank_prefix",
    "shard_assign",
    "pack_sequences",
    "scrub_pii",
    "with_repetition_stats",
    "DEFAULT_MIX_RATES",
    "DEFAULT_MIX_RATE",
    "PII_RULES",
]


def _shuffle_partitions(df: DataFrame, default: int = 32) -> int:
    """Partition count for the range passes, from
    spark.sql.shuffle.partitions — tolerant of non-numeric values
    ('auto' on AQE-managed platforms), falling back to ``default``."""
    raw = df.sparkSession.conf.get(
        "spark.sql.shuffle.partitions", str(default)
    )
    try:
        return max(2, int(raw))
    except (TypeError, ValueError):
        return max(2, default)


def tokens_col(text: Column) -> Column:
    """text → array<string>: lowercase, split on single spaces, empty
    tokens dropped.  Mirrors DuckDB
    ``list_filter(string_split(lower(text), ' '), x -> x <> '')``."""
    arr = F.split(F.lower(F.coalesce(text, F.lit(""))), " ")
    return F.filter(arr, lambda t: t != F.lit(""))


def bind_once(col: Column, fn) -> Column:
    """Evaluate ``col`` ONCE per row and hand it to ``fn`` as a lambda
    variable.  Catalyst performs no common-subexpression elimination
    inside higher-order-function lambdas: a builder that references an
    expensive input expression k times (or once per element, via
    transform) re-evaluates it k times (or n times).  Wrapping the
    input in a one-element array and transforming binds it to a
    NamedLambdaVariable, so every inner reference is a variable lookup.
    Measured: shingles_col over an un-bound tokens_col re-ran the
    tokenizer once per token (O(tokens²) splits per document)."""
    return F.element_at(F.transform(F.array(col), fn), 1)


def adjacent_pairs_col(arr: Column) -> Column:
    """array<string> → array<struct<a,b>> of ADJACENT element pairs
    (the zip-with-shift idiom shared by pmi_collocations, the TextRank
    co-occurrence edges, and conceptually BPE's pair counting).  ONE
    definition so every consumer stays in lock-step with the DuckDB
    ``list_zip(l, l[2:]) ... WHERE pr[2] IS NOT NULL`` oracle
    convention.  Empty/singleton arrays yield an empty array."""
    return bind_once(
        arr,
        lambda a: F.arrays_zip(
            F.slice(a, 1, F.greatest(F.size(a) - 1, F.lit(0))).alias("a"),
            F.slice(a, 2, F.greatest(F.size(a) - 1, F.lit(0))).alias("b"),
        ),
    )


def shingles_col(toks: Column, n: int) -> Column:
    """array<string> tokens → array<string> word n-grams (space-joined,
    in order, possibly repeated).  Built with transform-over-index so
    no ``sequence(1, size-n+1)`` ever evaluates with a negative span
    on short documents.

    ``toks`` is bound once per row (bind_once): callers routinely pass
    the raw ``tokens_col(...)`` expression, and the per-element lambda
    references it twice — un-bound, that re-ran the tokenizer once per
    token (O(tokens²) work per document, measured at 44 s vs ~4 s on
    the sf0.1 corpus-curation sweep)."""
    return bind_once(
        toks,
        lambda tk: F.filter(
            F.transform(
                tk,
                lambda _, i: F.when(
                    i + F.lit(n) <= F.size(tk),
                    F.array_join(F.slice(tk, i + 1, n), " "),
                ),
            ),
            lambda s: s.isNotNull(),
        ),
    )


def decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Eval-set n-gram decontamination: for every training document,
    count the distinct word n-grams it shares with ANY document of the
    evaluation set, and flag it contaminated if that count is > 0.

    The standard pre-training hygiene step (drop training documents
    that textually overlap the benchmark/eval set so downstream evals
    are not memorization tests).  Plan shape for 100 TB: the eval
    side is small by construction (benchmarks are thousands of
    documents) — its distinct shingle set is broadcast, so the only
    shuffle is the per-document aggregate over the training side's
    exploded shingles; training text is scanned once.  If the eval
    set ever outgrew broadcast, the same query runs as a shuffled
    semi-join on the shingle key.

    Returns one row per training document: (id_col, n_shared,
    contaminated), including documents too short to have any n-gram
    (n_shared = 0).
    """
    ev_sh = (
        eval_docs.select(
            F.explode(shingles_col(tokens_col(F.col(text_col)), n)).alias("sh")
        )
        .distinct()
    )
    tr_sh = docs.select(
        F.col(id_col),
        F.explode(shingles_col(tokens_col(F.col(text_col)), n)).alias("sh"),
    ).distinct()
    shared = (
        tr_sh.join(F.broadcast(ev_sh), "sh")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        docs.select(id_col)
        .join(shared, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_shared", F.lit(0)).cast("long").alias("n_shared"),
            (F.coalesce("n_shared", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def dup_substring_fraction(
    docs: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document fraction of distinct word n-grams that also occur
    in at least one OTHER document — the corpus-level substring
    duplication signal of Lee et al., "Deduplicating Training Data
    Makes Language Models Better" (ACL 2022), at word-shingle
    granularity.

    Plan: explode distinct (doc, shingle) pairs → per-shingle count as
    a whole-partition window over the SAME rows → per-document
    aggregate.  The corpus is scanned and exploded exactly ONCE (a
    count-then-join-back formulation reads it twice unless exchange
    reuse happens to fire — pinned by a plan test); the window adds one
    shuffle on the shingle key, which any per-shingle count needs
    anyway.  No join explosion: a shingle shared by many documents
    contributes its count to each (doc, shingle) row in place.  Skew
    ceiling (shared with the join-back formulation, which hashes the
    same key): a single shingle duplicated across ~10^9 documents pins
    one task's sort buffer; the remedy at that scale is a heavy-hitter
    split (map-side-combined counts for the top keys broadcast back,
    window for the rest) — not wired because the pre-distinct per-doc
    dedup already caps a shingle's rows at the corpus's doc count.

    The shingle string itself is the key: a hash key would let two
    distinct n-grams collide and count as one.
    """
    dsh = docs.select(
        F.col(id_col),
        F.explode(shingles_col(tokens_col(F.col(text_col)), n)).alias("sh"),
    ).distinct()
    nd = F.count("*").over(Window.partitionBy("sh"))
    per_doc = (
        dsh.withColumn("_nd", nd)
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum((F.col("_nd") > 1).cast("long")).alias("n_dup"),
        )
    )
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_shingles", F.lit(0)).cast("long").alias("n_shingles"),
            F.coalesce("n_dup", F.lit(0)).cast("long").alias("n_dup"),
            F.round(
                F.coalesce("n_dup", F.lit(0))
                / F.greatest(F.coalesce("n_shingles", F.lit(0)), F.lit(1)),
                6,
            ).alias("dup_frac"),
        )
    )


def remove_duplicate_spans(
    docs: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Remove cross-document duplicated spans — the removal counterpart
    of :func:`dup_substring_fraction` (Lee et al., "Deduplicating
    Training Data Makes Language Models Better", ACL 2022, which drops
    the duplicated substrings themselves rather than whole documents).

    Semantics (shared verbatim with the DuckDB oracle): a word n-gram
    is *duplicated* iff it occurs in more than one distinct document
    (within-document repeats alone do NOT qualify — same rule as
    ``dup_substring_fraction``).  EVERY occurrence of a duplicated
    shingle (all start positions, not just distinct shingle values)
    marks its n token positions removed; ``clean_text`` is the
    surviving tokens re-joined with single spaces, preserving order.

    Plan shape for 100 TB: all stages are key-partitioned shuffles —
    distinct (doc, shingle) → per-shingle count (the duplicated-shingle
    set, never collected/broadcast), and an equi-join of shingle
    occurrences against that set on the shingle string.  The
    duplicated-occurrence START positions aggregate per document
    (collect_set — bounded by the doc's own shingle count) and the
    rebuild is one join back to the token arrays plus array
    expressions (a token survives iff no start lies in (i-n, i]).
    Shuffle volume is ONE row per duplicated occurrence + one per doc —
    nothing is exploded to per-covered-position or per-token rows.
    Per-row work is O(tokens × starts), bounded by the document's own
    length — the same bound as the final rebuild buffer.  No driver
    collect, no cartesian product.

    Returns one row per document: (id_col, n_tokens, n_kept,
    n_removed, clean_text) — documents with no duplicated span pass
    through with clean_text == normalized original text.
    """
    if n < 1:
        raise ValueError(f"shingle width must be >= 1, got {n}")
    toks = docs.select(F.col(id_col), tokens_col(F.col(text_col)).alias("_tk"))
    # shingle occurrences with their 0-based token start positions:
    # shingles_col nulls only the tail starts (i + n > size), and the
    # null-filter preserves prefix order, so posexplode's pos IS the
    # original token index of the shingle's first word.
    sh_pos = toks.select(
        F.col(id_col),
        F.posexplode(shingles_col(F.col("_tk"), n)).alias("pos", "sh"),
    )
    dup = (
        sh_pos.select(id_col, "sh")
        .distinct()
        .groupBy("sh")
        .agg(F.count("*").alias("_nd"))
        .where(F.col("_nd") > 1)
        .select("sh")
    )
    starts = (
        sh_pos.join(dup, "sh")
        .groupBy(id_col)
        .agg(F.collect_set("pos").alias("_starts"))
    )
    joined = toks.join(starts, id_col, "left").select(
        F.col(id_col),
        "_tk",
        F.coalesce("_starts", F.array().cast("array<int>")).alias("_starts"),
    )
    # token i survives iff no duplicated span start s satisfies
    # s <= i < s + n
    kept_arr = F.filter(
        F.transform(
            F.col("_tk"),
            lambda t, i: F.when(
                ~F.exists(
                    F.col("_starts"),
                    lambda s: (s <= i) & (i < s + F.lit(n)),
                ),
                t,
            ),
        ),
        lambda t: t.isNotNull(),
    )
    return joined.select(
        F.col(id_col),
        F.size("_tk").cast("long").alias("n_tokens"),
        F.size(kept_arr).cast("long").alias("n_kept"),
        (F.size("_tk") - F.size(kept_arr)).cast("long").alias("n_removed"),
        F.array_join(kept_arr, " ").alias("clean_text"),
    )


# Deterministic domain-mix config used by the driver row: the oracle
# SQL is generated from this same dict, so both engines share one
# source of truth.
DEFAULT_MIX_RATES: Mapping[str, float] = {
    "src0": 0.9,
    "src1": 0.25,
    "src2": 0.5,
    "src3": 0.75,
    "src4": 0.1,
}
DEFAULT_MIX_RATE: float = 0.6


def mix_threshold_hex(rate: float) -> str:
    """Sampling rate in [0, 1] → 9-hex-digit threshold such that
    ``'0' || substr(md5(key), 1, 8) < threshold`` keeps exactly the
    keys whose 32-bit md5 prefix falls below rate·2^32.  The leading
    '0' pad makes rate = 1.0 (threshold 0x100000000) compare true for
    every hash, so the boundary rates are exact."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0,1], got {rate}")
    return format(min(int(rate * 2**32), 2**32), "09x")


def domain_mix_sample(
    docs: DataFrame,
    rates: Mapping[str, float] | None = None,
    default_rate: float | None = None,
    source_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "mix",
) -> DataFrame:
    """Deterministic per-domain downsampling to a target mix: keep a
    document iff the 32-bit md5 prefix of ``salt:doc_id`` falls below
    its source's rate.  No RNG state — the same document survives on
    every run, every engine, and every cluster size, which is what
    makes the sampled corpus reproducible and the join of two sampled
    tables consistent.  Pure per-row projection + filter: no shuffle,
    fully codegen'd, composes with any scan.

    The hash is compared as a fixed-width hex STRING (lowercase md5 is
    identical in Spark and DuckDB), so the oracle recomputes the exact
    same decisions with no integer-conversion dialect issues.
    """
    rates = DEFAULT_MIX_RATES if rates is None else rates
    default_rate = DEFAULT_MIX_RATE if default_rate is None else default_rate
    thr = _per_source_lit(
        {s: F.lit(mix_threshold_hex(r)) for s, r in rates.items()},
        F.lit(mix_threshold_hex(default_rate)),
        source_col,
    )
    u = F.concat(
        F.lit("0"),
        F.substring(
            F.md5(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))),
            1,
            8,
        ),
    )
    return docs.where(u < thr)


def _per_source_lit(
    mapping: Mapping[str, "Column"] | dict,
    default_lit: Column,
    source_col: str,
) -> Column:
    """Per-source literal lookup with a default: sorted (source →
    literal) pairs through ``create_map``/``element_at``, coalesced to
    the default — so an unknown OR NULL source falls to the default
    (``element_at`` on a NULL key is NULL).  Shared by the samplers so
    their lookup semantics can't drift apart."""
    out = default_lit
    if mapping:
        pairs = [
            x for s, v in sorted(mapping.items()) for x in (F.lit(s), v)
        ]
        out = F.coalesce(
            F.element_at(F.create_map(*pairs), F.col(source_col)),
            default_lit,
        )
    return out


def token_budget_sample(
    docs: DataFrame,
    budgets: Mapping[str, int] | None = None,
    default_budget: int = 3000,
    source_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "budget",
    bucket_hex: int = 2,
) -> DataFrame:
    """Fill each source's TOKEN budget greedily in md5 order: keep a
    document iff the running token total (inclusive, over docs of the
    same source ordered by ``md5(salt:id)``, ties by id) stays within
    the source's budget.  Token counts are nonnegative, so the running
    total is monotone and "keep while cumsum <= budget" is a pure
    per-row predicate — deterministic across runs/engines/cluster
    sizes, like every sampler here (no RNG), and directly replayable
    by the DuckDB oracle as one window cumsum.

    domain_mix_sample rebalances by DOCUMENT rate; this is the
    token-denominated variant a pretraining mixture actually budgets
    (target tokens per domain, not target docs).

    Scale shape: a naive per-source window puts a whole domain in one
    task.  Instead the hash order is split at its ``bucket_hex``-digit
    md5 prefix (256 buckets at 2): per-(source, bucket) token sums are
    a tiny aggregate; their exclusive running sum per source is a
    window over <=256 rows per source (bounded, never hot); rows then
    need only an intra-bucket cumsum — ONE row-level shuffle on
    (source, bucket), parallelism 256x the source count — plus the
    broadcast-joined bucket offsets.  Output: kept rows with
    ``n_tok`` and the inclusive running total ``cum_tok``.
    """
    u = F.md5(
        F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))
    )
    # the narrow projection feeds BOTH the offsets aggregate and the
    # row-level cumsum; localCheckpoint it so the corpus is scanned
    # and tokenized ONCE (tokenization dominates at scale), mirroring
    # exact_ntile's boundary pinning below
    d = (
        docs.select(
            F.col(id_col),
            F.col(source_col),
            F.size(tokens_col(F.col(text_col))).cast("long").alias("n_tok"),
            u.alias("_u"),
        )
        .withColumn("_bkt", F.substring("_u", 1, bucket_hex))
        .localCheckpoint(eager=True)
    )

    budget = _per_source_lit(
        {s: F.lit(int(b)) for s, b in (budgets or {}).items()},
        F.lit(int(default_budget)),
        source_col,
    )
    w_row = (
        Window.partitionBy(source_col, "_bkt")
        .orderBy("_u", id_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        _with_bucket_offsets(d, source_col, "n_tok")
        .withColumn(
            "cum_tok", (F.col("_off") + F.sum("n_tok").over(w_row))
        )
        .where(F.col("cum_tok") <= budget)
        .select(id_col, source_col, "n_tok", "cum_tok")
    )


def _with_bucket_offsets(
    d: DataFrame, group_col: str, weight_col: str
) -> DataFrame:
    """Shared two-level-cumsum machinery for the bucketed samplers
    (token_budget_sample / group_sample_exact): given a frame with
    (group_col, ``_bkt``, weight_col), attach ``_off`` = the group's
    exclusive running sum of per-bucket weight totals in bucket order
    (a window over ≤16^bucket_hex rows per group — bounded, never
    hot), broadcast-joined back with null-SAFE keys: a NULL group (or
    NULL id → NULL bucket) forms its own group in both the aggregate
    and the row-level window, and must survive the join-back too — a
    null-unsafe equi-join would silently drop those rows while the
    samplers' semantics (and the SQL-window oracles) keep them."""
    per_bucket = d.groupBy(group_col, "_bkt").agg(
        F.sum(weight_col).alias("_bsum")
    )
    w_bkt = (
        Window.partitionBy(group_col)
        .orderBy("_bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = per_bucket.select(
        F.col(group_col).alias("_grp_o"),
        F.col("_bkt").alias("_bkt_o"),
        F.coalesce(F.sum("_bsum").over(w_bkt), F.lit(0)).alias("_off"),
    )
    return d.join(
        F.broadcast(off),
        F.col(group_col).eqNullSafe(F.col("_grp_o"))
        & F.col("_bkt").eqNullSafe(F.col("_bkt_o")),
    ).drop("_grp_o", "_bkt_o")


def group_sample_exact(
    docs: DataFrame,
    n: int = 100,
    counts: Mapping[str, int] | None = None,
    group_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "sample",
    bucket_hex: int = 2,
) -> DataFrame:
    """EXACTLY-n deterministic sample per group: the n rows with the
    smallest ``md5(salt:id)`` (ties by id) — a reservoir sample
    without RNG state, reproducible across runs/engines/cluster sizes
    and monotone in ``n`` (same device as domain_mix_sample, but with
    an exact count instead of a rate; groups smaller than n are kept
    whole).  Output: (id, group, rk) with rk = 1..n in hash order.

    Same scale shape as token_budget_sample with unit weights: the
    global in-group rank = broadcast per-bucket offset (exclusive
    cumulative COUNT over ≤256 md5-prefix buckets per group) +
    intra-bucket row_number — ONE row-level shuffle on (group,
    bucket), never a per-group global sort.
    """
    u = F.md5(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string")))
    # localCheckpoint: the projection feeds both the offsets aggregate
    # and the row-level rank — without it the input is scanned and
    # hashed twice, and a nondeterministic upstream (sample()/limit)
    # could diverge between the two jobs, desynchronizing offsets from
    # ranks (the hazard token_budget_sample pins the same way)
    d = (
        docs.select(F.col(id_col), F.col(group_col), u.alias("_u"))
        .withColumn("_bkt", F.substring("_u", 1, bucket_hex))
        .withColumn("_one", F.lit(1).cast("long"))
        .localCheckpoint(eager=True)
    )
    limit = _per_source_lit(
        {s: F.lit(int(c)) for s, c in (counts or {}).items()},
        F.lit(int(n)),
        group_col,
    )
    w_row = Window.partitionBy(group_col, "_bkt").orderBy("_u", id_col)
    return (
        _with_bucket_offsets(d, group_col, "_one")
        .withColumn(
            "rk",
            (F.col("_off") + F.row_number().over(w_row)).cast("int"),
        )
        .where(F.col("rk") <= limit)
        .select(id_col, group_col, "rk")
    )


def chunk_documents(
    docs: DataFrame,
    boundary_hex: str = "0",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Content-defined chunking: split each document into variable-
    length chunks at hash-determined token boundaries — a token whose
    ``md5`` starts with ``boundary_hex`` (one hex digit ⇒ boundary
    rate 1/16, mean chunk ~16 tokens) CLOSES its chunk.  Because
    boundaries depend only on local content, an insertion near the
    start of a document shifts chunk IDs but re-synchronizes the
    chunk TEXTS right after the next boundary — the property that
    makes sub-document dedup robust to edits (the rolling-hash/CDC
    idea, applied at token granularity).  Deterministic: no RNG, and
    the md5-prefix test is the same hex-string device the samplers
    use, so the oracle replays byte-identical boundaries.

    Output: (id, chunk_id, chunk_text, n_tok) with chunk_id dense
    from 0 in token order.  Empty documents produce no rows.

    Plan: posexplode (narrow) → ONE shuffle on the doc id (the window
    computing the exclusive running boundary count) reused by the
    per-(doc, chunk) aggregation; chunk text is rebuilt order-exactly
    via sort_array over (pos, token) structs, not collect_list order.
    """
    if not boundary_hex or any(c not in "0123456789abcdef" for c in boundary_hex):
        # Spark md5 is lowercase hex; an uppercase/non-hex prefix
        # would silently never match (one giant chunk per doc)
        raise ValueError(
            f"boundary_hex must be non-empty lowercase hex, got {boundary_hex!r}"
        )
    toks = tokens_col(F.col(text_col))
    exploded = docs.select(
        F.col(id_col), F.posexplode(toks).alias("pos", "token")
    ).withColumn(
        "_bnd",
        (F.substring(F.md5(F.col("token")), 1, len(boundary_hex))
         == boundary_hex).cast("int"),
    )
    w = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chunked = exploded.withColumn(
        "chunk_id", F.coalesce(F.sum("_bnd").over(w), F.lit(0)).cast("int")
    )
    return (
        chunked.groupBy(id_col, "chunk_id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("pos", "token"))
                    ),
                    lambda s: s["token"],
                ),
                " ",
            ).alias("chunk_text"),
            F.count(F.lit(1)).cast("int").alias("n_tok"),
        )
    )


def chunk_dup_fraction(
    docs: DataFrame,
    boundary_hex: str = "0",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document duplicated-CHUNK fraction: the share of a doc's
    content-defined chunks (chunk_documents) whose exact text occurs
    in more than one chunk corpus-wide — sub-document duplication at
    CDC granularity, which (unlike fixed shingles) stays aligned
    across edited copies of a passage.  Complements
    dup_substring_fraction: shingles measure local overlap density,
    CDC chunks measure whole-passage reuse.

    Output: (id, n_chunks, n_dup_chunks, dup_frac rounded to 6dp).

    Plan: chunking's one doc-id shuffle, then count per distinct
    chunk text (map-side combine; a hot chunk contributes ONE count
    row) and a join back on the text key — the substr_dup_frac shape.
    The text itself is the key, so two distinct chunks never merge.
    """
    chunks = chunk_documents(docs, boundary_hex, id_col, text_col)
    per_text = chunks.groupBy("chunk_text").agg(
        F.count(F.lit(1)).alias("_n_occ")
    )
    return (
        chunks.join(per_text, "chunk_text")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_chunks"),
            F.sum((F.col("_n_occ") > 1).cast("int"))
            .cast("int")
            .alias("n_dup_chunks"),
        )
        .withColumn(
            "dup_frac",
            F.round(F.col("n_dup_chunks") / F.col("n_chunks"), 6),
        )
    )


def exact_ntile(
    df: DataFrame, order_cols: list[str], n: int, out_col: str = "bucket"
) -> DataFrame:
    """Scale-safe EXACT ``ntile(n)`` over a global order, returned as a
    column — the same range-repartition → local rank → partition-count
    offsets pattern as functions/sqlencode.fit_range_bins (where the
    derivation and determinism argument live), generalized to keep the
    rows instead of collapsing to bin boundaries.

    The single-task global Window this replaces is the canonical
    100-TB failure mode; here every task ranks one contiguous range
    and the only driver traffic is one row-count per partition.  The
    ranked frame is localCheckpoint-ed so the collected offsets and
    the returned plan see the SAME materialized partitioning (range
    boundaries are sampled nondeterministically otherwise).

    ``order_cols`` must be a total order (add a unique tie-break key);
    output matches SQL ``ntile(n) OVER (ORDER BY order_cols)`` exactly,
    which the shard_assign DuckDB oracle cross-checks.
    """
    n_part = _shuffle_partitions(df)
    cols = [F.col(c) for c in order_cols]
    ranked = (
        df.repartitionByRange(n_part, *cols)
        .sortWithinPartitions(*cols)
        .withColumn("_p", F.spark_partition_id())
        .withColumn(
            "_r",
            F.row_number().over(Window.partitionBy("_p").orderBy(*cols)) - 1,
        )
        .localCheckpoint(eager=True)
    )
    counts = {
        r["_p"]: r["n"]
        for r in ranked.groupBy("_p").agg(F.count("*").alias("n")).collect()
    }
    offsets, acc = {}, 0
    for p in sorted(counts):
        offsets[p] = acc
        acc += counts[p]
    if acc == 0:
        return ranked.withColumn(out_col, F.lit(1).cast("long")).drop("_p", "_r")
    base, rem = divmod(acc, n)
    off_expr = F.element_at(
        F.create_map(*[F.lit(x) for p, o in offsets.items() for x in (p, o)]),
        F.col("_p"),
    )
    rank = (off_expr + F.col("_r")).cast("long")
    if base == 0:
        bucket = rank + 1
    else:
        bucket = (
            F.when(rank < rem * (base + 1), rank / (base + 1))
            .otherwise(rem + (rank - rem * (base + 1)) / base)
            .cast("long")
            + 1
        )
    return ranked.withColumn(out_col, bucket).drop("_p", "_r")


def exact_rank_prefix(
    df: DataFrame,
    order_cols: list[str],
    value_cols: list[str] | None = None,
    rank_col: str = "rank",
    prefix: str = "cum_",
) -> DataFrame:
    """Scale-safe EXACT global ``row_number()`` AND inclusive running
    ``sum()`` of each ``value_cols`` entry over one global order, in ONE
    range pass — the two global-order primitives (rank, prefix sum)
    that a naive plan buys with a single-task unpartitioned Window,
    the canonical 100-TB failure mode.

    Same pattern as exact_ntile (range-repartition → per-partition
    local rank/cumsum → per-partition totals collected to the driver →
    closed-form offsets), extended to carry per-partition VALUE sums
    alongside row counts; driver traffic stays numPartitions-sized
    regardless of data volume.  The ranked frame is localCheckpoint-ed
    so the collected totals and the returned plan see the same
    materialized partitioning.

    ``order_cols`` must be a total order.  Output: df + ``rank_col``
    (1-based long) + ``{prefix}{v}`` (double) per value column —
    identical to SQL ``ROW_NUMBER() OVER (ORDER BY ...)`` and
    ``SUM(v) OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING)``.
    """
    value_cols = list(value_cols or [])
    n_part = _shuffle_partitions(df)
    cols = [F.col(c) for c in order_cols]
    w = Window.partitionBy("_erp_p").orderBy(*cols)
    wsum = w.rowsBetween(Window.unboundedPreceding, 0)
    local = (
        df.repartitionByRange(n_part, *cols)
        .sortWithinPartitions(*cols)
        .withColumn("_erp_p", F.spark_partition_id())
        .withColumn("_erp_r", F.row_number().over(w) - 1)
    )
    for v in value_cols:
        local = local.withColumn(
            f"_s_{v}",
            F.sum(F.coalesce(F.col(v).cast("double"), F.lit(0.0))).over(wsum),
        )
    local = local.localCheckpoint(eager=True)
    totals = {
        r["_erp_p"]: r
        for r in local.groupBy("_erp_p")
        .agg(
            F.count("*").alias("n"),
            *[
                F.sum(F.coalesce(F.col(v).cast("double"), F.lit(0.0))).alias(
                    f"t_{v}"
                )
                for v in value_cols
            ],
        )
        .collect()
    }
    row_off, val_off = {}, {v: {} for v in value_cols}
    acc_n = 0
    acc_v = dict.fromkeys(value_cols, 0.0)
    for p in sorted(totals):
        row_off[p] = acc_n
        acc_n += totals[p]["n"]
        for v in value_cols:
            val_off[v][p] = acc_v[v]
            acc_v[v] += totals[p][f"t_{v}"] or 0.0

    def _map(d, typ):
        return F.element_at(
            F.create_map(
                *[F.lit(x) for p, o in d.items() for x in (p, o)]
            ),
            F.col("_erp_p"),
        ).cast(typ)

    out = local.withColumn(
        rank_col, (_map(row_off, "long") + F.col("_erp_r") + 1)
    )
    for v in value_cols:
        out = out.withColumn(
            f"{prefix}{v}", _map(val_off[v], "double") + F.col(f"_s_{v}")
        ).drop(f"_s_{v}")
    return out.drop("_erp_p", "_erp_r")


def shard_assign(
    docs: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
    salt: str = "shard",
    out_col: str = "shard",
) -> DataFrame:
    """Deterministic global corpus shuffle into equal-size training
    shards: order every document by the md5 of its id (a pseudo-random
    but reproducible permutation — the standard "shuffle the corpus
    once, globally" step before sequential training consumption) and
    cut the order into ``n_shards`` exact ntile buckets.

    Equal shard sizes (±1 row) matter because shards become training
    files consumed round-robin; hash-ordering breaks source/time
    locality so every shard is an unbiased corpus sample.  Uses
    exact_ntile — no single-task global sort.
    """
    keyed = docs.withColumn(
        "_shuf",
        F.md5(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))),
    )
    return exact_ntile(
        keyed, ["_shuf", id_col], n_shards, out_col=out_col
    ).drop("_shuf")


# (name, pattern, replacement) applied IN ORDER — order is part of the
# contract (an IP inside an email must be caught by the email rule
# first).  Patterns restricted to syntax with identical semantics in
# Java regex (Spark) and RE2 (DuckDB): character classes, bounded
# repetition, alternation — no backrefs, no lookaround.
PII_RULES: tuple[tuple[str, str, str], ...] = (
    (
        "email",
        r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}",
        "<EMAIL>",
    ),
    ("ip", r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}", "<IP>"),
    ("phone", r"\+\d{1,2} \d{3}-\d{3}-\d{4}", "<PHONE>"),
)


def scrub_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact emails, IPv4 addresses, and international-format phone
    numbers, keeping per-rule match counts (counted on the text each
    rule actually sees, i.e. after the previous rules ran — same
    left-to-right semantics in the oracle).  Pure regexp_replace /
    regexp_count column expressions: per-row, codegen'd, no shuffle.

    Adds columns: n_email, n_ip, n_phone, ``{text_col}_redacted``.
    """
    cur = F.coalesce(F.col(text_col), F.lit(""))
    counts = []
    for name, pat, repl in PII_RULES:
        counts.append(F.regexp_count(cur, F.lit(pat)).alias(f"n_{name}"))
        cur = F.regexp_replace(cur, pat, repl)
    return df.select(
        "*", *counts, cur.alias(f"{text_col}_redacted")
    )


def pack_sequences(
    docs: DataFrame,
    max_tokens: int,
    n_shards: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "shard",
) -> DataFrame:
    """Sequence-packing manifest: GPT-style pretraining consumes the
    corpus as one token stream per shard, cut into fixed-length
    sequences of ``max_tokens``; this computes, per document, where its
    tokens land — the plan the token-level packing job executes.

    Per shard (hash-ordered, from shard_assign's permutation): exclusive
    running token offset, then
    ``first_seq = floor(offset / L)`` and
    ``last_seq = floor((offset + max(n_tok,1) - 1) / L)`` (an empty
    document occupies no tokens and spans its boundary sequence only).

    Scale posture: the per-shard running sum is a Window partitioned by
    shard — pick ``n_shards`` so a shard is task-sized (shards become
    training files, so they are output-file-sized by construction; the
    reference's 1000-line split files, APMWindowFragmentIntent.java:500,
    are the same knob).  For pathological single-shard use the
    exact_ntile range-repartition pattern applies verbatim.

    Returns (id_col, shard, n_tok, tok_offset, first_seq, last_seq).
    """
    keyed = docs.withColumn(
        "_shuf",
        F.md5(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))),
    ).withColumn(
        "n_tok", F.size(tokens_col(F.col(text_col))).cast("long")
    )
    sharded = exact_ntile(keyed, ["_shuf", id_col], n_shards, out_col="shard")
    w = (
        Window.partitionBy("shard")
        .orderBy("_shuf", id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = F.coalesce(F.sum("n_tok").over(w), F.lit(0))
    return (
        sharded.withColumn("tok_offset", off.cast("long"))
        .withColumn(
            "first_seq",
            F.floor(F.col("tok_offset") / max_tokens).cast("long"),
        )
        .withColumn(
            "last_seq",
            F.floor(
                (
                    F.col("tok_offset")
                    + F.greatest(F.col("n_tok"), F.lit(1))
                    - 1
                )
                / max_tokens
            ).cast("long"),
        )
        .select(
            id_col, "shard", "n_tok", "tok_offset", "first_seq", "last_seq"
        )
    )


def with_repetition_stats(
    df: DataFrame, n: int = 3, text_col: str = "text"
) -> DataFrame:
    """Intra-document repetition: 1 − distinct/total word n-grams —
    the cheap "document is the same paragraph looped" signal used as a
    pre-filter before model-based quality scoring.  Per-row only
    (array_distinct on the shingle array): no shuffle, no UDF.

    Adds: n_shingles, n_distinct, rep_ratio (0 for documents shorter
    than n tokens).
    """
    sh = shingles_col(tokens_col(F.col(text_col)), n)
    n_sh = F.size(sh)
    n_di = F.size(F.array_distinct(sh))
    return (
        df.withColumn("n_shingles", n_sh.cast("long"))
        .withColumn("n_distinct", n_di.cast("long"))
        .withColumn(
            "rep_ratio",
            F.round(
                (n_sh - n_di) / F.greatest(n_sh, F.lit(1)).cast("double"), 6
            ),
        )
    )


def mixture_temperature_weights(
    df: DataFrame,
    group_col: str = "source",
    size_col: str | None = None,
    alpha: float = 0.5,
    round_dp: int = 6,
) -> DataFrame:
    """Temperature-based mixture reweighting — the standard
    domain/language balancing rule (multilingual pretraining's
    p_s ∝ share_s^α): compute each group's corpus share (by row
    count, or by ``size_col`` sum — e.g. tokens), raise it to
    ``alpha`` ∈ [0, 1] (1 = proportional, 0 = uniform), renormalize,
    and report both the sampling weight and the per-item oversampling
    factor (weight / share — how many epochs of a small domain one
    epoch of the mixture consumes).

    Spark-first: ONE map-side-combinable groupBy to per-group sizes,
    then the normalization terms as window sums over the ≤#groups-row
    aggregate — nothing but the tiny group table ever crosses a
    second shuffle.  Complements domain_mix_sample (which SAMPLES to
    target shares); this op COMPUTES the shares to sample to.

    Output: (group_col, n_items, size, share, weight,
    oversample_factor), all shares/weights rounded to ``round_dp``.
    """
    size = (
        F.sum(size_col) if size_col is not None else F.count(F.lit(1))
    )
    g = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_items"),
        size.cast("double").alias("size"),
    )
    tot = F.sum("size").over(Window.partitionBy())
    share = F.col("size") / tot
    powed = F.pow(share, F.lit(float(alpha)))
    z = F.sum(powed).over(Window.partitionBy())
    weight = powed / z
    return g.select(
        group_col,
        "n_items",
        "size",
        F.round(share, round_dp).alias("share"),
        F.round(weight, round_dp).alias("weight"),
        F.round(weight / share, round_dp).alias("oversample_factor"),
    )
