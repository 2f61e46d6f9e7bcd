"""Large-scale deduplication operators over a documents table.

The reference dedupes intent-equal queries inside windows
(enc/APMWindowFragmentIntent.java:306-337) and prunes consecutive
near-duplicate session queries by cosine similarity > 0.8
(enc/IntentCreatorMultiThread.java:258-271,396-415 — simmetrics lib,
row-at-a-time).  A training-data pipeline needs the corpus-scale
versions; each below is formulated to bound the shuffle:

  exact          ingest-batch dedup against the corpus
                 (exact_against_corpus, optionally Bloom-prefiltered):
                 equi-join on the text, 1 shuffle
  minhash LSH    shingle → minhash → band → bucket-join: candidates
                 are generated by an equi-join on (band, band_hash),
                 never an all-pairs product
  simhash        64-bit simhash, duplicates = identical fingerprint
                 (Hamming-0; banded variants can extend)
  ngram jaccard  exact verification of LSH candidate pairs
  embedding      cosine near-dup via LSH-bucketed candidate join

All hashing is deterministic (xxhash64 with fixed seeds) so results
are partition-order independent.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sqlfeatureextraction_spark.functions.text import tokenize_col
from sqlfeatureextraction_spark.operators.iterate import fixed_point

# ------------------------------------------------------------- shingling


def with_shingles(
    df: DataFrame, text_col: str = "text", n: int = 3
) -> DataFrame:
    """Token n-gram shingle hashes: array<long> per doc, built with
    built-in array functions (transform over a sequence of offsets) —
    no Python."""
    tcol = "__sh_toks"
    staged = df.withColumn(tcol, tokenize_col(F.col(text_col)))
    # materialize the token array before the shingle lambda touches
    # it: each shingle references it n times via element_at, and an
    # un-materialized reference re-runs the regex tokenizer at every
    # touch (~3*n_shingles tokenizer runs per row; see
    # textstats.winnow_fingerprints for the measured cost)
    toks = F.col(tcol)
    count = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    idx = F.sequence(F.lit(0), count - 1)
    shingle = lambda i: F.xxhash64(  # noqa: E731
        F.concat_ws("", *[F.element_at(toks, i + j + 1) for j in range(n)])
    )
    return staged.withColumn(
        "shingles",
        F.when(count > 0, F.transform(idx, shingle)).otherwise(
            F.array().cast("array<bigint>")
        ),
    ).drop(tcol)


# ---------------------------------------------------------- minhash + LSH


def with_minhash(
    df: DataFrame,
    num_hashes: int = 64,
    shingle_col: str = "shingles",
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash signature: sig[i] = min over shingles of h_i(s), with
    h_i(s) = xxhash64(s, seed=i) expressed as xxhash64(s, i) on columns.

    Computed by exploding the shingle array and running ``num_hashes``
    codegen'd MIN aggregates (map-side partial aggregation: the
    exchange carries one 64-long partial per doc per partition, not
    the shingles).  The previous form — 64 interpreted
    array_min-over-transform passes per row — produced identical
    values but evaluated ~num_hashes × n_shingles lambda steps per
    document in the expression interpreter; the explode+aggregate
    shape does the same hashing inside WholeStageCodegen (measured
    ~3x on the sf0.1 minhash rows, and the signature job now
    parallelizes with the partial aggregate instead of riding one
    scan task).  Docs with an empty shingle set keep a NULL signature
    (explode drops them; the left join re-attaches nothing), exactly
    like the old ``when(~empty, sig)``.

    ``explode_outer`` + an explicit null filter instead of ``explode``:
    a plain explode makes InferFiltersFromGenerate synthesize a
    ``size(shingles) > 0`` predicate, and predicate pushdown then
    substitutes the full shingle-builder expression into that filter
    below the exchange — re-running tokenize+shingle per row on the
    serial scan task (measured: the explode step alone cost 17 s at
    sf0.1; with the outer form it is milliseconds).  The rule does not
    fire for outer generates, and the null filter on the generated
    attribute cannot be pushed below the Generate.  Row-identical:
    outer emits exactly one extra NULL element per empty/null array,
    which the filter removes.

    ``id_col`` must be unique: the per-id aggregate would otherwise
    merge the shingle sets of two documents.  Each row is tagged before
    the explode and the same aggregate carries the tag's min and max,
    so a second row under one id fails the job (``raise_error``)
    without an extra pass.  Rows with no shingles never reach the
    aggregate and are not checked."""
    # the tag is projected BELOW the explode: selected beside it, it
    # would be evaluated once per shingle
    ex = (
        df.select(
            F.col(id_col),
            F.monotonically_increasing_id().alias("_row"),
            F.col(shingle_col),
        )
        .select(id_col, "_row", F.explode_outer(shingle_col).alias("_s"))
        .where(F.col("_s").isNotNull())
    )
    mins = ex.groupBy(id_col).agg(
        F.min("_row").alias("_r0"),
        F.max("_row").alias("_r1"),
        *[
            F.min(F.xxhash64("_s", F.lit(i))).alias(f"_m{i}")
            for i in range(num_hashes)
        ],
    )
    sig = mins.select(
        id_col,
        F.when(
            F.col("_r0") != F.col("_r1"),
            F.raise_error(
                F.concat(
                    F.lit(f"with_minhash: duplicate {id_col} "),
                    F.col(id_col).cast("string"),
                )
            ),
        )
        .otherwise(F.array(*[F.col(f"_m{i}") for i in range(num_hashes)]))
        .alias("minhash"),
    )
    return df.join(sig, id_col, "left")


def _banded(
    df: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """(id, band, band_hash) rows: the signature split into ``bands``
    slices, each hashed — the LSH bucket key both the self-join and the
    cross-corpus join equi-join on."""
    rows_per_band = num_hashes // bands
    band_idx = F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band")
    return (
        df.where(F.col("minhash").isNotNull())
        .select(id_col, "minhash", band_idx)
        .withColumn(
            "band_hash",
            F.xxhash64(
                F.slice(
                    "minhash", F.col("band") * rows_per_band + 1, rows_per_band
                ),
                "band",
            ),
        )
        .select(id_col, "band", "band_hash")
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """Band the signature and self-join on (band, band_hash) to produce
    candidate pairs (a < b).  The join is equi — Spark hashes the
    bucket key; no quadratic blow-up outside genuinely identical
    buckets."""
    banded = _banded(df, id_col, num_hashes, bands)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def jaccard_verify(
    pairs: DataFrame,
    docs_with_shingles: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram Jaccard on candidate pairs via array_intersect /
    array_union over distinct shingle sets."""
    sh = docs_with_shingles.select(
        F.col(id_col), F.array_distinct("shingles").alias("sh")
    )
    j = (
        pairs.join(sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
    )
    return j.where(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", "jaccard"
    )


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
) -> DataFrame:
    """Full near-dup pipeline: shingle → minhash → LSH bucket join →
    Jaccard verify.  Returns verified near-duplicate pairs."""
    sh = with_shingles(df, text_col, n)
    mh = with_minhash(sh, num_hashes, id_col=id_col)
    cand = lsh_candidate_pairs(mh, id_col, num_hashes, bands)
    return jaccard_verify(cand, sh, id_col, threshold)


# ------------------------------------------- cross-corpus (ingest) dedup


def exact_against_corpus(
    new_docs: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental-ingest exact dedup: flag every NEW document against
    the already-ingested corpus — ``in_corpus`` (its text already
    exists there) and ``batch_rank`` (its 1-based rank among identical
    texts WITHIN the new batch, min-id first); ``keep`` is the ingest
    decision (not in corpus, first of its text in the batch).

    Plan shape for 100 TB: the corpus side reduces to DISTINCT text
    keys (map-side combine collapses its duplicates before the
    shuffle); the membership test is a left equi-join on the key —
    never a broadcast of the corpus, which is the big side by
    definition.  The key is the text itself, so two distinct texts
    never merge — the same key the DuckDB oracle recomputes.
    """
    key = F.col(text_col).alias("_k")
    corpus_keys = corpus.select(key).distinct().withColumn(
        "_inc", F.lit(True)
    )
    w = Window.partitionBy("_k").orderBy(id_col)
    return (
        new_docs.select(F.col(id_col), key)
        .withColumn("batch_rank", F.row_number().over(w))
        .join(corpus_keys, "_k", "left")
        .select(
            F.col(id_col),
            F.coalesce("_inc", F.lit(False)).alias("in_corpus"),
            "batch_rank",
            (
                (~F.coalesce("_inc", F.lit(False)))
                & (F.col("batch_rank") == 1)
            ).alias("keep"),
        )
    )


# ------------------------------------------------- bloom-prefiltered ingest


def bloom_params(n_keys: int, fpp: float = 0.01) -> tuple[int, int]:
    """Standard Bloom sizing: bits m = -n ln p / (ln 2)^2 (rounded up
    to a multiple of 64), hash count h = round((m/n) ln 2), both
    clamped to sane minimums."""
    import math

    n = max(int(n_keys), 1)
    m = int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2)))
    m = max((m + 63) // 64 * 64, 64)
    h = max(int(round(m / n * math.log(2))), 1)
    return m, h


def build_bloom(
    corpus: DataFrame,
    text_col: str = "text",
    m_bits: int = 1 << 22,
    num_hashes: int = 5,
) -> np.ndarray:
    """Distributed Bloom-filter build over the corpus's distinct text
    keys → int64 word array (length m_bits/64), ready to broadcast.

    This is the treeAggregate-of-bitmaps build expressed as DataFrame
    ops: distinct keys (map-side combine) → posexplode of the
    num_hashes seeds → bit position ``pmod(xxhash64(seed, key), m)``
    → per-word ``bit_or`` aggregate (map-side partial agg again, so
    the shuffle carries at most m/64 × partitions rows and the driver
    receives at most m/64 (word, bits) rows — the bitmap size, NOT
    the corpus size).  All hashing is the JVM xxhash64; Python never
    sees a corpus row.  The bitmap is a one-time, persistable build
    amortized across every future ingest batch."""
    if m_bits % 64:
        raise ValueError("m_bits must be a multiple of 64")
    seeds = F.array(*[F.lit(i) for i in range(num_hashes)])
    words = (
        corpus.select(F.col(text_col).alias("_k"))
        .distinct()
        .select(
            F.explode(
                F.transform(
                    seeds,
                    lambda s: F.pmod(
                        F.xxhash64(s, F.col("_k")), F.lit(m_bits)
                    ),
                )
            ).alias("pos")
        )
        .select(
            (F.col("pos") / 64).cast("long").alias("w"),
            F.expr("shiftleft(1L, cast(pos % 64 as int))").alias("b"),
        )
        .groupBy("w")
        .agg(F.expr("bit_or(b)").alias("bits"))
        .collect()
    )
    bitmap = np.zeros(m_bits // 64, dtype=np.int64)
    for r in words:
        bitmap[r["w"]] = r["bits"]
    return bitmap


def bloom_against_corpus(
    new_docs: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    m_bits: int = 1 << 22,
    num_hashes: int = 5,
    bitmap: np.ndarray | None = None,
) -> DataFrame:
    """``exact_against_corpus`` through a Bloom prefilter: identical
    output (in_corpus / batch_rank / keep — pinned equal in pytest and
    sharing the driver oracle), different scale shape.  The new batch
    probes a broadcast m-bit Bloom bitmap of the corpus keys inside
    ONE Arrow batch pass; only Bloom CANDIDATES (true members plus the
    ~fpp false positives) enter the verify equi-join against the
    corpus's distinct keys, so novel documents — the overwhelming
    majority in a healthy crawl — never participate in a join at all.
    Bloom filters have no false negatives, and the verify join removes
    the false positives, so the result is exact, not approximate.

    At 100 TB the bitmap build is the one corpus-sized job and is
    amortized: pass a prebuilt ``bitmap`` (from :func:`build_bloom`,
    persisted between batches; ``num_hashes`` MUST match the build —
    a probe with more hashes than the build can produce false
    negatives) and each ingest batch costs one Arrow probe pass + a
    candidate-only join.  Size m_bits to the corpus
    key count via :func:`bloom_params` (10 bits/key ≈ 1% fpp; 1e9
    keys ≈ 1.2 GB — within executor broadcast reach; beyond that,
    shard the bitmap by key range)."""
    if bitmap is None:
        bitmap = build_bloom(corpus, text_col, m_bits, num_hashes)
    else:
        m_bits = int(bitmap.shape[0]) * 64
    seeds = F.array(*[F.lit(i) for i in range(num_hashes)])
    pos = F.transform(
        seeds,
        lambda s: F.pmod(F.xxhash64(s, F.col(text_col)), F.lit(m_bits)),
    )

    bm = bitmap  # closure capture (ships once per executor via Arrow UDF)

    @F.pandas_udf(T.BooleanType())
    def _probe(positions: pd.Series) -> pd.Series:
        if len(positions) == 0:
            return pd.Series([], dtype=bool)
        p = np.asarray(list(positions), dtype=np.int64)  # (n, h)
        set_ = ((bm[p >> 6] >> (p & 63)) & 1) == 1
        return pd.Series(set_.all(axis=1))

    w = Window.partitionBy(text_col).orderBy(id_col)
    flagged = (
        new_docs.select(id_col, text_col)
        .withColumn("batch_rank", F.row_number().over(w))
        .withColumn("_member", _probe(pos))
    )
    corpus_keys = (
        corpus.select(F.col(text_col)).distinct().withColumn(
            "_inc", F.lit(True)
        )
    )
    cand = flagged.where(F.col("_member")).join(
        corpus_keys, text_col, "left"
    )
    novel = flagged.where(~F.col("_member")).withColumn(
        "_inc", F.lit(None).cast("boolean")
    )
    return cand.unionByName(novel.select(*cand.columns)).select(
        F.col(id_col),
        F.coalesce("_inc", F.lit(False)).alias("in_corpus"),
        "batch_rank",
        (
            (~F.coalesce("_inc", F.lit(False))) & (F.col("batch_rank") == 1)
        ).alias("keep"),
    )


def neardup_against_corpus(
    new_docs: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
) -> DataFrame:
    """Incremental-ingest NEAR-dup detection: verified (new_id,
    corpus_id, jaccard) pairs between the new batch and the ingested
    corpus — shingle → minhash both sides, equi-join on the LSH band
    key ACROSS the two tables (never new×corpus all-pairs), exact
    n-gram Jaccard on the candidates.  Band-key recall is the standard
    (1-(1-s^r)^b) LSH curve; exact copies always collide (identical
    signatures).  Downstream drops a new doc iff it has any pair here.

    Requires ids unique ACROSS the two tables (an ingest pipeline's
    global doc id) — the verify stage resolves shingle sets by id over
    their union.
    """
    sh_new = with_shingles(new_docs, text_col, n)
    sh_cor = with_shingles(corpus, text_col, n)
    banded_new = _banded(
        with_minhash(sh_new, num_hashes, id_col=id_col),
        id_col,
        num_hashes,
        bands,
    )
    banded_cor = _banded(
        with_minhash(sh_cor, num_hashes, id_col=id_col),
        id_col,
        num_hashes,
        bands,
    )
    cand = (
        banded_new.withColumnRenamed(id_col, "id_a")
        .join(
            banded_cor.withColumnRenamed(id_col, "id_b"),
            ["band", "band_hash"],
        )
        .select("id_a", "id_b")
        .distinct()
    )
    both = sh_new.select(id_col, "shingles").unionByName(
        sh_cor.select(id_col, "shingles")
    )
    return jaccard_verify(cand, both, id_col, threshold)


# -------------------------------------------- exact jaccard (prefix filter)


def ngram_jaccard_join(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    unpersist_with: list | None = None,
) -> DataFrame:
    """EXACT n-gram Jaccard similarity self-join via prefix filtering
    (the AllPairs family; distributed formulation per Vernica/Carey/Li,
    SIGMOD 2010 "Efficient parallel set-similarity joins using
    MapReduce").  Unlike minhash LSH — probabilistic recall — every
    pair with J >= threshold is GUARANTEED a candidate:

      1. distinct shingle sets per doc, globally ordered by ascending
         document frequency (rarest first; freq is one explode+groupBy)
      2. prefix = first  L - ceil(t*L) + 1  tokens of that ordering —
         two sets with J >= t must share a prefix token, so candidates
         come from an EQUI-join on prefix tokens (plus the length
         filter t*La <= Lb <= La/t), never an all-pairs product
      3. exact verification on the full sets (array_intersect/union)

    Rarest-first ordering is what keeps prefix buckets small: a token
    appearing in k docs contributes at most k*(k-1)/2 candidates, and
    high-frequency tokens are pushed out of the prefixes.  All steps
    are JVM-side built-ins; the fp-hazardous ceil(t*L) boundaries are
    computed with a 1e-9 slack in the SAFE direction (longer prefixes,
    looser length filter — extra candidates, never a missed pair).

    The shingle-set frame is persisted — the returned lazy plan scans
    it four times (frequency pass, ordering pass, both verify sides),
    so without the cache the whole corpus re-tokenizes 4×.  Pass
    ``unpersist_with=[]`` to receive it for ``.unpersist()`` after the
    result is consumed (same lifecycle contract as
    reorganize_sessions_distributed).
    """
    eps = 1e-9
    # persist BEFORE the non-empty filter: a filter over the derived
    # `sh` column is pushdown-substituted into a full shingle-build
    # re-evaluation below the exchange (serially, on the scan task —
    # measured 13.5 s of the row's 18 s cold cost at sf0.1); above
    # the InMemoryRelation it is a cheap size() on materialized rows
    sh_cached = (
        with_shingles(df, text_col, n)
        .select(F.col(id_col), F.array_distinct("shingles").alias("sh"))
        .persist()
    )
    if unpersist_with is not None:
        unpersist_with.append(sh_cached)
    sh = sh_cached.where(F.size("sh") > 0)
    freq = (
        sh.select(F.explode("sh").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("df"))
    )
    ordered = (
        sh.select(id_col, F.explode("sh").alias("tok"))
        .join(freq, "tok")
        .groupBy(id_col)
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("df", "tok"))),
                lambda s: s["tok"],
            ).alias("toks")
        )
        .withColumn("L", F.size("toks"))
        .withColumn(
            "plen",
            F.col("L") - F.ceil(F.col("L") * threshold - eps) + 1,
        )
    )
    pref = ordered.select(
        F.col(id_col).alias("pid"),
        F.col("L"),
        F.explode(F.slice("toks", F.lit(1), F.col("plen"))).alias("tok"),
    )
    a, b = pref.alias("a"), pref.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.pid") < F.col("b.pid"))
            & (F.col("b.L") >= F.col("a.L") * threshold - eps)
            & (F.col("a.L") >= F.col("b.L") * threshold - eps),
        )
        .select(
            F.col("a.pid").alias("id_a"),
            F.col("b.pid").alias("id_b"),
        )
        .distinct()
    )
    return jaccard_verify(
        cand,
        sh.withColumnRenamed("sh", "shingles"),
        id_col,
        threshold,
    )


# ----------------------------------------------------------------- simhash


SIMHASH_BITS = 60  # 15 hex chars of md5 — fits signed int64 headroom


def with_simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """60-bit SimHash over tokens, computed ENTIRELY JVM-side (no
    Python anywhere): explode tokens, hash each token with
    md5 → first 15 hex chars → uint60 via ``conv`` (a cross-engine
    reproducible hash — DuckDB/any SQL engine computes the identical
    value, unlike xxhash64), then accumulate the per-bit ±count with 60
    codegen'd conditional-sum aggregates and assemble the fingerprint
    from the signs.  One shuffle on the doc id with map-side partial
    aggregation; token weights are occurrence counts."""
    toks = tokenize_col(F.col(text_col))
    h = F.conv(F.substring(F.md5(F.col("_t")), 1, 15), 16, 10).cast("long")
    # explode_outer + null filter: a plain explode triggers
    # InferFiltersFromGenerate, whose pushed-down size() predicate
    # re-runs the tokenizer once per row below the exchange (see
    # with_minhash); tokens are never null, so this is row-identical
    acc = (
        df.select(id_col, F.explode_outer(toks).alias("_t"))
        .where(F.col("_t").isNotNull())
        .withColumn("_h", h)
        .groupBy(id_col)
        .agg(
            *[
                F.sum(
                    F.when(
                        F.shiftright("_h", b).bitwiseAND(F.lit(1)) == 1,
                        F.lit(1),
                    ).otherwise(F.lit(-1))
                ).alias(f"_b{b}")
                for b in range(SIMHASH_BITS)
            ]
        )
    )
    fp = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"_b{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    sim = acc.select(id_col, fp.alias("simhash"))
    return df.join(sim, id_col, "left").withColumn(
        "simhash", F.coalesce(F.col("simhash"), F.lit(0))
    )


def simhash_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Duplicate groups = identical simhash (Hamming distance 0)."""
    return (
        with_simhash(df, text_col)
        .groupBy("simhash")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies"))
        .where(F.col("n_copies") > 1)
    )


def simhash_neardup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-duplicate pairs at Hamming distance <= max_hamming over the
    60-bit SimHash, with GUARANTEED recall via pigeonhole banding: the
    fingerprint splits into max_hamming+1 disjoint bit bands, and two
    fingerprints within Hamming k can differ in at most k bands — so
    they agree EXACTLY on at least one, and every qualifying pair is
    produced by an equi-join on (band_idx, band_bits).  Verification is
    one codegen'd ``bit_count(a ^ b)`` per candidate.

    Scale posture: the join key is a 15-bit-ish integer band — hash
    buckets stay small unless many documents share identical band
    bits, in which case the pair set itself is genuinely that large
    (e.g. all empty texts fingerprint to 0 and are mutual duplicates —
    an output property, not join blow-up).  Returns (id_a, id_b,
    hamming)."""
    bands = max_hamming + 1
    w = SIMHASH_BITS // bands
    sim = with_simhash(df, text_col, id_col).select(id_col, "simhash")

    def band_bits(b: int):
        lo = b * w
        width = SIMHASH_BITS - lo if b == bands - 1 else w
        return F.shiftright("simhash", lo).bitwiseAND(
            F.lit((1 << width) - 1)
        )

    # ONE posexplode, not a bands-way union — a union would recompute
    # the 60-aggregate simhash groupBy once per band per join side
    banded = sim.select(
        F.col(id_col),
        "simhash",
        F.posexplode(F.array(*[band_bits(b) for b in range(bands)])).alias(
            "_band", "_bits"
        ),
    )
    a, b_ = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b_,
            (F.col("a._band") == F.col("b._band"))
            & (F.col("a._bits") == F.col("b._bits"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return cand


# ------------------------------------------------ near-dup cluster closure


def connected_components(
    pairs: DataFrame,
    vertices: DataFrame | None = None,
    id_col: str = "doc_id",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over near-duplicate PAIRS → one cluster id
    (the component's min vertex id) per vertex.

    The pair-producing operators above answer "which documents are
    near-duplicates of each other"; a training-data pipeline must then
    keep ONE representative per transitive group (a≈b, b≈c ⇒ {a,b,c}
    collapse together even when a≉c directly).  The reference's only
    analog is intra-window intent-equality dedupe
    (enc/APMWindowFragmentIntent.java:306-337), which needs no closure
    because equality is transitive; similarity is not, so the corpus
    path needs components.

    Algorithm: min-label propagation plus hooking and pointer jumping
    (Rastogi et al., ICDE'13), so rounds grow with log(diameter), not
    with the diameter (a 1000-node path takes 9-10).  Each round, over
    the (id, lbl) frame and the symmetric edge list:

      1. m[v] = min(lbl[v], lbl of v's neighbours);
      2. hook: h[p] = min(m[p], min m[v] over v with lbl[v] = p);
      3. jump: lbl[v] <- min(h[v], h[h[v]]).

    Labels only fall and always name a vertex of the same component,
    so once a round changes no label every edge lies inside one label:
    each component carries its min id.  A round is one
    ``iterate.fixed_point`` action that also counts the changed labels;
    if labels still change after ``max_iter`` rounds it raises
    ``ValueError`` rather than return unconverged labels.

    vertices: optional frame holding ``id_col`` for the full corpus so
    singletons (no near-dup pair at all) appear with cluster_id =
    their own id; omit to label only paired vertices.
    """
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    edges = pairs.select(
        F.col("id_a").alias("u"), F.col("id_b").alias("v")
    )
    edges = (
        edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    start = edges.select(F.col("u").alias("id")).distinct().select(
        "id", F.col("id").alias("lbl")
    )

    def hook_and_jump(labels: DataFrame) -> DataFrame:
        nl = labels.select(F.col("id").alias("v"), F.col("lbl").alias("nl"))
        nb = edges.join(nl, "v").groupBy("u").agg(F.min("nl").alias("nb"))
        m = labels.join(nb, F.col("id") == F.col("u"), "left").select(
            "id", "lbl", F.least("lbl", "nb").alias("m")
        )
        hooks = m.groupBy(F.col("lbl").alias("p")).agg(F.min("m").alias("pm"))
        h = m.join(hooks, F.col("id") == F.col("p"), "left").select(
            "id", "lbl", F.least("m", "pm").alias("h")
        )
        hh = h.select(F.col("id").alias("hid"), F.col("h").alias("hh"))
        return h.join(hh, F.col("h") == F.col("hid"), "left").select(
            "id", F.least("h", "hh").alias("lbl"), F.col("lbl").alias("_old")
        )

    labels, _, n_changed = fixed_point(
        start, hook_and_jump, F.col("lbl") != F.col("_old"), max_iter
    )
    if n_changed:
        raise ValueError(
            f"connected_components did not converge within max_iter="
            f"{max_iter} rounds: {n_changed} labels still changed in the "
            "last round"
        )
    out = labels.select(
        F.col("id").alias(id_col), F.col("lbl").alias("cluster_id")
    )
    if vertices is not None:
        out = (
            vertices.select(id_col)
            .distinct()
            .join(out, id_col, "left")
            .withColumn(
                "cluster_id", F.coalesce(F.col("cluster_id"), F.col(id_col))
            )
        )
    return out


def dedup_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
) -> DataFrame:
    """End-to-end near-dup clustering: minhash LSH pairs → transitive
    closure → (id, cluster_id) for EVERY document (singletons keep
    their own id).  Keep-one materialization = filter
    ``id_col == cluster_id``."""
    pairs = minhash_dedup(df, text_col, id_col, n, num_hashes, bands, threshold)
    return connected_components(
        pairs.select("id_a", "id_b"), vertices=df, id_col=id_col
    )


# ----------------------------------------------------- embedding near-dup


def embedding_neardup_exact(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
) -> DataFrame:
    """Exact all-pairs cosine near-duplicates — the correctness
    baseline.  The pair join is quadratic by definition (use the LSH
    variant at corpus scale; its recall vs this baseline is pinned by
    pytest); the cosine itself is one BLAS batch per Arrow chunk."""

    @F.pandas_udf(T.DoubleType())
    def cosine(a: pd.Series, b: pd.Series) -> pd.Series:
        ma = np.vstack(a.to_numpy()).astype(np.float64)
        mb = np.vstack(b.to_numpy()).astype(np.float64)
        num = (ma * mb).sum(axis=1)
        den = np.linalg.norm(ma, axis=1) * np.linalg.norm(mb, axis=1)
        den[den == 0] = 1.0
        return pd.Series(num / den)

    v = df.select(id_col, vec_col)
    a, b = v.alias("a"), v.alias("b")
    pairs = a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}")).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        cosine(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}")).alias("cos"),
    )
    return pairs.where(F.col("cos") >= threshold).select(
        "id_a", "id_b", F.round("cos", 6).alias("cos")
    )


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_planes: int = 16,
    n_bands: int = 1,
    seed: int = 7,
) -> DataFrame:
    """Cosine near-duplicate pairs via random-hyperplane LSH buckets +
    exact cosine verification inside buckets.

    Recall is tuned by banding: a pair at angle θ lands in the same
    n_planes-bit bucket of one band with p = (1−θ/π)^n_planes, and is
    missed by ALL bands with (1−p)^n_bands — more/shorter bands trade
    candidate volume for recall.  The hyperplanes are a deterministic
    seeded numpy tensor shipped in the UDF closure; candidates come
    from an equi-join on (band, bucket), then duplicates across bands
    are collapsed BEFORE the exact-cosine verify."""
    first = df.select(F.size(vec_col)).first()
    dim = first[0]
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_bands, n_planes, dim))

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def buckets(vs: pd.Series) -> pd.Series:
        mat = np.vstack(vs.to_numpy()).astype(np.float64)  # (n, dim)
        # (n, bands, planes) sign bits → (n, bands) packed bucket ids
        bits = np.einsum("nd,bpd->nbp", mat, planes) > 0
        packed = (
            bits.astype(np.uint64)
            << np.arange(n_planes, dtype=np.uint64)[None, None, :]
        ).sum(axis=2)
        return pd.Series(list(packed.astype(np.int64)))

    @F.pandas_udf(T.DoubleType())
    def cosine(a: pd.Series, b: pd.Series) -> pd.Series:
        ma = np.vstack(a.to_numpy()).astype(np.float64)
        mb = np.vstack(b.to_numpy()).astype(np.float64)
        num = (ma * mb).sum(axis=1)
        den = np.linalg.norm(ma, axis=1) * np.linalg.norm(mb, axis=1)
        den[den == 0] = 1.0
        return pd.Series(num / den)

    banded = df.select(id_col, vec_col).select(
        id_col,
        vec_col,
        F.posexplode(buckets(F.col(vec_col))).alias("band", "bkt"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkt") == F.col("b.bkt"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col(f"a.{vec_col}").alias("va"),
            F.col(f"b.{vec_col}").alias("vb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.withColumn("cos", cosine(F.col("va"), F.col("vb")))
        .where(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.round("cos", 6).alias("cos"))
    )


def dedup_conversations(
    tx: DataFrame,
    conv_col: str = "conv_id",
    order_cols: tuple = ("turn_idx",),
    text_col: str = "text",
    sep_code: int = 31,
) -> DataFrame:
    """Conversation-level exact dedup over a transcript table: two
    conversations are duplicates iff their turn texts are equal IN
    ORDER — the retry / double-submission case a transcript ingest
    pipeline must collapse before feature extraction or training
    (turn-level hashes can't see it: every turn of a resubmitted
    conversation is individually a dup of the original's, but only
    the ordered whole identifies WHICH conversation to drop).

    Fingerprint = md5 of the turn texts joined by ``chr(sep_code)``
    (an unprintable separator so adjacent turns can't collude) in
    (order_cols) order — ``order_cols`` must be a unique key within a
    conversation or the concatenation order (hence the fingerprint)
    is undefined.  The same string is constructible in ANSI SQL as
    ``md5(string_agg(text, chr(31) ORDER BY ...))``, which is what
    the driver oracle does — the fingerprint is cross-engine exact,
    not merely equal in distribution.

    Plan shape: one groupBy(conv) building the ordered text array
    (per-task memory bounded by conversation length — the bound every
    transcript op in this engine carries), then a keep-one
    row_number over the fingerprint partition (bounded by duplicate-
    group size).  All JVM; no Python.

    Output: (conv_col, fp, n_turns, dup_rank, keep) — keep is true
    for the lowest conv id per fingerprint.
    """
    ordered = F.array_sort(
        F.collect_list(
            F.struct(
                *[F.col(c) for c in order_cols],
                F.coalesce(F.col(text_col), F.lit("")).alias("_t"),
            )
        )
    )
    fp = F.md5(
        F.array_join(
            F.transform(ordered, lambda s: s["_t"]), chr(sep_code)
        )
    )
    fps = tx.groupBy(conv_col).agg(
        fp.alias("fp"),
        F.count(F.lit(1)).cast("long").alias("n_turns"),
    )
    w = Window.partitionBy("fp").orderBy(conv_col)
    return fps.withColumn(
        "dup_rank", F.row_number().over(w)
    ).withColumn("keep", F.col("dup_rank") == 1)


def sorted_neighborhood_pairs(
    docs: DataFrame,
    window: int = 5,
    key_len: int = 16,
    sim_threshold: float = 0.6,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_dp: int = 6,
) -> DataFrame:
    """Sorted-neighborhood candidate generation (Hernandez & Stolfo,
    SIGMOD 1995) + edit-distance verify — the classic entity-
    resolution blocking strategy the LSH family does not cover: sort
    the corpus ONCE by a normalized key and compare only records
    within ``window`` positions.  Guarantees (unlike MinHash's
    probabilistic recall) that any two records whose keys sort
    adjacently-enough are compared, and catches near-dups whose
    DIFFERENCES are spread thinly (one char per shingle) where
    shingle-based methods lose every shingle.

    Scale shape: the global sort rank comes from
    curation.exact_rank_prefix (range pass, no single-task Window);
    the "within w positions" band join is a bucketized equi-join
    (bucket = rank div w, join bucket and bucket+1, filter
    0 < rank_b - rank_a <= w) — never an all-pairs product, ~2x
    replication instead.  Verify = builtin JVM levenshtein on the
    normalized ``key_len``-char prefixes (definitionally identical in
    DuckDB, so the oracle is direct); sim = 1 - lev/maxlen.

    Output: candidate pairs with sim >= threshold
    (id_a, id_b, sim), id_a < id_b by sort rank.
    """
    from .curation import exact_rank_prefix

    key = F.substring(
        F.regexp_replace(
            F.lower(F.coalesce(F.col(text_col), F.lit(""))), "[^a-z0-9]", ""
        ),
        1,
        int(key_len),
    )
    keyed = docs.select(
        F.col(id_col).alias("_id"), key.alias("_k")
    ).where(F.length("_k") > 0)
    ranked = exact_rank_prefix(
        keyed, ["_k", "_id"], [], rank_col="_rank"
    ).select("_id", "_k", "_rank")
    w = int(window)
    a = ranked.select(
        F.col("_id").alias("id_a"),
        F.col("_k").alias("_ka"),
        F.col("_rank").alias("_ra"),
        F.floor(F.col("_rank") / w).alias("_b"),
    )
    b_side = ranked.select(
        F.col("_id").alias("id_b"),
        F.col("_k").alias("_kb"),
        F.col("_rank").alias("_rb"),
        F.floor(F.col("_rank") / w).alias("_bb"),
    )
    cand = None
    for shift in (0, 1):
        j = a.join(
            b_side, a["_b"] + shift == b_side["_bb"], "inner"
        ).where(
            (F.col("_rb") > F.col("_ra"))
            & (F.col("_rb") - F.col("_ra") <= w)
        )
        cand = j if cand is None else cand.unionAll(j)
    sim = F.lit(1.0) - F.levenshtein("_ka", "_kb") / F.greatest(
        F.length("_ka"), F.length("_kb")
    )
    return (
        cand.select(
            "id_a",
            "id_b",
            F.round(sim, round_dp).alias("sim"),
        )
        .where(F.col("sim") >= float(sim_threshold))
    )
