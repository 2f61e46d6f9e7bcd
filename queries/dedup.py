"""Dedup and similarity family: exact, conversation-level and
cross-corpus dedup, MinHash/SimHash/n-gram/embedding near-dup detection
and clustering, fingerprinting, and the exact, IVF, PQ, LSH and hybrid
(BM25 + dense) top-k searches."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from queries._common import _EV_TS, _events, _SPTOK, _TOK


def _ann_queries(spark, sf_dir, n_q=5):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = emb.where(F.col("vec_id") < n_q).select("vec_id", "embedding").collect()
    return emb, [(int(r["vec_id"]), list(map(float, r["embedding"]))) for r in rows]


def _q_conv_dedup(spark, sf_dir):
    """Conversation-level exact dedup (retry / double-submission
    collapse): order-sensitive md5 fingerprint of the turn-ordered
    text concatenation, keep-one per fingerprint.  Duplicate
    conversations are synthesized by unioning an id-shifted copy of
    every 10th conversation, so the keep/drop semantics are actually
    exercised (originals keep — lower id).  The oracle rebuilds the
    identical string with string_agg(text, chr(31) ORDER BY ts_sec,
    event_id), so the fingerprint is cross-engine exact."""
    from sqlfeatureextraction_spark.operators.dedup import (
        dedup_conversations,
    )

    ev = _events(spark, sf_dir)
    base = ev.select(
        "user_id",
        "ts_sec",
        "event_id",
        F.coalesce(F.col("props"), F.lit("")).alias("text"),
    )
    copies = base.where(F.col("user_id") % 10 == 0).withColumn(
        "user_id", F.col("user_id") + F.lit(1000000)
    )
    return dedup_conversations(
        base.unionByName(copies),
        conv_col="user_id",
        order_cols=("ts_sec", "event_id"),
        text_col="text",
    )


def _q_sorted_neighborhood(spark, sf_dir):
    """Sorted-neighborhood dedup candidates (Hernandez-Stolfo) —
    global sort rank via exact_rank_prefix, within-window band as a
    bucketized equi-join, levenshtein-prefix verify."""
    from sqlfeatureextraction_spark.operators.dedup import (
        sorted_neighborhood_pairs,
    )

    doc = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return sorted_neighborhood_pairs(
        doc.select("doc_id", "text"),
        window=4,
        key_len=16,
        sim_threshold=0.5,
    )


def _q_winnowing(spark, sf_dir):
    """MOSS winnowing fingerprints over documents (k=5-token
    shingles, w=4 windows, rightmost-min selection) with the
    engine-portable polynomial shingle hash — per-row HOFs, no
    shuffle; the oracle replays the identical arithmetic."""
    from sqlfeatureextraction_spark.operators.textstats import (
        winnow_fingerprints,
    )
    from sqlfeatureextraction_spark.scanspread import spread_small_scan

    doc = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # per-row HOF hashing is the whole cost; spread the (usually
    # single-row-group) documents scan so it runs on every core
    doc = spread_small_scan(doc.select("doc_id", "text"), "doc_id")
    return winnow_fingerprints(doc, k=5, w=4)


def _q_dedup_exact(spark, sf_dir):
    """Exact dedupe on documents: canonical doc per identical text."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.groupBy("text").agg(
        F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies")
    )


def _q_doc_fingerprint(spark, sf_dir):
    """Document fingerprinting (rolling winnowed sketch) per
    operators/textstats.with_fingerprint.  Oracle identity: fingerprint
    and winnow_min are deterministic functions of text (xxhash64 over
    the full text / min over k-gram window hashes), and xxhash64 is
    collision-free at corpus scale, so per (lang, source) bucket the
    count of distinct fingerprints — and of distinct (fingerprint,
    winnow_min) sketches — equals the count of distinct texts, and a
    doc carries a sketch iff it has >= k tokens."""
    from sqlfeatureextraction_spark.operators.textstats import with_fingerprint

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fp = with_fingerprint(docs, k=4)
    return fp.groupBy("lang", "source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.countDistinct("fingerprint").cast("long").alias("n_fp"),
        F.countDistinct("fingerprint", "winnow_min")
        .cast("long")
        .alias("n_sketches"),
        F.sum(F.col("winnow_min").isNotNull().cast("long"))
        .cast("long")
        .alias("n_with_sketch"),
    )


def _q_ann_topk(spark, sf_dir):
    """Brute-force cosine top-10 for 5 fixed query vectors, ranked on
    rounded cosine with id tie-break (fp-stable across engines)."""
    emb, qs = _ann_queries(spark, sf_dir)
    q_df = spark.createDataFrame(
        [(qid, vec) for qid, vec in qs], "query_id int, qe array<double>"
    )
    dbl = lambda c: F.transform(c, lambda x: x.cast("double"))  # noqa: E731
    dot = F.aggregate(
        F.zip_with(dbl(F.col("embedding")), F.col("qe"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    sq = lambda c: F.aggregate(  # noqa: E731
        dbl(c), F.lit(0.0), lambda acc, v: acc + v * v
    )
    pairs = emb.crossJoin(F.broadcast(q_df)).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(dot / (F.sqrt(sq(F.col("embedding"))) * F.sqrt(F.aggregate(F.col("qe"), F.lit(0.0), lambda acc, v: acc + v * v))), 6).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 10)
        .select("query_id", "rk", "neighbor_id", "cos")
    )


def _q_minhash_pairs(spark, sf_dir):
    """MinHash+LSH near-duplicate pairs, exact-Jaccard verified.
    Oracle = exact all-pairs n-gram Jaccard: at 32 bands × 2 rows the
    LSH miss probability for a J≥0.5 pair is (1−J²)^32 ≤ 1e-4 (and the
    synthetic near-dups all have J≥0.9, miss ≤ 1e-23), so LSH recall
    is exhaustive at verification scale while staying an equi-join at
    corpus scale."""
    from sqlfeatureextraction_spark.operators.dedup import minhash_dedup
    from sqlfeatureextraction_spark.scanspread import spread_small_scan

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # per-row shingle/minhash hashing dominates; spread the (single-
    # row-group) scan so it parallelizes (no-op at real scale)
    docs = spread_small_scan(docs.select("doc_id", "text"), "doc_id")
    pairs = minhash_dedup(docs, threshold=0.5, num_hashes=64, bands=32)
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def _q_cross_corpus_exact(spark, sf_dir):
    """Incremental-ingest exact dedup: a deterministic synthetic 'new
    batch' (every 3rd doc re-ingested — even source ids verbatim, odd
    ones with a novel suffix — plus every 6th doc twice, so the row
    exercises in_corpus true/false AND batch_rank > 1) flagged against
    the full corpus.  Corpus side reduces to distinct text keys before
    the membership join; never broadcast (it is the big side)."""
    from sqlfeatureextraction_spark.operators.dedup import (
        exact_against_corpus,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = docs.where(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.when(F.col("doc_id") % 2 == 0, F.col("text"))
        .otherwise(F.concat(F.col("text"), F.lit(" novel "), F.col("doc_id")))
        .alias("text"),
    )
    double = docs.where(F.col("doc_id") % 6 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text"
    )
    return exact_against_corpus(base.unionByName(double), docs)


def _q_cross_corpus_bloom(spark, sf_dir):
    """cross_corpus_exact through the Bloom prefilter: the new batch
    probes a broadcast bitmap of the corpus keys in one Arrow pass and
    only Bloom candidates enter the verify join (no false negatives;
    the verify removes false positives, so the output — and the
    oracle — are IDENTICAL to the exact path).  The bitmap here is
    deliberately small (2^14 bits for ~500 keys ≈ 4 bits/key) so the
    row exercises real false positives through the verify join."""
    from sqlfeatureextraction_spark.operators.dedup import (
        bloom_against_corpus,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = docs.where(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.when(F.col("doc_id") % 2 == 0, F.col("text"))
        .otherwise(F.concat(F.col("text"), F.lit(" novel "), F.col("doc_id")))
        .alias("text"),
    )
    double = docs.where(F.col("doc_id") % 6 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text"
    )
    return bloom_against_corpus(
        base.unionByName(double), docs, m_bits=1 << 14, num_hashes=4
    )


def _q_cross_corpus_neardup(spark, sf_dir):
    """Incremental-ingest NEAR-dup detection: every 13th doc re-enters
    as the new batch (ids offset) and is LSH-banded against the full
    corpus — an equi-join on the band key across the two tables, never
    new×corpus all-pairs.  Oracle = exact cross-side Jaccard; the LSH
    miss-probability argument is minhash_pairs' (32 bands × 2 rows:
    miss ≤ 1e-4 at J=0.5, and the re-ingested copies sit at J=1)."""
    from sqlfeatureextraction_spark.operators.dedup import (
        neardup_against_corpus,
    )
    from sqlfeatureextraction_spark.scanspread import spread_small_scan

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs = spread_small_scan(docs.select("doc_id", "text"), "doc_id")
    new = docs.where(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    pairs = neardup_against_corpus(
        new, docs, n=3, num_hashes=64, bands=32, threshold=0.5
    )
    return pairs.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


def _q_ngram_jaccard(spark, sf_dir):
    """EXACT n-gram Jaccard similarity join via prefix filtering
    (AllPairs family, Vernica et al. SIGMOD 2010 distributed form):
    candidates from an equi-join on rarest-first prefix tokens + length
    filter, then exact set verification.  Unlike minhash_pairs, recall
    is GUARANTEED, not probabilistic — the oracle (exact all-pairs
    Jaccard) must match with no miss-probability argument at all."""
    from sqlfeatureextraction_spark.operators.dedup import (
        ngram_jaccard_join,
    )
    from sqlfeatureextraction_spark.scanspread import spread_small_scan

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs = spread_small_scan(docs.select("doc_id", "text"), "doc_id")
    pairs = ngram_jaccard_join(docs, n=3, threshold=0.5)
    return pairs.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


def _q_simhash_neardup(spark, sf_dir):
    """SimHash near-dup pairs at Hamming <= 3 via pigeonhole banding
    (4 disjoint 15-bit bands: a pair within Hamming 3 differs in at
    most 3 bands, so it agrees exactly on >= 1 — candidates are an
    equi-join on (band, bits) with GUARANTEED recall, verified by one
    codegen'd bit_count(xor)).  Oracle = exact all-pairs popcount over
    the identical md5-derived fingerprints (cross-engine reproducible,
    same construction as the simhash_dedup oracle)."""
    from sqlfeatureextraction_spark.operators.dedup import (
        simhash_neardup_pairs,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return simhash_neardup_pairs(docs, max_hamming=3)


def _q_dedup_clusters(spark, sf_dir):
    """Near-dup CLUSTERS: minhash-LSH pairs closed transitively by
    hook+jump connected components (one action per round); every
    document gets its component's min doc_id as cluster_id (singletons:
    own id).  Same LSH recall argument as minhash_pairs (32 bands × 2
    rows ⇒ miss ≤ 1e-4 at J≥0.5), so the DuckDB oracle — exact
    all-pairs Jaccard pairs + recursive-CTE transitive closure —
    recomputes the identical clustering."""
    from sqlfeatureextraction_spark.operators.dedup import dedup_clusters
    from sqlfeatureextraction_spark.scanspread import spread_small_scan

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs = spread_small_scan(docs.select("doc_id", "text"), "doc_id")
    return dedup_clusters(docs, threshold=0.5, num_hashes=64, bands=32)


def _q_bm25_topk(spark, sf_dir):
    """BM25 lexical retrieval (Okapi with Robertson/Lucene idf): top-25
    documents for a 4-term query.  dl rides the explode narrow (no
    join); rows filter to the query's term set BEFORE the first
    shuffle; df is a |Q|-row broadcast; orderBy+limit compiles to
    TakeOrderedAndProject.  Ranking key is round(score, 6) desc then
    doc_id asc — identical across engines by construction."""
    from sqlfeatureextraction_spark.operators.stats import bm25_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bm25_topk(docs, "spark window merge filter", k=25)


def _q_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval: reciprocal-rank fusion (Cormack et al., SIGIR
    2009) of the sparse BM25 top-50 and the dense cosine top-50 for
    one fixed query embedding (vec_id 0 embeds document 0 — the two
    lists share the 0-based corpus id space).  Both legs emit the
    engine's standard (score desc, id asc) total order, rrf_fuse
    recomputes ranks from it, and the fused key is 6dp-rounded — so
    the fusion is cross-engine exact by construction."""
    from sqlfeatureextraction_spark.operators.similarity import rrf_fuse
    from sqlfeatureextraction_spark.operators.stats import bm25_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sparse = bm25_topk(docs, "spark window merge filter", k=50)
    emb, qs = _ann_queries(spark, sf_dir, n_q=1)
    q_df = spark.createDataFrame(
        [(0, qs[0][1])], "query_id int, qe array<double>"
    )
    dbl = lambda c: F.transform(c, lambda x: x.cast("double"))  # noqa: E731
    dot = F.aggregate(
        F.zip_with(dbl(F.col("embedding")), F.col("qe"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    sq = lambda c: F.aggregate(  # noqa: E731
        dbl(c), F.lit(0.0), lambda acc, v: acc + v * v
    )
    qsq = F.aggregate(F.col("qe"), F.lit(0.0), lambda acc, v: acc + v * v)
    dense = (
        emb.crossJoin(F.broadcast(q_df))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(
                dot / (F.sqrt(sq(F.col("embedding"))) * F.sqrt(qsq)), 6
            ).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(50)
    )
    return rrf_fuse([sparse.select("doc_id", "score"), dense], k=20)


def _q_simhash_dedup(spark, sf_dir):
    """SimHash duplicate groups (Hamming-0).  The 60-bit fingerprint is
    md5-derived and fully JVM-side, so DuckDB recomputes it exactly."""
    from sqlfeatureextraction_spark.operators.dedup import simhash_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return simhash_dedup(docs)


def _q_embedding_neardup(spark, sf_dir):
    """Exact embedding-cosine near-dup pairs (the correctness baseline;
    the hyperplane-LSH variant is the corpus-scale path, with recall vs
    this baseline pinned by pytest).  Synthetic embeddings have no true
    near-dups (max pairwise cos ≈ 0.51); threshold 0.4 keeps the output
    non-trivial."""
    from sqlfeatureextraction_spark.operators.dedup import (
        embedding_neardup_exact,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return embedding_neardup_exact(emb, threshold=0.4)


def _q_semantic_dedup(spark, sf_dir):
    """SemDeDup: deterministic quantized k-means (seeds = 8 lowest
    ids, 1 Lloyd round, means rounded to 6dp) then within-cell
    lowest-id-wins cosine pruning at 0.4.  The quantized-centroid
    contract is what lets DuckDB replay the identical clustering
    (unrolled CTE per Lloyd round)."""
    from sqlfeatureextraction_spark.operators.semdedup import semantic_dedup

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return semantic_dedup(emb, k=8, iters=1, threshold=0.4)


def _q_neardup_prune(spark, sf_dir):
    """D4 consecutive near-dup pruning: token-set cosine vs previous doc
    of the same source; survivors with their prev_cos."""
    from sqlfeatureextraction_spark.operators.intervals import (
        prune_consecutive_neardups,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    kept = prune_consecutive_neardups(
        docs,
        threshold=0.8,
        entity_col="source",
        text_col="text",
        ts_col="doc_id",
        order_cols=(),
    )
    return kept.select("doc_id", "source", "prev_cos")


def _q_embedding_neardup_lsh(spark, sf_dir):
    """The LSH scale path of embedding near-dup, driver-visible: the
    corpus is augmented with positively-SCALED copies (same direction ⇒
    cosine exactly 1 and the identical hyperplane signature in every
    band, so LSH recall on the planted pairs is deterministic, not
    probabilistic), then banded-bucket join + exact-cosine verify.
    Everything else in the data pairs at cos ≤ ~0.51 and is rejected by
    the 0.95 verify, so the result is exactly the planted pair set —
    which the oracle states independently."""
    from sqlfeatureextraction_spark.operators.dedup import (
        embedding_neardup_pairs,
    )

    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .where(F.col("vec_id") < 400)
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias(
                "embedding"
            ),
        )
    )
    scale = 1.0 + 0.001 * F.sin(F.col("vec_id").cast("double"))
    copies = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * scale).alias("embedding"),
    )
    aug = emb.unionByName(copies)
    pairs = embedding_neardup_pairs(
        aug, threshold=0.95, n_planes=16, n_bands=4
    )
    return pairs.select("id_a", "id_b", F.round("cos", 4).alias("cos"))


def _q_ivf_topk(spark, sf_dir):
    """IVF ANN with a provable oracle: n_probe == nlist probes every
    cell, so the result is EXACTLY the brute-force top-10 (same oracle
    SQL shape as ann_topk) while the full IVF plumbing — distributed
    spherical-k-means fit (Arrow partial sums, JVM reduce), cell
    assignment, probe-table broadcast equi-join, in-cell exact
    ranking — is on the executed path.  Recall at n_probe < nlist is
    pinned in tests/test_operators.py."""
    from sqlfeatureextraction_spark.operators.similarity import ivf_topk

    emb, qs = _ann_queries(spark, sf_dir)
    emb = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    return ivf_topk(emb, qs, k=10, nlist=8, n_probe=8, iters=2)


def _q_pq_topk(spark, sf_dir):
    """Product-quantization ADC top-10 (Jégou et al. TPAMI'11):
    iters=0 makes the codebooks the subvectors of the 8 lowest-id
    embeddings — fully SQL-replayable — and every (query, sub, cell)
    distance is quantized to 6dp before argmin/summation, so encode
    AND the ADC ranking are cross-engine exact by construction, not
    probabilistically.  The oracle replays seed codebooks → per-sub
    argmin encode → table-lookup ADC in DuckDB.  Lloyd-improved fits
    and the lossless ADC==exact identity are pinned in pytest."""
    from sqlfeatureextraction_spark.operators.similarity import pq_topk

    emb, qs = _ann_queries(spark, sf_dir)
    return pq_topk(emb, qs, k=10, m=4, k_sub=8, iters=0)


def _q_lsh_topk(spark, sf_dir):
    """ANN via hyperplane-LSH buckets + multiprobe, driver-visible with
    a provable expected result: corpus = embeddings ∪ scaled copies,
    queries = 5 originals, k=2 — each query's top-2 is (itself, its
    scaled copy), both at cosine 1.0 in the query's own bucket, ranked
    by id tie-break.  Pins the bucket join, probe expansion, in-bucket
    exact ranking and tie order."""
    from sqlfeatureextraction_spark.operators.similarity import lsh_topk

    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .where(F.col("vec_id") < 200)
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias(
                "embedding"
            ),
        )
    )
    scale = 1.0 + 0.001 * F.sin(F.col("vec_id").cast("double"))
    copies = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * scale).alias("embedding"),
    )
    corpus = emb.unionByName(copies)
    qs = [
        (int(r["vec_id"]), list(map(float, r["embedding"])))
        for r in emb.where(F.col("vec_id") < 5).collect()
    ]
    out = lsh_topk(corpus, qs, k=2, n_planes=8)
    return out.select(
        "query_id", "rk", "neighbor_id", F.round("cos", 4).alias("cos")
    )


ORACLE = {
    # sorted-neighborhood: row_number over the normalized key,
    # rank-distance <= w self-join, levenshtein-prefix verify
    "sorted_neighborhood": """
            WITH keyed AS (
              SELECT doc_id AS id,
                     substring(regexp_replace(lower(coalesce(text, '')),
                               '[^a-z0-9]', '', 'g'), 1, 16) AS k
              FROM documents
            ),
            r AS (
              SELECT id, k,
                     ROW_NUMBER() OVER (ORDER BY k, id) AS rnk
              FROM keyed WHERE length(k) > 0
            )
            SELECT a.id AS id_a, b.id AS id_b,
                   ROUND(1.0 - levenshtein(a.k, b.k)
                         / greatest(length(a.k), length(b.k)), 6)
                     AS sim
            FROM r a JOIN r b
              ON b.rnk > a.rnk AND b.rnk - a.rnk <= 4
            WHERE ROUND(1.0 - levenshtein(a.k, b.k)
                  / greatest(length(a.k), length(b.k)), 6) >= 0.5
        """,
    # winnowing (k=5, w=4): polynomial shingle hashes, per-window
    # min with rightmost tie, distinct (pos, hash) pairs
    "winnowing": f"""
            WITH d AS (
              SELECT doc_id, {_TOK} AS toks FROM documents
            ),
            g AS (
              SELECT doc_id,
                     list_transform(
                       range(1, greatest(len(toks) - 4, 0) + 1),
                       i -> list_reduce(
                              list_prepend(CAST(0 AS BIGINT),
                                list_transform(
                                  string_split(
                                    array_to_string(toks[i:i+4], ' '),
                                    ''),
                                  c -> CAST(ascii(c) AS BIGINT))),
                              (a, b) -> (a * 31 + b) % 2147483647)
                     ) AS gh
              FROM d
            ),
            wd AS (
              SELECT doc_id, gh, least(4, len(gh)) AS win
              FROM g WHERE len(gh) > 0
            ),
            sel AS (
              SELECT doc_id,
                     unnest(list_transform(
                       range(1, len(gh) - win + 2),
                       i -> struct_pack(
                         pos := list_aggregate(
                           list_filter(range(i, i + win),
                             j -> gh[j] = list_aggregate(
                                    gh[i:i+win-1], 'min')),
                           'max') - 1,
                         gram_hash := list_aggregate(
                           gh[i:i+win-1], 'min')))) AS s
              FROM wd
            )
            SELECT DISTINCT doc_id,
                   CAST(s.pos AS INTEGER) AS pos,
                   s.gram_hash AS gram_hash
            FROM sel
        """,
    # conversation-level exact dedup: ordered-text md5 fingerprint,
    # keep-one per fingerprint; id-shifted copies of every 10th
    # conversation synthesize real duplicates
    "conv_dedup": f"""
            WITH b AS (
              SELECT user_id, ts_sec, event_id,
                     coalesce(props, '') AS text
              FROM ({_EV_TS})
            ),
            u AS (
              SELECT * FROM b
              UNION ALL
              SELECT user_id + 1000000, ts_sec, event_id, text
              FROM b WHERE user_id % 10 = 0
            ),
            f AS (
              SELECT user_id,
                     md5(string_agg(text, chr(31)
                         ORDER BY ts_sec, event_id)) AS fp,
                     CAST(COUNT(*) AS BIGINT) AS n_turns
              FROM u GROUP BY user_id
            )
            SELECT user_id, fp, n_turns,
                   CAST(ROW_NUMBER() OVER (
                     PARTITION BY fp ORDER BY user_id) AS INT) AS dup_rank,
                   ROW_NUMBER() OVER (
                     PARTITION BY fp ORDER BY user_id) = 1 AS keep
            FROM f
        """,
    "dedup_exact": """
            SELECT text, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
            FROM documents GROUP BY text
        """,
    "doc_fingerprint": f"""
            -- fingerprint/winnow_min are deterministic, corpus-scale
            -- collision-free functions of text, so distinct-fp counts
            -- equal distinct-text counts; Spark's count(distinct a, b)
            -- drops any-null rows, so n_sketches restricts to docs
            -- with >= 4 tokens (winnow_min non-null)
            SELECT lang, source,
                   COUNT(*) AS n_docs,
                   COUNT(DISTINCT text) AS n_fp,
                   COUNT(DISTINCT text)
                       FILTER (len({_TOK}) >= 4) AS n_sketches,
                   COALESCE(SUM(CASE WHEN len({_TOK}) >= 4
                                     THEN 1 ELSE 0 END), 0) AS n_with_sketch
            FROM documents
            GROUP BY lang, source
        """,
    "ann_topk": """
            WITH q AS (
              SELECT vec_id AS query_id, embedding AS qe
              FROM embeddings WHERE vec_id < 5
            ),
            pairs AS (
              SELECT q.query_id, c.vec_id AS neighbor_id,
                ROUND(
                  (SELECT SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
                   FROM (SELECT UNNEST(q.qe) x, UNNEST(c.embedding) y))
                  / (sqrt((SELECT SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
                           FROM (SELECT UNNEST(c.embedding) x)))
                     * sqrt((SELECT SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
                             FROM (SELECT UNNEST(q.qe) x)))), 6) AS cos
              FROM q, embeddings c
            )
            SELECT query_id, rk, neighbor_id, cos FROM (
              SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rk
              FROM pairs
            ) WHERE rk <= 10
        """,
    "neardup_prune": f"""
            WITH t AS (
              SELECT doc_id, source,
                     list_distinct({_TOK}) AS toks
              FROM documents
            ),
            l AS (
              SELECT doc_id, source, toks,
                     LAG(toks) OVER (PARTITION BY source ORDER BY doc_id)
                       AS prev
              FROM t
            ),
            c AS (
              SELECT doc_id, source,
                CASE WHEN prev IS NULL THEN NULL
                     WHEN sqrt(len(toks) * len(prev)) > 0 THEN
                       ROUND(len(list_intersect(toks, prev))
                             / sqrt(len(toks) * len(prev)), 6)
                     ELSE 0.0 END AS prev_cos
              FROM l
            )
            SELECT doc_id, source, prev_cos FROM c
            WHERE prev_cos IS NULL OR prev_cos <= 0.8
        """,
    "embedding_neardup_lsh": """
            SELECT CAST(vec_id AS BIGINT) AS id_a,
                   CAST(vec_id + 100000 AS BIGINT) AS id_b,
                   1.0 AS cos
            FROM embeddings WHERE vec_id < 400
        """,
    "ivf_topk": """
            -- n_probe == nlist makes IVF exactly brute force, so the
            -- oracle is the same exact top-10 as ann_topk
            WITH q AS (
              SELECT vec_id AS query_id, embedding AS qe
              FROM embeddings WHERE vec_id < 5
            ),
            pairs AS (
              SELECT q.query_id, c.vec_id AS neighbor_id,
                ROUND(
                  (SELECT SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
                   FROM (SELECT UNNEST(q.qe) x, UNNEST(c.embedding) y))
                  / (sqrt((SELECT SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
                           FROM (SELECT UNNEST(c.embedding) x)))
                     * sqrt((SELECT SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
                             FROM (SELECT UNNEST(q.qe) x)))), 6) AS cos
              FROM q, embeddings c
            )
            SELECT query_id, rk, neighbor_id, cos FROM (
              SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rk
              FROM pairs
            ) WHERE rk <= 10
        """,
    # PQ/ADC replay: seed codebooks = the 8 lowest-id embeddings,
    # per-subspace argmin encode and table-lookup ADC, every
    # distance quantized to 6dp before argmin/summation (the
    # cross-engine float contract shared with the Spark UDFs)
    "pq_topk": """
            WITH subs AS (SELECT UNNEST([0, 1, 2, 3]) AS sub),
            cb AS (
              SELECT rn - 1 AS cell, embedding FROM (
                SELECT vec_id, embedding,
                       ROW_NUMBER() OVER (ORDER BY vec_id) AS rn
                FROM embeddings
              ) WHERE rn <= 8
            ),
            encd AS (
              SELECT e.vec_id, s.sub, c.cell,
                ROUND((SELECT SUM((CAST(x AS DOUBLE) - CAST(y AS DOUBLE))
                                  * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)))
                       FROM (SELECT
                         UNNEST(e.embedding[(s.sub*16+1):(s.sub*16+16)]) x,
                         UNNEST(c.embedding[(s.sub*16+1):(s.sub*16+16)]) y)),
                      6) AS d
              FROM embeddings e CROSS JOIN subs s CROSS JOIN cb c
            ),
            enc AS (
              SELECT vec_id, sub, cell FROM (
                SELECT vec_id, sub, cell,
                       ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                         ORDER BY d ASC, cell ASC) AS rn
                FROM encd
              ) WHERE rn = 1
            ),
            qt AS (
              SELECT q.vec_id AS query_id, s.sub, c.cell,
                ROUND((SELECT SUM((CAST(x AS DOUBLE) - CAST(y AS DOUBLE))
                                  * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)))
                       FROM (SELECT
                         UNNEST(q.embedding[(s.sub*16+1):(s.sub*16+16)]) x,
                         UNNEST(c.embedding[(s.sub*16+1):(s.sub*16+16)]) y)),
                      6) AS d
              FROM embeddings q CROSS JOIN subs s CROSS JOIN cb c
              WHERE q.vec_id < 5
            ),
            adc AS (
              SELECT qt.query_id, enc.vec_id AS neighbor_id,
                     ROUND(SUM(qt.d), 6) AS adc
              FROM enc JOIN qt ON enc.sub = qt.sub AND enc.cell = qt.cell
              GROUP BY 1, 2
            )
            SELECT CAST(query_id AS INT) AS query_id, rk, neighbor_id, adc
            FROM (
              SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY adc ASC, neighbor_id ASC) AS INT) AS rk
              FROM adc
            ) WHERE rk <= 10
        """,
    "lsh_topk": """
            SELECT CAST(vec_id AS INT) AS query_id, 1 AS rk,
                   CAST(vec_id AS BIGINT) AS neighbor_id, 1.0 AS cos
            FROM embeddings WHERE vec_id < 5
            UNION ALL
            SELECT CAST(vec_id AS INT), 2,
                   CAST(vec_id + 100000 AS BIGINT), 1.0
            FROM embeddings WHERE vec_id < 5
        """,
    # exact all-pairs token-3-gram Jaccard; Spark shingles are
    # xxhash64 of the separator-less token concat, so the DuckDB
    # side concatenates identically (hash is injective in practice)
    "minhash_pairs": f"""
            WITH t AS (SELECT doc_id, {_TOK} AS toks FROM documents),
            s AS (
              SELECT doc_id,
                CASE WHEN len(toks) >= 3 THEN
                  list_distinct(list_transform(range(len(toks) - 2),
                    i -> toks[i+1] || toks[i+2] || toks[i+3]))
                ELSE [] END AS sh
              FROM t
            ),
            p AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     len(list_intersect(a.sh, b.sh)) AS ni,
                     len(a.sh) + len(b.sh)
                       - len(list_intersect(a.sh, b.sh)) AS nu
              FROM s a JOIN s b ON a.doc_id < b.doc_id
            )
            SELECT id_a, id_b, ROUND(ni * 1.0 / nu, 6) AS jaccard
            FROM p WHERE nu > 0 AND ni * 1.0 / nu >= 0.5
        """,
    # incremental-ingest exact dedup vs the full corpus; the new
    # batch is derived deterministically from the corpus itself
    "cross_corpus_exact": """
            WITH newb AS (
              SELECT doc_id + 100000 AS doc_id,
                     CASE WHEN doc_id % 2 = 0 THEN text
                          ELSE text || ' novel ' || CAST(doc_id AS VARCHAR)
                     END AS text
              FROM documents WHERE doc_id % 3 = 0
              UNION ALL
              SELECT doc_id + 200000 AS doc_id, text
              FROM documents WHERE doc_id % 6 = 0
            ),
            ck AS (SELECT DISTINCT text FROM documents),
            r AS (
              SELECT doc_id, text,
                     CAST(ROW_NUMBER() OVER (
                       PARTITION BY text ORDER BY doc_id) AS INT)
                       AS batch_rank
              FROM newb
            )
            SELECT r.doc_id,
                   (c.text IS NOT NULL) AS in_corpus,
                   r.batch_rank,
                   (c.text IS NULL AND r.batch_rank = 1) AS keep
            FROM r LEFT JOIN ck c USING (text)
        """,
    # incremental-ingest near-dup: exact cross-side Jaccard between
    # the derived new batch (every 13th doc, ids offset) and the
    # corpus; same shingle-3 convention as minhash_pairs
    "cross_corpus_neardup": f"""
            WITH t AS (SELECT doc_id, {_TOK} AS toks FROM documents),
            s AS (
              SELECT doc_id,
                CASE WHEN len(toks) >= 3 THEN
                  list_distinct(list_transform(range(len(toks) - 2),
                    i -> toks[i+1] || toks[i+2] || toks[i+3]))
                ELSE [] END AS sh
              FROM t
            ),
            ns AS (
              SELECT doc_id + 100000 AS doc_id, sh FROM s
              WHERE doc_id % 13 = 0
            ),
            p AS (
              SELECT n.doc_id AS id_a, c.doc_id AS id_b,
                     len(list_intersect(n.sh, c.sh)) AS ni,
                     len(n.sh) + len(c.sh)
                       - len(list_intersect(n.sh, c.sh)) AS nu
              FROM ns n CROSS JOIN s c
            )
            SELECT id_a, id_b, ROUND(ni * 1.0 / nu, 6) AS jaccard
            FROM p WHERE nu > 0 AND ni * 1.0 / nu >= 0.5
        """,
    # identical oracle to minhash_pairs — but here the Spark side
    # is the prefix-filter EXACT join, so equality needs no LSH
    # miss-probability argument: completeness is a theorem
    "ngram_jaccard": f"""
            WITH t AS (SELECT doc_id, {_TOK} AS toks FROM documents),
            s AS (
              SELECT doc_id,
                CASE WHEN len(toks) >= 3 THEN
                  list_distinct(list_transform(range(len(toks) - 2),
                    i -> toks[i+1] || toks[i+2] || toks[i+3]))
                ELSE [] END AS sh
              FROM t
            ),
            p AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     len(list_intersect(a.sh, b.sh)) AS ni,
                     len(a.sh) + len(b.sh)
                       - len(list_intersect(a.sh, b.sh)) AS nu
              FROM s a JOIN s b ON a.doc_id < b.doc_id
            )
            SELECT id_a, id_b, ROUND(ni * 1.0 / nu, 6) AS jaccard
            FROM p WHERE nu > 0 AND ni * 1.0 / nu >= 0.5
        """,
    # exact-Jaccard pairs (same recall argument as minhash_pairs)
    # closed transitively with a recursive CTE; cluster id = the
    # component's min doc_id, singletons keep their own id
    "dedup_clusters": f"""
            WITH RECURSIVE t AS (SELECT doc_id, {_TOK} AS toks FROM documents),
            s AS (
              SELECT doc_id,
                CASE WHEN len(toks) >= 3 THEN
                  list_distinct(list_transform(range(len(toks) - 2),
                    i -> toks[i+1] || toks[i+2] || toks[i+3]))
                ELSE [] END AS sh
              FROM t
            ),
            p AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM s a JOIN s b ON a.doc_id < b.doc_id
              WHERE len(a.sh) + len(b.sh)
                    - len(list_intersect(a.sh, b.sh)) > 0
                AND len(list_intersect(a.sh, b.sh)) * 1.0
                    / (len(a.sh) + len(b.sh)
                       - len(list_intersect(a.sh, b.sh))) >= 0.5
            ),
            e AS (
              SELECT id_a AS u, id_b AS v FROM p
              UNION
              SELECT id_b AS u, id_a AS v FROM p
            ),
            reach(u, v) AS (
              SELECT u, v FROM e
              UNION
              SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u
              WHERE e.v <> r.u
            ),
            m AS (SELECT u, MIN(v) AS mv FROM reach GROUP BY u)
            SELECT d.doc_id,
                   LEAST(d.doc_id, COALESCE(m.mv, d.doc_id)) AS cluster_id
            FROM documents d LEFT JOIN m ON d.doc_id = m.u
        """,
    # BM25 retrieval: Okapi scoring with the Robertson/Lucene idf,
    # k1=1.2 b=0.75, 6dp-rounded order key shared with the engine
    "bm25_topk": f"""
            WITH tok AS (
              SELECT doc_id, len({_SPTOK}) AS dl,
                     UNNEST({_SPTOK}) AS token
              FROM documents
            ),
            st AS (
              SELECT (SELECT COUNT(*) FROM documents) AS n,
                     (SELECT COUNT(*) FROM tok) AS tot
            ),
            tf AS (
              SELECT doc_id, dl, token, COUNT(*) AS cnt
              FROM tok
              WHERE token IN ('filter', 'merge', 'spark', 'window')
              GROUP BY doc_id, dl, token
            ),
            dfq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
            s AS (
              SELECT t.doc_id,
                     CAST(COUNT(*) AS BIGINT) AS n_terms_matched,
                     ROUND(SUM(
                       ln(1 + (st.n - d.df + 0.5) / (d.df + 0.5))
                       * (t.cnt * 2.2
                          / (t.cnt + 1.2 * (0.25
                             + 0.75 * t.dl / (st.tot * 1.0 / st.n))))
                     ), 6) AS score
              FROM tf t JOIN dfq d USING (token) CROSS JOIN st
              GROUP BY t.doc_id
            )
            SELECT doc_id, n_terms_matched, score
            FROM s ORDER BY score DESC, doc_id ASC LIMIT 25
        """,
    # hybrid retrieval: RRF fusion of BM25 top-50 and dense cosine
    # top-50 for query embedding vec_id 0; ranks recomputed from
    # the shared (score desc, id asc) total order, c = 60
    "hybrid_rrf": f"""
            WITH tok AS (
              SELECT doc_id, len({_SPTOK}) AS dl,
                     UNNEST({_SPTOK}) AS token
              FROM documents
            ),
            st AS (
              SELECT (SELECT COUNT(*) FROM documents) AS n,
                     (SELECT COUNT(*) FROM tok) AS tot
            ),
            tf AS (
              SELECT doc_id, dl, token, COUNT(*) AS cnt
              FROM tok
              WHERE token IN ('filter', 'merge', 'spark', 'window')
              GROUP BY doc_id, dl, token
            ),
            dfq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
            bm AS (
              SELECT t.doc_id,
                     ROUND(SUM(
                       ln(1 + (st.n - d.df + 0.5) / (d.df + 0.5))
                       * (t.cnt * 2.2
                          / (t.cnt + 1.2 * (0.25
                             + 0.75 * t.dl / (st.tot * 1.0 / st.n))))
                     ), 6) AS score
              FROM tf t JOIN dfq d USING (token) CROSS JOIN st
              GROUP BY t.doc_id
            ),
            bs AS (SELECT doc_id, score FROM bm
                   ORDER BY score DESC, doc_id ASC LIMIT 50),
            br AS (SELECT doc_id, ROW_NUMBER() OVER (
                     ORDER BY score DESC, doc_id ASC) AS rk FROM bs),
            q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
            dp AS (
              SELECT c.vec_id AS doc_id,
                ROUND(
                  (SELECT SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
                   FROM (SELECT UNNEST(q.qe) x, UNNEST(c.embedding) y))
                  / (sqrt((SELECT SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
                           FROM (SELECT UNNEST(c.embedding) x)))
                     * sqrt((SELECT SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
                             FROM (SELECT UNNEST(q.qe) x)))), 6) AS score
              FROM q, embeddings c
            ),
            ds AS (SELECT doc_id, score FROM dp
                   ORDER BY score DESC, doc_id ASC LIMIT 50),
            dr AS (SELECT doc_id, ROW_NUMBER() OVER (
                     ORDER BY score DESC, doc_id ASC) AS rk FROM ds),
            u AS (
              SELECT doc_id, CAST(1 AS DOUBLE) / (60 + rk) AS part FROM br
              UNION ALL
              SELECT doc_id, CAST(1 AS DOUBLE) / (60 + rk) AS part FROM dr
            )
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lists,
                   ROUND(SUM(part), 6) AS rrf_score
            FROM u GROUP BY doc_id
            ORDER BY rrf_score DESC, doc_id ASC LIMIT 20
        """,
    # identical md5-derived 60-bit simhash recomputed in SQL
    "simhash_dedup": f"""
            WITH tok AS (
              SELECT doc_id, UNNEST({_TOK}) AS t FROM documents
            ),
            h AS (
              SELECT doc_id,
                list_aggregate(list_transform(range(0, 15),
                  i -> CAST(strpos('0123456789abcdef',
                         substr(md5(t), CAST(i + 1 AS INT), 1)) - 1
                       AS BIGINT) * (1::BIGINT << CAST((14 - i) * 4 AS INT))),
                  'sum') AS hv
              FROM tok
            ),
            bits AS (
              SELECT doc_id, b,
                     SUM(CASE WHEN (hv >> CAST(b AS INT)) & 1 = 1
                         THEN 1 ELSE -1 END) AS acc
              FROM h CROSS JOIN (SELECT UNNEST(range(60)) AS b)
              GROUP BY doc_id, b
            ),
            sim AS (
              SELECT doc_id,
                     SUM(CASE WHEN acc > 0
                         THEN 1::BIGINT << CAST(b AS INT)
                         ELSE 0 END) AS simhash
              FROM bits GROUP BY doc_id
            ),
            alldocs AS (
              SELECT d.doc_id,
                     CAST(COALESCE(s.simhash, 0) AS BIGINT) AS simhash
              FROM documents d LEFT JOIN sim s USING (doc_id)
            )
            SELECT simhash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
            FROM alldocs GROUP BY simhash HAVING COUNT(*) > 1
        """,
    # all-pairs Hamming over the SAME md5-derived fingerprints the
    # simhash_dedup oracle builds; the Spark side's banded join has
    # guaranteed recall, so exact equality needs no miss argument
    "simhash_neardup": f"""
            WITH tok AS (
              SELECT doc_id, UNNEST({_TOK}) AS t FROM documents
            ),
            h AS (
              SELECT doc_id,
                list_aggregate(list_transform(range(0, 15),
                  i -> CAST(strpos('0123456789abcdef',
                         substr(md5(t), CAST(i + 1 AS INT), 1)) - 1
                       AS BIGINT) * (1::BIGINT << CAST((14 - i) * 4 AS INT))),
                  'sum') AS hv
              FROM tok
            ),
            bits AS (
              SELECT doc_id, b,
                     SUM(CASE WHEN (hv >> CAST(b AS INT)) & 1 = 1
                         THEN 1 ELSE -1 END) AS acc
              FROM h CROSS JOIN (SELECT UNNEST(range(60)) AS b)
              GROUP BY doc_id, b
            ),
            sim AS (
              SELECT doc_id,
                     SUM(CASE WHEN acc > 0
                         THEN 1::BIGINT << CAST(b AS INT)
                         ELSE 0 END) AS simhash
              FROM bits GROUP BY doc_id
            ),
            alldocs AS (
              SELECT d.doc_id,
                     CAST(COALESCE(s.simhash, 0) AS BIGINT) AS simhash
              FROM documents d LEFT JOIN sim s USING (doc_id)
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(bit_count(xor(a.simhash, b.simhash)) AS INT)
                     AS hamming
            FROM alldocs a JOIN alldocs b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        """,
    # exact all-pairs cosine at the same threshold
    "embedding_neardup": """
            WITH e AS (
              SELECT vec_id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings
            )
            SELECT id_a, id_b, ROUND(c, 6) AS cos FROM (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     list_cosine_similarity(a.v, b.v) AS c
              FROM e a JOIN e b ON a.vec_id < b.vec_id
            ) WHERE c >= 0.4
        """,
    # SemDeDup replayed exactly: the quantized-centroid contract
    # (seeds = 8 lowest ids; one Lloyd round; means over RAW
    # vectors rounded to 6dp; argmax cosine with ties to the
    # lowest cell) makes the clustering reproducible in SQL, then
    # kept = no same-cell lower id with cos >= 0.4
    "semantic_dedup": """
            WITH e AS (
              SELECT vec_id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings
            ),
            c0 AS (
              SELECT CAST(rn - 1 AS INT) AS cell, v FROM (
                SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS rn, v FROM e
              ) WHERE rn <= 8
            ),
            a1 AS (
              SELECT vec_id, v, cell FROM (
                SELECT e.vec_id, e.v, c.cell,
                       ROW_NUMBER() OVER (
                         PARTITION BY e.vec_id
                         ORDER BY list_cosine_similarity(e.v, c.v) DESC,
                                  c.cell
                       ) AS rn
                FROM e CROSS JOIN c0 c
              ) WHERE rn = 1
            ),
            m1 AS (
              SELECT cell, list(ROUND(s, 6) ORDER BY i) AS v FROM (
                SELECT cell, i, AVG(x) AS s FROM (
                  SELECT cell, UNNEST(v) AS x,
                         UNNEST(range(1, len(v) + 1)) AS i
                  FROM a1
                ) GROUP BY cell, i
              ) GROUP BY cell
            ),
            c1 AS (
              SELECT c0.cell, COALESCE(m1.v, c0.v) AS v
              FROM c0 LEFT JOIN m1 USING (cell)
            ),
            a2 AS (
              SELECT vec_id, v, cell FROM (
                SELECT e.vec_id, e.v, c.cell,
                       ROW_NUMBER() OVER (
                         PARTITION BY e.vec_id
                         ORDER BY list_cosine_similarity(e.v, c.v) DESC,
                                  c.cell
                       ) AS rn
                FROM e CROSS JOIN c1 c
              ) WHERE rn = 1
            ),
            dom AS (
              SELECT b.vec_id
              FROM a2 a JOIN a2 b
                ON a.cell = b.cell AND a.vec_id < b.vec_id
              WHERE list_cosine_similarity(a.v, b.v) >= 0.4
              GROUP BY b.vec_id
            )
            SELECT a2.vec_id, a2.cell,
                   (dom.vec_id IS NULL) AS kept
            FROM a2 LEFT JOIN dom ON a2.vec_id = dom.vec_id
        """,
}

# the Bloom-prefiltered ingest path is EXACT by construction (no
# false negatives; the verify join removes false positives), so it
# shares the exact path's oracle verbatim
ORACLE["cross_corpus_bloom"] = ORACLE["cross_corpus_exact"]
