"""Corpus-curation family: document text statistics, language ID,
quality gates, importance selection, decontamination, duplicated spans,
mixture/budget sampling, chunking, n-gram language-model NLLs, keyword
top-k, sharding, PII scrubbing and sequence packing."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from queries._common import _shingle_cte, _SPTOK, _TOK
from sqlfeatureextraction_spark.functions.text import tokenize_col


def _q_vocab_coverage(spark, sf_dir):
    """Top-50 token coverage curve over documents: TakeOrdered top-k,
    bounded-K window cumsum, broadcast scalar total."""
    from sqlfeatureextraction_spark.operators.stats import (
        vocab_coverage_curve,
    )

    doc = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return vocab_coverage_curve(doc.select("text"), top_k=50)


def _q_normalize_text(spark, sf_dir):
    """Pre-dedup canonicalization of documents.text (control strip ->
    quote/dash mapping -> lower -> whitespace collapse -> trim) plus
    the md5 canonical fingerprint — per-row codegen chain."""
    from sqlfeatureextraction_spark.operators.textstats import (
        with_normalized_text,
    )

    doc = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = with_normalized_text(doc.select("doc_id", "text"))
    return out.select(
        "doc_id", "norm_text", F.md5("norm_text").alias("norm_fp")
    )


def _q_countmin(spark, sf_dir):
    """Count-min sketch over document tokens in the wide (collision-
    free) regime, where the estimate identity est == exact count
    holds — the same exact-regime oracle trick as doc_len_quantiles;
    sketch <= depth*width rows regardless of corpus size."""
    from sqlfeatureextraction_spark.functions.text import (
        TOKEN_SPLIT_RE,
    )
    from sqlfeatureextraction_spark.operators.stats import (
        countmin_build,
        countmin_estimate,
    )

    doc = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = doc.select(
        F.explode(
            F.filter(
                F.split(
                    F.lower(F.coalesce(F.col("text"), F.lit(""))),
                    TOKEN_SPLIT_RE,
                ),
                lambda x: x != "",
            )
        ).alias("tok")
    )
    sk = countmin_build(toks, "tok", depth=4, width=1 << 16)
    return countmin_estimate(
        sk, toks.distinct(), "tok", depth=4, width=1 << 16
    )


def _q_mixture_weights(spark, sf_dir):
    """Temperature mixture reweighting over documents per source
    (size = whitespace tokens, alpha = 0.5): share^alpha normalized,
    plus the oversampling factor."""
    from sqlfeatureextraction_spark.operators.curation import (
        mixture_temperature_weights,
    )

    doc = spark.read.parquet(f"{sf_dir}/documents.parquet")
    t = F.coalesce(F.col("text"), F.lit(""))
    n_tok = F.size(F.split(F.trim(t), r"\s+")) - F.when(
        F.trim(t) == "", 1
    ).otherwise(0)
    return mixture_temperature_weights(
        doc.select("source", n_tok.alias("n_tok")),
        group_col="source",
        size_col="n_tok",
        alpha=0.5,
    )


def _q_char_entropy(spark, sf_dir):
    """Character-entropy quality signal per document — per-row
    higher-order-function histogram, no explode, no shuffle."""
    from sqlfeatureextraction_spark.operators.textstats import (
        with_char_entropy,
    )
    from sqlfeatureextraction_spark.scanspread import spread_small_scan

    doc = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # O(distinct_chars x len) per-row work; spread the single-row-
    # group scan across the cores (no-op at real scale)
    doc = spread_small_scan(doc.select("doc_id", "text"), "doc_id")
    return with_char_entropy(doc).select("doc_id", "char_entropy")


def _q_code_blocks(spark, sf_dir):
    """Fenced code-block mining: markdown synthesized deterministically
    from documents (0/1/2 fences per doc by doc_id%3), extracted with
    regexp_extract_all x2 + arrays_zip + posexplode — pure per-row
    flatMap, no shuffle, no Python."""
    from sqlfeatureextraction_spark.operators.textstats import (
        extract_code_blocks,
    )

    doc = spark.read.parquet(f"{sf_dir}/documents.parquet")
    t = F.coalesce(F.col("text"), F.lit(""))
    k = F.pmod(F.col("doc_id"), F.lit(3))
    md = (
        F.when(
            k == 0,
            F.concat(
                F.lit("intro\n```python\n"),
                F.substring(t, 1, 40),
                F.lit("\n```\ntail"),
            ),
        )
        .when(
            k == 1,
            F.concat(
                F.lit("a\n```\n"),
                F.substring(t, 1, 10),
                F.lit("\n``` mid\n```js\n"),
                F.substring(t, 11, 20),
                F.lit("```"),
            ),
        )
        .otherwise(F.concat(F.lit("plain "), t))
    )
    return extract_code_blocks(
        doc.select("doc_id", md.alias("md")),
        text_col="md",
        id_cols=("doc_id",),
    )


def _q_text_stats(spark, sf_dir):
    """Text analysis: token count + char length per document."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id",
        F.size(tokenize_col(F.col("text"))).alias("n_tokens"),
        F.length("text").alias("n_chars_txt"),
    )


def _q_lang_id(spark, sf_dir):
    """Stopword-marker language ID over documents."""
    from sqlfeatureextraction_spark.operators.textstats import with_language_id

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return with_language_id(docs).select("doc_id", "lang_pred")


def _q_token_stats_full(spark, sf_dir):
    """Token counting + BPE-ish subword estimate + avg token length."""
    from sqlfeatureextraction_spark.operators.textstats import with_token_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return with_token_stats(docs).select(
        "doc_id",
        "n_tokens",
        "n_bpe_est",
        F.round("avg_token_len", 6).alias("avg_tok_len"),
    )


def _q_quality_score(spark, sf_dir):
    """Heuristic quality features + composite score."""
    from sqlfeatureextraction_spark.operators.textstats import with_quality_score

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return with_quality_score(docs).select(
        "doc_id",
        "punct_ratio",
        "upper_ratio",
        "digit_ratio",
        "stopword_ratio",
        "quality_score",
    )


def _q_gopher_quality(spark, sf_dir):
    """Gopher rule-based quality gate (Rae et al. 2021 A1.1) over text
    with deterministically synthesized rule triggers (the corpus alone
    would exercise only the word-count/stopword rules): every 5th doc
    gains stopwords, bullet lines, #/... symbols, or duplicate lines
    by doc_id case — so every rule fires both ways.  All signals are
    per-row column expressions; no shuffle."""
    from sqlfeatureextraction_spark.operators.textstats import (
        gopher_quality_flags,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    mod5 = F.col("doc_id") % 5
    t = F.col("text")
    synth = (
        F.when(mod5 == 0, F.concat(t, F.lit(" the of and that have with")))
        .when(
            mod5 == 1,
            F.concat(
                t,
                F.lit("\n- bullet one\n- bullet two\n- bullet three"),
            ),
        )
        .when(mod5 == 2, F.concat(t, F.lit(" ###...")))
        .when(mod5 == 3, F.concat(F.lit("dup line\ndup line\n"), t))
        .otherwise(t)
    )
    return gopher_quality_flags(
        docs.select("doc_id", synth.alias("text"))
    ).drop("text")


def _q_dsir_topk(spark, sf_dir):
    """DSIR importance selection (Xie et al. 2023): hashed word-bigram
    bucket models of TARGET (source='src0') vs RAW (all documents),
    per-doc log importance weight, deterministic top-50 by the
    6dp-rounded weight (doc_id tiebreak).  The bucket key is a hex
    md5 substring shared verbatim with the DuckDB oracle."""
    from sqlfeatureextraction_spark.operators.selection import dsir_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    target = docs.where(F.col("source") == "src0")
    return dsir_topk(docs, target, 50)


def _q_corpus_curation(spark, sf_dir):
    """End-to-end corpus curation (composed pipeline): heuristic
    quality gate (score >= 0.7, a dead zone of the score distribution
    so the boundary is fp-stable) -> exact text dedup (min doc_id per
    text) -> near-dup cluster keep-one (minhash LSH pairs + transitive
    closure, same recall argument as minhash_pairs) -> per-language
    survivor counts at every stage.  Each stage is individually
    oracle-pinned elsewhere (quality_score, dedup_exact,
    dedup_clusters); this row pins their COMPOSITION."""
    from sqlfeatureextraction_spark.operators.dedup import dedup_clusters
    from sqlfeatureextraction_spark.operators.textstats import (
        with_quality_score,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    gated = with_quality_score(docs).where(F.col("quality_score") >= 0.7)
    w = Window.partitionBy("text").orderBy("doc_id")
    exact = (
        gated.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("doc_id", "text", "lang")
    )
    reps = (
        dedup_clusters(exact, threshold=0.5, num_hashes=64, bands=32)
        .where(F.col("cluster_id") == F.col("doc_id"))
        .select("doc_id")
    )
    total = docs.groupBy("lang").agg(F.count("*").alias("n_total"))
    nq = gated.groupBy("lang").agg(F.count("*").alias("n_quality"))
    ne = exact.groupBy("lang").agg(F.count("*").alias("n_exact"))
    nf = (
        exact.join(reps, "doc_id")
        .groupBy("lang")
        .agg(F.count("*").alias("n_final"))
    )
    return (
        total.join(nq, "lang", "left")
        .join(ne, "lang", "left")
        .join(nf, "lang", "left")
        .select(
            "lang",
            "n_total",
            F.coalesce("n_quality", F.lit(0)).alias("n_quality"),
            F.coalesce("n_exact", F.lit(0)).alias("n_exact"),
            F.coalesce("n_final", F.lit(0)).alias("n_final"),
        )
    )


def _q_decontaminate(spark, sf_dir):
    """Eval-set 5-gram decontamination: the deterministic eval set is
    doc_id % 17 == 0 (small by construction, as benchmark sets are);
    every remaining training document is flagged with its count of
    distinct shared 5-grams.  Eval shingles broadcast; one shuffle."""
    from sqlfeatureextraction_spark.operators.curation import decontaminate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ev = docs.where(F.col("doc_id") % 17 == 0)
    tr = docs.where(F.col("doc_id") % 17 != 0)
    return decontaminate(tr, ev, n=5)


def _q_substr_dup_frac(spark, sf_dir):
    """Per-document duplicated-substring fraction (Lee et al. ACL'22 at
    word-8-gram granularity): share of a doc's distinct 8-grams that
    occur in >= 2 documents corpus-wide.  The xxhash64 shingle-key
    transport variant is pinned equal in pytest; this row runs the
    string-key path the oracle can recompute."""
    from sqlfeatureextraction_spark.operators.curation import (
        dup_substring_fraction,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dup_substring_fraction(docs, n=8)


def _q_remove_dup_spans(spark, sf_dir):
    """Duplicated-span REMOVAL (Lee et al. ACL'22 removal counterpart
    of substr_dup_frac): every occurrence of a word 8-gram that appears
    in >= 2 documents marks its 8 token positions removed; clean_text
    is the surviving tokens re-joined.  All stages key-partitioned
    shuffles (shingle-count join, coverage anti-join, bounded per-doc
    rebuild) — no collect, no cartesian."""
    from sqlfeatureextraction_spark.operators.curation import (
        remove_duplicate_spans,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return remove_duplicate_spans(docs, n=8)


def _q_domain_mix_sample(spark, sf_dir):
    """Deterministic domain-mix downsampling: keep a doc iff the 32-bit
    md5 prefix of 'mix:doc_id' falls under its source's target rate
    (DEFAULT_MIX_RATES, default 0.6) — reproducible sampling with no
    RNG state, compared as fixed-width hex strings so the oracle
    recomputes the exact same keep/drop decisions."""
    from sqlfeatureextraction_spark.operators.curation import (
        domain_mix_sample,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return domain_mix_sample(docs).select("doc_id", "source")


def _q_token_budget_sample(spark, sf_dir):
    """Token-denominated mixture sampling: fill each source's token
    budget greedily in md5('budget:doc_id') order (keep while the
    inclusive running token total fits).  The bucketed two-level
    cumsum (256 md5-prefix buckets, offsets broadcast) avoids a
    per-source hot window; the oracle replays it as ONE SQL window
    cumsum — identical because the bucket id is a prefix of the sort
    key."""
    from sqlfeatureextraction_spark.operators.curation import (
        token_budget_sample,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return token_budget_sample(
        docs,
        budgets={"src0": 400, "src1": 10000},
        default_budget=800,
    )


def _q_doc_len_quantiles(spark, sf_dir):
    """Per-language token-length profile via mergeable sketches: GK
    quantiles (percentile_approx) at accuracy 10^6 >= group size, where
    the sketch is EXACT and equals DuckDB quantile_disc element-for-
    element; plus exact count/mean/stddev/min/max.  The bounded-error
    small-accuracy regime and the HLL distinct sketch are pinned in
    pytest (no exact SQL analog)."""
    from pyspark.sql import functions as F

    from sqlfeatureextraction_spark.operators.curation import tokens_col
    from sqlfeatureextraction_spark.operators.stats import (
        group_distribution_stats,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    prof = group_distribution_stats(
        docs.select(
            "lang",
            F.size(tokens_col(F.col("text"))).alias("n_tok"),
        ),
        ["lang"],
        "n_tok",
        probs=(0.25, 0.5, 0.75, 0.95),
        accuracy=1_000_000,
    )
    return prof.select(
        "lang",
        "n",
        F.element_at("q", 1).alias("q25"),
        F.element_at("q", 2).alias("q50"),
        F.element_at("q", 3).alias("q75"),
        F.element_at("q", 4).alias("q95"),
        "mean",
        "stddev",
        "vmin",
        "vmax",
    )


def _q_chunk_documents(spark, sf_dir):
    """Content-defined chunking: md5-prefix token boundaries ('0' ⇒
    rate 1/16) close chunks; chunk text rebuilt order-exactly.  The
    edit-resilience property (chunks re-synchronize after the next
    boundary) is what makes sub-document dedup robust."""
    from sqlfeatureextraction_spark.operators.curation import (
        chunk_documents,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return chunk_documents(docs)


def _q_chunk_dup_fraction(spark, sf_dir):
    """Per-doc duplicated-CDC-chunk fraction: whole-passage reuse at
    chunk granularity (complements shingle-level substr_dup_frac)."""
    from sqlfeatureextraction_spark.operators.curation import (
        chunk_dup_fraction,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return chunk_dup_fraction(docs)


def _q_group_sample_exact(spark, sf_dir):
    """Exactly-n deterministic per-source sample (reservoir without
    RNG): the n smallest md5('sample:doc_id') per source, via the
    bucketed two-level rank — src0 capped at 3, src1 oversized
    (whole group kept), default 10."""
    from sqlfeatureextraction_spark.operators.curation import (
        group_sample_exact,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return group_sample_exact(
        docs, n=10, counts={"src0": 3, "src1": 1000}
    )


def _q_unigram_nll(spark, sf_dir):
    """Per-doc mean NLL under the corpus's own unigram model — the
    label-free statistical quality signal (CCNet-style filtering's
    SQL-expressible core)."""
    from sqlfeatureextraction_spark.operators.stats import unigram_nll

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return unigram_nll(docs)


def _q_bigram_nll(spark, sf_dir):
    """Per-doc conditional-bigram NLL (order-sensitive quality
    signal; prefix counts derived from bigram counts so conditionals
    sum to 1)."""
    from sqlfeatureextraction_spark.operators.stats import bigram_nll

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bigram_nll(docs)


def _q_trigram_nll(spark, sf_dir):
    """Per-doc NLL under the Jelinek-Mercer-interpolated trigram model
    (0.6/0.3/0.1) — the order-3 completion of the unigram/bigram
    quality ladder; backoff counts derived from trigram-position
    occurrences so every conditional sums to 1."""
    from sqlfeatureextraction_spark.operators.stats import (
        trigram_nll_interpolated,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return trigram_nll_interpolated(docs)


def _q_token_topk(spark, sf_dir):
    """Per-language heavy-hitter tokens (top 15, ties broken count
    desc then token asc): explode → map-side-combined count per
    distinct (lang, token) → row_number top-k.  The shuffle carries
    distinct tokens, never corpus rows."""
    from sqlfeatureextraction_spark.operators.stats import token_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return token_topk(docs, k=15, group_cols=("lang",))


def _q_tfidf_topk(spark, sf_dir):
    """Per-document top-10 tf-idf terms (keyword extraction): one
    explode → per-(doc, token) count feeding both the doc-length and
    document-frequency aggregates, two key joins back, per-doc top-k
    window over distinct tokens.  Ranking key is round(score, 6) desc
    then token asc — identical across engines by construction."""
    from sqlfeatureextraction_spark.operators.stats import tfidf_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return tfidf_topk(docs, k=10)


def _q_shard_assign(spark, sf_dir):
    """Deterministic global corpus shuffle into 8 equal training shards:
    order by md5('shard:doc_id'), cut with the range-repartition exact
    ntile (no single-task global Window) — the oracle cross-checks with
    SQL ntile over the same order."""
    from sqlfeatureextraction_spark.operators.curation import shard_assign

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return shard_assign(docs, 8).select("doc_id", "shard")


def _q_pii_scrub(spark, sf_dir):
    """PII scrubbing over text with deterministically synthesized PII
    (every third doc gets an email + IP + phone derived from doc_id —
    the corpus itself contains none, so the row would otherwise be
    all-zeros): redact emails -> IPv4 -> phones in order, count each on
    the text that rule actually saw.  Pure regexp column expressions."""
    from sqlfeatureextraction_spark.operators.curation import scrub_pii

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    did = F.col("doc_id")
    synth = F.when(
        did % 3 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            did.cast("string"),
            F.lit("@example.com at 10."),
            (did % 200).cast("string"),
            F.lit(".0.1 or +1 555-010-"),
            (F.lit(1000) + did % 9000).cast("string"),
        ),
    ).otherwise(F.col("text"))
    docs = docs.select("doc_id", synth.alias("text"))
    return scrub_pii(docs).select(
        "doc_id", "n_email", "n_ip", "n_phone", "text_redacted"
    )


def _q_pack_sequences(spark, sf_dir):
    """Sequence-packing manifest: 8 hash-ordered shards, 512-token
    sequences — per doc, its shard, exclusive token offset, and the
    sequence ids its tokens span.  Oracled by SQL ntile + window
    cumsum over the same md5 order."""
    from sqlfeatureextraction_spark.operators.curation import pack_sequences

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return pack_sequences(docs, max_tokens=512, n_shards=8)


def _q_intradoc_repetition(spark, sf_dir):
    """Intra-document repetition ratio (1 - distinct/total word
    3-grams): per-row array ops only, no shuffle."""
    from sqlfeatureextraction_spark.operators.curation import (
        with_repetition_stats,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return with_repetition_stats(docs, n=3).select(
        "doc_id", "n_shingles", "n_distinct", "rep_ratio"
    )


def _lang_case_sql() -> str:
    """DuckDB argmax over marker counts, tie-break = language code asc
    (mirrors textstats.with_language_id exactly)."""
    from sqlfeatureextraction_spark.operators.textstats import _LANG_MARKERS

    score = {
        lang: (
            f"len(list_filter({_TOK}, x -> list_contains("
            f"{[m for m in ms]}, x)))"
        )
        for lang, ms in _LANG_MARKERS.items()
    }
    g = "GREATEST(" + ", ".join(score.values()) + ")"
    whens = "\n".join(
        f"WHEN {score[lang]} > 0 AND {score[lang]} = {g} THEN '{lang}'"
        for lang in sorted(score)
    )
    return f"CASE {whens} ELSE 'und' END"


def _gopher_oracle_sql() -> str:
    """Gopher-rule oracle generated from the SAME bounds/stopword
    constants the Spark path uses (textstats.GOPHER_BOUNDS) — one
    source of truth; rules evaluate over the 4dp-rounded signals in
    both engines (the shared determinism contract)."""
    from sqlfeatureextraction_spark.operators.textstats import (
        GOPHER_BOUNDS as B,
        GOPHER_STOPWORDS,
    )

    stop_list = ", ".join(f"'{s}'" for s in GOPHER_STOPWORDS)
    return f"""
        WITH t AS (
          SELECT doc_id,
            CASE WHEN doc_id % 5 = 0
                   THEN text || ' the of and that have with'
                 WHEN doc_id % 5 = 1
                   THEN text || chr(10) || '- bullet one' || chr(10)
                        || '- bullet two' || chr(10) || '- bullet three'
                 WHEN doc_id % 5 = 2 THEN text || ' ###...'
                 WHEN doc_id % 5 = 3
                   THEN 'dup line' || chr(10) || 'dup line' || chr(10)
                        || text
                 ELSE text END AS text
          FROM documents
        ),
        base AS (
          SELECT doc_id, coalesce(text, '') AS raw, {_SPTOK} AS toks,
                 list_filter(string_split(coalesce(text, ''), chr(10)),
                             l -> trim(l) <> '') AS lines
          FROM t
        ),
        lin AS (
          SELECT doc_id, l, trim(l) AS lt
          FROM base, UNNEST(lines) AS u(l)
        ),
        lc AS (
          SELECT doc_id, l, lt,
                 COUNT(*) OVER (PARTITION BY doc_id, lt) AS c
          FROM lin
        ),
        ls AS (
          SELECT doc_id, COUNT(*) AS n_lines,
            SUM(CASE WHEN starts_with(lt, '-') OR starts_with(lt, '*')
                       OR starts_with(lt, '•') THEN 1 ELSE 0 END)
              AS n_bullet,
            SUM(CASE WHEN ends_with(rtrim(l), '...') THEN 1 ELSE 0 END)
              AS n_ell,
            SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS n_dup,
            SUM(len(l)) AS line_chars,
            SUM(CASE WHEN c > 1 THEN len(l) ELSE 0 END) AS dup_chars
          FROM lc GROUP BY doc_id
        ),
        sig AS (
          SELECT b.doc_id,
            CAST(len(b.toks) AS BIGINT) AS n_words,
            ROUND(COALESCE(
              list_sum(list_transform(b.toks, x -> len(x))), 0) * 1.0
              / greatest(len(b.toks), 1), 4) AS mean_word_len,
            ROUND((len(b.raw) - len(replace(b.raw, '#', ''))
                   + (len(b.raw) - len(replace(b.raw, '...', ''))) / 3.0)
                  / greatest(len(b.toks), 1), 4) AS symbol_ratio,
            ROUND(COALESCE(s.n_bullet, 0) * 1.0
              / greatest(COALESCE(s.n_lines, 0), 1), 4) AS bullet_frac,
            ROUND(COALESCE(s.n_ell, 0) * 1.0
              / greatest(COALESCE(s.n_lines, 0), 1), 4) AS ellipsis_frac,
            ROUND(len(list_filter(b.toks,
              x -> regexp_matches(x, '[a-z]'))) * 1.0
              / greatest(len(b.toks), 1), 4) AS alpha_word_frac,
            CAST(len(list_intersect(list_distinct(b.toks),
              [{stop_list}])) AS INT) AS stopword_hits,
            ROUND(COALESCE(s.n_dup, 0) * 1.0
              / greatest(COALESCE(s.n_lines, 0), 1), 4) AS dup_line_frac,
            ROUND(COALESCE(s.dup_chars, 0) * 1.0
              / greatest(COALESCE(s.line_chars, 0), 1), 4)
              AS dup_line_char_frac
          FROM base b LEFT JOIN ls s USING (doc_id)
        ),
        flags AS (
          SELECT *,
            (n_words >= {B["min_words"]}
             AND n_words <= {B["max_words"]}) AS r_word_count,
            (mean_word_len >= {B["min_mean_word_len"]}
             AND mean_word_len <= {B["max_mean_word_len"]})
              AS r_mean_word_len,
            (symbol_ratio <= {B["max_symbol_ratio"]}) AS r_symbol_ratio,
            (bullet_frac <= {B["max_bullet_frac"]}) AS r_bullet,
            (ellipsis_frac <= {B["max_ellipsis_frac"]}) AS r_ellipsis,
            (alpha_word_frac >= {B["min_alpha_word_frac"]}) AS r_alpha,
            (stopword_hits >= {B["min_stopword_hits"]}) AS r_stopwords,
            (dup_line_frac <= {B["max_dup_line_frac"]}) AS r_dup_lines,
            (dup_line_char_frac <= {B["max_dup_line_char_frac"]})
              AS r_dup_chars
          FROM sig
        )
        SELECT *,
          (r_word_count AND r_mean_word_len AND r_symbol_ratio
           AND r_bullet AND r_ellipsis AND r_alpha AND r_stopwords
           AND r_dup_lines AND r_dup_chars) AS passes_gopher
        FROM flags
    """


def _mix_case_sql() -> str:
    """Per-source md5-threshold CASE generated from the SAME dict the
    Spark path uses (curation.DEFAULT_MIX_RATES) — one source of
    truth for the mix config."""
    from sqlfeatureextraction_spark.operators.curation import (
        DEFAULT_MIX_RATE,
        DEFAULT_MIX_RATES,
        mix_threshold_hex,
    )

    whens = "".join(
        f" WHEN '{s}' THEN '{mix_threshold_hex(r)}'"
        for s, r in sorted(DEFAULT_MIX_RATES.items())
    )
    return f"CASE source{whens} ELSE '{mix_threshold_hex(DEFAULT_MIX_RATE)}' END"


def _pii_oracle_sql() -> str:
    """Synthesized-PII scrub: the regexes and their order come from
    curation.PII_RULES verbatim (RE2-compatible subset), each count
    taken on the text that rule actually saw."""
    from sqlfeatureextraction_spark.operators.curation import PII_RULES

    (_, em, em_r), (_, ip, ip_r), (_, ph, ph_r) = PII_RULES
    return f"""
        WITH synth AS (
          SELECT doc_id,
            CASE WHEN doc_id % 3 = 0 THEN
              text || ' contact user' || CAST(doc_id AS VARCHAR)
                   || '@example.com at 10.' || CAST(doc_id % 200 AS VARCHAR)
                   || '.0.1 or +1 555-010-'
                   || CAST(1000 + doc_id % 9000 AS VARCHAR)
            ELSE text END AS text
          FROM documents),
        s0 AS (SELECT doc_id, coalesce(text, '') AS t0 FROM synth),
        s1 AS (SELECT doc_id, t0,
                      regexp_replace(t0, '{em}', '{em_r}', 'g') AS t1 FROM s0),
        s2 AS (SELECT doc_id, t0, t1,
                      regexp_replace(t1, '{ip}', '{ip_r}', 'g') AS t2 FROM s1)
        SELECT doc_id,
          len(regexp_extract_all(t0, '{em}')) AS n_email,
          len(regexp_extract_all(t1, '{ip}')) AS n_ip,
          len(regexp_extract_all(t2, '{ph}')) AS n_phone,
          regexp_replace(t2, '{ph}', '{ph_r}', 'g') AS text_redacted
        FROM s2
    """


ORACLE = {
    # top-50 token coverage curve: share + cumulative share
    "vocab_coverage": f"""
            WITH c AS (
              SELECT tok, COUNT(*) AS cnt
              FROM (SELECT unnest({_TOK}) AS tok FROM documents)
              GROUP BY tok
            ),
            t AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS total FROM c),
            k AS (
              SELECT tok, cnt,
                     ROW_NUMBER() OVER (ORDER BY cnt DESC, tok ASC)
                       AS rank
              FROM c
              ORDER BY cnt DESC, tok ASC LIMIT 50
            )
            SELECT rank, tok, cnt,
                   ROUND(cnt / t.total, 6) AS share,
                   ROUND(SUM(cnt) OVER (ORDER BY rank
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     / t.total, 6) AS cum_share
            FROM k, t
        """,
    # canonicalization replayed step-for-step + md5 fingerprint
    "normalize_text": """
            SELECT doc_id, norm_text, md5(norm_text) AS norm_fp
            FROM (
              SELECT doc_id,
                     trim(regexp_replace(
                       lower(translate(
                         regexp_replace(coalesce(text, ''),
                           '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]',
                           '', 'g'),
                         '‘’“”–—', '''''""--')),
                       '\\s+', ' ', 'g')) AS norm_text
              FROM documents
            )
        """,
    # count-min estimates in the wide regime == exact token counts
    "countmin_tokens": f"""
            SELECT tok, COUNT(*) AS est
            FROM (
              SELECT unnest({_TOK}) AS tok FROM documents
            )
            GROUP BY tok
        """,
    # temperature mixture weights per source: share^0.5
    # renormalized over token mass
    "mixture_weights": """
            WITH g AS (
              SELECT source, COUNT(*) AS n_items,
                     CAST(SUM(
                       len(regexp_split_to_array(
                             trim(coalesce(text, '')), '\\s+'))
                       - CASE WHEN trim(coalesce(text, '')) = ''
                              THEN 1 ELSE 0 END) AS DOUBLE) AS size
              FROM documents GROUP BY source
            ),
            s AS (
              SELECT *, size / SUM(size) OVER () AS share,
                     POW(size / SUM(size) OVER (), 0.5) AS powed
              FROM g
            )
            SELECT source, n_items, size,
                   ROUND(share, 6) AS share,
                   ROUND(powed / SUM(powed) OVER (), 6) AS weight,
                   ROUND((powed / SUM(powed) OVER ()) / share, 6)
                     AS oversample_factor
            FROM s
        """,
    # per-document character Shannon entropy (quality signal),
    # 6dp; empty text scores 0
    "char_entropy": """
            WITH h AS (
              SELECT doc_id, c, CAST(COUNT(*) AS DOUBLE) AS cnt,
                     CAST(SUM(COUNT(*)) OVER (PARTITION BY doc_id)
                          AS DOUBLE) AS tot
              FROM (
                SELECT doc_id,
                       unnest(string_split(coalesce(text, ''), '')) AS c
                FROM documents
              )
              GROUP BY doc_id, c
            ),
            e AS (
              SELECT doc_id,
                     ROUND(-SUM((cnt / tot) * log2(cnt / tot)), 6) AS ent
              FROM h GROUP BY doc_id
            )
            SELECT d.doc_id, coalesce(e.ent, 0.0) AS char_entropy
            FROM documents d LEFT JOIN e ON d.doc_id = e.doc_id
        """,
    # fenced code-block mining over synthesized markdown (same
    # deterministic fence layout as the Spark side); RE2 lazy
    # (?s) fences, one trailing newline stripped per CommonMark
    "code_blocks": """
            WITH synth AS (
              SELECT doc_id,
                     CASE doc_id % 3
                       WHEN 0 THEN 'intro' || chr(10) || '```python'
                         || chr(10) || substr(coalesce(text, ''), 1, 40)
                         || chr(10) || '```' || chr(10) || 'tail'
                       WHEN 1 THEN 'a' || chr(10) || '```' || chr(10)
                         || substr(coalesce(text, ''), 1, 10)
                         || chr(10) || '``` mid' || chr(10) || '```js'
                         || chr(10) || substr(coalesce(text, ''), 11, 20)
                         || '```'
                       ELSE 'plain ' || coalesce(text, '')
                     END AS md
              FROM documents
            ),
            m AS (
              SELECT doc_id,
                     regexp_extract_all(md,
                       '(?s)```([a-zA-Z0-9_+\\-]*)\\r?\\n(.*?)```',
                       1) AS langs,
                     regexp_extract_all(md,
                       '(?s)```([a-zA-Z0-9_+\\-]*)\\r?\\n(.*?)```',
                       2) AS bodies
              FROM synth
            ),
            x AS (
              SELECT doc_id, i - 1 AS block_idx, langs[i] AS lang,
                     regexp_replace(bodies[i], '\\n$', '') AS code
              FROM m
              CROSS JOIN unnest(generate_series(1, len(langs))) AS g(i)
            )
            SELECT doc_id, block_idx, lang, code,
                   length(code) AS code_chars,
                   len(string_split(code, chr(10))) AS code_lines
            FROM x
        """,
    "text_stats": f"""
            SELECT doc_id,
                   CAST(len({_TOK}) AS INT) AS n_tokens,
                   CAST(length(text) AS INT) AS n_chars_txt
            FROM documents
        """,
    "lang_id": f"""
            SELECT doc_id, {_lang_case_sql()} AS lang_pred FROM documents
        """,
    "token_stats_full": f"""
            SELECT doc_id,
                   CAST(len({_TOK}) AS INT) AS n_tokens,
                   CAST(coalesce(list_aggregate(list_transform({_TOK},
                        t -> CAST(ceil(length(t) / 4.0) AS INT)), 'sum'), 0)
                        AS INT) AS n_bpe_est,
                   CASE WHEN len({_TOK}) > 0 THEN
                     ROUND(list_aggregate(list_transform({_TOK},
                       t -> length(t)), 'sum') / CAST(len({_TOK}) AS DOUBLE), 6)
                   ELSE 0.0 END AS avg_tok_len
            FROM documents
        """,
    # Gopher rule gate (Rae et al. 2021 A1.1); SQL generated from
    # the Spark path's own bounds/stopwords constants
    "gopher_quality": _gopher_oracle_sql(),
    "quality_score": f"""
            WITH r AS (
              SELECT doc_id,
                coalesce(text, '') AS txt,
                CAST(GREATEST(length(coalesce(text, '')), 1) AS DOUBLE) AS n_sf,
                CAST(GREATEST(len({_TOK}), 1) AS DOUBLE) AS n_toks,
                length(coalesce(text, '')) AS n
              FROM documents
            ),
            q AS (
              SELECT doc_id, n,
                ROUND(length(regexp_replace(txt, '[^.,;:!?]', '', 'g')) / n_sf, 6)
                  AS punct_ratio,
                ROUND(length(regexp_replace(txt, '[^A-Z]', '', 'g')) / n_sf, 6)
                  AS upper_ratio,
                ROUND(length(regexp_replace(txt, '[^0-9]', '', 'g')) / n_sf, 6)
                  AS digit_ratio,
                ROUND(len(list_filter(
                  list_filter(string_split_regex(lower(txt), '[^a-z0-9]+'),
                              x -> x <> ''),
                  x -> list_contains(
                    ['the','and','of','to','is','in','that','it','for'], x)))
                  / n_toks, 6) AS stopword_ratio
              FROM r
            )
            SELECT doc_id, punct_ratio, upper_ratio, digit_ratio, stopword_ratio,
              ROUND(
                (CASE WHEN n < 10 THEN 0.0 WHEN n < 50 THEN 0.5
                      WHEN n < 5000 THEN 1.0 ELSE 0.5 END) * 0.4
                + (1 - LEAST(punct_ratio * 5, 1.0)) * 0.2
                + (1 - LEAST(digit_ratio * 4, 1.0)) * 0.2
                + LEAST(stopword_ratio * 3, 1.0) * 0.2, 6) AS quality_score
            FROM q
        """,
    # eval-set decontamination: distinct shared 5-grams per train doc
    "decontaminate": f"""
            WITH {_shingle_cte(5)},
            evs AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 17 = 0),
            trs AS (SELECT DISTINCT doc_id, sh FROM sh
                    WHERE doc_id % 17 <> 0),
            shared AS (
              SELECT t.doc_id, count(*) AS n_shared
              FROM trs t JOIN evs e USING (sh) GROUP BY 1)
            SELECT d.doc_id,
                   CAST(coalesce(s.n_shared, 0) AS BIGINT) AS n_shared,
                   coalesce(s.n_shared, 0) > 0 AS contaminated
            FROM (SELECT doc_id FROM documents WHERE doc_id % 17 <> 0) d
            LEFT JOIN shared s USING (doc_id)
        """,
    # Lee et al. duplicated-substring fraction at word-8-grams
    "substr_dup_frac": f"""
            WITH {_shingle_cte(8)},
            dsh AS (SELECT DISTINCT doc_id, sh FROM sh),
            cnt AS (SELECT sh, count(*) AS nd FROM dsh GROUP BY 1),
            per AS (
              SELECT d.doc_id, count(*) AS n_shingles,
                     sum(CASE WHEN c.nd > 1 THEN 1 ELSE 0 END) AS n_dup
              FROM dsh d JOIN cnt c USING (sh) GROUP BY 1)
            SELECT x.doc_id,
              CAST(coalesce(p.n_shingles, 0) AS BIGINT) AS n_shingles,
              CAST(coalesce(p.n_dup, 0) AS BIGINT) AS n_dup,
              ROUND(coalesce(p.n_dup, 0) * 1.0
                    / greatest(coalesce(p.n_shingles, 0), 1), 6) AS dup_frac
            FROM documents x LEFT JOIN per p USING (doc_id)
        """,
    # Lee et al. duplicated-span REMOVAL at word-8-grams: every
    # occurrence (all positions) of an 8-gram present in >= 2
    # distinct documents covers its 8 token positions; clean_text
    # rebuilds the surviving tokens in order
    "remove_dup_spans": f"""
            WITH tok AS (SELECT doc_id, {_SPTOK} AS toks FROM documents),
            shp AS (
              SELECT doc_id, i - 1 AS pos,
                     array_to_string(toks[i:i+7], ' ') AS sh
              FROM tok CROSS JOIN unnest(
                generate_series(1, greatest(len(toks) - 7, 0))) AS g(i)
            ),
            dup AS (
              SELECT sh FROM (SELECT DISTINCT doc_id, sh FROM shp)
              GROUP BY sh HAVING count(*) > 1
            ),
            cov AS (
              SELECT DISTINCT s.doc_id, s.pos + j.j AS i
              FROM shp s JOIN dup USING (sh)
              CROSS JOIN unnest(generate_series(0, 7)) AS j(j)
            ),
            tokr AS (
              SELECT doc_id, i - 1 AS i, toks[i] AS tok
              FROM tok CROSS JOIN unnest(
                generate_series(1, len(toks))) AS g(i)
            ),
            kept AS (
              SELECT t.doc_id, t.i, t.tok FROM tokr t
              WHERE NOT EXISTS (
                SELECT 1 FROM cov c
                WHERE c.doc_id = t.doc_id AND c.i = t.i)
            ),
            reb AS (
              SELECT doc_id, count(*) AS n_kept,
                     string_agg(tok, ' ' ORDER BY i) AS clean_text
              FROM kept GROUP BY doc_id
            )
            SELECT k.doc_id,
                   CAST(len(k.toks) AS BIGINT) AS n_tokens,
                   CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
                   CAST(len(k.toks) - coalesce(r.n_kept, 0) AS BIGINT)
                     AS n_removed,
                   coalesce(r.clean_text, '') AS clean_text
            FROM tok k LEFT JOIN reb r USING (doc_id)
        """,
    # deterministic domain-mix sampling: same md5-prefix threshold
    # decision as the Spark path, thresholds from one shared dict
    "domain_mix_sample": f"""
            SELECT doc_id, source FROM documents
            WHERE '0' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8)
                  < {_mix_case_sql()}
        """,
    # token-budget mixture fill: ONE window cumsum in md5 order —
    # identical to the engine's bucketed two-level cumsum because
    # the bucket id is a prefix of the sort key
    "token_budget_sample": f"""
            WITH t AS (
              SELECT doc_id, source,
                     CAST(len({_SPTOK}) AS BIGINT) AS n_tok,
                     md5('budget:' || CAST(doc_id AS VARCHAR)) AS u
              FROM documents
            ),
            c AS (
              SELECT doc_id, source, n_tok,
                     SUM(n_tok) OVER (
                       PARTITION BY source ORDER BY u, doc_id
                       ROWS UNBOUNDED PRECEDING) AS cum_tok
              FROM t
            )
            SELECT doc_id, source, n_tok, cum_tok FROM c
            WHERE cum_tok <= CASE source WHEN 'src0' THEN 400
                                         WHEN 'src1' THEN 10000
                                         ELSE 800 END
        """,
    # per-language token-length profile: GK sketch at accuracy >=
    # group size == discrete quantiles over the sorted group
    "doc_len_quantiles": f"""
            WITH t AS (
              SELECT lang, CAST(len({_SPTOK}) AS INT) AS n_tok
              FROM documents
            )
            SELECT lang, COUNT(*) AS n,
                   quantile_disc(n_tok, 0.25) AS q25,
                   quantile_disc(n_tok, 0.5) AS q50,
                   quantile_disc(n_tok, 0.75) AS q75,
                   quantile_disc(n_tok, 0.95) AS q95,
                   ROUND(AVG(n_tok), 4) AS mean,
                   ROUND(COALESCE(stddev(n_tok), 0.0), 4) AS stddev,
                   MIN(n_tok) AS vmin,
                   MAX(n_tok) AS vmax
            FROM t GROUP BY lang
        """,
    # content-defined chunking: boundary = md5(token) starting
    # '0'; exclusive running boundary count = chunk id; chunk
    # text rebuilt in token order
    "chunk_documents": f"""
            WITH t AS (
              SELECT doc_id, UNNEST({_SPTOK}) AS token,
                     UNNEST(range(1, len({_SPTOK}) + 1)) AS pos
              FROM documents
            ),
            b AS (
              SELECT doc_id, token, pos,
                     CASE WHEN substr(md5(token), 1, 1) = '0'
                          THEN 1 ELSE 0 END AS bnd
              FROM t
            ),
            c AS (
              SELECT doc_id, token, pos,
                     CAST(COALESCE(SUM(bnd) OVER (
                       PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS INT) AS chunk_id
              FROM b
            )
            SELECT doc_id, chunk_id,
                   string_agg(token, ' ' ORDER BY pos) AS chunk_text,
                   CAST(COUNT(*) AS INT) AS n_tok
            FROM c GROUP BY doc_id, chunk_id
        """,
    # duplicated-CDC-chunk fraction per doc: count per distinct
    # chunk text, join back, per-doc aggregate
    "chunk_dup_fraction": f"""
            WITH t AS (
              SELECT doc_id, UNNEST({_SPTOK}) AS token,
                     UNNEST(range(1, len({_SPTOK}) + 1)) AS pos
              FROM documents
            ),
            c AS (
              SELECT doc_id, token, pos,
                     CAST(COALESCE(SUM(CASE WHEN substr(md5(token), 1, 1)
                                            = '0' THEN 1 ELSE 0 END) OVER (
                       PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS INT) AS chunk_id
              FROM t
            ),
            ch AS (
              SELECT doc_id, chunk_id,
                     string_agg(token, ' ' ORDER BY pos) AS chunk_text
              FROM c GROUP BY doc_id, chunk_id
            ),
            occ AS (
              SELECT chunk_text, COUNT(*) AS n_occ FROM ch
              GROUP BY chunk_text
            )
            SELECT ch.doc_id,
                   CAST(COUNT(*) AS INT) AS n_chunks,
                   CAST(SUM(CASE WHEN occ.n_occ > 1
                                 THEN 1 ELSE 0 END) AS INT)
                     AS n_dup_chunks,
                   ROUND(SUM(CASE WHEN occ.n_occ > 1 THEN 1 ELSE 0 END)
                         * 1.0 / COUNT(*), 6) AS dup_frac
            FROM ch JOIN occ USING (chunk_text)
            GROUP BY ch.doc_id
        """,
    # exactly-n per-source deterministic sample == rank in md5
    # order; the engine's bucketed two-level rank is identical
    # because the bucket id is a prefix of the sort key
    "group_sample_exact": """
            SELECT doc_id, source, rk FROM (
              SELECT doc_id, source,
                     CAST(ROW_NUMBER() OVER (
                       PARTITION BY source
                       ORDER BY md5('sample:' || CAST(doc_id AS VARCHAR)),
                                doc_id) AS INT) AS rk
              FROM documents
            )
            WHERE rk <= CASE source WHEN 'src0' THEN 3
                                    WHEN 'src1' THEN 1000
                                    ELSE 10 END
        """,
    # per-doc mean NLL under the corpus's own unigram model
    "unigram_nll": f"""
            WITH t AS (
              SELECT doc_id, UNNEST({_SPTOK}) AS token FROM documents
            ),
            c AS (
              SELECT token, COUNT(*) AS cnt FROM t GROUP BY token
            ),
            tot AS (SELECT SUM(cnt) AS total FROM c)
            SELECT t.doc_id,
                   CAST(COUNT(*) AS INT) AS n_tok,
                   ROUND(-AVG(LN(c.cnt / (SELECT total * 1.0 FROM tot))),
                         4) AS nll
            FROM t JOIN c USING (token)
            GROUP BY t.doc_id
        """,
    # per-doc conditional-bigram NLL; prefix counts derived from
    # bigram counts so the conditionals sum to 1
    "bigram_nll": f"""
            WITH {_shingle_cte(2)},
            c AS (
              SELECT sh AS bigram, COUNT(*) AS cnt FROM sh
              GROUP BY sh
            ),
            p AS (
              SELECT string_split(bigram, ' ')[1] AS prefix,
                     SUM(cnt) AS pcnt
              FROM c GROUP BY 1
            ),
            m AS (
              SELECT c.bigram, c.cnt, p.pcnt
              FROM c JOIN p ON string_split(c.bigram, ' ')[1] = p.prefix
            )
            SELECT sh.doc_id,
                   CAST(COUNT(*) AS INT) AS n_bigrams,
                   ROUND(-AVG(LN(m.cnt * 1.0 / m.pcnt)), 4) AS nll
            FROM sh JOIN m ON sh.sh = m.bigram
            GROUP BY sh.doc_id
        """,
    # JM-interpolated trigram NLL (0.6/0.3/0.1); backoff counts
    # derived from trigram-position occurrences, unigram over the
    # whole token stream — mirrors the engine's model exactly
    "trigram_nll": f"""
            WITH {_shingle_cte(3)},
            tc AS (SELECT sh AS tri, COUNT(*) AS c3 FROM sh GROUP BY 1),
            pt AS (
              SELECT tri, c3,
                     string_split(tri, ' ')[1] || ' '
                       || string_split(tri, ' ')[2] AS p12,
                     string_split(tri, ' ')[2] || ' '
                       || string_split(tri, ' ')[3] AS s23,
                     string_split(tri, ' ')[2] AS w2,
                     string_split(tri, ' ')[3] AS w3
              FROM tc
            ),
            a12 AS (SELECT p12, SUM(c3) AS cp12 FROM pt GROUP BY 1),
            b23 AS (SELECT s23, SUM(c3) AS c23 FROM pt GROUP BY 1),
            c2 AS (SELECT w2, SUM(c3) AS cp2 FROM pt GROUP BY 1),
            uni AS (
              SELECT w3u, COUNT(*) AS c1 FROM (
                SELECT UNNEST({_SPTOK}) AS w3u FROM documents
              ) GROUP BY 1
            ),
            tot AS (SELECT SUM(c1) AS n FROM uni),
            m AS (
              SELECT pt.tri,
                     0.6 * pt.c3 * 1.0 / a.cp12
                     + 0.3 * b.c23 * 1.0 / c.cp2
                     + 0.1 * u.c1 * 1.0 / (SELECT n FROM tot) AS p
              FROM pt JOIN a12 a USING (p12) JOIN b23 b USING (s23)
              JOIN c2 c USING (w2) JOIN uni u ON u.w3u = pt.w3
            )
            SELECT sh.doc_id,
                   CAST(COUNT(*) AS INT) AS n_trigrams,
                   ROUND(-AVG(LN(m.p)), 4) AS nll
            FROM sh JOIN m ON sh.sh = m.tri
            GROUP BY sh.doc_id
        """,
    # per-language heavy hitters, deterministic tie-break
    "token_topk": f"""
            WITH t AS (
              SELECT lang, UNNEST({_SPTOK}) AS token FROM documents
            ),
            c AS (
              SELECT lang, token, COUNT(*) AS cnt
              FROM t GROUP BY lang, token
            )
            SELECT lang, rk, token, cnt FROM (
              SELECT lang, token, cnt,
                     CAST(ROW_NUMBER() OVER (
                       PARTITION BY lang
                       ORDER BY cnt DESC, token ASC) AS INT) AS rk
              FROM c
            ) WHERE rk <= 15
        """,
    # per-document top-10 tf-idf keywords; rank key = round(score,6)
    # desc, token asc (cross-engine-identical by construction)
    "tfidf_topk": f"""
            WITH tok AS (
              SELECT doc_id, UNNEST({_SPTOK}) AS token FROM documents
            ),
            tf AS (
              SELECT doc_id, token, COUNT(*) AS cnt
              FROM tok GROUP BY doc_id, token
            ),
            nt AS (SELECT doc_id, SUM(cnt) AS n_tok FROM tf GROUP BY 1),
            dfq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
            nd AS (SELECT COUNT(*) AS n FROM documents),
            s AS (
              SELECT t.doc_id, t.token, t.cnt, d.df,
                     ROUND(t.cnt * 1.0 / n.n_tok
                           * ln(nd.n * 1.0 / d.df), 6) AS score
              FROM tf t JOIN nt n USING (doc_id)
              JOIN dfq d USING (token) CROSS JOIN nd
            )
            SELECT doc_id, rk, token, CAST(cnt AS BIGINT) AS cnt,
                   CAST(df AS BIGINT) AS df, score
            FROM (
              SELECT *, CAST(ROW_NUMBER() OVER (
                PARTITION BY doc_id
                ORDER BY score DESC, token ASC) AS INT) AS rk
              FROM s
            ) WHERE rk <= 10
        """,
    # hash-ordered global shuffle into 8 exact-ntile shards
    "shard_assign": """
            SELECT doc_id,
                   ntile(8) OVER (
                     ORDER BY md5('shard:' || CAST(doc_id AS VARCHAR)),
                              doc_id) AS shard
            FROM documents
        """,
    "pii_scrub": _pii_oracle_sql(),
    # sequence-packing manifest: ntile shards over the md5 order,
    # per-shard exclusive token cumsum, 512-token sequence spans
    "pack_sequences": f"""
            WITH t AS (
              SELECT doc_id,
                     md5('shard:' || CAST(doc_id AS VARCHAR)) AS k,
                     CAST(len({_SPTOK}) AS BIGINT) AS n_tok
              FROM documents),
            s AS (
              SELECT *, ntile(8) OVER (ORDER BY k, doc_id) AS shard FROM t),
            c AS (
              SELECT *,
                CAST(coalesce(sum(n_tok) OVER (
                  PARTITION BY shard ORDER BY k, doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS tok_offset
              FROM s)
            SELECT doc_id, shard, n_tok, tok_offset,
                   CAST(floor(tok_offset / 512) AS BIGINT) AS first_seq,
                   CAST(floor((tok_offset + greatest(n_tok, 1) - 1) / 512)
                        AS BIGINT) AS last_seq
            FROM c
        """,
    # intra-document repetition over word 3-grams
    "intradoc_repetition": f"""
            WITH tok AS (SELECT doc_id, {_SPTOK} AS toks FROM documents),
            shl AS (
              SELECT doc_id,
                CASE WHEN len(toks) >= 3 THEN
                  list_transform(generate_series(1, len(toks) - 2),
                                 i -> array_to_string(toks[i:i+2], ' '))
                ELSE [] END AS sh
              FROM tok)
            SELECT doc_id,
              CAST(len(sh) AS BIGINT) AS n_shingles,
              CAST(len(list_distinct(sh)) AS BIGINT) AS n_distinct,
              ROUND((len(sh) - len(list_distinct(sh))) * 1.0
                    / greatest(len(sh), 1), 6) AS rep_ratio
            FROM shl
        """,
    # composed curation pipeline: quality gate (rounded score, same
    # formula as the quality_score oracle) -> exact text dedup (min
    # doc_id per text) -> near-dup keep-one (exact-Jaccard pairs
    # over the survivors + recursive-CTE closure; same recall
    # argument as minhash_pairs/dedup_clusters) -> per-lang counts
    "corpus_curation": f"""
            WITH RECURSIVE
            r AS (
              SELECT doc_id, text, lang,
                coalesce(text, '') AS txt,
                CAST(GREATEST(length(coalesce(text, '')), 1) AS DOUBLE)
                  AS n_sf,
                CAST(GREATEST(len({_TOK}), 1) AS DOUBLE) AS n_toks,
                length(coalesce(text, '')) AS n
              FROM documents
            ),
            q AS (
              SELECT doc_id, text, lang, n,
                ROUND(length(regexp_replace(txt, '[^.,;:!?]', '', 'g'))
                      / n_sf, 6) AS punct_ratio,
                ROUND(length(regexp_replace(txt, '[^0-9]', '', 'g'))
                      / n_sf, 6) AS digit_ratio,
                ROUND(len(list_filter(
                  list_filter(string_split_regex(lower(txt), '[^a-z0-9]+'),
                              x -> x <> ''),
                  x -> list_contains(
                    ['the','and','of','to','is','in','that','it','for'], x)))
                  / n_toks, 6) AS stopword_ratio
              FROM r
            ),
            gated AS (
              SELECT doc_id, text, lang FROM q
              WHERE ROUND(
                (CASE WHEN n < 10 THEN 0.0 WHEN n < 50 THEN 0.5
                      WHEN n < 5000 THEN 1.0 ELSE 0.5 END) * 0.4
                + (1 - LEAST(punct_ratio * 5, 1.0)) * 0.2
                + (1 - LEAST(digit_ratio * 4, 1.0)) * 0.2
                + LEAST(stopword_ratio * 3, 1.0) * 0.2, 6) >= 0.7
            ),
            exact AS (
              SELECT doc_id, text, lang FROM (
                SELECT doc_id, text, lang,
                       ROW_NUMBER() OVER (PARTITION BY text
                                          ORDER BY doc_id) AS rn
                FROM gated
              ) WHERE rn = 1
            ),
            t AS (SELECT doc_id, {_TOK} AS toks FROM exact),
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
              SELECT r2.u, e.v FROM reach r2 JOIN e ON r2.v = e.u
              WHERE e.v <> r2.u
            ),
            m AS (SELECT u, MIN(v) AS mv FROM reach GROUP BY u),
            fin AS (
              SELECT x.doc_id, x.lang
              FROM exact x LEFT JOIN m ON x.doc_id = m.u
              WHERE LEAST(x.doc_id, COALESCE(m.mv, x.doc_id)) = x.doc_id
            ),
            tot AS (SELECT lang, COUNT(*) AS n_total
                    FROM documents GROUP BY lang),
            nq AS (SELECT lang, COUNT(*) AS n_quality
                   FROM gated GROUP BY lang),
            ne AS (SELECT lang, COUNT(*) AS n_exact
                   FROM exact GROUP BY lang),
            nf AS (SELECT lang, COUNT(*) AS n_final
                   FROM fin GROUP BY lang)
            SELECT tot.lang, tot.n_total,
                   COALESCE(nq.n_quality, 0) AS n_quality,
                   COALESCE(ne.n_exact, 0) AS n_exact,
                   COALESCE(nf.n_final, 0) AS n_final
            FROM tot
            LEFT JOIN nq ON tot.lang = nq.lang
            LEFT JOIN ne ON tot.lang = ne.lang
            LEFT JOIN nf ON tot.lang = nf.lang
        """,
    # DSIR top-k (selection.dsir_topk): hashed word-bigram bucket
    # (hex md5 substring — the domain_mix string-compare trick, no
    # integer conversion) models of target (src0) vs raw (all),
    # add-1 smoothing over B=16^4 buckets, per-doc sum of bucket
    # log-ratios, 6dp-rounded ordering key + id tiebreak.  Since
    # raw = documents, every scored bucket exists in rb, so the
    # smoothed ratio table is rb LEFT JOIN tb.
    "dsir_topk": f"""
            WITH tok AS (SELECT doc_id, source, {_SPTOK} AS toks
                         FROM documents),
            sh AS (
              SELECT doc_id, source,
                     array_to_string(toks[i:i+1], ' ') AS sh
              FROM tok CROSS JOIN unnest(
                generate_series(1, greatest(len(toks) - 1, 0))) AS g(i)
            ),
            b AS (SELECT doc_id, source,
                         substr(md5('dsir:' || sh), 1, 4) AS bucket
                  FROM sh),
            tb AS (SELECT bucket, count(*) AS ct FROM b
                   WHERE source = 'src0' GROUP BY 1),
            rb AS (SELECT bucket, count(*) AS cr FROM b GROUP BY 1),
            tot AS (SELECT (SELECT coalesce(sum(ct), 0) FROM tb) AS nt,
                           (SELECT coalesce(sum(cr), 0) FROM rb) AS nr),
            ratio AS (
              SELECT rb.bucket,
                     ln((coalesce(tb.ct, 0) + 1.0) / (tot.nt + 65536.0))
                   - ln((rb.cr + 1.0) / (tot.nr + 65536.0)) AS lr
              FROM rb LEFT JOIN tb USING (bucket), tot
            ),
            perdoc AS (
              SELECT b.doc_id, count(*) AS n_shingles,
                     sum(r.lr) AS logw_raw
              FROM b JOIN ratio r USING (bucket) GROUP BY 1
            )
            SELECT d.doc_id,
                   CAST(coalesce(p.n_shingles, 0) AS BIGINT) AS n_shingles,
                   ROUND(coalesce(p.logw_raw, 0.0), 6) AS logw
            FROM documents d LEFT JOIN perdoc p USING (doc_id)
            ORDER BY logw DESC, d.doc_id ASC
            LIMIT 50
        """,
}
