"""Distribution-sketch stats and token-budget mixture sampling."""

import hashlib

import numpy as np
import pytest

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def _ntok(text):
    return len([t for t in (text or "").lower().split(" ") if t])


def _budget_ref(pdf, budgets, default):
    """Sequential pandas/hashlib replay of the greedy budget fill."""
    rows = []
    for src, grp in pdf.groupby("source"):
        b = budgets.get(src, default)
        grp = grp.assign(
            u=[
                hashlib.md5(f"budget:{i}".encode()).hexdigest()
                for i in grp["doc_id"]
            ],
            n_tok=[_ntok(t) for t in grp["text"]],
        ).sort_values(["u", "doc_id"], kind="stable")
        cum = 0
        for r in grp.itertuples():
            cum += r.n_tok
            if cum <= b:
                rows.append((r.doc_id, src, r.n_tok, cum))
    return sorted(rows)


def test_token_budget_sample_matches_sequential_ref(spark):
    from sqlfeatureextraction_spark.operators.curation import (
        token_budget_sample,
    )

    budgets = {"src0": 400, "src1": 10000}
    got = sorted(
        tuple(r)
        for r in token_budget_sample(
            _docs(spark), budgets=budgets, default_budget=800
        ).collect()
    )
    want = _budget_ref(_docs(spark).toPandas(), budgets, 800)
    assert got == want
    assert len(got) > 0


def test_token_budget_sample_boundaries(spark):
    from sqlfeatureextraction_spark.operators.curation import (
        token_budget_sample,
    )

    docs = _docs(spark)
    assert token_budget_sample(docs, default_budget=0).count() == 0

    all_rows = token_budget_sample(docs, default_budget=10**9)
    assert all_rows.count() == docs.count()
    # inclusive running total tops out at the per-source token sum
    import pyspark.sql.functions as F

    from sqlfeatureextraction_spark.operators.curation import tokens_col

    tot = {
        r["source"]: r["t"]
        for r in docs.groupBy("source")
        .agg(F.sum(F.size(tokens_col(F.col("text")))).alias("t"))
        .collect()
    }
    top = {
        r["source"]: r["m"]
        for r in all_rows.groupBy("source")
        .agg(F.max("cum_tok").alias("m"))
        .collect()
    }
    assert top == tot

    # monotone: a smaller budget keeps a subset of a larger one
    small = {
        r["doc_id"] for r in token_budget_sample(docs, default_budget=300).collect()
    }
    large = {
        r["doc_id"] for r in token_budget_sample(docs, default_budget=800).collect()
    }
    assert small <= large


def test_token_budget_sample_plan(spark):
    """Row-level work is one hash exchange on (source, bucket); the
    offsets side joins back as a broadcast — no sort-merge join, no
    per-source global sort of corpus rows."""
    from sqlfeatureextraction_spark.operators.curation import (
        token_budget_sample,
    )

    plan = (
        token_budget_sample(_docs(spark), default_budget=800)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange hashpartitioning") <= 3


@pytest.mark.parametrize("accuracy", [50, 1_000_000])
def test_group_quantiles_error_bound(spark, accuracy):
    """GK rank-error contract: |rank(returned) - p*n| <= n/accuracy
    (+1 discretization slack); at accuracy >= n the sketch is exact ==
    the discrete quantile of the sorted group."""
    import pyspark.sql.functions as F

    from sqlfeatureextraction_spark.operators.curation import tokens_col
    from sqlfeatureextraction_spark.operators.stats import (
        group_distribution_stats,
    )

    probs = (0.25, 0.5, 0.75, 0.95)
    d = _docs(spark).select(
        "lang", F.size(tokens_col(F.col("text"))).alias("n_tok")
    )
    prof = {
        r["lang"]: r
        for r in group_distribution_stats(
            d, ["lang"], "n_tok", probs=probs, accuracy=accuracy
        ).collect()
    }
    pdf = d.toPandas()
    for lang, grp in pdf.groupby("lang"):
        vals = np.sort(grp["n_tok"].to_numpy())
        n = len(vals)
        row = prof[lang]
        assert row["n"] == n
        assert row["vmin"] == vals[0] and row["vmax"] == vals[-1]
        for p, q in zip(probs, row["q"]):
            if accuracy >= n:
                assert q == vals[int(np.ceil(p * n)) - 1], (lang, p)
            else:
                lo = np.searchsorted(vals, q, side="left")
                hi = np.searchsorted(vals, q, side="right")
                target = p * n
                err = min(abs(r - target) for r in (lo, hi))
                assert err <= n / accuracy + 1, (lang, p, q)


def test_group_stats_hll_bound_and_plan(spark):
    import pyspark.sql.functions as F

    from sqlfeatureextraction_spark.operators.stats import (
        group_distribution_stats,
    )

    docs = _docs(spark)
    prof = group_distribution_stats(
        docs.select("lang", F.length("text").alias("len"), "source"),
        ["lang"],
        "len",
        distinct_col="source",
        rsd=0.05,
    )
    exact = {
        r["lang"]: r["d"]
        for r in docs.groupBy("lang")
        .agg(F.countDistinct("source").alias("d"))
        .collect()
    }
    for r in prof.collect():
        assert abs(r["approx_distinct"] - exact[r["lang"]]) <= max(
            3, 0.15 * exact[r["lang"]]
        )
    plan = (
        prof._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    assert plan.count("Exchange") == 1  # one shuffle of sketch states


def test_token_topk_brute_force_and_plan(spark):
    from collections import Counter

    from sqlfeatureextraction_spark.operators.stats import token_topk

    docs = _docs(spark)
    got = [
        (r["lang"], r["rk"], r["token"], r["cnt"])
        for r in token_topk(docs, k=10).orderBy("lang", "rk").collect()
    ]
    pdf = docs.toPandas()
    want = []
    for lang in sorted(pdf["lang"].dropna().unique()):
        cnt = Counter(
            t
            for txt in pdf.loc[pdf["lang"] == lang, "text"]
            for t in (txt or "").lower().split(" ")
            if t
        )
        ranked = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
        want += [
            (lang, i + 1, tok, c) for i, (tok, c) in enumerate(ranked)
        ]
    assert got == want

    plan = (
        token_topk(docs, k=10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    # one exchange for the distinct-token count, one for the window
    assert plan.count("Exchange") == 2


def test_tfidf_topk_brute_force_and_plan(spark):
    """Exact replay in python floats of the operator's determinism
    contract: score = round(tf * ln(N/df), 6), rank by score desc then
    token asc; edge cases (empty doc → no rows, ubiquitous token →
    idf 0)."""
    import math
    from collections import Counter

    from sqlfeatureextraction_spark.operators.stats import tfidf_topk

    rows = [
        (0, "the cat sat on the mat"),
        (1, "the dog sat"),
        (2, "aardvark zebra aardvark"),
        (3, "the the the"),
        (4, ""),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    k = 3
    got = [
        (r["doc_id"], r["rk"], r["token"], r["cnt"], r["df"], r["score"])
        for r in tfidf_topk(df, k=k).orderBy("doc_id", "rk").collect()
    ]
    toks = {i: [t for t in (x or "").lower().split(" ") if t] for i, x in rows}
    n_docs = len(rows)
    dfreq = Counter(t for ts in toks.values() for t in set(ts))
    want = []
    for i in sorted(toks):
        cnt = Counter(toks[i])
        if not cnt:
            continue
        n_tok = sum(cnt.values())
        scored = sorted(
            (
                (
                    tok,
                    c,
                    dfreq[tok],
                    round(c / n_tok * math.log(n_docs / dfreq[tok]), 6),
                )
                for tok, c in cnt.items()
            ),
            key=lambda x: (-x[3], x[0]),
        )[:k]
        want += [
            (i, rk + 1, tok, c, d, s)
            for rk, (tok, c, d, s) in enumerate(scored)
        ]
    assert got == want
    ids = {r[0] for r in got}
    assert 4 not in ids and 5 not in ids  # empty docs: no rows
    # 'the' appears in 3 of 6 docs -> idf ln(2) > 0; a token in every
    # doc would score exactly 0 (still rankable, token-asc tie-break)
    the_rows = [r for r in got if r[2] == "the"]
    assert all(abs(r[5]) > 0 for r in the_rows)

    plan = (
        tfidf_topk(df, k=k)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    assert "CartesianProduct" not in plan


def test_group_sample_exact_brute_force(spark):
    from sqlfeatureextraction_spark.operators.curation import (
        group_sample_exact,
    )

    docs = _docs(spark)
    got = sorted(
        tuple(r)
        for r in group_sample_exact(
            docs, n=7, counts={"src0": 2}
        ).collect()
    )
    pdf = docs.toPandas()
    want = []
    for src, grp in pdf.groupby("source"):
        lim = 2 if src == "src0" else 7
        order = sorted(
            grp["doc_id"],
            key=lambda i: (
                hashlib.md5(f"sample:{i}".encode()).hexdigest(),
                i,
            ),
        )
        want += [(i, src, rk + 1) for rk, i in enumerate(order[:lim])]
    assert got == sorted(want)

    # exactly n per group (groups here are all larger than n)
    sizes = {}
    for _, s, __ in got:
        sizes[s] = sizes.get(s, 0) + 1
    assert all(v == (2 if s == "src0" else 7) for s, v in sizes.items())

    # monotone: sample(n=3) is a prefix of sample(n=7) per group
    small = {
        (r["doc_id"], r["source"], r["rk"])
        for r in group_sample_exact(docs, n=3).collect()
    }
    large = {
        (r["doc_id"], r["source"], r["rk"])
        for r in group_sample_exact(docs, n=7).collect()
    }
    assert small <= large

    plan = (
        group_sample_exact(docs, n=7)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_unigram_nll_brute_force(spark):
    """Exact replay in python floats: nll = -mean ln(cnt/total), plus
    ordering sanity (a doc of globally-rare tokens scores higher than
    one of the corpus's most common tokens)."""
    import math
    from collections import Counter

    from sqlfeatureextraction_spark.operators.stats import unigram_nll

    rows = [
        (0, "the the the cat"),
        (1, "the cat sat"),
        (2, "zyx qwv zyx"),
        (3, ""),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_tok"], r["nll"]) for r in unigram_nll(df).collect()
    }
    assert 3 not in got and 4 not in got  # empty docs: no row
    toks = {i: [t for t in (x or "").lower().split(" ") if t] for i, x in rows}
    cnt = Counter(t for ts in toks.values() for t in ts)
    total = sum(cnt.values())
    for d in (0, 1, 2):
        want = -sum(math.log(cnt[t] / total) for t in toks[d]) / len(toks[d])
        assert got[d] == (len(toks[d]), round(want, 4)), d
    assert got[2][1] > got[0][1]  # rare-token doc scores higher


def test_bigram_nll_brute_force(spark):
    import math
    from collections import Counter

    from sqlfeatureextraction_spark.operators.stats import bigram_nll

    rows = [
        (0, "a b a b a b"),
        (1, "a b c d"),
        (2, "solo"),
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_bigrams"], r["nll"])
        for r in bigram_nll(df).collect()
    }
    assert 2 not in got and 3 not in got  # < 2 tokens: no row
    toks = {i: (x or "").split(" ") for i, x in rows if x}
    grams = {
        i: list(zip(ts, ts[1:])) for i, ts in toks.items() if len(ts) > 1
    }
    cnt = Counter(g for gs in grams.values() for g in gs)
    pre = Counter()
    for (a, _), c in cnt.items():
        pre[a] += c
    for d, gs in grams.items():
        want = -sum(math.log(cnt[g] / pre[g[0]]) for g in gs) / len(gs)
        assert got[d] == (len(gs), round(want, 4)), d
    # 'a b' repeated is perfectly predictable given prefix counts that
    # include the 'b a' continuation — doc 0 is still lower-NLL than
    # the all-distinct doc 1
    assert got[0][1] < got[1][1]


def test_trigram_nll_interpolated_brute_force(spark):
    """Exact python-float replay of the JM-interpolated trigram model:
    all backoff counts derived from trigram-position occurrences (the
    model's stated population), unigram from the whole token stream."""
    import math
    from collections import Counter

    from sqlfeatureextraction_spark.operators.stats import (
        trigram_nll_interpolated,
    )

    rows = [
        (0, "a b c a b c a b c"),
        (1, "a b c d e f"),
        (2, "x y"),
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    l3, l2, l1 = 0.6, 0.3, 0.1
    got = {
        r["doc_id"]: (r["n_trigrams"], r["nll"])
        for r in trigram_nll_interpolated(df, lambdas=(l3, l2, l1)).collect()
    }
    assert 2 not in got and 3 not in got  # < 3 tokens: no row
    toks = {i: [t for t in (x or "").lower().split(" ") if t] for i, x in rows}
    tris = {
        i: [tuple(ts[j : j + 3]) for j in range(len(ts) - 2)]
        for i, ts in toks.items()
        if len(ts) >= 3
    }
    c3 = Counter(t for ts in tris.values() for t in ts)
    cp12 = Counter()
    c23 = Counter()
    cp2 = Counter()
    for (w1, w2, w3), c in c3.items():
        cp12[(w1, w2)] += c
        c23[(w2, w3)] += c
        cp2[w2] += c
    c1 = Counter(t for ts in toks.values() for t in ts)
    total = sum(c1.values())
    for d, ts in tris.items():
        p = [
            l3 * c3[t] / cp12[t[:2]]
            + l2 * c23[t[1:]] / cp2[t[1]]
            + l1 * c1[t[2]] / total
            for t in ts
        ]
        want = -sum(math.log(x) for x in p) / len(p)
        assert got[d] == (len(ts), round(want, 4)), d
    # the repetitive doc is more predictable than the all-distinct one
    assert got[0][1] < got[1][1]
    # lambdas must sum to 1
    import pytest as _pytest

    with _pytest.raises(ValueError):
        trigram_nll_interpolated(df, lambdas=(0.5, 0.3, 0.1))


def _bm25_ref(pdf, query, k, k1=1.2, b=0.75):
    """Brute-force python BM25 replay (Robertson/Lucene idf)."""
    import math

    terms = sorted({t for t in query.lower().split(" ") if t})
    toks = {
        r.doc_id: [t for t in (r.text or "").lower().split(" ") if t]
        for r in pdf.itertuples()
    }
    n = len(toks)
    avgdl = sum(len(v) for v in toks.values()) / max(n, 1)
    df = {
        t: sum(1 for v in toks.values() if t in v) for t in terms
    }
    rows = []
    for d, v in toks.items():
        matched = [t for t in terms if t in v]
        if not matched:
            continue
        s = 0.0
        for t in matched:
            cnt = v.count(t)
            idf = math.log(1 + (n - df[t] + 0.5) / (df[t] + 0.5))
            s += idf * cnt * (k1 + 1) / (
                cnt + k1 * (1 - b + b * len(v) / avgdl)
            )
        rows.append((d, len(matched), round(s, 6)))
    rows.sort(key=lambda r: (-r[2], r[0]))
    return rows[:k]


def test_bm25_topk_matches_bruteforce(spark):
    from sqlfeatureextraction_spark.operators.stats import bm25_topk

    q = "spark window merge"
    got = [
        (r["doc_id"], r["n_terms_matched"], r["score"])
        for r in bm25_topk(_docs(spark), q, k=25).collect()
    ]
    want = _bm25_ref(_docs(spark).toPandas(), q, 25)
    assert got == want
    assert len(got) == 25


def test_bm25_topk_duplicate_query_terms_collapse(spark):
    from sqlfeatureextraction_spark.operators.stats import bm25_topk

    a = bm25_topk(_docs(spark), "merge spark", k=5).collect()
    bb = bm25_topk(_docs(spark), "spark merge spark  spark", k=5).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in bb]


def test_bm25_topk_no_match_term_only(spark):
    from sqlfeatureextraction_spark.operators.stats import bm25_topk

    got = bm25_topk(_docs(spark), "zzzznotaword", k=5).collect()
    assert got == []


def test_bm25_topk_plan_shape(spark):
    """Top-k compiles to TakeOrderedAndProject; no Python stage."""
    from sqlfeatureextraction_spark.operators.stats import bm25_topk

    plan = bm25_topk(_docs(spark), "spark merge", k=5)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def _rrf_ref(lists, k, c=60.0):
    """Python replay: rank by (score desc, id asc) per list, fuse."""
    from collections import defaultdict

    parts = defaultdict(list)
    for rows in lists:
        ranked = sorted(rows, key=lambda r: (-r[1], r[0]))
        for i, (d, _) in enumerate(ranked, start=1):
            parts[d].append(1.0 / (c + i))
    out = [
        (d, len(ps), round(sum(ps), 6)) for d, ps in parts.items()
    ]
    out.sort(key=lambda r: (-r[2], r[0]))
    return out[:k]


def test_rrf_fuse_matches_python_replay(spark):
    from sqlfeatureextraction_spark.operators.similarity import rrf_fuse
    from sqlfeatureextraction_spark.operators.stats import bm25_topk

    a = bm25_topk(_docs(spark), "spark window merge", k=30)
    b = bm25_topk(_docs(spark), "customer join filter", k=30)
    got = [tuple(r) for r in rrf_fuse([a, b], k=15).collect()]
    ref = _rrf_ref(
        [
            [(r["doc_id"], r["score"]) for r in a.collect()],
            [(r["doc_id"], r["score"]) for r in b.collect()],
        ],
        k=15,
    )
    assert got == ref
    assert len(got) == 15
    assert any(r[1] == 2 for r in got)  # overlap exists and is fused


def test_rrf_fuse_requires_two_lists(spark):
    from sqlfeatureextraction_spark.operators.similarity import rrf_fuse
    from sqlfeatureextraction_spark.operators.stats import bm25_topk

    with pytest.raises(ValueError):
        rrf_fuse([bm25_topk(_docs(spark), "spark", k=5)], k=5)


def test_rrf_fuse_enforces_candidate_bound(spark):
    """The scale contract is enforced, not just documented: an input
    list larger than max_candidates raises (feeding a corpus through
    the unpartitioned rank window must fail loudly at list size)."""
    from sqlfeatureextraction_spark.operators.similarity import rrf_fuse

    big = spark.range(50).selectExpr(
        "id AS doc_id", "CAST(id AS DOUBLE) AS score"
    )
    with pytest.raises(ValueError, match="max_candidates"):
        rrf_fuse([big, big], k=5, max_candidates=10)
    # at or under the cap the same lists fuse fine
    assert len(rrf_fuse([big, big], k=5, max_candidates=50).collect()) == 5


def test_rrf_fuse_oversized_list_leaves_nothing_persisted(spark):
    """The bound is probed on the raw list before anything is
    materialized: an oversized list raises and leaves no persisted
    RDD behind — and a list within the cap leaves none either."""
    from sqlfeatureextraction_spark.operators.similarity import rrf_fuse

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    big = spark.range(50).selectExpr(
        "id AS doc_id", "CAST(id AS DOUBLE) AS score"
    )
    before = persisted()
    with pytest.raises(ValueError, match="max_candidates"):
        rrf_fuse([big, big.limit(5)], k=5, max_candidates=10)
    with pytest.raises(ValueError, match="max_candidates"):
        rrf_fuse([big.limit(5), big], k=5, max_candidates=10)
    assert persisted() == before
    assert len(rrf_fuse([big, big], k=5, max_candidates=50).collect()) == 5
    assert persisted() == before


def test_rrf_fuse_plan_shape(spark):
    from sqlfeatureextraction_spark.operators.similarity import rrf_fuse
    from sqlfeatureextraction_spark.operators.stats import bm25_topk

    a = bm25_topk(_docs(spark), "spark window", k=10)
    b = bm25_topk(_docs(spark), "merge filter", k=10)
    plan = rrf_fuse([a, b], k=5)._jdf.queryExecution().executedPlan(
    ).toString()
    assert "TakeOrderedAndProject" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_bm25_random_corpus_differential(spark, seed):
    """Differential sweep on a seeded random corpus: bm25_topk vs the
    brute-force Python replay — random doc lengths (including empty
    docs), a query mixing common, rare, and absent terms, and k larger
    than the match set."""
    rng = np.random.RandomState(seed)
    vocab = [f"w{i}" for i in range(30)]
    rows = []
    for i in range(120):
        k = int(rng.randint(0, 15))
        words = [vocab[j] for j in rng.randint(0, len(vocab), size=k)]
        rows.append((i, " ".join(words)))
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    df = spark.createDataFrame(rows, "doc_id long, text string")

    from sqlfeatureextraction_spark.operators.stats import bm25_topk

    q = "w0 w1 w29 zz_absent"
    got = [
        (r["doc_id"], r["n_terms_matched"], r["score"])
        for r in bm25_topk(df, q, k=200).collect()
    ]
    assert got == _bm25_ref(pdf, q, 200)
