"""Unit tests: sessionize, fixed windows, backfill, dedup family,
similarity search, text stats — vs hand-computed / pandas oracles."""

import numpy as np
import pandas as pd
import datetime as dt
import pytest
from pyspark.sql import functions as F

from oracle import pandas_oracle as O
from sqlfeatureextraction_spark.config import FeatureConfig
from sqlfeatureextraction_spark.operators import dedup as D
from sqlfeatureextraction_spark.operators import sessionize as S
from sqlfeatureextraction_spark.operators import similarity as SIM
from sqlfeatureextraction_spark.operators import textstats as TS
from sqlfeatureextraction_spark.operators import windows as W

SF = "/root/testdata/sf0.001"


# ------------------------------------------------------------- sessionize


def test_sessionize_matches_oracle(transcripts_df, transcripts_pdf):
    got = (
        S.sessionize(transcripts_df, gap_s=1800)
        .select("conv_id", "turn_idx", "session_id")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    exp = (
        O.sessionize(transcripts_pdf, gap_s=1800)[
            ["conv_id", "turn_idx", "session_id"]
        ]
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    assert (got["session_id"].to_numpy() == exp["session_id"].to_numpy()).all()


def test_session_validity_filter(spark, transcripts_df):
    sess = S.sessionize(transcripts_df, gap_s=1800)
    valid = S.filter_valid_sessions(sess, min_turns=2, max_turns=50)
    counts = (
        valid.groupBy("conv_id", "session_id").count().toPandas()["count"]
    )
    assert (counts >= 2).all() and (counts < 50).all()


# ----------------------------------------------------------- fixed windows


def test_fixed_window_membership_right_closed(spark):
    cfg = FeatureConfig(window_size_s=300, slide_s=60)
    df = spark.createDataFrame(
        [("c", 0, dt.datetime(2024, 1, 1, 10, 5))],
        "conv_id string, turn_idx int, ts timestamp",
    )
    wins = (
        W.assign_fixed_windows(df, cfg)
        .select("window_start_sec", "window_end_sec")
        .toPandas()
    )
    t = pd.Timestamp("2024-01-01 10:05:00", tz="UTC").timestamp()
    # membership (start, end]: start ∈ [t−300, t), exactly 300/60 = 5 windows
    assert len(wins) == 5
    assert (wins["window_start_sec"] >= t - 300).all()
    assert (wins["window_start_sec"] < t).all()
    assert (wins["window_end_sec"] - wins["window_start_sec"] == 300).all()
    # boundary: a row AT a window end belongs to it (right-closed) —
    # start = t−300 is included
    assert (wins["window_start_sec"] == t - 300).any()


def test_business_hours_gate(spark):
    cfg = FeatureConfig(window_size_s=300, slide_s=300, business_hour_min=9)
    df = spark.createDataFrame(
        [
            ("c", 0, dt.datetime(2024, 1, 1, 3, 0)),
            ("c", 1, dt.datetime(2024, 1, 1, 12, 0)),
        ],
        "conv_id string, turn_idx int, ts timestamp",
    )
    wins = W.assign_fixed_windows(df, cfg).toPandas()
    hours = pd.to_datetime(wins["window_start_sec"], unit="s").dt.hour
    assert (hours > 9).all()
    assert (wins["turn_idx"] == 1).all()  # 03:00 row gated out entirely


def test_time_spine_and_backfill(spark):
    # W5: the dense spine is generated with its empty windows marked
    cfg = FeatureConfig(window_size_s=300, slide_s=300)
    df = spark.createDataFrame(
        [
            ("c", 0, dt.datetime(2024, 1, 1, 10, 0), 3),
            ("c", 1, dt.datetime(2024, 1, 1, 10, 20), 5),
        ],
        "conv_id string, turn_idx int, ts timestamp, cost long",
    )
    got = W.window_cost_metrics(df, cfg).toPandas()
    got = got.sort_values("window_start_sec").reset_index(drop=True)
    # 10:00..10:20 every 300s inclusive; the 10:00 turn falls in the
    # clamped-away 09:55 window (right-closed), the 10:20 one in 10:15
    assert list(got["window_start_sec"] - 1704103200) == [
        0, 300, 600, 900, 1200,
    ]
    assert list(got["is_empty"]) == [True, True, True, False, True]
    assert list(got["n_turns"]) == [0, 0, 0, 1, 0]
    assert list(got["total_cost"]) == [0, 0, 0, 5, 0]


# ------------------------------------------------------------------ dedup


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        (2, "the quick brown fox jumps over the lazy cat"),  # near dup
        (3, "completely different text about spark engines"),
        (4, "spark engines are completely different text about"),
        (5, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedup_exact(spark, docs, tmp_path):
    # the dedup_exact gate row: min id per identical text
    from queries.dedup import _q_dedup_exact

    docs.write.parquet(str(tmp_path / "documents.parquet"))
    got = _q_dedup_exact(spark, str(tmp_path)).toPandas()
    dup = got[got["n_copies"] == 2]
    assert len(dup) == 1 and dup["keep_id"].iloc[0] == 0
    assert sorted(got["keep_id"]) == [0, 2, 3, 4, 5]


def test_minhash_rejects_duplicate_ids(spark):
    # grouping by doc_id would merge the two texts' shingle sets into
    # one signature; the aggregate must fail instead
    df = spark.createDataFrame(
        [(7, "the quick brown fox"), (7, "a different text here"),
         (8, "the quick brown fox")],
        "doc_id long, text string",
    )
    sh = D.with_shingles(df, n=3)
    with pytest.raises(Exception, match="duplicate doc_id 7"):
        D.with_minhash(sh, 16).collect()
    with pytest.raises(Exception, match="duplicate doc_id 7"):
        D.minhash_dedup(df, n=3, num_hashes=16, bands=8).collect()
    ok = D.with_minhash(sh.where("text != 'a different text here'"), 16)
    assert ok.count() == 2


def test_minhash_neardup(docs):
    pairs = D.minhash_dedup(
        docs, n=3, num_hashes=64, bands=32, threshold=0.5
    ).toPandas()
    got_pairs = set(zip(pairs["id_a"], pairs["id_b"]))
    assert (0, 1) in got_pairs  # identical
    assert (0, 2) in got_pairs or (1, 2) in got_pairs  # near dup
    assert not any(3 in p and 0 in p for p in got_pairs)
    # jaccard of identical docs is exactly 1
    j01 = pairs[(pairs["id_a"] == 0) & (pairs["id_b"] == 1)]["jaccard"]
    assert len(j01) and abs(j01.iloc[0] - 1.0) < 1e-9


def test_exact_against_corpus(spark, docs):
    new_rows = [
        (100, "the quick brown fox jumps over the lazy dog"),  # in corpus
        (101, "the quick brown fox jumps over the lazy dog"),  # batch dup
        (102, "a genuinely new document about ingest"),
        (103, "a genuinely new document about ingest"),  # batch dup, not in corpus
        (104, "spark engines are completely different text about"),  # in corpus
    ]
    new = spark.createDataFrame(new_rows, "doc_id long, text string")
    want = {
        100: (True, 1, False),
        101: (True, 2, False),
        102: (False, 1, True),
        103: (False, 2, False),
        104: (True, 1, False),
    }
    got = {
        r["doc_id"]: (r["in_corpus"], r["batch_rank"], r["keep"])
        for r in D.exact_against_corpus(new, docs).collect()
    }
    assert got == want


def test_neardup_against_corpus(spark, docs):
    new = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog"),  # = docs 0/1
            (101, "the quick brown fox jumps over the hazy cat"),  # near docs 2
            (102, "nothing like anything in the ingested corpus"),
        ],
        "doc_id long, text string",
    )
    pairs = D.neardup_against_corpus(
        new, docs, n=3, num_hashes=64, bands=32, threshold=0.5
    ).toPandas()
    got = set(zip(pairs["id_a"], pairs["id_b"]))
    assert (100, 0) in got and (100, 1) in got  # exact copies, J=1
    j = pairs[(pairs["id_a"] == 100) & (pairs["id_b"] == 0)]["jaccard"]
    assert abs(j.iloc[0] - 1.0) < 1e-9
    assert not any(a == 102 for a, _ in got)  # novel doc pairs with nothing
    # pairs are cross-table only: id_a is always a new-batch id
    assert all(a >= 100 and b < 100 for a, b in got)


def test_jaccard_value_exact(spark):
    # hand-computed: shingle-3 sets of "a b c d" vs "a b c e":
    # {abc,bcd} vs {abc,bce} → |∩|=1, |∪|=3 → 1/3
    docs = spark.createDataFrame(
        [(0, "a b c d"), (1, "a b c e")], "doc_id long, text string"
    )
    sh = D.with_shingles(docs, n=3)
    pairs = spark.createDataFrame([(0, 1)], "id_a long, id_b long")
    j = D.jaccard_verify(pairs, sh, threshold=0.0).toPandas()
    assert abs(j["jaccard"].iloc[0] - 1 / 3) < 1e-9


def _bruteforce_jaccard_pairs(texts, n, threshold):
    """All-pairs exact n-gram Jaccard in plain Python (test oracle)."""
    toks = [O.tokenize(t) for _, t in texts]
    sets = []
    for tk in toks:
        sets.append(
            {tuple(tk[i : i + n]) for i in range(len(tk) - n + 1)}
        )
    ids = [i for i, _ in texts]
    out = {}
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = sets[x], sets[y]
            if not a or not b:
                continue
            j = len(a & b) / len(a | b)
            if j >= threshold:
                ia, ib = sorted((ids[x], ids[y]))
                out[(ia, ib)] = j
    return out


@pytest.mark.parametrize("threshold", [0.5, 0.8])
def test_ngram_jaccard_join_exact_vs_bruteforce(spark, threshold):
    """Prefix filtering must be COMPLETE (guaranteed recall, unlike
    LSH): the pair set and values equal all-pairs brute force, on an
    adversarial corpus — exact dups, boundary J == t cases, a token
    shared by every doc (hot prefix bucket), empties, single-shingle
    docs."""
    texts = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "completely different text about spark engines"),
        (4, "spark engines are completely different text about"),
        (5, ""),
        (6, "zz yy xx"),  # single shingle
        (7, "zz yy xx"),  # J == 1 with 6
        # J exactly 0.5 with 9: sets {a b c, b c d} vs {a b c, b c e}
        (8, "a b c d"),
        (9, "a b c e"),
        # every doc below shares the hot token "common"
        (10, "common one two three four five"),
        (11, "common one two three four six"),
        (12, "common seven eight nine ten eleven"),
    ]
    exp = _bruteforce_jaccard_pairs(texts, n=3, threshold=threshold)
    got = (
        D.ngram_jaccard_join(
            spark.createDataFrame(texts, "doc_id long, text string"),
            n=3,
            threshold=threshold,
        )
        .toPandas()
        .sort_values(["id_a", "id_b"])
    )
    got_pairs = {
        (int(r.id_a), int(r.id_b)): r.jaccard for r in got.itertuples()
    }
    assert set(got_pairs) == set(exp)
    for k, v in exp.items():
        assert abs(got_pairs[k] - v) < 1e-9, k


def test_ngram_jaccard_join_matches_bruteforce_on_documents(spark):
    """Same completeness check on the real synthetic documents table
    (sf0.001, 500 docs with planted near-dup families)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pdf = docs.select("doc_id", "text").toPandas()
    texts = list(zip(pdf["doc_id"].astype(int), pdf["text"]))
    exp = _bruteforce_jaccard_pairs(texts, n=3, threshold=0.5)
    got = D.ngram_jaccard_join(docs, n=3, threshold=0.5).toPandas()
    got_pairs = {
        (int(r.id_a), int(r.id_b)): r.jaccard for r in got.itertuples()
    }
    assert set(got_pairs) == set(exp)
    for k, v in exp.items():
        assert abs(got_pairs[k] - v) < 1e-9, k


@pytest.mark.parametrize("k", [1, 3])
def test_simhash_neardup_pairs_vs_bruteforce(spark, k):
    """Pigeonhole banding must produce EXACTLY the all-pairs Hamming
    <= k pair set (guaranteed recall + exact verify), pinned against a
    popcount brute force over the same fingerprints on the sf0.001
    documents table."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    fp = (
        D.with_simhash(docs)
        .select("doc_id", "simhash")
        .toPandas()
        .sort_values("doc_id")
    )
    ids = fp["doc_id"].to_numpy()
    hs = fp["simhash"].to_numpy(dtype=np.int64)
    exp = {}
    for x in range(len(ids)):
        xo = np.bitwise_xor(hs[x + 1 :], hs[x])
        d = np.array([bin(int(v)).count("1") for v in xo])
        for off in np.nonzero(d <= k)[0]:
            y = x + 1 + off
            ia, ib = int(ids[x]), int(ids[y])
            if ia > ib:
                ia, ib = ib, ia
            exp[(ia, ib)] = int(d[off])
    got = D.simhash_neardup_pairs(docs, max_hamming=k).toPandas()
    got_pairs = {
        (int(r.id_a), int(r.id_b)): int(r.hamming)
        for r in got.itertuples()
    }
    assert got_pairs == exp
    assert len(exp) > 0  # the planted near-dups make this non-vacuous


def _union_find(pairs, vertices=()):
    """{vertex: min id of its component} by pure-Python union-find."""
    parent = {v: v for v in vertices}

    def find(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def _cc(spark, pairs, vertices=None, **kw):
    to_df = spark.createDataFrame
    out = D.connected_components(
        to_df([tuple(map(int, p)) for p in pairs], "id_a long, id_b long"),
        vertices and to_df([(v,) for v in vertices], "doc_id long"),
        **kw,
    )
    return out.toPandas().set_index("doc_id")["cluster_id"].to_dict()


def _path(ids):
    return list(zip(ids, ids[1:]))


def test_connected_components_chain(spark):
    # chain 1-2, 2-3, 3-4 plus isolated pair 10-11: the closure must
    # collapse the whole chain to min id 1 even though (1,4) is not a
    # pair (similarity is not transitive; the closure is the point)
    got = _cc(spark, [(1, 2), (2, 3), (3, 4), (10, 11)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_max_iter_raises(spark):
    # hook+jump needs 7 rounds on a 64-node path (6 that change labels
    # plus one that confirms); after round 2, 61 labels still change.
    # The builder runs one SQL execution per round plus ONE for the
    # edge-list checkpoint, whether it converges or raises.
    from conftest import count_actions

    pairs = spark.createDataFrame(_path(range(64)), "id_a long, id_b long")

    def cut_short():
        with pytest.raises(
            ValueError, match=r"max_iter=2 rounds: 61 labels still changed"
        ):
            D.connected_components(pairs, max_iter=2)

    assert count_actions(spark, cut_short)[2] == 2 + 1
    out, n_jobs, n_exec = count_actions(
        spark, lambda: D.connected_components(pairs)
    )
    assert n_exec == 7 + 1 and n_jobs > n_exec
    assert set(out.toPandas()["cluster_id"]) == {0} and out.count() == 64


@pytest.mark.parametrize(
    "ids, max_iter",
    [
        # min-label propagation alone needed diameter + 1 = 26 rounds
        (np.arange(26), 25),
        # logarithmic rounds: 2 * ceil(log2 1000) + 2 = 22
        (np.random.RandomState(3).permutation(1000), 22),
    ],
    ids=["path26", "random_path1000"],
)
def test_connected_components_long_paths_converge(spark, ids, max_iter):
    got = _cc(spark, _path(ids), max_iter=max_iter)
    assert got == dict.fromkeys(range(len(ids)), 0)


@pytest.mark.parametrize(
    "pairs",
    [[], [(1, 1), (4, 4)], [(1, 2), (2, 1), (1, 2), (3, 2), (6, 5), (5, 5)]],
    ids=["empty", "self_loops", "duplicate_reversed"],
)
@pytest.mark.parametrize(
    "vertices", [None, range(8)], ids=["pairs_only", "with_vertices"]
)
def test_connected_components_edge_inputs(spark, pairs, vertices):
    got = _cc(spark, pairs, vertices)
    assert got == _union_find(pairs, vertices or ())


def test_star_vs_label_random_graph(spark):
    # fixed-seed random graph: the closure must produce the clustering
    # of a pure-Python union-find (min id per component), at 1 and at
    # 8 shuffle partitions alike (DETERMINISM.md)
    e = np.random.RandomState(7).randint(0, 60, size=(80, 2))
    e = [(int(a), int(b)) for a, b in e if a != b]
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for n in (1, 8):
            spark.conf.set("spark.sql.shuffle.partitions", str(n))
            got = _cc(spark, e, range(60), max_iter=100)
            assert got == _union_find(e, range(60))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert len(set(got.values())) < 60  # non-vacuous: some merges


def test_connected_components_singletons(spark):
    got = _cc(spark, [(2, 5)], range(7))
    assert got == {0: 0, 1: 1, 2: 2, 3: 3, 4: 4, 5: 2, 6: 6}


def test_dedup_clusters_end_to_end(docs):
    got = (
        D.dedup_clusters(docs, threshold=0.5, num_hashes=64, bands=32)
        .toPandas()
        .set_index("doc_id")["cluster_id"]
    )
    # 0 and 1 identical, 2 a near-dup of both → one cluster rooted at 0
    assert got[0] == got[1] == got[2] == 0
    # 3/4 share every token (reordered) → 0 shingle-3 overlap is NOT
    # guaranteed, but they must never merge with cluster 0
    assert got[3] != 0 and got[5] == 5
    assert len(got) == 6  # every doc labeled, singletons included


def test_simhash_dedup(docs):
    got = D.simhash_dedup(docs).toPandas()
    assert len(got[got["n_copies"] >= 2]) >= 1
    sh = D.with_simhash(docs).toPandas().set_index("doc_id")["simhash"]
    assert sh[0] == sh[1]
    assert sh[0] != sh[3]


def test_embedding_neardup(spark):
    rng = np.random.default_rng(0)
    base = rng.standard_normal(16)
    rows = [
        (0, (base + 0.0).tolist()),
        (1, (base * 1.001 + 0.001).tolist()),  # near dup of 0
        (2, rng.standard_normal(16).tolist()),
        (3, (-base).tolist()),  # anti-parallel
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = D.embedding_neardup_pairs(df, threshold=0.95, n_planes=8).toPandas()
    got = set(zip(pairs["id_a"], pairs["id_b"]))
    assert (0, 1) in got
    assert (0, 3) not in got


# ------------------------------------------------------------- similarity


def test_brute_force_topk_exact(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    pdf = emb.toPandas()
    qid = int(pdf["vec_id"].iloc[0])
    qv = np.asarray(pdf["embedding"].iloc[0], dtype=np.float64)
    got = SIM.brute_force_topk(emb, [(qid, qv.tolist())], k=5).toPandas()

    mat = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
    qn = qv / np.linalg.norm(qv)
    sims = (mat / np.linalg.norm(mat, axis=1, keepdims=True)) @ qn
    order = sorted(
        zip(np.round(sims, 6), -pdf["vec_id"].to_numpy()), reverse=True
    )[:5]
    exp_ids = [-int(x[1]) for x in order]
    assert list(got.sort_values("rk")["neighbor_id"]) == exp_ids
    assert got[got["rk"] == 1]["neighbor_id"].iloc[0] == qid  # self first


def test_lsh_topk_recall(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    pdf = emb.toPandas()
    queries = [
        (int(pdf["vec_id"].iloc[i]), list(map(float, pdf["embedding"].iloc[i])))
        for i in range(5)
    ]
    exact = SIM.brute_force_topk(emb, queries, k=10).toPandas()
    approx = SIM.lsh_topk(emb, queries, k=10, n_planes=4).toPandas()
    # multi-probe LSH must find the query itself and beat random recall
    # (random 10-of-500 candidates would give ~0.06 expected recall)
    recall = []
    for qid, _ in queries:
        e = set(exact[exact["query_id"] == qid]["neighbor_id"])
        a = set(approx[approx["query_id"] == qid]["neighbor_id"])
        assert qid in a
        recall.append(len(e & a) / len(e))
    assert np.mean(recall) >= 0.4, recall


def test_ivf_topk_full_probe_is_exact(spark):
    # n_probe == nlist probes every cell -> byte-identical to brute force
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    pdf = emb.toPandas()
    queries = [
        (int(pdf["vec_id"].iloc[i]), list(map(float, pdf["embedding"].iloc[i])))
        for i in range(3)
    ]
    exact = (
        SIM.brute_force_topk(emb, queries, k=10)
        .toPandas()
        .sort_values(["query_id", "rk"])
        .reset_index(drop=True)
    )
    full = (
        SIM.ivf_topk(emb, queries, k=10, nlist=8, n_probe=8, iters=2)
        .toPandas()
        .sort_values(["query_id", "rk"])
        .reset_index(drop=True)
    )
    assert full.equals(exact)


def test_ivf_topk_partial_probe_recall(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    pdf = emb.toPandas()
    queries = [
        (int(pdf["vec_id"].iloc[i]), list(map(float, pdf["embedding"].iloc[i])))
        for i in range(5)
    ]
    exact = SIM.brute_force_topk(emb, queries, k=10).toPandas()
    approx = SIM.ivf_topk(emb, queries, k=10, nlist=8, n_probe=2, iters=2).toPandas()
    recall = []
    for qid, _ in queries:
        e = set(exact[exact["query_id"] == qid]["neighbor_id"])
        a = set(approx[approx["query_id"] == qid]["neighbor_id"])
        # the query's own cell is always its nearest centroid, so the
        # query itself is always a candidate and ranks first
        assert qid in a
        recall.append(len(e & a) / len(e))
    # probing 2/8 cells must beat the 0.25 random-candidate baseline
    assert np.mean(recall) >= 0.4, recall


def test_ivf_centroids_deterministic(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    c1 = SIM.fit_ivf_centroids(emb, nlist=4, iters=2)
    c2 = SIM.fit_ivf_centroids(emb, nlist=4, iters=2)
    # seeding is exact-deterministic; the Lloyd reduce sums floats in
    # shuffle order, so equality holds to fp-reassociation tolerance
    assert np.allclose(c1, c2, atol=1e-12)
    assert np.allclose(np.linalg.norm(c1, axis=1), 1.0)


# -------------------------------------------------------------- textstats


def test_token_stats(spark):
    df = spark.createDataFrame(
        [(0, "Hello, world! 123"), (1, None), (2, "")],
        "doc_id long, text string",
    )
    got = TS.with_token_stats(df).toPandas().set_index("doc_id")
    assert got.loc[0, "n_tokens"] == 3  # hello, world, 123
    assert got.loc[1, "n_tokens"] == 0
    assert got.loc[2, "n_tokens"] == 0
    assert got.loc[0, "n_chars"] == 17


def test_quality_and_lang(spark):
    df = spark.createDataFrame(
        [
            (0, "the cat and the dog sat in the garden for hours"),
            (1, "el gato y la casa de los perros era una con historia"),
            (2, "!!!???...;;;"),
        ],
        "doc_id long, text string",
    )
    q = TS.with_quality_score(df).toPandas().set_index("doc_id")
    assert q.loc[0, "quality_score"] > q.loc[2, "quality_score"]
    lang = TS.with_language_id(df).toPandas().set_index("doc_id")
    assert lang.loc[0, "lang_pred"] == "en"
    assert lang.loc[1, "lang_pred"] == "es"
    assert lang.loc[2, "lang_pred"] == "und"


def test_fingerprint_deterministic(spark):
    df = spark.createDataFrame(
        [(0, "a b c d e f g h i j"), (1, "a b c d e f g h i j"), (2, "x y")],
        "doc_id long, text string",
    )
    fp = TS.with_fingerprint(df, k=4).toPandas().set_index("doc_id")
    assert fp.loc[0, "fingerprint"] == fp.loc[1, "fingerprint"]
    assert fp.loc[0, "winnow_min"] == fp.loc[1, "winnow_min"]
    assert fp.loc[0, "fingerprint"] != fp.loc[2, "fingerprint"]
    assert pd.isna(fp.loc[2, "winnow_min"])  # < k tokens → empty sketch


def test_oov_paths_agree(spark):
    """J1/A6: literal array_contains path == explode+anti-join scale
    path, with real OOV tokens present."""
    from pyspark.sql import functions as F

    import sqlfeatureextraction_spark.vocab as V

    df = spark.createDataFrame(
        [
            (0, "alpha beta gamma"),
            (1, "alpha zzz qqq qqq"),
            (2, None),
        ],
        "rid long, text string",
    )
    vocab = V.Vocabulary(
        roles={}, tools={}, tokens={"alpha": 0, "beta": 1, "gamma": 2}
    )
    lit = (
        V.with_oov_stats(df, vocab)
        .toPandas()
        .set_index("rid")
        .sort_index()
    )
    old = V.MAX_LITERAL_VOCAB
    V.MAX_LITERAL_VOCAB = 0  # force the anti-join plan
    try:
        aj = (
            V.with_oov_stats(df, vocab, row_key="rid")
            .toPandas()
            .set_index("rid")
            .sort_index()
        )
    finally:
        V.MAX_LITERAL_VOCAB = old
    assert list(lit["n_oov"]) == [0, 3, 0]
    assert list(aj["n_oov"]) == list(lit["n_oov"])
    assert list(aj["n_tokens"]) == list(lit["n_tokens"])


def test_pq_lossless_identity_and_adc(spark):
    """When every distinct subvector appears among the seed codebook
    entries, encoding is lossless and ADC == exact squared L2 — PQ's
    analog of IVF's n_probe == nlist identity."""
    sub = {
        "a": [1.0, 0.0, 0.0, 0.0],
        "b": [0.0, 1.0, 0.0, 0.0],
        "c": [0.0, 0.0, 2.0, 0.0],
        "d": [0.0, 0.0, 0.0, 3.0],
    }
    # 4 lowest-id vectors jointly expose all 4 subvector values in
    # BOTH subspaces; later vectors only recombine them
    rows = [
        (0, sub["a"] + sub["b"]),
        (1, sub["b"] + sub["c"]),
        (2, sub["c"] + sub["d"]),
        (3, sub["d"] + sub["a"]),
        (4, sub["a"] + sub["c"]),
        (5, sub["b"] + sub["d"]),
        (6, sub["d"] + sub["c"]),
    ]
    emb = spark.createDataFrame(
        [(i, list(map(float, v))) for i, v in rows],
        "vec_id long, embedding array<float>",
    )
    queries = [(0, rows[0][1]), (6, rows[6][1])]
    got = (
        SIM.pq_topk(emb, queries, k=7, m=2, k_sub=4, iters=0)
        .toPandas()
        .sort_values(["query_id", "rk"])
        .reset_index(drop=True)
    )
    V = {i: np.asarray(v, dtype=np.float64) for i, v in rows}
    for qid, qv in queries:
        q = np.asarray(qv, dtype=np.float64)
        want = sorted(
            ((round(float(((q - V[i]) ** 2).sum()), 6), i) for i in V),
            key=lambda t: (t[0], t[1]),
        )
        sl = got[got["query_id"] == qid].reset_index(drop=True)
        assert list(sl["neighbor_id"]) == [i for _, i in want], qid
        assert [round(float(x), 6) for x in sl["adc"]] == [
            d for d, _ in want
        ], qid


def test_pq_fit_matches_numpy_replay(spark):
    """Lloyd-improved codebooks: the distributed fit equals a numpy
    replay with identical seeding, tie-break, and 6dp rounding."""
    rng = np.random.default_rng(11)
    X = rng.standard_normal((40, 8)).astype(np.float32)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(len(X))],
        "vec_id long, embedding array<float>",
    )
    m, k_sub, iters = 2, 3, 2
    got = SIM.fit_pq_codebooks(emb, m=m, k_sub=k_sub, iters=iters)
    Xd = X.astype(np.float64)
    dsub = 4
    cbs = np.stack(
        [Xd[:k_sub, s * dsub : (s + 1) * dsub].copy() for s in range(m)]
    )
    for _ in range(iters):
        for s in range(m):
            Xs = Xd[:, s * dsub : (s + 1) * dsub]
            d2 = ((Xs[:, None, :] - cbs[s][None, :, :]) ** 2).sum(axis=2)
            cells = np.argmin(d2, axis=1)
            for c in range(k_sub):
                mem = Xs[cells == c]
                if len(mem):
                    cbs[s, c] = np.round(mem.mean(axis=0), 6)
    assert np.allclose(got, cbs, atol=1e-12)
    # quantization error does not increase with Lloyd rounds
    def qerr(cb):
        e = 0.0
        for s in range(m):
            Xs = Xd[:, s * dsub : (s + 1) * dsub]
            d2 = ((Xs[:, None, :] - cb[s][None, :, :]) ** 2).sum(axis=2)
            e += d2.min(axis=1).sum()
        return e

    seed_cbs = np.stack(
        [Xd[:k_sub, s * dsub : (s + 1) * dsub].copy() for s in range(m)]
    )
    assert qerr(got) <= qerr(seed_cbs) + 1e-9


def test_gopher_quality_flags_bruteforce(spark):
    """Python replay of every Gopher rule on a hand corpus exercising
    each rule both ways."""
    good_words = ("the quick brown fox and that dog have fun with it " * 6).strip()
    rows = [
        (0, good_words),  # long enough, stopwords present -> passes
        (1, "short text"),  # word count fails
        (2, good_words + " ######## ..."),  # symbol ratio pushed up
        (3, "- a\n- b\n- c\n" + good_words.replace(" ", "\n", 2)),  # bullets
        (4, "same line\nsame line\nsame line\n" + good_words),  # dup lines
        (5, ""),  # empty
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r.asDict()
        for r in TS.gopher_quality_flags(df).collect()
    }
    from sqlfeatureextraction_spark.operators.textstats import (
        GOPHER_BOUNDS as B,
        GOPHER_STOPWORDS,
    )

    for i, text in rows:
        toks = [t for t in text.lower().split(" ") if t]
        raw = text
        lines = [ln for ln in raw.split("\n") if ln.strip()]
        n_words = len(toks)
        mean_wl = round(sum(len(t) for t in toks) / max(n_words, 1), 4)
        n_hash = raw.count("#")
        n_ell = (len(raw) - len(raw.replace("...", ""))) / 3
        symbol_ratio = round((n_hash + n_ell) / max(n_words, 1), 4)
        bullets = [
            ln
            for ln in lines
            if ln.strip().startswith(("-", "*", "•"))
        ]
        ells = [ln for ln in lines if ln.rstrip().endswith("...")]
        import re as _re

        alpha = [t for t in toks if _re.search("[a-z]", t)]
        stop_hits = len(set(toks) & set(GOPHER_STOPWORDS))
        from collections import Counter as _C

        lc = _C(ln.strip() for ln in lines)
        dup = [ln for ln in lines if lc[ln.strip()] > 1]
        g = got[i]
        assert g["n_words"] == n_words, i
        assert g["mean_word_len"] == mean_wl, i
        assert g["symbol_ratio"] == symbol_ratio, i
        assert g["bullet_frac"] == round(len(bullets) / max(len(lines), 1), 4), i
        assert g["ellipsis_frac"] == round(len(ells) / max(len(lines), 1), 4), i
        assert g["alpha_word_frac"] == round(len(alpha) / max(n_words, 1), 4), i
        assert g["stopword_hits"] == stop_hits, i
        assert g["dup_line_frac"] == round(len(dup) / max(len(lines), 1), 4), i
        assert g["dup_line_char_frac"] == round(
            sum(len(x) for x in dup) / max(sum(len(x) for x in lines), 1), 4
        ), i
        want_pass = (
            B["min_words"] <= n_words <= B["max_words"]
            and B["min_mean_word_len"] <= mean_wl <= B["max_mean_word_len"]
            and symbol_ratio <= B["max_symbol_ratio"]
            and g["bullet_frac"] <= B["max_bullet_frac"]
            and g["ellipsis_frac"] <= B["max_ellipsis_frac"]
            and g["alpha_word_frac"] >= B["min_alpha_word_frac"]
            and stop_hits >= B["min_stopword_hits"]
            and g["dup_line_frac"] <= B["max_dup_line_frac"]
            and g["dup_line_char_frac"] <= B["max_dup_line_char_frac"]
        )
        assert g["passes_gopher"] == want_pass, i
    assert got[0]["passes_gopher"] is True
    assert got[1]["r_word_count"] is False
    assert got[2]["r_symbol_ratio"] is False
    assert got[5]["passes_gopher"] is False
