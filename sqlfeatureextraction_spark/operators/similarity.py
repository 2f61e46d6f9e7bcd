"""Approximate nearest-neighbor search over an embedding column.

Baseline: brute-force cosine top-k — a broadcast of the (small) query
set against the full corpus, ranked with a window function; the dot
product is computed in an Arrow pandas UDF as one numpy matmul per
batch (the pure built-in ``F.aggregate``/``zip_with`` formulation is
also provided for oracle parity — it stays JVM-side but evaluates
per-element expression trees, slower than BLAS for wide vectors).

Scale paths:
- LSH-bucketed search (random hyperplane signatures, probe = query
  bucket) — candidates come from an equi-join on the bucket id, so the
  corpus is never crossed with the query set.
- IVF (inverted-file) search — spherical k-means coarse quantizer fit
  distributed (per-partition Arrow partial sums, nlist·P tiny rows
  reduced JVM-side), each vector assigned to its nearest-centroid
  cell, queries probe their n_probe nearest cells; candidates again
  come from an equi-join on the cell id.  With n_probe == nlist the
  probe set covers every cell and the result is exactly brute force —
  the identity the driver-row oracle pins; recall at n_probe < nlist
  is pinned in pytest.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _cosine_matrix_udf(query_vecs: np.ndarray):
    """cosine(corpus_vec, Q) for all queries at once: one BLAS matmul
    per Arrow batch; returns array<double> of per-query cosines."""
    qn = query_vecs / np.maximum(
        np.linalg.norm(query_vecs, axis=1, keepdims=True), 1e-12
    )

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def cos_all(vs: pd.Series) -> pd.Series:
        mat = np.vstack(vs.to_numpy()).astype(np.float64)
        mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        sims = mat @ qn.T  # (batch, n_queries)
        return pd.Series(list(sims))

    return cos_all


def brute_force_topk(
    corpus: DataFrame,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by cosine for a driver-provided query list.

    One corpus scan, one matmul per batch, then per-query top-k via
    window row_number on (sim desc, id asc).  Shuffle = k·|Q| rows.
    """
    qids = [q[0] for q in queries]
    qmat = np.asarray([q[1] for q in queries], dtype=np.float64)
    cos_all = _cosine_matrix_udf(qmat)

    sims = corpus.select(
        F.col(id_col), cos_all(F.col(vec_col)).alias("sims")
    ).select(
        id_col,
        F.explode(
            F.arrays_zip(
                F.array(*[F.lit(q) for q in qids]).alias("query_id"),
                F.col("sims").alias("cos"),
            )
        ).alias("z"),
    ).select(
        F.col("z.query_id").alias("query_id"),
        F.col(id_col).alias("neighbor_id"),
        F.round(F.col("z.cos"), 6).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    return (
        sims.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("query_id", "rk", "neighbor_id", "cos")
    )


def lloyd_partial_round(
    corpus: DataFrame,
    vec_col: str,
    cent_norm: np.ndarray,
    accumulate_raw: bool = False,
) -> tuple[np.ndarray, np.ndarray]:
    """One distributed Lloyd round, shared by the IVF quantizer and
    semdedup's quantized k-means: assign each vector to its
    argmax-cosine cell of ``cent_norm`` (pre-normalized (k, dim)), and
    return per-cell member sums + counts.  ONE job: an Arrow
    ``mapInPandas`` emits per-partition partial sums (≤ k rows per
    partition, k·dim doubles), reduced JVM-side via posexplode +
    groupBy(cell, pos) — only k·dim tiny rows ever reach the driver,
    never corpus vectors.  ``accumulate_raw`` sums raw member vectors
    (semdedup's mean-of-raw contract); the default sums L2-normalized
    members (the spherical-k-means update)."""
    k_eff, dim = cent_norm.shape

    def partials(batches, _c=cent_norm):
        sums = np.zeros((k_eff, dim))
        cnts = np.zeros(k_eff, dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            raw = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            vn = raw / np.maximum(
                np.linalg.norm(raw, axis=1, keepdims=True), 1e-12
            )
            cells = np.argmax(vn @ _c.T, axis=1)
            np.add.at(sums, cells, raw if accumulate_raw else vn)
            cnts += np.bincount(cells, minlength=k_eff)
        nz = np.nonzero(cnts)[0]
        yield pd.DataFrame(
            {
                "cell": nz.astype("int32"),
                "cnt": cnts[nz],
                "vsum": [sums[i].tolist() for i in nz],
            }
        )

    red = (
        corpus.select(vec_col)
        .mapInPandas(partials, "cell int, cnt long, vsum array<double>")
        .select("cell", "cnt", F.posexplode("vsum").alias("pos", "v"))
        .groupBy("cell", "pos")
        .agg(F.sum("v").alias("s"), F.sum("cnt").alias("c"))
        .collect()
    )
    sums = np.zeros((k_eff, dim))
    cnts = np.zeros(k_eff, dtype=np.int64)
    for r in red:
        sums[r["cell"], r["pos"]] = r["s"]
        if r["pos"] == 0:
            cnts[r["cell"]] = r["c"]
    return sums, cnts


def fit_ivf_centroids(
    corpus: DataFrame,
    nlist: int = 16,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> np.ndarray:
    """Spherical k-means coarse quantizer, fit distributed.

    Deterministic seeding (the ``nlist`` rows with the smallest
    ``xxhash64(id)``), then ``iters`` Lloyd rounds via
    ``lloyd_partial_round``.  Empty cells keep their previous
    centroid.  Returns L2-normalized (nlist, dim)."""
    seeds = (
        corpus.select(id_col, vec_col)
        .withColumn("_h", F.xxhash64(F.col(id_col)))
        .orderBy("_h", id_col)
        .limit(nlist)
        .collect()
    )
    cent = np.vstack([np.asarray(r[vec_col], dtype=np.float64) for r in seeds])
    cent /= np.maximum(np.linalg.norm(cent, axis=1, keepdims=True), 1e-12)

    for _ in range(iters):
        sums, cnts = lloyd_partial_round(corpus, vec_col, cent)
        new = cent.copy()
        live = cnts > 0
        new[live] = sums[live] / cnts[live, None]
        new /= np.maximum(np.linalg.norm(new, axis=1, keepdims=True), 1e-12)
        cent = new
    return cent


def _cell_udf(cent: np.ndarray):
    """nearest-centroid cell id per vector (argmax cosine, one matmul
    per Arrow batch; ties break to the lowest cell id via argmax)."""

    @F.pandas_udf(T.IntegerType())
    def cell_of(vs: pd.Series) -> pd.Series:
        mat = np.vstack(vs.to_numpy()).astype(np.float64)
        mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        return pd.Series(np.argmax(mat @ cent.T, axis=1).astype(np.int32))

    return cell_of


def ivf_topk(
    corpus: DataFrame,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    nlist: int = 16,
    n_probe: int = 4,
    iters: int = 2,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """ANN top-k via an IVF coarse quantizer.

    The corpus is assigned to ``nlist`` cells once (write-time at
    scale — pass precomputed ``centroids`` to skip the fit); each query
    probes its ``n_probe`` nearest cells, candidates come from an
    equi-join on the cell id (broadcast of the tiny (query, cell) probe
    table — the corpus is never crossed with the query set), exact
    cosine rank inside the probed cells.  ``n_probe == nlist`` probes
    everything and is exactly brute force."""
    cent = (
        fit_ivf_centroids(corpus, nlist, iters, vec_col, id_col)
        if centroids is None
        else centroids
    )
    qids = [q[0] for q in queries]
    qmat = np.asarray([q[1] for q in queries], dtype=np.float64)
    qn = qmat / np.maximum(np.linalg.norm(qmat, axis=1, keepdims=True), 1e-12)
    order = np.argsort(-(qn @ cent.T), axis=1, kind="stable")
    probe_rows = [
        (qid, int(c))
        for qid, row in zip(qids, order)
        for c in row[: min(n_probe, cent.shape[0])]
    ]
    spark = corpus.sparkSession
    probes = spark.createDataFrame(probe_rows, "query_id int, cell int")

    assigned = corpus.select(
        F.col(id_col), F.col(vec_col), _cell_udf(cent)(F.col(vec_col)).alias("cell")
    )
    cand = assigned.join(F.broadcast(probes), "cell").select(
        "query_id", F.col(id_col).alias("neighbor_id"), vec_col
    )
    cos_all = _cosine_matrix_udf(qmat)
    sims = cand.withColumn("sims", cos_all(F.col(vec_col))).select(
        "query_id",
        "neighbor_id",
        F.round(
            F.element_at(
                "sims",
                F.array_position(
                    F.array(*[F.lit(q) for q in qids]), F.col("query_id")
                ).cast("int"),
            ),
            6,
        ).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        sims.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("query_id", "rk", "neighbor_id", "cos")
    )


def lsh_topk(
    corpus: DataFrame,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 8,
    seed: int = 7,
) -> DataFrame:
    """ANN top-k: random-hyperplane bucket + exact rank inside bucket.

    Recall < 1 by construction; multi-probe = flipping one signature
    bit per probe.  The corpus is bucketed once (write-time at scale);
    queries broadcast as a tiny bucket list."""
    first = corpus.select(F.size(vec_col).alias("d")).first()
    dim = first["d"]
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim))

    @F.pandas_udf(T.LongType())
    def bucket(vs: pd.Series) -> pd.Series:
        mat = np.vstack(vs.to_numpy()).astype(np.float64)
        bits = (mat @ planes.T) > 0
        return pd.Series(
            (bits.astype(np.uint64) << np.arange(n_planes, dtype=np.uint64))
            .sum(axis=1)
            .astype(np.int64)
        )

    qids = [q[0] for q in queries]
    qmat = np.asarray([q[1] for q in queries], dtype=np.float64)
    qbits = (qmat @ planes.T) > 0
    qbuckets = (
        (qbits.astype(np.uint64) << np.arange(n_planes, dtype=np.uint64))
        .sum(axis=1)
        .astype(np.int64)
    )
    # query dim table incl. 1-bit-flip probes
    probe_rows = []
    for qid, b in zip(qids, qbuckets.tolist()):
        probe_rows.append((qid, b))
        for bit in range(n_planes):
            probe_rows.append((qid, b ^ (1 << bit)))
    spark = corpus.sparkSession
    probes = spark.createDataFrame(probe_rows, "query_id int, bkt long").distinct()

    cos_all = _cosine_matrix_udf(qmat)
    bucketed = corpus.select(
        F.col(id_col), F.col(vec_col), bucket(F.col(vec_col)).alias("bkt")
    )
    cand = bucketed.join(F.broadcast(probes), "bkt").select(
        "query_id", F.col(id_col).alias("neighbor_id"), vec_col
    )
    sims = cand.withColumn("sims", cos_all(F.col(vec_col))).select(
        "query_id",
        "neighbor_id",
        F.round(
            F.element_at(
                "sims",
                # position of this row's query in the query matrix (1-based)
                F.array_position(
                    F.array(*[F.lit(q) for q in qids]), F.col("query_id")
                ).cast("int"),
            ),
            6,
        ).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        sims.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("query_id", "rk", "neighbor_id", "cos")
    )


# --------------------------------------------------- product quantization


def fit_pq_codebooks(
    corpus: DataFrame,
    m: int = 4,
    k_sub: int = 8,
    iters: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> np.ndarray:
    """Product-quantization codebooks (Jégou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011): the vector
    is split into ``m`` equal subspaces and each gets its own k-means
    codebook of ``k_sub`` centroids (Euclidean).  Returns
    (m, k_sub, dim/m) float64.

    Determinism contract (same device as semdedup's quantized
    k-means): seeds = the subvectors of the ``k_sub`` LOWEST-ID
    embeddings; assignment by squared-L2 argmin with ties to the
    lowest cell; every mean update rounded to 6 decimals so a SQL
    replay bit-agrees.  ``iters=0`` returns the seed codebooks
    unchanged — the fully-SQL-replayable configuration the driver row
    uses; Lloyd-improved fits are pinned against numpy in pytest.

    Scale posture: each round is ONE job — an Arrow ``mapInPandas``
    emits per-partition partial sums for ALL m subspaces at once
    (≤ m·k_sub rows × dim/m doubles per partition), reduced JVM-side
    via posexplode + groupBy(sub, cell, pos); only m·k_sub·dim/m =
    k_sub·dim doubles reach the driver, never corpus vectors.
    """
    first = corpus.select(F.size(vec_col).alias("d")).first()
    dim = first["d"]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    seeds = corpus.select(id_col, vec_col).orderBy(id_col).limit(k_sub).collect()
    cbs = np.stack(
        [
            np.vstack(
                [
                    np.asarray(r[vec_col], dtype=np.float64)[
                        s * dsub : (s + 1) * dsub
                    ]
                    for r in seeds
                ]
            )
            for s in range(m)
        ]
    )  # (m, k_sub, dsub)

    for _ in range(iters):

        def partials(batches, _cb=cbs):
            sums = np.zeros((m, k_sub, dsub))
            cnts = np.zeros((m, k_sub), dtype=np.int64)
            for pdf in batches:
                if not len(pdf):
                    continue
                X = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
                for s in range(m):
                    Xs = X[:, s * dsub : (s + 1) * dsub]
                    # full squared distance (same form as the encode
                    # UDF and the pytest numpy replay); argmin ties
                    # break to the lowest cell
                    d2 = (
                        (Xs[:, None, :] - _cb[s][None, :, :]) ** 2
                    ).sum(axis=2)
                    cells = np.argmin(d2, axis=1)
                    np.add.at(sums[s], cells, Xs)
                    cnts[s] += np.bincount(cells, minlength=k_sub)
            rows = []
            for s in range(m):
                for c in np.nonzero(cnts[s])[0]:
                    rows.append(
                        (int(s), int(c), int(cnts[s, c]), sums[s, c].tolist())
                    )
            yield pd.DataFrame(
                rows, columns=["sub", "cell", "cnt", "vsum"]
            )

        red = (
            corpus.select(vec_col)
            .mapInPandas(
                partials, "sub int, cell int, cnt long, vsum array<double>"
            )
            .select("sub", "cell", F.posexplode("vsum").alias("pos", "v"), "cnt")
            .groupBy("sub", "cell", "pos")
            .agg(F.sum("v").alias("s"), F.sum("cnt").alias("c"))
            .collect()
        )
        sums = np.zeros((m, k_sub, dsub))
        cnts = np.zeros((m, k_sub), dtype=np.int64)
        for r in red:
            sums[r["sub"], r["cell"], r["pos"]] = r["s"]
            if r["pos"] == 0:
                cnts[r["sub"], r["cell"]] = r["c"]
        live = cnts > 0
        for s in range(m):
            for c in np.nonzero(live[s])[0]:
                cbs[s, c] = np.round(sums[s, c] / cnts[s, c], 6)
    return cbs


def _pq_encode_udf(cbs: np.ndarray):
    """codes per vector: array<int> of length m, code[s] = squared-L2
    argmin cell in subspace s (ties -> lowest cell).  The FULL
    squared distance is computed and quantized to 6 decimals before
    the argmin — the cross-engine float contract that lets a SQL
    replay (ROUND(dist, 6) + lowest-cell tie-break) reproduce every
    code exactly."""
    m, k_sub, dsub = cbs.shape

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def encode(vs: pd.Series) -> pd.Series:
        X = np.vstack(vs.to_numpy()).astype(np.float64)
        codes = np.empty((len(X), m), dtype=np.int32)
        for s in range(m):
            Xs = X[:, s * dsub : (s + 1) * dsub]
            d2 = ((Xs[:, None, :] - cbs[s][None, :, :]) ** 2).sum(axis=2)
            codes[:, s] = np.argmin(np.round(d2, 6), axis=1)
        return pd.Series(list(codes))

    return encode


def pq_topk(
    corpus: DataFrame,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    m: int = 4,
    k_sub: int = 8,
    iters: int = 0,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    codebooks: np.ndarray | None = None,
) -> DataFrame:
    """ANN top-k via product quantization with asymmetric distance
    computation (ADC): the corpus is stored as m-byte codes (encode is
    write-time at scale — pass precomputed ``codebooks``); each query
    precomputes an (m, k_sub) table of squared L2 distances from its
    subvectors to every codebook entry, and a candidate's approximate
    distance is m table lookups summed — never a full-vector scan at
    query time.  The memory story at 10^12 vectors: m·log2(k_sub) bits
    per vector instead of dim·32.

    Cross-engine float contract: every (query, sub, cell) table entry
    is quantized to 6 decimals BEFORE the m-way sum, so the ADC value
    is a sum of a few 6dp-granular doubles — exact in both engines —
    and ranking by (adc asc, neighbor asc) is identical by
    construction, not merely with high probability.  Output:
    (query_id, rk, neighbor_id, adc).
    """
    cbs = (
        fit_pq_codebooks(corpus, m, k_sub, iters, vec_col, id_col)
        if codebooks is None
        else codebooks
    )
    m_, k_, dsub = cbs.shape
    qids = [q[0] for q in queries]
    qmat = np.asarray([q[1] for q in queries], dtype=np.float64)
    # (nq, m, k_sub) distance tables
    tables = np.round(
        np.stack(
            [
                np.stack(
                    [
                        (
                            (qmat[:, s * dsub : (s + 1) * dsub] - cbs[s, c])
                            ** 2
                        ).sum(axis=1)
                        for c in range(k_)
                    ],
                    axis=1,
                )
                for s in range(m_)
            ],
            axis=1,
        ),
        6,
    )

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def adc_all(codes: pd.Series) -> pd.Series:
        C = np.vstack(codes.to_numpy())  # (n, m)
        n = len(C)
        out = np.zeros((n, len(qids)))
        for s in range(m_):
            # tables[:, s, :][:, C[:, s]] -> (nq, n)
            out += tables[:, s, :][:, C[:, s]].T
        return pd.Series(list(out))

    encoded = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _pq_encode_udf(cbs)(F.col(vec_col)).alias("code"),
    )
    sims = encoded.withColumn("adcs", adc_all(F.col("code"))).select(
        F.explode(
            F.arrays_zip(
                F.array(*[F.lit(q) for q in qids]).alias("query_id"),
                F.col("adcs").alias("adc"),
            )
        ).alias("z"),
        "neighbor_id",
    ).select(
        F.col("z.query_id").cast("int").alias("query_id"),
        "neighbor_id",
        F.round("z.adc", 6).alias("adc"),
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc"), F.asc("neighbor_id"))
    return (
        sims.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("query_id", "rk", "neighbor_id", "adc")
    )


def rrf_fuse(
    lists,
    id_col: str = "doc_id",
    score_col: str = "score",
    k: int = 10,
    c: float = 60.0,
    max_candidates: int | None = 100_000,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al., SIGIR 2009) of two or
    more ranked candidate lists — the standard way to combine the
    sparse (``stats.bm25_topk``) and dense (``brute_force_topk`` /
    ``ivf_topk`` / ``pq_topk``) legs of a hybrid retrieval stack
    without score calibration::

        rrf(d) = sum over lists L containing d of 1 / (c + rank_L(d))

    Each input DataFrame must expose (``id_col``, ``score_col``);
    rank within a list is recomputed here as ``row_number`` over
    (score desc, id asc) — the same total order every ``*_topk``
    operator in this engine emits, so fusion is deterministic and
    cross-engine exact (the emitted ``rrf_score`` is 6dp-rounded per
    the tfidf_topk rule; 1/(c+rank) gaps at rank <= a few hundred are
    >> 1e-6, so rounding never merges distinct ranks).

    Scale contract: inputs are CANDIDATE LISTS — the bounded top-k
    output of an upstream retrieval operator (<= thousands of rows),
    never a corpus.  The per-list rank window is unpartitioned, which
    is exactly right at that size (one task over k rows); the fusion
    itself is a union + groupBy on the id, and the final top-k
    compiles to TakeOrderedAndProject.  The contract is ENFORCED:
    ``max_candidates`` (default 100k) caps each input list and a
    larger list raises — feeding a corpus through the unpartitioned
    rank window must fail loudly at list size, not melt a cluster at
    100 TB.  Pass ``max_candidates=None`` only when the caller
    guarantees the bound structurally.

    Output: (id_col, n_lists, rrf_score), ordered by fused score desc
    then id asc, limited to ``k``.
    """
    lists = list(lists)
    if len(lists) < 2:
        raise ValueError("rrf_fuse needs at least two ranked lists")
    if max_candidates is not None:
        # bounded probe FIRST, on the raw list: at most one row beyond
        # the cap is ever computed or fetched, so an oversized (corpus)
        # input fails before anything is materialized.  A list within
        # the cap comes back whole, and the fusion below reads these
        # collected rows instead of computing each leg a second
        # time — no checkpoint or cache is left to release.
        spark = lists[0].sparkSession
        probed = []
        for i, df in enumerate(lists):
            df = df.select(id_col, score_col)
            rows = df.limit(int(max_candidates) + 1).collect()
            if len(rows) > max_candidates:
                raise ValueError(
                    f"rrf_fuse: input list {i} exceeds max_candidates"
                    f"={max_candidates}; inputs must be bounded top-k"
                    " candidate lists, not corpora (raise the cap or"
                    " pass max_candidates=None only with a structural"
                    " bound)"
                )
            probed.append(spark.createDataFrame(rows, df.schema))
        lists = probed
    fused = None
    for df in lists:
        w = Window.orderBy(F.desc(score_col), F.asc(id_col))
        part = (
            df.select(id_col, score_col)
            .withColumn("_rk", F.row_number().over(w))
            .select(
                id_col,
                (
                    F.lit(1.0) / (F.lit(float(c)) + F.col("_rk"))
                ).alias("_part"),
            )
        )
        fused = part if fused is None else fused.unionByName(part)
    return (
        fused.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lists"),
            F.round(F.sum("_part"), 6).alias("rrf_score"),
        )
        .orderBy(F.desc("rrf_score"), F.asc(id_col))
        .limit(k)
    )


def pool_embeddings(
    df: DataFrame,
    dim: int,
    group_col: str = "label",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """Element-wise mean pooling of embedding vectors per group — the
    centroid step behind semantic clustering, class prototypes, and
    conversation-level embeddings (mean of turn embeddings).

    Spark-first with a KNOWN dim: the group reduction is ``dim``
    scalar ``sum(vec[i])`` aggregates built at plan time — ONE
    shuffle with map-side partial aggregation (shuffle volume =
    groups × dim, never rows × dim), whole-stage codegen, no
    explode and no Python.  Elements are cast to double BEFORE
    summing and the mean is rounded to ``round_dp`` so the result is
    reproducible across engines and partition orders to the emitted
    precision.  (For unknown/ragged dim the posexplode → groupBy
    (group, pos) → sort-assemble form is the fallback; fixed-dim
    model embeddings never need it.)

    Output: (group_col, n_vecs, centroid array<double>).
    """
    sums = [
        F.sum(F.col(vec_col)[i].cast("double")).alias(f"_s{i}")
        for i in range(dim)
    ]
    agg = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_vecs"), *sums
    )
    centroid = F.array(
        *[
            F.round(F.col(f"_s{i}") / F.col("n_vecs"), round_dp)
            for i in range(dim)
        ]
    )
    return agg.select(group_col, "n_vecs", centroid.alias("centroid"))
