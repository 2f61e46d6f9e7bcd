"""End-to-end spine: vocab fit → per-turn vectors → point-in-time window
features, Spark vs the independent pandas oracle, numpy.allclose at
every (conv_id, ts).  (SURVEY §7.1 minimum slice.)"""

from datetime import datetime, timedelta

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import types as T

from oracle import pandas_oracle as O
from sqlfeatureextraction_spark.config import DEFAULT_GRANULARITIES, FeatureConfig
from sqlfeatureextraction_spark.operators import asof_merge
from sqlfeatureextraction_spark.operators.pit_window import TURN_SUMS
from sqlfeatureextraction_spark.operators.vectorize import (
    _cell_builder,
    sparse_rows,
    with_turn_features,
)
from sqlfeatureextraction_spark.vocab import Vocabulary, fit_vocabulary

CFG = FeatureConfig()


def _engine_turn_vectors(df, vocab, cfg):
    """The window engine's own encoding of every turn: its input
    projection (``asof_merge._inputs``) and per-group encode step
    (``asof_merge._encode``), emitting the sparse ``struct<idx, val>``
    transport its passes scatter from, with vec_hash."""
    import pyarrow as pa

    _, cells = _cell_builder(vocab, cfg)

    def encode(batches):
        table, (r, c, v) = asof_merge._encode(batches, cells)
        yield pa.RecordBatch.from_arrays(
            [table[k].combine_chunks() for k in ("conv_id", "turn_idx", "vec_hash")]
            + [sparse_rows(r, c, v, table.num_rows)],
            names=["conv_id", "turn_idx", "vec_hash", "features"],
        )

    return asof_merge._inputs(df).mapInArrow(
        encode,
        "conv_id string, turn_idx int, vec_hash bigint,"
        " features struct<idx:array<int>, val:array<float>>",
    )


def _encoded(df, vocab, cfg, sparse: bool):
    """Per-turn vectors from ``with_turn_features`` (dense) or from the
    window engine's encode step (sparse)."""
    if sparse:
        return _engine_turn_vectors(df, vocab, cfg)
    return with_turn_features(df, vocab, cfg)[0]


def test_vocab_fit_matches_oracle(transcripts_df, transcripts_pdf):
    v = fit_vocabulary(transcripts_df)
    tokens, roles, tools = O.fit_vocab(transcripts_pdf)
    assert v.tokens == tokens
    assert v.roles == roles
    assert v.tools == tools


def test_vocab_roundtrip_df(spark, transcripts_df):
    v = fit_vocabulary(transcripts_df)
    v2 = Vocabulary.from_df(v.to_df(spark))
    assert v2 == v


def test_turn_vectors_match_oracle(transcripts_df, transcripts_pdf):
    v = fit_vocabulary(transcripts_df)
    vec_df, layout = with_turn_features(transcripts_df, v, CFG)
    got = (
        vec_df.select("conv_id", "turn_idx", "lag_sec", "features")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    exp = O.turn_vectors(transcripts_pdf, *O.fit_vocab(transcripts_pdf))
    exp = exp.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)

    assert len(got) == len(exp)
    assert layout.width == len(exp["vector"].iloc[0])
    # lag parity (nulls on first turns)
    pd.testing.assert_series_equal(
        got["lag_sec"].astype("float64"),
        exp["lag_sec"].astype("float64"),
        check_names=False,
    )
    got_mat = np.vstack(got["features"].to_numpy())
    exp_mat = np.vstack(exp["vector"].to_numpy())
    assert np.allclose(got_mat, exp_mat)


def _dense_turn_vectors(vec_df, width: int) -> pd.DataFrame:
    """(conv_id, turn_idx, vec_hash, vector) sorted by (conv_id,
    turn_idx); sparse struct<idx,val> features are densified after
    checking their canonical form (strictly ascending idx)."""
    got = (
        vec_df.select("conv_id", "turn_idx", "vec_hash", "features")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )

    def dense(f):
        if not isinstance(f, dict):
            return np.asarray(f, dtype=np.float64)
        idx = np.asarray(f["idx"], dtype=np.int64)
        assert (np.diff(idx) > 0).all()
        out = np.zeros(width)
        out[idx] = f["val"]
        return out

    got["vector"] = got["features"].map(dense)
    return got.drop(columns="features")


def _assert_vectors_equal(got: pd.DataFrame, exp: pd.DataFrame):
    exp = exp.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert len(got) == len(exp)
    assert (got["conv_id"] == exp["conv_id"]).all()
    assert (got["turn_idx"] == exp["turn_idx"]).all()
    got_mat = np.vstack(got["vector"].to_numpy())
    exp_mat = np.vstack(exp["vector"].to_numpy())
    bad = ~(got_mat == exp_mat).all(axis=1)
    assert not bad.any(), got.loc[bad, ["conv_id", "turn_idx"]].to_string()


@pytest.mark.parametrize(
    "grans",
    [DEFAULT_GRANULARITIES, (3600, 60, 86400, 300)],
    ids=["default_grans", "nonascending_grans"],
)
@pytest.mark.parametrize("binary_bow", [True, False], ids=["binary", "counts"])
@pytest.mark.parametrize("sparse", [False, True], ids=["dense", "sparse"])
def test_turn_encoders_match_oracle(
    transcripts_df, transcripts_pdf, sparse, binary_bow, grans
):
    """Both encodings of the one cell builder — ``with_turn_features``'
    dense array and the window engine's sparse transport — equal the
    oracle turn vector exactly, in every config.  Non-ascending
    granularities make the lag bits a non-prefix pattern; counts make
    duplicate bow cells visible."""
    cfg = FeatureConfig(binary_bow=binary_bow, granularities_s=grans)
    v = fit_vocabulary(transcripts_df)
    layout = v.layout(n_grans=len(grans))
    vec_df = _encoded(transcripts_df, v, cfg, sparse)
    exp = O.turn_vectors(
        transcripts_pdf,
        *O.fit_vocab(transcripts_pdf),
        grans=grans,
        binary_bow=binary_bow,
    )
    _assert_vectors_equal(_dense_turn_vectors(vec_df, layout.width), exp)


@pytest.mark.parametrize("sparse", [False, True], ids=["dense", "sparse"])
def test_turn_encoders_share_vec_hash_on_edge_inputs(spark, sparse):
    """Edge rows through both encodings: NULL role, NULL tool, "" tool,
    empty and NULL text, out-of-vocabulary-only text, a timestamp tie
    (lag 0) and first turns (NULL lag).  Every vector equals the
    oracle's, both encodings emit the same vec_hash (one fingerprint)
    for every row, and every member row of ``select_members_salted``
    carries the per-segment sums of its representative turn's oracle
    vector."""
    t0 = datetime(2024, 3, 4, 9, 15)
    rows = [
        # conv, turn, role, text, tool, duration_ms, ts
        ("e1", 0, "user", "hello world", None, 5, t0),
        ("e1", 1, None, None, "search", None, t0),  # tie: lag 0
        ("e1", 2, "assistant", "", "", 7, t0 + timedelta(seconds=90)),
        ("e1", 3, "user", "zzz qqq", "search", 1, t0 + timedelta(hours=2)),
        ("e1", 4, "tool", "hello Hello calc", "calc", 3, t0 + timedelta(days=2)),
        ("e2", 0, None, "world", None, None, t0 + timedelta(hours=30)),
    ]
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "duration_ms", "ts"]
    pdf = pd.DataFrame(rows, columns=cols)
    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("role", T.StringType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("tool", T.StringType(), True),
            T.StructField("duration_ms", T.LongType(), True),
            T.StructField("ts", T.TimestampType(), False),
        ]
    )
    df = spark.createDataFrame(rows, schema=schema)
    # "tool" role and "calc" tool are out of vocabulary, as are zzz/qqq
    vocab = Vocabulary(
        tokens={"calc": 0, "hello": 1, "world": 2},
        roles={"assistant": 0, "user": 1},
        tools={"": 0, "search": 1},
    )
    # the second config's k·n = 6 member slots reach every turn
    covered = set()
    for cfg in (
        FeatureConfig(),
        FeatureConfig(binary_bow=False, top_k_entities=3, top_n_members=2),
    ):
        layout = vocab.layout(n_grans=len(cfg.granularities_s))
        exp = O.turn_vectors(
            pdf, vocab.tokens, vocab.roles, vocab.tools,
            binary_bow=cfg.binary_bow,
        )
        assert exp["lag_sec"].isna().sum() == 2
        assert (exp["lag_sec"] == 0).sum() == 1
        got = _dense_turn_vectors(_encoded(df, vocab, cfg, sparse), layout.width)
        _assert_vectors_equal(got, exp)
        other = _dense_turn_vectors(
            _encoded(df, vocab, cfg, not sparse), layout.width
        )
        assert (other["vec_hash"] == got["vec_hash"]).all()

        members = asof_merge.select_members_salted(df, vocab, cfg).toPandas()
        sums = {
            (r.conv_id, r.turn_idx): [
                r.vector[s.offset : s.offset + s.width].sum()
                for s in layout.segments
            ]
            for r in exp.itertuples()
        }
        for m in members.itertuples():
            want = sums[(m.conv_id, m.rep_turn_idx)]
            assert [getattr(m, s) for s in TURN_SUMS] == want, m
            covered.add((m.conv_id, m.rep_turn_idx))
    assert covered == set(sums)
    # no two edge rows encode the same vector, so no two hashes collide
    assert got["vec_hash"].nunique() == len(got)


def test_layout_widths_pinned(transcripts_df):
    v = fit_vocabulary(transcripts_df)
    layout = v.layout()
    assert [s.name for s in layout.segments] == [
        "time",
        "role",
        "tool",
        "bow",
        "lag",
    ]
    assert layout.seg("time").width == 31
    assert layout.seg("lag").width == 9
    assert layout.seg("role").width == len(v.roles)
    assert layout.seg("tool").width == len(v.tools)
    assert layout.seg("bow").width == len(v.tokens)
    assert layout.width == 31 + len(v.roles) + len(v.tools) + len(v.tokens) + 9


def test_window_features_match_oracle(transcripts_df, transcripts_pdf):
    v = fit_vocabulary(transcripts_df)
    layout = v.layout(n_grans=len(CFG.granularities_s))
    wf = asof_merge.window_features_merge(transcripts_df, v, CFG, layout)
    got = (
        wf.toPandas()
        .sort_values(["conv_id", "ts"])
        .reset_index(drop=True)
    )

    tokens, roles, tools = O.fit_vocab(transcripts_pdf)
    tv = O.turn_vectors(transcripts_pdf, tokens, roles, tools)
    exp = O.window_features(
        tv, tools, window_s=CFG.window_size_s,
        top_k=CFG.top_k_entities, top_n=CFG.top_n_members,
    ).sort_values(["conv_id", "ts"]).reset_index(drop=True)

    assert len(got) == len(exp), (len(got), len(exp))
    assert (got["conv_id"] == exp["conv_id"]).all()
    got_mat = np.vstack(got["window_features"].to_numpy())
    exp_mat = np.vstack(exp["window_features"].to_numpy())
    assert got_mat.shape == exp_mat.shape
    bad = ~np.isclose(got_mat, exp_mat).all(axis=1)
    assert not bad.any(), got.loc[bad, ["conv_id", "ts"]].head(10).to_string()


def test_zero_leakage_window_features(transcripts_df, transcripts_pdf):
    """Recompute on a time-truncated input: features at (conv_id, ts)
    must be identical when all rows with ts' > ts are removed
    (north-rule zero-leakage invariant)."""
    v = fit_vocabulary(transcripts_df)
    layout = v.layout(n_grans=len(CFG.granularities_s))

    def window_rows(df):
        return (
            asof_merge.window_features_merge(df, v, CFG, layout)
            .select("conv_id", "ts", "window_features")
            .toPandas()
        )

    full = window_rows(transcripts_df)
    cutoff = transcripts_pdf["ts"].quantile(0.5)
    trunc = window_rows(transcripts_df.where(f"ts <= timestamp'{cutoff}'"))

    merged = full.merge(
        trunc, on=["conv_id", "ts"], suffixes=("_full", "_trunc")
    )
    assert len(merged) == len(trunc)
    for _, r in merged.iterrows():
        assert np.allclose(r["window_features_full"], r["window_features_trunc"])
