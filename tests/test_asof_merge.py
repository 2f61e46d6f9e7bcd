"""One pin for every point-in-time window path: both member selectors
(the JVM ``pit_window.select_members`` and the salted Arrow
``asof_merge.select_members_salted``) × both finishers, across configs,
and the salted pass that finishes anchor rows itself
(``asof_merge.window_features_merge``).

  * the dense finisher's window vectors equal the pandas oracle's;
  * the scalar finisher equals a numpy reduction of those vectors;
  * the two selectors emit the same member rows, row for row;
  * the finished anchor rows equal the oracle's on edge inputs."""

import numpy as np
import pandas as pd
import pytest

from oracle import pandas_oracle as O
from sqlfeatureextraction_spark.config import FeatureConfig
from sqlfeatureextraction_spark.operators import asof_merge
from sqlfeatureextraction_spark.operators.asof_merge import (
    select_members_salted,
    window_features_merge,
)
from sqlfeatureextraction_spark.operators.pit_window import (
    SCALAR_FIELDS,
    dense_finish,
    scalar_finish,
    select_members,
    window_features_builtin,
)
from sqlfeatureextraction_spark.operators.vectorize import (
    with_turn_features,
    with_turn_scalars,
)
from sqlfeatureextraction_spark.vocab import fit_vocabulary

SELECTORS = {"jvm": select_members, "salted": select_members_salted}

# id → (config, sparse turn-vector transport)
CONFIGS = {
    "default": (FeatureConfig(), False),
    "k2n3": (FeatureConfig(top_k_entities=2, top_n_members=3), False),
    # W=61s: salting span shrinks, replication kicks in at many edges
    "w61": (FeatureConfig(window_size_s=61), False),
    # every conversation splits into many salt buckets — overlap
    # replication is exercised everywhere (ROWS_PER_BUCKET = 8, set in
    # the test)
    "salt8": (FeatureConfig(), False),
    "counts": (FeatureConfig(binary_bow=False), False),
    # the sparse struct only changes the transport format; the
    # assembler densifies per representative
    "sparse": (FeatureConfig(), True),
}


@pytest.fixture(scope="module")
def cache():
    """Results shared by the parametrized cases: oracle vectors per
    config, member rows per (config, selector)."""
    return {}


def _oracle(cache, transcripts_pdf, cfg):
    key = (
        "oracle",
        cfg.window_size_s,
        cfg.top_k_entities,
        cfg.top_n_members,
        cfg.binary_bow,
    )
    if key not in cache:
        tokens, roles, tools = O.fit_vocab(transcripts_pdf)
        tv = O.turn_vectors(
            transcripts_pdf, tokens, roles, tools, binary_bow=cfg.binary_bow
        )
        cache[key] = _by_anchor(
            O.window_features(
                tv,
                tools,
                window_s=cfg.window_size_s,
                top_k=cfg.top_k_entities,
                top_n=cfg.top_n_members,
            )
        )
    return cache[key]


def _by_anchor(pdf: pd.DataFrame) -> pd.DataFrame:
    return pdf.sort_values(["conv_id", "ts"]).reset_index(drop=True)


def _member_rows(cache, config_id, selector_id, vec_s, cfg) -> pd.DataFrame:
    key = ("members", config_id, selector_id)
    if key not in cache:
        rows = SELECTORS[selector_id](vec_s, cfg).toPandas()
        cache[key] = rows.sort_values(
            ["conv_id", "ts_sec", "slot_idx", "member_idx"]
        ).reset_index(drop=True)
    return cache[key]


def _assert_vectors_equal(got: pd.DataFrame, exp: pd.DataFrame):
    assert len(got) == len(exp), (len(got), len(exp))
    assert (got["conv_id"].to_numpy() == exp["conv_id"].to_numpy()).all()
    assert (
        pd.to_datetime(got["ts"]).to_numpy()
        == pd.to_datetime(exp["ts"]).to_numpy()
    ).all()
    mg = np.vstack(got["window_features"].to_numpy())
    me = np.vstack(exp["window_features"].to_numpy())
    assert mg.shape == me.shape
    bad = ~np.isclose(mg, me).all(axis=1)
    assert not bad.any(), got.loc[bad, ["conv_id", "ts"]].head(10).to_string()


def _reduce(mat: np.ndarray, n_tools: int, cfg, layout) -> dict:
    """SCALAR_FIELDS of dense window vectors, by numpy: per-segment
    sums over the slot region reshaped to (rows, k·n, turn_w)."""
    k, n, tw = cfg.top_k_entities, cfg.top_n_members, layout.width
    body = mat[:, n_tools:].reshape(len(mat), k * n, tw)
    out = {
        "width": np.full(len(mat), mat.shape[1]),
        "tool_bits": mat[:, :n_tools].sum(axis=1),
        "feat_sum": mat.sum(axis=1),
    }
    for seg in layout.segments:
        lo, hi = seg.offset, seg.offset + seg.width
        out[f"{seg.name}_sum"] = body[:, :, lo:hi].sum(axis=(1, 2))
    return {c: v.astype(np.int64) for c, v in out.items()}


@pytest.mark.parametrize("selector_id", list(SELECTORS))
@pytest.mark.parametrize("config_id", list(CONFIGS))
def test_selectors_and_finishers(
    monkeypatch, cache, transcripts_df, transcripts_pdf, config_id, selector_id
):
    cfg, sparse = CONFIGS[config_id]
    if config_id == "salt8":
        monkeypatch.setattr(asof_merge, "ROWS_PER_BUCKET", 8)
    select = SELECTORS[selector_id]
    v = fit_vocabulary(transcripts_df)
    vec, layout = with_turn_features(transcripts_df, v, cfg, sparse=sparse)

    # dense finisher == the independent pandas oracle
    dense = _by_anchor(
        dense_finish(select(vec, cfg), vec, v, cfg, layout).toPandas()
    )
    _assert_vectors_equal(dense, _oracle(cache, transcripts_pdf, cfg))

    # scalar finisher == numpy reduction of the dense vectors
    vec_s, layout_s = with_turn_scalars(transcripts_df, v, cfg)
    sc = (
        scalar_finish(select(vec_s, cfg), v, cfg, layout_s)
        .toPandas()
        .sort_values(["conv_id", "ts_sec"])
        .reset_index(drop=True)
    )
    assert list(sc.columns) == ["conv_id", "ts_sec", *SCALAR_FIELDS]
    assert (sc["conv_id"].to_numpy() == dense["conv_id"].to_numpy()).all()
    assert (sc["ts_sec"].to_numpy() == dense["ts_sec"].to_numpy()).all()
    mat = np.vstack(dense["window_features"].to_numpy())
    expect = _reduce(mat, len(v.tools), cfg, layout)
    for col in SCALAR_FIELDS:
        assert np.array_equal(sc[col].to_numpy(), expect[col]), col

    # both selectors emit the same member rows, segment sums included
    mine = _member_rows(cache, config_id, selector_id, vec_s, cfg)
    other_id = next(s for s in SELECTORS if s != selector_id)
    other = _member_rows(cache, config_id, other_id, vec_s, cfg)
    assert list(mine.columns) == list(other.columns)
    assert len(mine) == len(other), (len(mine), len(other))
    for col in mine.columns:
        assert np.array_equal(
            mine[col].to_numpy(), other[col].to_numpy()
        ), col


def test_merge_salt_boundary_anchor(spark):
    """Anchors right after a salt-bucket boundary must see context from
    the previous bucket (overlap replication correctness)."""
    from pyspark.sql import types as T

    cfg = FeatureConfig(window_size_s=300)
    span = 8 * 300
    base = 1704067200
    # align so rows straddle a span boundary within one window
    rows = []
    for i, off in enumerate([span - 250, span - 100, span + 10, span + 40]):
        rows.append(
            ("c1", i, "user", f"tok{i}", "search", 100 + i, base // span * span + off)
        )
    pdf = pd.DataFrame(
        rows,
        columns=["conv_id", "turn_idx", "role", "text", "tool", "duration_ms", "ts_sec"],
    )
    pdf["ts"] = pd.to_datetime(pdf["ts_sec"], unit="s")
    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType()),
            T.StructField("turn_idx", T.IntegerType()),
            T.StructField("role", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("tool", T.StringType()),
            T.StructField("duration_ms", T.LongType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    df = spark.createDataFrame(pdf[[f.name for f in schema.fields]], schema)
    v = fit_vocabulary(df)
    vec, layout = with_turn_features(df, v, cfg)
    a = window_features_builtin(vec, v, cfg, layout).toPandas()
    b = window_features_merge(df, v, cfg, layout).toPandas()
    _assert_vectors_equal(_by_anchor(a), _by_anchor(b))
    # the anchor at span+10 must include the (span-250, span-100) members:
    # its window vector cannot be all-zero beyond the tool intent bits
    m = np.vstack(b.sort_values("ts")["window_features"].to_numpy())
    n_tools = layout.seg("tool").width
    assert m[2, n_tools:].sum() > layout.width / 10  # members present


def _edge_transcripts() -> pd.DataFrame:
    """Hand-built turns for the finished-row pass:
      * "a": three turns in one epoch second whose turn_idx order is not
        their ts order, different vectors, NULL tools and a NULL text,
        and a session break before them;
      * "b": a one-turn conversation;
      * "c": 12 turns 250 s apart — with ROWS_PER_BUCKET = 8 it splits
        into two salt buckets and the row at +2250 s is replicated."""
    base = pd.Timestamp("2024-01-01 00:00:00")
    a = [
        (0, 0.0, "user", "hello world", None, 100),
        (1, 0.4, "assistant", "search docs", "search", 200),
        (2, 0.9, "tool", "result one", "search", 50),
        (3, 30.2, "assistant", "hello world", None, 100),
        # session break (gap > 1800 s), then one second holding three
        # turns; turn 6 is stamped before turn 5
        (4, 4000.1, "user", "new session", "calc", 10),
        (6, 4000.2, "tool", "calc two", "calc", 30),
        (5, 4000.5, "assistant", "calc two", "calc", 10),
        (7, 4100.0, "user", None, None, None),
    ]
    rows = [("a", *r) for r in a]
    rows.append(("b", 0, 50.0, "user", "lonely turn", "search", 5))
    rows += [
        ("c", i, 250.0 * i, "user" if i % 2 else "assistant",
         f"step {i % 3}", ("search", "calc", None)[i % 3], 10 * (i % 4) + 1)
        for i in range(12)
    ]
    pdf = pd.DataFrame(
        rows,
        columns=["conv_id", "turn_idx", "off", "role", "text", "tool",
                 "duration_ms"],
    )
    pdf["ts"] = base + pd.to_timedelta(pdf.pop("off"), unit="s")
    pdf["duration_ms"] = pdf["duration_ms"].astype("Int64")
    return pdf


@pytest.mark.parametrize(
    "rows_per_bucket", [65536, 8], ids=["dense", "dense-salt8"]
)
def test_window_merge_finished_rows_edges(monkeypatch, spark, rows_per_bucket):
    """window_features_merge's finished anchor rows, from sessionized
    raw turns, against the pandas oracle: the window vector, and the
    last turn's (max turn_idx) features, session_id and turn_idx at
    each epoch second, with ts from its first turn."""
    from pyspark.sql import types as T

    from sqlfeatureextraction_spark.operators.sessionize import sessionize

    monkeypatch.setattr(asof_merge, "ROWS_PER_BUCKET", rows_per_bucket)
    cfg = FeatureConfig()
    pdf = _edge_transcripts()
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
    df = spark.createDataFrame(pdf[[f.name for f in schema.fields]], schema)
    v = fit_vocabulary(df)
    layout = v.layout(n_grans=len(cfg.granularities_s))
    got = (
        window_features_merge(sessionize(df), v, cfg, layout)
        .toPandas()
        .sort_values(["conv_id", "ts_sec"])
        .reset_index(drop=True)
    )
    assert list(got.columns) == [
        "conv_id", "ts_sec", "features", "session_id", "turn_idx", "ts",
        "window_features",
    ]

    pdf["duration_ms"] = pdf["duration_ms"].astype(float)
    tokens, roles, tools = O.fit_vocab(pdf)
    tv = O.turn_vectors(pdf, tokens, roles, tools)
    tv["session_id"] = O.sessionize(pdf)["session_id"].to_numpy()
    last = tv.sort_values("turn_idx").groupby(["conv_id", "ts_sec"]).tail(1)
    exp = _by_anchor(O.window_features(tv, tools))
    exp["ts_sec"] = exp["ts"].astype("datetime64[s]").astype("int64")
    exp = exp.merge(
        last[["conv_id", "ts_sec", "vector", "session_id", "turn_idx"]],
        on=["conv_id", "ts_sec"],
    )
    assert len(exp) == 17  # distinct seconds: a 4, b 1, c 12
    _assert_vectors_equal(got, exp)
    assert (got["ts_sec"].to_numpy() == exp["ts_sec"].to_numpy()).all()
    assert (got["turn_idx"].to_numpy() == exp["turn_idx"].to_numpy()).all()
    assert (got["session_id"].to_numpy() == exp["session_id"].to_numpy()).all()
    feats = np.vstack(got["features"].to_numpy())
    assert np.allclose(feats, np.vstack(exp["vector"].to_numpy()))
