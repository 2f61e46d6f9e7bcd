"""The salted sort-merge path must equal the built-in rangeBetween path
(and therefore the pandas oracle) at every (conv_id, ts)."""

import numpy as np
import pandas as pd

from sqlfeatureextraction_spark.config import FeatureConfig
from sqlfeatureextraction_spark.operators.asof_merge import window_features_merge
from sqlfeatureextraction_spark.operators.pit_window import window_features_builtin
from sqlfeatureextraction_spark.operators.vectorize import with_turn_features
from sqlfeatureextraction_spark.vocab import fit_vocabulary


def _both(transcripts_df, cfg):
    v = fit_vocabulary(transcripts_df)
    vec, layout = with_turn_features(transcripts_df, v, cfg)
    a = window_features_builtin(vec, v, cfg, layout).toPandas()
    b = window_features_merge(vec, v, cfg, layout).toPandas()
    a = a.sort_values(["conv_id", "ts"]).reset_index(drop=True)
    b = b.sort_values(["conv_id", "ts"]).reset_index(drop=True)
    return a, b


def _assert_equal(a: pd.DataFrame, b: pd.DataFrame):
    assert len(a) == len(b), (len(a), len(b))
    assert (a["conv_id"] == b["conv_id"]).all()
    assert (
        pd.to_datetime(a["ts"]).to_numpy() == pd.to_datetime(b["ts"]).to_numpy()
    ).all()
    ma = np.vstack(a["window_features"].to_numpy())
    mb = np.vstack(b["window_features"].to_numpy())
    assert ma.shape == mb.shape
    bad = ~np.isclose(ma, mb).all(axis=1)
    assert not bad.any(), a.loc[bad, ["conv_id", "ts"]].head(10).to_string()


def test_merge_equals_builtin(transcripts_df):
    a, b = _both(transcripts_df, FeatureConfig())
    _assert_equal(a, b)


def test_scalars_only_matches_array_reduction(transcripts_df):
    """scalars_only=True must equal reducing the full array output —
    for BOTH paths (same matrix scatter, in-UDF reduction)."""
    cfg = FeatureConfig()
    v = fit_vocabulary(transcripts_df)
    vec, layout = with_turn_features(transcripts_df, v, cfg)
    n_tools = len(v.tools)
    for path in (window_features_builtin, window_features_merge):
        full = (
            path(vec, v, cfg, layout)
            .toPandas()
            .sort_values(["conv_id", "ts_sec"])
            .reset_index(drop=True)
        )
        sc = (
            path(vec, v, cfg, layout, scalars_only=True)
            .toPandas()
            .sort_values(["conv_id", "ts_sec"])
            .reset_index(drop=True)
        )
        mat = np.vstack(full["window_features"].to_numpy())
        assert (sc["width"] == mat.shape[1]).all()
        assert np.array_equal(
            sc["tool_bits"].to_numpy(),
            mat[:, :n_tools].sum(axis=1).astype(np.int64),
        )
        assert np.array_equal(
            sc["feat_sum"].to_numpy(), mat.sum(axis=1).astype(np.int64)
        )
        # per-segment sums over the slot region (rows, k·n, turn_w)
        k, n, tw = cfg.top_k_entities, cfg.top_n_members, layout.width
        body = mat[:, n_tools:].reshape(len(mat), k * n, tw)
        for seg in layout.segments:
            expect = (
                body[:, :, seg.offset : seg.offset + seg.width]
                .sum(axis=(1, 2))
                .astype(np.int64)
            )
            assert np.array_equal(
                sc[f"{seg.name}_sum"].to_numpy(), expect
            ), seg.name


def test_merge_equals_builtin_topk2_topn3(transcripts_df):
    a, b = _both(
        transcripts_df, FeatureConfig(top_k_entities=2, top_n_members=3)
    )
    _assert_equal(a, b)


def test_merge_equals_builtin_tiny_window(transcripts_df):
    """W=61s: salting span shrinks, replication kicks in at many edges."""
    a, b = _both(transcripts_df, FeatureConfig(window_size_s=61))
    _assert_equal(a, b)


def test_merge_equals_builtin_forced_salting(transcripts_df):
    """merge_rows_per_bucket=8 forces every conversation to split into
    many salt buckets — overlap replication is exercised everywhere."""
    a, b = _both(
        transcripts_df, FeatureConfig(merge_rows_per_bucket=8)
    )
    _assert_equal(a, b)


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
    b = window_features_merge(vec, v, cfg, layout).toPandas()
    _assert_equal(
        a.sort_values(["conv_id", "ts"]).reset_index(drop=True),
        b.sort_values(["conv_id", "ts"]).reset_index(drop=True),
    )
    # the anchor at span+10 must include the (span-250, span-100) members:
    # its window vector cannot be all-zero beyond the tool intent bits
    m = np.vstack(b.sort_values("ts")["window_features"].to_numpy())
    n_tools = layout.seg("tool").width
    assert m[2, n_tools:].sum() > layout.width / 10  # members present


def test_sparse_turn_features_equal_dense(transcripts_df):
    """sparse=True turn vectors must produce bit-identical window
    vectors on BOTH window paths (the sparse struct only changes the
    transport format; the assembler densifies per representative)."""
    cfg = FeatureConfig()
    v = fit_vocabulary(transcripts_df)
    vec_d, layout = with_turn_features(transcripts_df, v, cfg)
    vec_s, _ = with_turn_features(transcripts_df, v, cfg, sparse=True)
    for path in (window_features_builtin, window_features_merge):
        a = (
            path(vec_d, v, cfg, layout)
            .toPandas()
            .sort_values(["conv_id", "ts"])
            .reset_index(drop=True)
        )
        b = (
            path(vec_s, v, cfg, layout)
            .toPandas()
            .sort_values(["conv_id", "ts"])
            .reset_index(drop=True)
        )
        _assert_equal(a, b)


def test_scalar_fast_path_matches_assembler(transcripts_df):
    """r6 narrow scalar pipeline (with_turn_scalars +
    window_feature_scalars — no wide vector, no feature join, no
    assembly UDF) must equal the matrix-scatter scalars_only path on
    every column, for several configs."""
    from sqlfeatureextraction_spark.operators.pit_window import (
        SCALAR_FIELDS,
        window_feature_scalars,
    )
    from sqlfeatureextraction_spark.operators.vectorize import (
        with_turn_scalars,
    )

    for cfg in (
        FeatureConfig(),
        FeatureConfig(top_k_entities=2, top_n_members=3),
        FeatureConfig(window_size_s=61),
        FeatureConfig(binary_bow=False),
    ):
        v = fit_vocabulary(transcripts_df)
        vec, layout = with_turn_features(transcripts_df, v, cfg)
        old = (
            window_features_builtin(vec, v, cfg, layout, scalars_only=True)
            .select("conv_id", "ts_sec", *SCALAR_FIELDS)
            .toPandas()
            .sort_values(["conv_id", "ts_sec"])
            .reset_index(drop=True)
        )
        vec_s, layout_s = with_turn_scalars(transcripts_df, v, cfg)
        new = (
            window_feature_scalars(vec_s, v, cfg, layout_s)
            .select("conv_id", "ts_sec", *SCALAR_FIELDS)
            .toPandas()
            .sort_values(["conv_id", "ts_sec"])
            .reset_index(drop=True)
        )
        assert len(old) == len(new), (cfg, len(old), len(new))
        for col in old.columns:
            assert np.array_equal(
                old[col].to_numpy(), new[col].to_numpy()
            ), (cfg, col)
