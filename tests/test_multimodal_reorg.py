"""Multimodal plumbing, W9 lead-chaining, A4 OR-combine."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from sqlfeatureextraction_spark.config import FeatureConfig
from sqlfeatureextraction_spark.operators.multimodal import (
    extract_media_features,
    sample_frames,
    synth_media,
)
from sqlfeatureextraction_spark.operators.reorganize import (
    or_combine_window_features,
    reorganize_sessions,
)


# -------------------------------------------------------------- multimodal


def test_media_feature_extraction_deterministic(spark):
    media = synth_media(spark, n=30)
    f1 = extract_media_features(media, fake=True).toPandas().sort_values("media_id")
    f2 = extract_media_features(media, fake=True).toPandas().sort_values("media_id")
    assert len(f1) == 10  # every 3rd row is an image
    h1 = np.vstack(f1["feat_hist"].to_numpy())
    h2 = np.vstack(f2["feat_hist"].to_numpy())
    assert np.allclose(h1, h2)
    assert np.allclose(h1.sum(axis=1), 1.0)  # normalized histograms
    assert (f1["kind"] == "image").all()


def test_media_real_decode_unknown_format_raises(spark):
    # arbitrary bytes (not PPM/BMP, no PIL in container) must fail loudly
    media = synth_media(spark, n=6, real_images=False)
    with pytest.raises(Exception, match="NotImplementedError|PPM"):
        extract_media_features(media, fake=False).collect()


def test_media_real_decode_ppm_end_to_end(spark):
    """REAL decode path: synth valid PPM payloads, decode via the
    numpy parser inside mapInPandas, check the histogram against an
    independently computed one."""
    from sqlfeatureextraction_spark.operators.multimodal import (
        _decode_ppm,
    )

    media = synth_media(spark, n=30, real_images=True)
    got = (
        extract_media_features(media, fake=False)
        .toPandas()
        .sort_values("media_id")
        .reset_index(drop=True)
    )
    assert len(got) == 10
    payloads = {
        r["media_id"]: bytes(r["payload"])
        for r in media.where("kind='image'").collect()
    }
    for _, row in got.iterrows():
        px = _decode_ppm(payloads[row["media_id"]])
        hist = np.bincount(px.ravel() >> 5, minlength=8) / px.size
        assert np.allclose(np.asarray(row["feat_hist"]), hist)
        assert abs(row["mean_intensity"] - px.mean()) < 1e-9


def test_resize_images_nearest_neighbor_exact(spark):
    """resize_images must emit valid PPM payloads whose pixels equal
    the numpy nearest-neighbor reference (row i <- floor(i*h/out_h),
    col j <- floor(j*w/out_w)) of the original RGB raster, with meta
    dims updated and payload size exactly header + w*h*3."""
    from sqlfeatureextraction_spark.operators.multimodal import (
        _ppm_rgb,
        resize_images,
    )

    out_w, out_h = 16, 12
    media = synth_media(spark, n=30, real_images=True)
    got = (
        resize_images(media, out_w=out_w, out_h=out_h)
        .toPandas()
        .sort_values("media_id")
        .reset_index(drop=True)
    )
    assert len(got) == 10  # the image third of 30
    originals = {
        r["media_id"]: bytes(r["payload"])
        for r in media.where("kind='image'").collect()
    }
    header_len = len(b"P6\n%d %d\n255\n" % (out_w, out_h))
    for _, row in got.iterrows():
        assert row["meta"]["width"] == out_w
        assert row["meta"]["height"] == out_h
        data = bytes(row["payload"])
        assert len(data) == header_len + out_w * out_h * 3
        small = _ppm_rgb(data)
        rgb = _ppm_rgb(originals[row["media_id"]])
        h, w = rgb.shape[:2]
        rows = (np.arange(out_h) * h) // out_h
        cols = (np.arange(out_w) * w) // out_w
        assert (small == rgb[rows][:, cols]).all()


def test_bmp_decoder_roundtrip():
    """Hand-built uncompressed 24-bit BMP (bottom-up, padded rows)
    decodes to the expected grayscale."""
    from sqlfeatureextraction_spark.operators.multimodal import _decode_bmp

    w, h = 3, 2
    rgb = np.arange(w * h * 3, dtype=np.uint8).reshape(h, w, 3)
    stride = (w * 3 + 3) & ~3
    raster = b""
    for y in range(h - 1, -1, -1):  # bottom-up
        row = rgb[y][:, ::-1].tobytes()  # BGR order
        raster += row + b"\x00" * (stride - len(row))
    off = 14 + 40
    header = (
        b"BM"
        + (off + len(raster)).to_bytes(4, "little")
        + b"\x00\x00\x00\x00"
        + off.to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + h.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")
        + len(raster).to_bytes(4, "little")
        + b"\x00" * 16
    )
    got = _decode_bmp(header + raster)
    exp = (rgb.astype(np.uint16).sum(axis=2) // 3).astype(np.uint8)
    assert (got == exp).all()


def test_frame_sampling(spark):
    media = synth_media(spark, n=30)
    frames = sample_frames(media, every_n=4, fake=True).toPandas()
    metas = media.where("kind='video'").select("media_id", "meta.n_frames").toPandas()
    exp = sum(len(range(0, int(n), 4)) for n in metas["n_frames"])
    assert len(frames) == exp
    assert (frames["frame_idx"] % 4 == 0).all()
    # same payload+index → same hash (determinism)
    again = sample_frames(media, every_n=4, fake=True).toPandas()
    m = frames.merge(again, on=["media_id", "frame_idx"])
    assert (m["frame_hash_x"] == m["frame_hash_y"]).all()


# ----------------------------------------------------------- W9 lead-chain


def test_reorganize_sessions_hand_case(spark):
    # ts = 0, 100, 400, 900 (s); W = 300
    # chain from 0:   0 → first ts > 300 → 400 → first > 700 → 900
    # chain from 100: 100 → first > 400 → 900
    # chain from 400: 400 → first > 700 → 900
    # chain from 900: 900
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [("c", base + dt.timedelta(seconds=s)) for s in (0, 100, 400, 900)]
    df = spark.createDataFrame(rows, "conv_id string, ts timestamp")
    got = reorganize_sessions(df, window_s=300).toPandas()
    got["ts_s"] = (
        got["ts"].astype("datetime64[s]").astype("int64")
        - int(base.replace(tzinfo=dt.timezone.utc).timestamp())
    )
    base_sec = int(base.replace(tzinfo=dt.timezone.utc).timestamp())
    chains = {
        int(s - base_sec): list(g.sort_values("seq")["ts_s"])
        for s, g in got.groupby("chain_start_sec")
    }
    assert chains == {
        0: [0, 400, 900],
        100: [100, 900],
        400: [400, 900],
        900: [900],
    }


def test_reorganize_distributed_equals_local(transcripts_df):
    """The bucketed hop-map formulation must reproduce the local
    pandas path row-for-row on the fixture (hot conversation, ties,
    session gaps, single-turn convs) — with rows_per_bucket forced
    tiny so the multi-bucket probe/suffix machinery is exercised."""
    from sqlfeatureextraction_spark.operators.reorganize import (
        reorganize_sessions_distributed,
    )

    loc = (
        reorganize_sessions(transcripts_df, window_s=900, max_hops=6)
        .toPandas()
    )
    dist = reorganize_sessions_distributed(
        transcripts_df, window_s=900, max_hops=6, rows_per_bucket=64
    ).toPandas()
    key = ["conv_id", "chain_start_sec", "seq", "ts"]
    lo = loc.sort_values(key, kind="mergesort").reset_index(drop=True)
    di = dist.sort_values(key, kind="mergesort").reset_index(drop=True)
    assert len(lo) == len(di)
    pd.testing.assert_frame_equal(lo[key], di[key], check_dtype=False)


def test_reorganize_distributed_hand_case(spark):
    """Every chain ends before max_hops=32, so the walk stops at the
    first empty frontier: levels 1, 2 and the empty level 3 are 3 SQL
    executions, not max_hops - 1 = 31."""
    import datetime as dt

    from conftest import count_actions

    from sqlfeatureextraction_spark.operators.reorganize import (
        reorganize_sessions_distributed,
    )

    base = dt.datetime(2024, 1, 1)
    rows = [("c", base + dt.timedelta(seconds=s)) for s in (0, 100, 400, 900)]
    df = spark.createDataFrame(rows, "conv_id string, ts timestamp")
    dist, _, n_exec = count_actions(
        spark,
        lambda: reorganize_sessions_distributed(
            df, window_s=300, rows_per_bucket=2
        ),
    )
    assert n_exec == 3
    base_sec = int(base.replace(tzinfo=dt.timezone.utc).timestamp())

    def chains(out):
        got = out.toPandas()
        got["ts_s"] = (
            got["ts"].astype("datetime64[s]").astype("int64") - base_sec
        )
        return {
            int(s - base_sec): sorted(g.sort_values("seq")["ts_s"])
            for s, g in got.groupby("chain_start_sec")
        }

    assert chains(dist) == chains(reorganize_sessions(df, window_s=300)) == {
        0: [0, 400, 900],
        100: [100, 900],
        400: [400, 900],
        900: [900],
    }


def test_reorganize_distributed_long_entity_and_cache_cleanup(spark):
    """The generic entity API must hold for non-string entity columns
    (output schema is derived from the input, not hardcoded string),
    and the call must free the two intermediates it persists: the
    CacheManager holds no new entry after it, nor after the result is
    read."""
    import datetime as dt

    from sqlfeatureextraction_spark.operators.reorganize import (
        reorganize_sessions,
        reorganize_sessions_distributed,
    )

    base = dt.datetime(2024, 1, 1)
    rows = [
        (uid, base + dt.timedelta(seconds=s))
        for uid in (7, 8)
        for s in (0, 100, 400, 900)
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    cache = spark._jsparkSession.sharedState().cacheManager()
    n_cached = cache.numCachedEntries()
    got = reorganize_sessions_distributed(
        df,
        window_s=300,
        rows_per_bucket=2,
        entity_col="user_id",
    )
    assert cache.numCachedEntries() == n_cached
    assert got.schema["user_id"].dataType.simpleString() == "bigint"
    loc = reorganize_sessions(
        df, window_s=300, entity_col="user_id"
    ).toPandas()
    key = ["user_id", "chain_start_sec", "seq", "ts"]
    lo = loc.sort_values(key, kind="mergesort").reset_index(drop=True)
    di = (
        got.toPandas().sort_values(key, kind="mergesort").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(lo[key], di[key], check_dtype=False)
    assert cache.numCachedEntries() == n_cached


# ----------------------------------------------------------- A4 OR-combine


def test_or_combine_matches_oracle(transcripts_df, transcripts_pdf):
    from oracle import pandas_oracle as O
    from sqlfeatureextraction_spark.operators.vectorize import with_turn_features
    from sqlfeatureextraction_spark.vocab import fit_vocabulary

    cfg = FeatureConfig()
    v = fit_vocabulary(transcripts_df)
    vec, layout = with_turn_features(transcripts_df, v, cfg)
    got = (
        or_combine_window_features(vec, cfg)
        .toPandas()
        .sort_values(["conv_id", "ts"])
        .reset_index(drop=True)
    )

    tokens, roles, tools = O.fit_vocab(transcripts_pdf)
    tv = O.turn_vectors(transcripts_pdf, tokens, roles, tools)
    # oracle: per distinct (conv, ts), OR of member vectors
    exp_rows = []
    for conv_id, g in tv.groupby("conv_id", sort=True):
        g = g.sort_values(["ts_sec", "turn_idx"])
        for ts_end in sorted(g["ts_sec"].unique()):
            mem = g[(g["ts_sec"] > ts_end - 300) & (g["ts_sec"] <= ts_end)]
            exp_rows.append(
                {
                    "conv_id": conv_id,
                    "ts_sec": ts_end,
                    "v": np.maximum.reduce(np.vstack(mem["vector"].to_numpy())),
                }
            )
    exp = pd.DataFrame(exp_rows).sort_values(["conv_id", "ts_sec"]).reset_index(
        drop=True
    )
    assert len(got) == len(exp)
    gm = np.vstack(got["window_features_or"].to_numpy())
    em = np.vstack(exp["v"].to_numpy())
    assert np.allclose(gm, em)


def test_or_combine_sparse_equals_dense(transcripts_df):
    """Sparse struct<idx,val> turn vectors through or_combine must
    yield the same dense OR vectors as the dense transport (the
    ADVICE-flagged crash path)."""
    import pytest

    from sqlfeatureextraction_spark.operators.vectorize import with_turn_features
    from sqlfeatureextraction_spark.vocab import fit_vocabulary

    cfg = FeatureConfig()
    v = fit_vocabulary(transcripts_df)
    vec_d, layout = with_turn_features(transcripts_df, v, cfg)
    vec_s, _ = with_turn_features(transcripts_df, v, cfg, sparse=True)

    with pytest.raises(ValueError, match="width"):
        or_combine_window_features(vec_s, cfg)

    got_d = (
        or_combine_window_features(vec_d, cfg)
        .toPandas()
        .sort_values(["conv_id", "ts"])
        .reset_index(drop=True)
    )
    got_s = (
        or_combine_window_features(vec_s, cfg, width=layout.width)
        .toPandas()
        .sort_values(["conv_id", "ts"])
        .reset_index(drop=True)
    )
    assert len(got_d) == len(got_s)
    dm = np.vstack(got_d["window_features_or"].to_numpy())
    sm = np.vstack(got_s["window_features_or"].to_numpy())
    assert np.array_equal(dm, sm)
