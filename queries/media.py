"""Media family: the multimodal UDTF, Arrow decode and resize plumbing
over synthesized video/image payloads."""

from __future__ import annotations

from pyspark.sql import functions as F


def _q_media_frame_sample(spark, sf_dir):
    """Multimodal UDTF plumbing: every-4th frame sampling over video
    payloads (mapInPandas generator).  frame_hash is pinned by pytest;
    the driver row verifies ids/indices by value."""
    from sqlfeatureextraction_spark.operators.multimodal import (
        sample_frames,
        synth_media,
    )

    media = synth_media(spark, n=64)
    return sample_frames(media, every_n=4).select("media_id", "frame_idx")


def _q_media_features(spark, sf_dir):
    """Multimodal decode plumbing: Arrow-batched feature extraction over
    binary payloads (deterministic fake decoder); verifies the schema,
    kind filter, and histogram-normalization invariant by value."""
    from sqlfeatureextraction_spark.operators.multimodal import (
        extract_media_features,
        synth_media,
    )

    media = synth_media(spark, n=64)
    return extract_media_features(media, fake=True).select(
        "media_id",
        "kind",
        F.size("feat_hist").alias("n_bins"),
        F.round(
            F.aggregate("feat_hist", F.lit(0.0), lambda a, x: a + x), 4
        ).alias("hist_sum"),
    )


def _q_media_resize(spark, sf_dir):
    """Multimodal resize plumbing, composed through TWO real-pixel
    mapInPandas stages: valid PPM payloads → nearest-neighbor resize to
    16×12 (re-encoded PPM, meta updated) → REAL decode + feature
    extraction of the resized payloads.  Structural facts (dims, exact
    payload byte size = 13-byte header + 16·12·3, histogram norm) are
    generator-derivable for the oracle; pixel-level nearest-neighbor
    exactness is pinned in tests/test_multimodal_reorg.py."""
    from sqlfeatureextraction_spark.operators.multimodal import (
        extract_media_features,
        resize_images,
        synth_media,
    )

    media = synth_media(spark, n=64, real_images=True)
    small = resize_images(media, out_w=16, out_h=12)
    feats = extract_media_features(
        small.withColumn("kind", F.lit("image")), fake=False
    )
    return small.select(
        "media_id",
        F.col("meta.width").alias("new_w"),
        F.col("meta.height").alias("new_h"),
        F.length("payload").alias("n_bytes"),
    ).join(
        feats.select(
            "media_id",
            F.size("feat_hist").alias("n_bins"),
            F.round(
                F.aggregate("feat_hist", F.lit(0.0), lambda a, x: a + x), 4
            ).alias("hist_sum"),
        ),
        "media_id",
    )


ORACLE = {
    # synth_media is a closed-form table: videos are i%3==2 with
    # n_frames = 16 + i%4; every-4th sampling → k*4 < n_frames
    "media_frame_sample": """
            SELECT i AS media_id, CAST(k * 4 AS INT) AS frame_idx
            FROM range(64) t(i), range(5) s(k)
            WHERE i % 3 = 2 AND k * 4 < 16 + i % 4
        """,
    # images are i%3==0; the 8-bin histogram is normalized, so each
    # row's invariant projection is closed-form
    "media_features": """
            SELECT i AS media_id, 'image' AS kind,
                   8 AS n_bins, 1.0 AS hist_sum
            FROM range(64) t(i) WHERE i % 3 = 0
        """,
    # resized payload = 'P6\\n16 12\\n255\\n' (13 bytes) + 16*12*3
    # raster = 589 bytes exactly; dims from the resize args;
    # histogram over any pixels normalizes to 1
    "media_resize": """
            SELECT i AS media_id, 16 AS new_w, 12 AS new_h,
                   589 AS n_bytes, 8 AS n_bins, 1.0 AS hist_sum
            FROM range(64) t(i) WHERE i % 3 = 0
        """,
}
