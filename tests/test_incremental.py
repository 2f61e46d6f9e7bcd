"""incremental_update: exact touched-entity-only refresh equals a full
recompute, for both a pit-window feature fn and the real flagship
vectorize+window path; composition with the snapshot table."""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from sqlfeatureextraction_spark.operators.incremental import (
    incremental_snapshot_update,
    incremental_update,
)
from sqlfeatureextraction_spark.sources import snaptable
from sqlfeatureextraction_spark.synth import make_transcripts_pdf


@pytest.fixture(scope="module")
def turns(spark):
    pdf = make_transcripts_pdf(n_convs=40, seed=11)
    return spark.createDataFrame(pdf).cache()


def _pit_features(df):
    w = (
        Window.partitionBy("conv_id")
        .orderBy(F.col("ts").cast("timestamp").cast("long"))
        .rangeBetween(-299, 0)
    )
    return df.select(
        "conv_id",
        "turn_idx",
        F.round(F.sum("duration_ms").over(w), 4).alias("w_cost"),
        F.count("*").over(w).alias("w_cnt"),
    )


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_incremental_equals_full_pit(spark, turns):
    # the "new batch": all rows of 1/5 of the conversations (late data
    # for a subset of entities)
    is_new = F.abs(F.xxhash64("conv_id")) % 5 == 0
    old = turns.where(~is_new)
    new = turns.where(is_new)
    assert 0 < new.count() < turns.count()
    old_features = _pit_features(old)
    got = incremental_update(turns, new, old_features, _pit_features)
    assert _sorted_rows(got) == _sorted_rows(_pit_features(turns))


def test_recompute_restricted_to_touched(spark, turns):
    """feature_fn sees ONLY touched entities' rows — the pruning that
    makes a per-append refresh delta-sized at 10^12 turns."""
    is_new = F.abs(F.xxhash64("conv_id")) % 5 == 0
    new = turns.where(is_new)
    seen = {}

    def probing_fn(df):
        seen["keys"] = {r["conv_id"] for r in
                        df.select("conv_id").distinct().collect()}
        return _pit_features(df)

    incremental_update(turns, new, _pit_features(turns.where(~is_new)),
                       probing_fn).count()
    touched = {r["conv_id"] for r in
               new.select("conv_id").distinct().collect()}
    assert seen["keys"] == touched


def test_incremental_equals_full_flagship(spark, turns):
    """Same invariant through the real vectorize → window-features
    flagship path (per-conv PIT contract end-to-end)."""
    from sqlfeatureextraction_spark.config import FeatureConfig
    from sqlfeatureextraction_spark.operators.asof_merge import (
        window_features_merge,
    )
    from sqlfeatureextraction_spark.vocab import fit_vocabulary

    cfg = FeatureConfig()
    vocab = fit_vocabulary(turns)  # fit ONCE on the full table
    layout = vocab.layout(n_grans=len(cfg.granularities_s))

    def fn(df):
        return window_features_merge(df, vocab, cfg, layout).select(
            "conv_id",
            "ts",
            F.round(
                F.aggregate(
                    "window_features", F.lit(0.0),
                    lambda a, x: a + x.cast("double"),
                ),
                4,
            ).alias("feat_sum"),
        )

    is_new = F.abs(F.xxhash64("conv_id")) % 4 == 0
    old_features = fn(turns.where(~is_new))
    got = incremental_update(
        turns, turns.where(is_new), old_features, fn
    )
    assert _sorted_rows(got) == _sorted_rows(fn(turns))


def test_snapshot_composition(spark, turns, tmp_path):
    root = str(tmp_path / "tbl")
    is_new = F.abs(F.xxhash64("conv_id")) % 5 == 0
    s1 = snaptable.append(turns.where(~is_new), root)
    snaptable.append(turns.where(is_new), root)
    old_features = _pit_features(snaptable.read(spark, root, s1))
    got = incremental_snapshot_update(
        spark, root, s1, old_features, _pit_features
    )
    assert _sorted_rows(got) == _sorted_rows(_pit_features(turns))
