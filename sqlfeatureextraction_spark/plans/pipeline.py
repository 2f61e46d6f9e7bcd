"""End-to-end feature pipeline (the reference's
APMWindowFragmentIntent.main, SURVEY §3.1, re-planned for Spark).

fit:        vocabulary dimension table (driver-side dict, broadcast)
transform:  per-turn vectors → sessionize → point-in-time window
            features (merge path), joined to each anchor's last turn
split:      deterministic per-conversation train/test split
            (reference 0.8 per session, APMWindowFragmentIntent.java:
            506,560-581 — theirs consumes a shared Random; ours hashes
            conv_id so the split is stable under any partitioning)

Shuffle budget of the whole transform: conv_id window (vectorize lag)
→ conv_id stats+salt groupBy (window features).  AQE handles residual
skew; explicit salting handles the hot conversations.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sqlfeatureextraction_spark.config import FeatureConfig
from sqlfeatureextraction_spark.layout import VectorLayout
from sqlfeatureextraction_spark.operators.asof_merge import window_features_merge
from sqlfeatureextraction_spark.operators.sessionize import sessionize
from sqlfeatureextraction_spark.operators.vectorize import with_turn_features
from sqlfeatureextraction_spark.vocab import Vocabulary, fit_vocabulary


@dataclass
class FeaturePipeline:
    cfg: FeatureConfig
    vocab: Vocabulary | None = None
    layout: VectorLayout | None = None

    def fit(self, transcripts: DataFrame, max_tokens: int | None = None):
        self.vocab = fit_vocabulary(transcripts, max_tokens=max_tokens)
        self.layout = self.vocab.layout(n_grans=len(self.cfg.granularities_s))
        return self

    def turn_features(self, transcripts: DataFrame) -> DataFrame:
        assert self.vocab is not None, "call fit() first"
        vec, self.layout = with_turn_features(transcripts, self.vocab, self.cfg)
        return sessionize(
            vec, gap_s=self.cfg.session_gap_s
        )

    def window_features(self, vec: DataFrame) -> DataFrame:
        assert self.vocab is not None and self.layout is not None
        return window_features_merge(vec, self.vocab, self.cfg, self.layout)

    def transform(self, transcripts: DataFrame) -> DataFrame:
        """Full per-(conv_id, ts) feature table: turn-level features of
        the LAST turn at each distinct ts + the trailing window vector.

        The turn-feature table is cached: it feeds the turn-level
        output, the narrow window pass AND the representative-feature
        join (at cluster scale: materialize it as a table instead)."""
        vec = self.turn_features(transcripts).cache()
        wf = self.window_features(vec)
        # join on the epoch key (conv_id, ts_sec) — the window anchors
        # are per distinct epoch second; joining on full-precision ts
        # would silently drop rows when timestamps carry sub-second
        # components (window output ts = the min-turn_idx row's ts)
        last = vec.groupBy("conv_id", "ts_sec").agg(
            F.max_by("features", "turn_idx").alias("features"),
            F.max_by("session_id", "turn_idx").alias("session_id"),
            F.max("turn_idx").alias("turn_idx"),
        )
        return last.join(wf, ["conv_id", "ts_sec"])

    def split(self, features: DataFrame) -> DataFrame:
        """Deterministic per-conversation split: xxhash64(conv_id)
        bucketed into train/test at cfg.train_ratio.  Adds `split`."""
        bucket = F.pmod(F.xxhash64("conv_id", F.lit(42)), F.lit(1000))
        return features.withColumn(
            "split",
            F.when(
                bucket < int(self.cfg.train_ratio * 1000), F.lit("train")
            ).otherwise(F.lit("test")),
        )

    def write(self, features: DataFrame, path: str, batch_size: int | None = None):
        """Split-partitioned parquet sink with bounded file sizes.

        The reference re-batches output into 1000-line files
        (APMWindowFragmentIntent.java:500) with a driver-side loop; the
        Spark-native equivalent is ``maxRecordsPerFile`` — per-task file
        rolling, no global sort, no single-reducer row_number."""
        bs = batch_size or self.cfg.batch_size
        (
            features.sortWithinPartitions("conv_id", "ts")
            .write.mode("overwrite")
            .option("maxRecordsPerFile", bs)
            .partitionBy("split")
            .parquet(path)
        )
