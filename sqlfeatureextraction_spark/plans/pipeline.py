"""End-to-end feature pipeline (the reference's
APMWindowFragmentIntent.main, SURVEY §3.1, re-planned for Spark).

fit:        vocabulary dimension table (driver-side dict, broadcast)
transform:  sessionize → one salted pass that encodes the turns and
            finishes each anchor's point-in-time window vector
split:      deterministic per-conversation train/test split
            (reference 0.8 per session, APMWindowFragmentIntent.java:
            506,560-581 — theirs consumes a shared Random; ours hashes
            conv_id so the split is stable under any partitioning)

Shuffle budget of the whole transform: ONE conv_id exchange feeds the
session and lag windows and the per-conversation salting aggregates
(Window nodes, no aggregate, broadcast or join); ONE (_grp, salt)
exchange feeds the window pass, a single Python stage that encodes the
turns and emits finished rows, so the wide ``features`` array crosses
no exchange at all.  Nothing is cached.  ``split`` and ``write`` add no
exchange.  AQE handles residual skew; explicit salting handles the hot
conversations.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sqlfeatureextraction_spark.config import FeatureConfig
from sqlfeatureextraction_spark.layout import VectorLayout
from sqlfeatureextraction_spark.operators.asof_merge import window_features_merge
from sqlfeatureextraction_spark.operators.sessionize import sessionize
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
        """Sessionized turns, not yet encoded: the window pass encodes
        them after the conv_id exchange of this session window."""
        return sessionize(transcripts, gap_s=self.cfg.session_gap_s)

    def window_features(self, turns: DataFrame) -> DataFrame:
        assert self.vocab is not None and self.layout is not None, (
            "call fit() first"
        )
        return window_features_merge(turns, self.vocab, self.cfg, self.layout)

    def transform(self, transcripts: DataFrame) -> DataFrame:
        """Full per-(conv_id, ts_sec) feature table: (conv_id, ts_sec,
        features, session_id, turn_idx, ts, window_features) — the LAST
        turn's features at each distinct epoch second + the trailing
        window vector, encoded and finished by the window pass itself."""
        return self.window_features(self.turn_features(transcripts))

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
            # the planned write sorts each task by the partition column;
            # led by it, this order is the one that sort keeps
            features.sortWithinPartitions("split", "conv_id", "ts")
            .write.mode("overwrite")
            .option("maxRecordsPerFile", bs)
            .partitionBy("split")
            .parquet(path)
        )
