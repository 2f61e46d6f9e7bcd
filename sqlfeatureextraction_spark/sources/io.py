"""Scans and sinks (SURVEY §2.1).

S1  raw log TSV scan           read_raw_log_tsv
S5  encoded-line sink          write_encoded_lines
S6  encoded-line source        read_encoded_lines (round-trip)
    parquet/Iceberg scan       read_transcripts (Iceberg jars absent in
                               this sandbox → parquet fallback behind an
                               import/config try)

The reference's S1 (tools/IOUtil.java:53-100) reads a header TSV,
applies ORDER-DEPENDENT seeded jitter (shared Random(999) — SURVEY
§4.4.2) and sorts globally in heap.  Here jitter, when requested, is a
pure hash of the row key (order-independent), filtering/parse are
column expressions pushed to the scan, and nothing is materialized
driver-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_transcripts(
    spark: SparkSession, path: str, snapshot_id: int | None = None
) -> DataFrame:
    """Read a transcripts table.  Tries Iceberg (`catalog.db.table`
    identifiers) when the runtime has it; recognizes a snaptable root
    (the Iceberg-shaped snapshot layer, sources/snaptable.py) and
    honors time-travel by snapshot id there; falls back to parquet."""
    if "/" not in path and "." in path:
        try:
            reader = spark.read.format("iceberg")
            if snapshot_id is not None:
                reader = reader.option("snapshot-id", str(snapshot_id))
            return reader.load(path)
        except Exception:  # Iceberg jars not on classpath in sandbox
            pass
    from . import snaptable

    if snaptable.is_snap_table(path):
        return snaptable.read(spark, path, snapshot_id)
    if snapshot_id is not None:
        # a plain parquet path cannot honor a time-travel pin —
        # returning current data here would be silently wrong
        raise ValueError(
            f"snapshot_id={snapshot_id} requested but {path!r} is "
            "neither an Iceberg identifier nor a snapshot-table root"
        )
    return spark.read.parquet(path)


def read_raw_log_tsv(
    spark: SparkSession,
    path: str,
    ts_col: str = "event_time",
    ts_fmt: str = "yyyy/M/d HH:mm",
    jitter: bool = False,
) -> DataFrame:
    """S1: header TSV scan with typed parse + optional deterministic
    sub-minute jitter keyed by row content hash (replaces the
    reference's order-dependent Random(999), tools/IOUtil.java:63-81)."""
    df = spark.read.option("sep", "\t").option("header", True).csv(path)
    ts = F.to_timestamp(F.col(ts_col), ts_fmt)
    if jitter:
        h = F.xxhash64(*[F.col(c) for c in df.columns])
        ts = F.timestamp_seconds(
            ts.cast("long") + F.pmod(h, F.lit(60))
        )
    return df.withColumn("ts", ts)


def read_session_log_lines(
    spark: SparkSession,
    path: str,
    keep_pattern: str = "Query",
    start_line: int = 0,
) -> DataFrame:
    """S4: raw session-log line scan — keep lines containing
    `keep_pattern`, whitespace-normalize, skip a resume offset
    (reference: enc/APMFragmentIntent.java:848-1002 countLines* +
    MINC_START_LINE_NUM resume).

    The resume offset needs a REAL contiguous line number:
    ``monotonically_increasing_id`` jumps by 2^33 per partition, so a
    ``>= start_line`` filter on it would only ever drop rows from
    partition 0 of a multi-partition input.  ``zipWithIndex`` assigns
    the true global index (one extra partition-size count job — the
    price of sequential resume semantics over a line-oriented log; at
    scale prefer checkpoint.CheckpointedRun's keyed buckets)."""
    raw = spark.read.text(path)
    if start_line > 0:
        indexed = raw.rdd.zipWithIndex().map(lambda p: (p[0]["value"], p[1]))
        raw = spark.createDataFrame(indexed, "value string, _idx long").where(
            F.col("_idx") >= start_line
        )
    return raw.where(F.col("value").contains(keep_pattern)).select(
        F.trim(F.regexp_replace("value", r"\s+", " ")).alias("line")
    )


def write_metrics(metrics: DataFrame, path: str) -> None:
    """S7 metric sink: one JSON line per metric row (the reference
    pushes windowed metrics to JDBC/HTTP sinks, sender/
    DruidQueryJDBCExecutor.java:236-280 — out of engine scope here, so
    the sink is a line-JSON directory any collector can tail)."""
    metrics.coalesce(1).write.mode("overwrite").json(path)


ENCODED_LINE_PAT = r"^Session (.+?), Query (\d+); OrigQuery:(.*);([01]*)$"


def encoded_line_expr(vector_col: str = "window_features"):
    """S5 line format expression:
    ``Session <conv_id>, Query <epoch>; OrigQuery:<text>;<bits>``
    (format: enc/APMWindowFragmentIntent.java:183-199)."""
    bits = F.array_join(
        F.transform(F.col(vector_col), lambda v: v.cast("int").cast("string")),
        "",
    )
    return F.format_string(
        "Session %s, Query %d; OrigQuery:%s;%s",
        F.col("conv_id"),
        F.col("ts").cast("timestamp").cast("long"),
        F.coalesce(F.col("text"), F.lit("")),
        bits,
    )


def parse_encoded_line(col) -> list:
    """S6 parse expressions (the exact inverse of encoded_line_expr) —
    regexp extraction, all JVM-side (reference parser:
    tools/IOUtil.java:177-206)."""
    vec_str = F.regexp_extract(col, ENCODED_LINE_PAT, 4)
    return [
        F.regexp_extract(col, ENCODED_LINE_PAT, 1).alias("conv_id"),
        F.timestamp_seconds(
            F.regexp_extract(col, ENCODED_LINE_PAT, 2).cast("long")
        ).alias("ts"),
        F.regexp_extract(col, ENCODED_LINE_PAT, 3).alias("text"),
        F.transform(
            F.split(vec_str, "(?!$)"), lambda c: c.cast("double")
        ).alias("window_features"),
    ]


def write_encoded_lines(
    features: DataFrame,
    path: str,
    batch_size: int = 1000,
    vector_col: str = "window_features",
) -> None:
    """S5: line-oriented sink, one text line per feature row.  File
    size is bounded per task via maxRecordsPerFile — the Spark-native
    version of the reference's 1000-line batch files
    (enc/APMWindowFragmentIntent.java:500)."""
    (
        features.select(encoded_line_expr(vector_col).alias("value"))
        .write.mode("overwrite")
        .option("maxRecordsPerFile", batch_size)
        .text(path)
    )


def read_encoded_lines(spark: SparkSession, path: str) -> DataFrame:
    """S6 round-trip source."""
    return spark.read.text(path).select(*parse_encoded_line(F.col("value")))
