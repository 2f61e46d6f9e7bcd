import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sqlfeatureextraction_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", parallelism=8, shuffle_partitions=8)
    yield s


def count_actions(spark, fn):
    """Run ``fn()`` under a fresh job group; return (result, jobs of the
    group, SQL executions started).  Counted by execution id, not by an
    ``executionsCount()`` delta, which the store's eviction breaks."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    store = spark._jsparkSession.sharedState().statusStore()

    def execution_ids():
        bus.waitUntilEmpty()
        execs = store.executionsList()
        return [execs.apply(i).executionId() for i in range(execs.size())]

    before = max(execution_ids(), default=-1)
    group = f"count_actions_{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n_exec = sum(i > before for i in execution_ids())
    return result, len(sc.statusTracker().getJobIdsForGroup(group)), n_exec


def stage_slice_file(spark, tmp_path, pdf, name, mtime):
    """Write a pandas frame as ONE parquet file at tmp_path/name with a
    pinned mtime — the staging step for mtime-ordered micro-batch
    replays (the file source consumes files oldest-mtime-first, one per
    trigger with maxFilesPerTrigger=1).  Returns the Spark schema.
    Shared by the streaming replay tests; scripts/stream_bench.py keeps
    its own variant because it additionally handles empty slices."""
    tmp = str(tmp_path / "_w")
    sdf = spark.createDataFrame(pdf)
    sdf.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = next((tmp_path / "_w").glob("part-*.parquet"))
    (tmp_path / name).write_bytes(part.read_bytes())
    os.utime(tmp_path / name, (mtime, mtime))
    return sdf.schema


@pytest.fixture(scope="session")
def transcripts_pdf():
    from sqlfeatureextraction_spark.synth import make_transcripts_pdf

    return make_transcripts_pdf(n_convs=60, seed=42)


@pytest.fixture(scope="session")
def transcripts_df(spark, transcripts_pdf):
    from pyspark.sql import types as T

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
    cols = [f.name for f in schema.fields]
    df = spark.createDataFrame(transcripts_pdf[cols], schema=schema)
    df = df.repartition(8, "conv_id").cache()
    df.count()
    return df
