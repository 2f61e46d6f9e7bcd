"""SparkSession factory with scale-appropriate defaults.

Local mode is a single JVM; design decisions here (AQE, shuffle
partition sizing, Arrow) are the same ones a 1000-executor cluster
wants — only the numbers change with ``spark.sql.shuffle.partitions``.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

_UNITS = {"": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
_CGROUP_LIMITS = (
    "/sys/fs/cgroup/memory.max",  # cgroup v2
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",  # cgroup v1
)


def memory_limit_bytes() -> int:
    """The smaller of physical memory and this process's cgroup memory
    limit (an unlimited cgroup reads "max" or a huge number)."""
    limit = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    for path in _CGROUP_LIMITS:
        try:
            with open(path) as f:
                raw = f.read().strip()
        except OSError:
            continue
        if raw.isdigit():
            limit = min(limit, int(raw))
    return limit


def jvm_size_bytes(size: str) -> int:
    """Bytes in a JVM memory string such as ``512m``, ``6g`` or ``1024``."""
    m = re.fullmatch(r"(\d+)([kmgt]?)b?", size.strip().lower())
    if m is None:
        raise ValueError(f"not a JVM memory size: {size!r}")
    return int(m.group(1)) * _UNITS[m.group(2)]


def driver_memory(requested: str | None, limit: int | None = None) -> str:
    """``spark.driver.memory`` for this box.

    Default: half the memory limit in whole GiB (at least 1g, at most
    48g), leaving the rest to the Python workers, off-heap buffers and
    the page cache.  An explicit ``requested`` size (``SPARK_DRIVER_MEM``)
    is kept as given, but one larger than the limit raises: such a heap
    lets the JVM grow until the kernel kills the process."""
    if limit is None:
        limit = memory_limit_bytes()
    if requested:
        if jvm_size_bytes(requested) > limit:
            raise ValueError(
                f"SPARK_DRIVER_MEM={requested} exceeds this box's memory "
                f"limit of {limit / (1 << 30):.1f} GiB (the smaller of "
                "physical memory and the cgroup limit)"
            )
        return requested
    return f"{max(1, min(48, limit // 2 // (1 << 30)))}g"


def get_spark(
    app_name: str = "sqlfeatureextraction_spark",
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    n_executors: int | None = None,
    executor_mem_mb: int = 6144,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    parallelism        local[N]; defaults to $SPARK_GRAFT_CPUS or 32.
    shuffle_partitions defaults to parallelism (right-sized for local;
                       on a real cluster size to data / 128MB-ish).
    n_executors        if set, use ``local-cluster[n,1,mem]`` instead of
                       local[N]: n REAL executor JVMs (1 core each) on
                       this machine — the N-vs-4N *executor* scaling
                       analog the north rule asks for.  Engine code must
                       then be shipped via addPyFile (see
                       scripts/make_pyfiles_zip.py), exactly as
                       spark-submit --py-files would on a cluster.
    """
    if parallelism is None:
        parallelism = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = parallelism

    master = (
        f"local-cluster[{n_executors},1,{executor_mem_mb}]"
        if n_executors
        else f"local[{parallelism}]"
    )
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(parallelism))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # floor for AQE coalescing: without it a small narrow shuffle
        # (e.g. 4 MB of member structs at test scale) coalesces to
        # ~4 × 1 MB partitions and the CPU-bound Arrow stages lose the
        # cores; at real scale partitions are >= the 64 MB advisory
        # size anyway, so the floor only matters when data is small
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            "256k",
        )
        # split small single-file inputs into >= one split per core —
        # a lone parquet file under maxPartitionBytes otherwise scans
        # (and runs every pre-shuffle expression) on ONE task
        .config("spark.sql.files.minPartitionNum", str(parallelism))
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bigger batches for the narrow Arrow stages (guide §4.2: raise
        # for narrow data — per-batch Python/transpose overhead
        # amortizes 6x), while TIGHTENING the byte cap from its 64m
        # default so wide rows (multimodal payloads) get smaller
        # batches than before, not larger — the byte cap is the actual
        # memory bound, the record cap only matters for narrow rows
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "32768")
        .config("spark.sql.execution.arrow.maxBytesPerBatch", "16m")
        .config(
            "spark.driver.memory",
            driver_memory(os.environ.get("SPARK_DRIVER_MEM")),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if n_executors:
        builder = builder.config(
            "spark.executor.memory", f"{executor_mem_mb}m"
        )
        # Liveness-detection slack for noisy / overcommitted hosts
        # (this sandbox VM shows multi-minute CPU-steal bursts; the
        # same settings are standard on preemptible or oversubscribed
        # cluster nodes): with the 120s default network timeout a
        # burst makes the driver declare healthy executors dead, the
        # worker relaunches them, every relaunch drops the block
        # cache, and the job degrades into a relaunch storm (observed:
        # executor IDs into the 30s for an 8-executor app).  A dead
        # JVM is still detected — just on a timescale longer than a
        # steal burst.
        builder = (
            builder.config("spark.executor.heartbeatInterval", "30s")
            .config("spark.network.timeout", "600s")
            .config("spark.worker.timeout", "600")
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
