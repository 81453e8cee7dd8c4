"""SparkSession factory tuned for the validation engine.

Local-mode defaults mirror what a cluster deployment would set per
executor; the knobs that matter at 100 TB (AQE, skew-join handling,
shuffle partitions sized to input, Arrow batch size) are all explicit
here so the same module configures ``spark-submit`` jobs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# One Arrow batch is the unit of work inside every pandas UDF.  10k rows
# of ~2 KB html ≈ 20 MB per batch — large enough to amortize Arrow
# transfer, small enough to never blow executor memory (the analog of the
# reference's 4096-sample true-peak chunking, true_peak.rs:104-117).
ARROW_BATCH_ROWS = 10_000

# Default driver heap: this share of the host's MemAvailable, capped at
# 48g.  A fixed 48g heap under ParallelGC keeps growing instead of
# collecting, past physical memory on a small host, until the kernel
# OOM-kills the JVM; the rest of MemAvailable is left to the Python
# workers and the page cache.
DRIVER_MEM_HOST_SHARE = 0.6
DRIVER_MEM_CAP_MB = 48 * 1024
DRIVER_MEM_FALLBACK = "48g"


def _mem_available_kb(meminfo: str = "/proc/meminfo") -> int | None:
    """MemAvailable in kB, or None where the host's memory cannot be read."""
    try:
        with open(meminfo) as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    return int(line.split()[1])
    except (OSError, ValueError, IndexError):
        pass
    return None


def default_driver_memory() -> str:
    """The ``spark.driver.memory`` value ``get_spark`` uses.

    ``SPARK_DRIVER_MEM`` wins when set; else min(48g, 60% of
    MemAvailable); else, where the host cannot be read, 48g.
    """
    env = os.environ.get("SPARK_DRIVER_MEM")
    if env:
        return env
    avail_kb = _mem_available_kb()
    if not avail_kb:
        return DRIVER_MEM_FALLBACK
    mb = int(avail_kb * DRIVER_MEM_HOST_SHARE) // 1024
    return DRIVER_MEM_FALLBACK if mb >= DRIVER_MEM_CAP_MB else f"{mb}m"


def get_spark(
    app_name: str = "audio_quality_checker_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores=None`` uses ``local[*]``.  ``shuffle_partitions`` defaults to
    2x cores locally — on a real cluster this is set from input size
    (bytes / 128MB target partition), see plans/validate.py.
    """
    cores_str = "*" if cores is None else str(cores)
    n_cores = (os.cpu_count() or 4) if cores is None else cores
    if shuffle_partitions is None:
        shuffle_partitions = max(8, 2 * n_cores)

    builder = (
        SparkSession.builder.master(f"local[{cores_str}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_BATCH_ROWS),
        )
        # local mode = driver-only: the driver heap IS the cluster memory.
        # Sized from the host (see default_driver_memory) so the features
        # cache for bench-tier corpora (columnar, compressed) plus shuffle
        # buffers fit without GC thrash, and the JVM stays inside physical
        # memory.  Applies only when this call starts the JVM: under
        # spark-submit, --driver-memory decides the heap.
        .config("spark.driver.memory", default_driver_memory())
        # ParallelGC over G1: scans of multi-KB binary columns decompress
        # through JNI critical regions on every task thread; G1's GCLocker
        # stalls under that at high core counts ("Retried waiting for
        # GCLocker too often"), measured 2x slower than ParallelGC on the
        # 32-thread extraction scan (61s vs 33s).
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_DRIVER_JAVA_OPTS", "-XX:+UseParallelGC"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
