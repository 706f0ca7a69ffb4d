"""SparkSession factory tuned for both local testing and cluster scale.

Local runs are ``local[N]`` single-JVM; the configs below are chosen so the
same code paths (AQE, adaptive coalesce, skew-join handling, Arrow transfer)
are exercised locally that we rely on at cluster scale.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Local defaults come from the host: the CPUs this process may run on
# (also the shuffle partition count; on a real cluster AQE coalescing
# overrides it) and a share of physical memory as the driver heap, which
# on local[N] holds every executor.  SPARK_GRAFT_CPUS and
# SPARK_GRAFT_DRIVER_MEM override them.
_LOCAL_CPUS = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
_DRIVER_MEM_SHARE = 0.5  # of MemTotal; the rest is Python workers and page cache


def _driver_memory() -> str:
    if os.environ.get("SPARK_GRAFT_DRIVER_MEM"):
        return os.environ["SPARK_GRAFT_DRIVER_MEM"]
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{int(kb * _DRIVER_MEM_SHARE) // 1024}m"


def get_spark(app_name: str = "hannigan-cvb-spark", cpus: str | None = None) -> SparkSession:
    """Build (or reuse) the tuned SparkSession.

    Scale notes: every config here is also correct on a 1000-executor
    cluster — AQE re-plans shuffles at runtime (partition coalescing +
    skew-join splitting), broadcast threshold keeps dimension tables
    (region/nation/supplier-sized) map-side, and Arrow makes the few
    pandas-UDF operators batch-transfer instead of per-row pickle.
    """
    cpus = cpus or _LOCAL_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        # AQE partition coalescing decides on COMPRESSED SHUFFLE BYTES, not
        # CPU cost, so compute-dense mid-size shuffles (pair-explosion
        # aggregations, self-join closures) get collapsed to 1-4 tasks and
        # lose the whole machine's parallelism — measured 3-5x slower on the
        # headline closure query. shuffle.partitions is already sized to the
        # deployment, so default coalescing OFF; re-enable it (e.g. when
        # running with deliberately over-provisioned shuffle.partitions on a
        # big cluster) via SPARK_GRAFT_AQE_COALESCE=true.
        .config(
            "spark.sql.adaptive.coalescePartitions.enabled",
            os.environ.get("SPARK_GRAFT_AQE_COALESCE", "false"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Broadcast threshold stays at Spark's 10 MB default ON PURPOSE.
        # A 64 MB setting measured 5x slower on the flagship at 8x data:
        # the orders FACT table (12 MB on disk, 1.2M rows) slid under it
        # and was broadcast — the in-memory HashedRelation is an order of
        # magnitude larger than the parquet bytes the estimate sees, and
        # it is built single-threaded on the driver. Scale rule: true
        # dimension tables get explicit F.broadcast() hints in the
        # queries; the auto threshold only mops up genuinely small
        # runtime shuffle outputs via AQE's exact size measurements.
        .config("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    # respect an externally supplied master: spark-submit --master
    # lands in PYSPARK_SUBMIT_ARGS (there is no SPARK_CONF env var in
    # standard Spark), and SPARK_GRAFT_MASTER is the explicit override.
    # Only default to local[...] when neither is present — otherwise a
    # cluster submission would silently run local.
    # PYSPARK_SUBMIT_ARGS covers pyspark-shell-style launches;
    # PYSPARK_GATEWAY_PORT marks the spark-submit path (PythonRunner
    # spawns the driver Python with a pre-existing JVM gateway whose
    # conf already carries the submitted master)
    submitted = (
        "--master" in os.environ.get("PYSPARK_SUBMIT_ARGS", "")
        or "PYSPARK_GATEWAY_PORT" in os.environ
    )
    if not submitted:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
        builder = builder.master(master)
        if master.startswith("local"):
            builder = builder.config("spark.driver.memory", _driver_memory())
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
