"""Per-operator profile of a headline query: runs it with the Spark UI
enabled and dumps the SQL-tab node metrics (the guide §1.1/§7.1 empirical
loop, scripted since the sandbox has no browser).

Usage: python tools/profile_query.py <query_name> [n_runs]

Prints every plan node of the LAST execution with its key metrics
(time in aggregate/scan/shuffle, rows, bytes), plus per-stage task time
from the status API. Not part of the bench contract — a debugging tool.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

from hannigan_conjunctisviribus_ploscompbio_2017_spark.queries_testdata import (  # noqa: E402
    QUERIES,
)
from hannigan_conjunctisviribus_ploscompbio_2017_spark.session import (  # noqa: E402
    _LOCAL_CPUS,
    _driver_memory,
)


def get_profiling_spark(cpus: str) -> SparkSession:
    """session.py's config with the UI turned on (port 4045)."""
    return (
        SparkSession.builder.appName("profile")
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", "4045")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", _driver_memory())
        .getOrCreate()
    )


def api(path: str):
    with urllib.request.urlopen(f"http://localhost:4045/api/v1/{path}") as r:
        return json.loads(r.read())


def main() -> None:
    name = sys.argv[1]
    n_runs = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = _LOCAL_CPUS
    spark = get_profiling_spark(cpus)
    spark.sparkContext.setLogLevel("WARN")

    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    timings = []
    for i in range(n_runs):
        spark.sparkContext.setJobDescription(f"profile {name} run{i}")
        t0 = time.time()
        QUERIES[name](spark, sf_dir).count()
        timings.append(round(time.time() - t0, 3))
    print(f"## {name}: runs {timings} (last run profiled)")

    app_id = api("applications")[0]["id"]
    execs = api(f"applications/{app_id}/sql?length=1000")
    # every execution belonging to the last run (a query can run several
    # Spark SQL executions: eager centroid collects, checkpoints, count)
    last = [e for e in execs if f"run{n_runs - 1}" in (e.get("description") or "")]
    total_exec_ms = 0
    for e in last:
        total_exec_ms += e.get("duration", 0)
    print(f"executions in last run: {len(last)}, sum duration {total_exec_ms} ms")
    for e in last:
        detail = api(f"applications/{app_id}/sql/{e['id']}?details=true&planDescription=false")
        print(f"\n=== execution {e['id']} ({e.get('duration')} ms) ===")
        nodes = detail.get("nodes", [])
        for nd in nodes:
            ms = []
            for m in nd.get("metrics", []):
                nm, v = m.get("name", ""), m.get("value", "")
                if any(k in nm for k in (
                    "time", "rows", "dataSize", "bytes", "spill",
                )):
                    ms.append(f"{nm}={v}")
            if ms:
                print(f"  [{nd['nodeId']:>3}] {nd['nodeName']}: " + "; ".join(ms))

    # per-stage wall from the status API (last run only is hard to slice;
    # dump the slowest 15 stages overall as a cross-check)
    stages = api(f"applications/{app_id}/stages?status=complete")
    stages.sort(key=lambda s: -(s.get("executorRunTime") or 0))
    print("\n== slowest stages (whole session) ==")
    for s in stages[:15]:
        print(
            f"  stage {s['stageId']}: runTime {s['executorRunTime']} ms, "
            f"tasks {s['numCompleteTasks']}, "
            f"input {s.get('inputBytes', 0) >> 10} KiB, "
            f"shuffleRead {s.get('shuffleReadBytes', 0) >> 10} KiB, "
            f"shuffleWrite {s.get('shuffleWriteBytes', 0) >> 10} KiB  "
            f"| {(s.get('description') or s.get('name', ''))[:80]}"
        )


if __name__ == "__main__":
    main()
