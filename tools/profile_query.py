"""Per-operator profile of a registry query: runs it in the standard
session (UI off) and dumps the SQL plan-node metrics and stage times of
its last run from the JVM status stores (the guide §1.1/§7.1 empirical
loop, scripted since the sandbox has no browser).

Usage: python tools/profile_query.py <query_name> [n_runs]

Runs the query n_runs times (default 2) at $SPARK_GRAFT_SF_DIR; the last
run is profiled.  Prints every plan node of its SQL executions with the
key metrics (time in aggregate/scan/shuffle, rows, bytes, spill), then
its stages with run time, tasks, input, shuffle and spill bytes.  Not
part of the bench contract — a debugging tool.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import SF_DIR, min_of  # noqa: E402
from hannigan_conjunctisviribus_ploscompbio_2017_spark.queries_testdata import (  # noqa: E402
    QUERIES,
)
from hannigan_conjunctisviribus_ploscompbio_2017_spark.session import get_spark  # noqa: E402

_KEYS = ("time", "rows", "dataSize", "size", "bytes", "spill", "duration")


def _seq(s) -> list:
    """A Scala Seq as a Python list."""
    return [s.apply(i) for i in range(s.size())]


def _opt(o):
    return o.get() if o.isDefined() else None


def main() -> None:
    name = sys.argv[1]
    n_runs = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    spark = get_spark("profile")
    sc = spark.sparkContext
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()

    def run():
        QUERIES[name](spark, SF_DIR).count()

    warm = min_of(n_runs - 1, {name: run})
    desc = f"profile {name}"
    sc.setJobDescription(desc)
    last = min_of(1, {name: run})[name]
    sc.setJobDescription(None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    print(f"## {name} @ {SF_DIR}: profiled run {last:.3f}s"
          + (f", best of {n_runs - 1} warm-up runs {warm[name]:.3f}s" if warm else ""))

    store = spark._jsparkSession.sharedState().statusStore()
    execs = [e for e in _seq(store.executionsList()) if e.description() == desc]
    print(f"executions in the profiled run: {len(execs)}")
    for e in execs:
        eid = e.executionId()
        done = _opt(e.completionTime())
        ms = done.getTime() - e.submissionTime() if done is not None else None
        print(f"\n=== execution {eid} ({ms} ms) ===")
        values = store.executionMetrics(eid)
        for node in _seq(store.planGraph(eid).allNodes()):
            shown = []
            for m in _seq(node.metrics()):
                v = _opt(values.get(m.accumulatorId()))
                if v is not None and any(k in m.name() for k in _KEYS):
                    shown.append(f"{m.name()}={' '.join(v.split())}")
            if shown:
                print(f"  [{node.id():>3}] {node.name()}: " + "; ".join(shown))

    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    stages = [
        s for s in _seq(sc._jsc.sc().statusStore().stageList(None, False, False, no_quantiles, None))
        if _opt(s.description()) == desc and s.numCompleteTasks()
    ]
    print("\n== stages of the profiled run (slowest first) ==")
    for s in sorted(stages, key=lambda s: -s.executorRunTime()):
        print(
            f"  stage {s.stageId()}: runTime {s.executorRunTime()} ms, "
            f"tasks {s.numCompleteTasks()}, "
            f"input {s.inputBytes()} B, "
            f"shuffleRead {s.shuffleReadBytes()} B, "
            f"shuffleWrite {s.shuffleWriteBytes()} B, "
            f"spill {s.memoryBytesSpilled() + s.diskBytesSpilled()} B  "
            f"| {s.name()[:80]}"
        )


if __name__ == "__main__":
    main()
