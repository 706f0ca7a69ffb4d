"""Capture `.explain("formatted")` for registry entries into
<dir>/<name>_<tag>.txt — before/after plan evidence for a change, to
diff by hand — and audit each plan for anti-patterns (guide §7.2)
without running jobs beyond what plan construction itself needs (eager
centroid/codebook resolves).  <dir> is `.scratch/plans/` in the checkout
(git-ignored: plan dumps are not committed), or SPARK_GRAFT_PLANS_DIR
when set (an absolute path is used as is, a relative one under
`.scratch/plans/`).  Plans are built at $SPARK_GRAFT_SF_DIR.

Usage: python tools/capture_plans.py <tag> [name-or-pattern ...]
  tag:      suffix for the plan files (before / after)
  pattern:  registry names or shell patterns ('gk_*'; '*' = the whole
            registry); default = every HEADLINE query.

One line per entry with its node counts (Exchange, BroadcastExchange,
SortMergeJoin, CartesianProduct, BatchEvalPython, ArrowEvalPython);
BatchEvalPython (row-at-a-time Python), CartesianProduct (non-broadcast
cross join) and SortMergeJoin (worth an eye at this data scale) flag the
entry, as does a plan that fails to build (PLAN-ERROR).  Ends with the
flagged summary.
"""

from __future__ import annotations

import fnmatch
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE, SF_DIR  # noqa: E402
from hannigan_conjunctisviribus_ploscompbio_2017_spark.queries_testdata import (  # noqa: E402
    QUERIES,
)
from hannigan_conjunctisviribus_ploscompbio_2017_spark.session import get_spark  # noqa: E402

# count name -> pattern over the formatted plan; the numbered detail
# headers "(n) Exchange" count each exchange node once
COUNTS = {
    "ex": r"\(\d+\) Exchange\b",
    "bcast": r"\(\d+\) BroadcastExchange\b",
    "smj": r"SortMergeJoin",
    "cart": r"CartesianProduct",
    "bep": r"BatchEvalPython",
    "arrowpy": r"ArrowEvalPython",
}
FLAGS = {"bep": "BatchEvalPython", "cart": "CartesianProduct", "smj": "SMJ"}


def plan_counts(plan: str) -> dict[str, int]:
    return {k: len(re.findall(p, plan)) for k, p in COUNTS.items()}


def audit_line(name: str, counts: dict[str, int]) -> tuple[str, bool]:
    """The entry's report line, and whether it is flagged."""
    flags = [f"{FLAGS[k]}×{counts[k]}" for k in FLAGS if counts[k]]
    line = f"{name:40s} " + " ".join(f"{k}={v:2d}" for k, v in counts.items())
    return line + ("  << " + ", ".join(flags) if flags else ""), bool(flags)


def main(argv: list[str]) -> None:
    tag = argv[0] if argv else "before"
    patterns = argv[1:]
    unmatched = [p for p in patterns if not fnmatch.filter(QUERIES, p)]
    if unmatched:
        sys.exit(f"no registry entry matches: {' '.join(unmatched)}")
    names = sorted({n for p in patterns for n in fnmatch.filter(QUERIES, p)}) or [
        n for _, n in HEADLINE
    ]
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".scratch", "plans", os.environ.get("SPARK_GRAFT_PLANS_DIR", ""),
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("capture-plans")
    flagged: list[str] = []
    for name in names:
        spark.sparkContext.setJobDescription(f"plan-capture {name}")
        try:
            df = QUERIES[name](spark, SF_DIR)
            plan = spark._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # noqa: BLE001
            print(f"{name:40s} PLAN-ERROR {type(e).__name__}: {e}")
            flagged.append(name)
            continue
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(f"# {name} @ {SF_DIR} — explain('formatted')\n")
            f.write(plan)
        line, flag = audit_line(name, plan_counts(plan))
        print(line)
        if flag:
            flagged.append(name)
    spark.sparkContext.setJobDescription(None)
    print(f"\nflagged: {len(flagged)} {flagged}\nplans in {out_dir}")


if __name__ == "__main__":
    main(sys.argv[1:])
