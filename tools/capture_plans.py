"""Capture `.explain("formatted")` for every headline bench query into
<dir>/<name>_<tag>.txt — before/after plan evidence for a change, to
diff by hand.  <dir> is `.scratch/plans/` in the checkout (git-ignored:
plan dumps are not committed), or SPARK_GRAFT_PLANS_DIR when set (an
absolute path is used as is, a relative one under `.scratch/plans/`).

Usage: python tools/capture_plans.py <tag> [name ...]
  tag:   suffix for the plan files (before / after)
  name:  optional subset of query names; default = every HEADLINE query.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE  # noqa: E402
from hannigan_conjunctisviribus_ploscompbio_2017_spark.queries_testdata import (  # noqa: E402
    QUERIES,
)
from hannigan_conjunctisviribus_ploscompbio_2017_spark.session import get_spark  # noqa: E402


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    only = set(sys.argv[2:])
    unknown = sorted(only - set(QUERIES))
    if unknown:
        sys.exit(f"unknown query names: {', '.join(unknown)}")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_dir = os.path.join(
        root, ".scratch", "plans", os.environ.get("SPARK_GRAFT_PLANS_DIR", "")
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("capture-plans")
    targets = list(HEADLINE)
    headline_names = {n for _, n in HEADLINE}
    # registry entries outside the headline suite are addressable too
    targets += [(name, name) for name in sorted(only - headline_names)]
    for label, name in targets:
        if only and name not in only:
            continue
        spark.sparkContext.setJobDescription(f"plan-capture {name}")
        df = QUERIES[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(f"# {label} {name} @ {sf_dir} — explain('formatted')\n")
            f.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange mentions)")
    spark.sparkContext.setJobDescription(None)


if __name__ == "__main__":
    main()
