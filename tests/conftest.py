import itertools
import sys
from pathlib import Path

import pytest

# this checkout's root, so pytest in any checkout tests its own package
ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from hannigan_conjunctisviribus_ploscompbio_2017_spark.session import get_spark

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pytest")
    yield s


def edges_df(spark, pairs, weights=None, group=None):
    """Tiny edge-list helper: pairs [(src,dst),...] → DataFrame."""
    rows = []
    for i, (s, d) in enumerate(pairs):
        row = {"src": s, "dst": d}
        if weights is not None:
            row["weight"] = float(weights[i])
        if group is not None:
            row["g"] = group
        rows.append(row)
    return spark.createDataFrame(rows)


def count_jobs(spark, fn) -> int:
    """The number of Spark jobs `fn()` runs, counted by job group."""
    sc = spark.sparkContext
    gid = f"count_jobs_{next(_job_groups)}"
    sc.setJobGroup(gid, gid)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    return len(sc.statusTracker().getJobIdsForGroup(gid))


_job_groups = itertools.count()
