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
