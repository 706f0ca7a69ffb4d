"""Regenerate the frozen fixture tables backing the fixture-oracle
entries (deterministic non-SQL solvers).

These queries are exact deterministic computations — CNM agglomeration
with ordered tie-breaks, numpy dense solves, pandas Brandes, seeded
hypergeometric draws — but their algorithms
are not SQL-expressible, so their DuckDB oracles are literal expected
tables (the technique ss_srp_lsh_topk uses for its literal
hyperplanes), compared at sf0.01 by tests/test_entry_sweep.py.  The
generator runs every query TWICE and refuses to freeze anything that
is not run-to-run identical.  Re-run
whenever the kernel semantics (NOT the testdata — that is
driver-frozen) intentionally change, and eyeball the diff.

The double-run check catches within-session nondeterminism only; the
real hazard is PARTITION-LAYOUT dependence (sampleBy, RF bagging, CV
folds, dropDuplicates all draw per-partition), which a same-session
re-run cannot see.  After regenerating, always cross-check the frozen
entries under perturbed parallelism (the sweep runs every registered
FIXTURES entry at sf0.01):

    for c in 5 8 12; do SPARK_GRAFT_CPUS=$c \
      python -m pytest tests/test_entry_sweep.py -q -k "<name> or <name>"; done

(the round-3 sweep caught exactly this: sampleBy-based RF splits and a
dropDuplicates abundance canon both drifted with core count and were
replaced by hash-threshold / groupBy-max equivalents).

Usage: python tools/gen_fixture_oracles.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

OUT = os.path.join(ROOT, "hannigan_conjunctisviribus_ploscompbio_2017_spark", "oracle_fixtures.py")

# (query name, python variable) — schemas live at the @query site
FIXTURES = [
    ("gk_greedy_modularity", "GK_GREEDY_MODULARITY_SF001"),
    ("gk_alpha_centrality", "GK_ALPHA_CENTRALITY_SF001"),
    ("gk_betweenness", "GK_BETWEENNESS_SF001"),
    ("gk_betweenness_distributed", "GK_BETWEENNESS_DIST_SF001"),
    ("gk_betweenness_stratified", "GK_BETWEENNESS_STRAT_SF001"),
    ("m1_rarefaction", "M1_RAREFACTION_SF001"),
    ("pipeline_interpersonal_diversity", "PIPE_INTERPERSONAL_SF001"),
    ("pipeline_compare_skin", "PIPE_COMPARE_SKIN_SF001"),
    ("pipeline_altered_diet", "PIPE_ALTERED_DIET_SF001"),
    ("pipeline_compare_twins", "PIPE_COMPARE_TWINS_SF001"),
    ("ml_rf_interactions", "ML_RF_INTERACTIONS_SF001"),
    ("ml_roc_points", "ML_ROC_POINTS_SF001"),
    ("ml_nested_cv", "ML_NESTED_CV_SF001"),
    ("ml_quality_classifier", "ML_QUALITY_CLASSIFIER_SF001"),
    ("ev_near_dup_stream", "EV_NEAR_DUP_STREAM_SF001"),
    ("ss_ivf_trained_topk", "SS_IVF_TRAINED_SF001"),
    ("mm_video_frames", "MM_VIDEO_FRAMES_SF001"),
]

HEADER = '''"""Frozen expected outputs for the fixture-oracle entries — generated
by tools/gen_fixture_oracles.py at sf0.01 (the driver's correctness
scale) with a double-run determinism check.  Do not hand-edit;
regenerate and review the diff instead."""

# fmt: off
'''


def lit(v):
    if v is None or v is pd.NA or v is pd.NaT:
        raise SystemExit("NULL in fixture output — refusing to freeze")
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if np.isnan(f):
            raise SystemExit("NaN in fixture output — refusing to freeze")
        if np.isinf(f):
            return "float('inf')" if f > 0 else "float('-inf')"
        return repr(f)
    if isinstance(v, (int, np.integer)):
        return repr(int(v))
    return repr(str(v))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.queries_testdata import QUERIES
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.session import get_spark

    spark = get_spark("gen-fixture-oracles")
    blocks = [HEADER]
    for name, var in FIXTURES:
        fn = QUERIES[name]
        cols = None
        runs = []
        for _ in range(2):
            pdf = fn(spark, sf_dir).toPandas()
            cols = list(pdf.columns)
            runs.append(
                sorted(tuple(lit(v) for v in row) for row in pdf.itertuples(index=False))
            )
        if runs[0] != runs[1]:
            raise SystemExit(
                f"{name}: NOT run-to-run identical — refusing to freeze a fixture"
            )
        lines = [f"# columns: {cols}", f"{var} = ["]
        for row in runs[0]:
            lines.append("    (" + ", ".join(row) + "),")
        lines.append("]")
        blocks.append("\n".join(lines))
        print(f"{name}: froze {len(runs[0])} rows (double-run identical)")
    with open(OUT, "w") as f:
        f.write("\n\n".join(blocks) + "\n")
    print(f"wrote {OUT}")


if __name__ == "__main__":
    main()
