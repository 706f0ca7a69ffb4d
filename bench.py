"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": ...}

Usage: python bench.py [name ...]
  name: bench labels (q12) or registry names (dd_ingest_dedup); only those
        are timed, same JSON shape, no extras.  Default: the full headline
        suite plus the extras.

This file holds the one in-process timer of bench.py and tools/:
`min_of` (per-key min over interleaved passes).  The calibration probes,
the headline rounds, the extras and tools/scale_check.py's probes all
time through it.

The headline set covers every operator family: TPC-H-style aggregation,
the flagship 7-way graph join, the feature-merge edge build, the 2-hop
closure self-join, Bray-Curtis pairwise stats, entropy aggregation,
sessionization windows, MinHash LSH dedup, and brute-force cosine ANN.

Each query is materialized via a count()-style noop write (collect of an
aggregated count) so the timing covers the full plan, not just planning.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from hannigan_conjunctisviribus_ploscompbio_2017_spark.queries_testdata import QUERIES
from hannigan_conjunctisviribus_ploscompbio_2017_spark.session import get_spark

# The data dir every tool reads; the extras run at its sf0.01 sibling.
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
EXTRAS_SF_DIR = os.path.join(os.path.dirname(SF_DIR.rstrip("/")), "sf0.01")

# Label -> query-name map. FROZEN HISTORY: once a label has appeared in a
# recorded BENCH_r{N}.json it must keep its query name forever — append new
# queries with fresh labels (q17, q18, ...), never renumber or insert
# mid-list (tests/test_entry_sweep.py::test_bench_labels_frozen pins the
# map, so a silent re-key fails CI).
HEADLINE = [
    ("q1", "a1_pricing_summary"),
    ("q2", "gq5_sample_network"),
    ("q3", "j3_feature_merge"),
    ("q4", "gq3_triadic_closure"),
    ("q5", "m2_bray_curtis"),
    ("q6", "g10_node_entropy"),
    ("q7", "ev_sessionize"),
    ("q8", "dd_minhash_lsh"),
    ("q9", "ss_cosine_topk"),
    ("q10", "w1_top_per_group"),
    # r01 verdict additions: the full-join graph expansion and the
    # explode-rank rarefaction — the two heaviest newly-verified plans
    ("q11", "gq4_study_network"),
    ("q12", "m1_rarefaction_portable"),
    # r02 additions: the passage-dedup corpus scan (explode + fingerprint
    # shuffle) and the contamination containment join (explode-join with
    # the doc-frequency skew guard)
    ("q13", "dd_chunk_dedup"),
    ("q14", "dd_contamination"),
    # r02 additions: the corpus-LM scoring join (explode + token join +
    # in-plan totals) and the running-sum packing window — both linear
    # shapes worth watching under the scale check. semantic dedup is
    # deliberately NOT here: with n_cells fixed its within-cell pair
    # count grows quadratically by design (cells must scale with the
    # corpus), so a fixed-cell scale factor would flag an expected
    # property, not a bug.
    ("q15", "tx_unigram_logprob"),
    ("q16", "tx_sequence_pack"),
    # r03 additions: the two ANN scale paths — IVF cell-probe (incl. its
    # eager md5-centroid resolve, an honest part of the operator's cost)
    # and SRP-LSH band-bucket top-k. Both rerank with the precomputed-
    # norm cosine (one zip_with per candidate pair).
    ("q17", "ss_ivf_topk"),
    ("q18", "ss_srp_lsh_topk"),
    # r04 addition: product-quantization ADC top-k — the compressed-
    # residency ANN path (m byte codes per vector, table-lookup
    # distances; the only per-pair work is 8 array lookups)
    ("q19", "ss_pq_topk"),
    # r05 addition (r04 verdict ask #4): the composed IVF-PQ — the
    # production ANN regime (cells bound the scan, codes bound the
    # bytes); scale-tracked like q17-q19
    ("q20", "ss_ivf_pq_topk"),
    # r06 addition (r05 verdict ask #5): TF-IDF keyword extraction —
    # the corpus keyword scan is a new heavy shape (tf shuffle +
    # broadcast idf + k-pruned window shuffle) not previously
    # wall-clock-tracked
    ("q21", "tx_tfidf_top_terms"),
    # r06 addition: the semantic admission gate (delta vs persisted
    # vector store — broadcast cell probes, store never shuffles) so
    # the store-maintenance shape is scale-tracked from birth
    ("q22", "ss_semantic_ingest"),
    # r08 addition (r07 verdict ask #4): the hypergeometric Arrow-route
    # rarefaction — the AT-SCALE default (work ∝ abundance ROWS, never
    # ∝ Σ counts).  q12 wall-clock-tracks only the explode path; this
    # row tracks the route a 100 TB run would actually take, so an
    # Arrow-path regression can't hide behind the explode path's number.
    ("q23", "m1_rarefaction"),
]

# Load sentinel (r05 verdict ask #1): BENCH_r05 was recorded on a loaded
# box and its numbers contradicted the same round's own scale-check base.
# The bench now defends itself: a fixed JVM-side calibration query (no
# IO, no shuffle, no Python) is timed before and after each measurement
# round; when it exceeds CALIB_BAND_SEC the round is considered
# contaminated and re-run (up to MAX_ROUNDS), and the final JSON carries
# the calibration samples + os.getloadavg() so the record is auditable.
# Idle steady-state on the reference box is ~0.21-0.31s; the band is ~3x
# that.  NOTE loadavg alone is NOT the gate: this host shows loadavg
# spikes with nothing running locally (documented in the verify skill),
# so the recorded loadavg is evidence, the calibration timing is the
# decision signal.  Per-query values stay best-of-all-passes minima, so
# extra (dirty) rounds can only tighten them, never loosen.
CALIB_BAND_SEC = 0.8
MAX_ROUNDS = 3
CALIB_SLEEP_SEC = 45.0


def min_of(n: int, fns: dict, results: dict | None = None) -> dict:
    """Per-key minimum wall seconds over `n` interleaved passes, a pass
    calling every fn of `fns` once in order; each fn's last return value
    goes into `results` when given.  Interleaving decorrelates co-tenant
    bursts from keys: a burst poisons at most one sample of each."""
    best: dict = {}
    for _ in range(n):
        for key, fn in fns.items():
            t0 = time.time()
            out = fn()
            best[key] = min(best.get(key, float("inf")), time.time() - t0)
            if results is not None:
                results[key] = out
    return best


def calibration_sec(spark) -> float:
    """Min-of-3 timing of a fixed 200M-row arithmetic aggregation across
    32 fixed slices — pure whole-stage-codegen CPU, immune to parquet
    cache state.  Caller must have warmed it once (first execution pays
    codegen compilation)."""
    def q():
        spark.range(0, 200_000_000, 1, 32).selectExpr("sum(id % 7 + id * 3)").collect()

    return round(min_of(3, {"cpu": q})["cpu"], 3)


def calibration_io_sec(spark, sf_dir: str) -> float:
    """Min-of-3 timing of a fixed parquet scan+aggregate (lineitem, two
    columns) — the I/O + scheduling drift class the CPU sentinel is
    blind to.  The r09 host-drift episode motivated recording BOTH: a
    window where every real query ran 1.2-1.8x slow while the pure-CPU
    calibration came out FASTER than its documented idle band, so
    cross-round bench comparisons need an I/O-class reference too.
    Not a gate (the band applies to the CPU sentinel only); recorded
    per round so a later reader can normalize totals across rounds.
    Cross-round methodology (r10): published comparisons normalize each
    round's total by its io_after sample (total_norm = total x
    io_ref/io_round — the table lives in COVERAGE.md), and any claimed
    CODE-level regression or improvement must additionally be gated by
    an interleaved same-window A/B of the two trees
    (tools/bench_replay.py), never by two raw totals from different
    windows."""
    def q():
        spark.read.parquet(f"{sf_dir}/lineitem.parquet").selectExpr(
            "sum(l_quantity)", "count(distinct l_partkey)"
        ).collect()

    return round(min_of(3, {"io": q})["io"], 3)


def suite(names: list[str]) -> list[tuple[str, str]]:
    """(label, registry name) pairs to time: HEADLINE, or the named bench
    labels / registry names (a headline query keeps its label)."""
    if not names:
        return HEADLINE
    by_label = dict(HEADLINE)
    label_of = {n: lab for lab, n in HEADLINE}
    unknown = [n for n in names if n not in by_label and n not in QUERIES]
    if unknown:
        sys.exit(f"bench: unknown labels or query names: {', '.join(unknown)}")
    return [
        (n, by_label[n]) if n in by_label else (label_of.get(n, n), n)
        for n in names
    ]


def main(names: list[str]) -> None:
    sf_dir = SF_DIR
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    except ValueError:
        sf = -1.0
    timed = suite(names)
    spark = get_spark("bench")

    def run(name: str, at: str = sf_dir):
        return lambda: QUERIES[name](spark, at).count()

    # warm the JVM + parquet footers once so timings measure the queries
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    # Steady-state timing: the first execution of each query shape pays
    # one-time JVM costs (whole-stage-codegen compilation, Python worker
    # fork, broadcast thread spin-up) that dominate at this data size and
    # swing individual queries 2-4x run-to-run. Warm each query once, then
    # measure the second execution — that's the per-query cost a cluster
    # actually pays when the query runs repeatedly.
    for _, name in timed:
        run(name)()

    # warm both calibration queries' codegen before any timed use
    calibration_sec(spark)
    calibration_io_sec(spark, sf_dir)

    # Best-of-3 INTERLEAVED passes: run the whole suite three full times
    # and take each query's min ACROSS passes (min_of).  Timing one
    # query's three runs consecutively correlates all three samples with
    # whatever co-tenant burst is active at that moment — the r03 record
    # showed exactly that signature (q2-q5 spiked 2.7-4x while their
    # neighbors improved; idle re-runs reproduced r02-level numbers).
    # Each measurement round is bracketed by the calibration sentinel; a
    # dirty round re-runs (mins merge across rounds, so re-runs only
    # tighten).
    best: dict[str, float] = {}
    rows_seen: dict[str, int] = {}
    calib_samples: list[dict] = []
    contaminated = True
    for round_i in range(MAX_ROUNDS):
        calib_before = calibration_sec(spark)
        io_before = calibration_io_sec(spark, sf_dir)
        load_before = list(os.getloadavg())
        if calib_before > CALIB_BAND_SEC and round_i < MAX_ROUNDS - 1:
            print(
                f"# round {round_i + 1}: calibration {calib_before}s exceeds "
                f"band {CALIB_BAND_SEC}s — sleeping {CALIB_SLEEP_SEC}s",
                file=sys.stderr,
            )
            calib_samples.append(
                {
                    "before": calib_before,
                    "io_before": io_before,
                    "load_before": load_before,
                    "skipped": True,
                }
            )
            time.sleep(CALIB_SLEEP_SEC)
            continue
        passes = min_of(3, {label: run(name) for label, name in timed}, rows_seen)
        for label, dt in passes.items():
            best[label] = min(best.get(label, float("inf")), dt)
        calib_after = calibration_sec(spark)
        calib_samples.append(
            {
                "before": calib_before,
                "after": calib_after,
                # both ends sampled since r10: an I/O-class swing WITHIN
                # the measurement round (io_before vs io_after) is
                # evidence the round itself straddled a drift edge, not
                # just that two rounds sit in different windows
                "io_before": io_before,
                "io_after": calibration_io_sec(spark, sf_dir),
                "load_before": load_before,
                "load_after": list(os.getloadavg()),
            }
        )
        if calib_before <= CALIB_BAND_SEC and calib_after <= CALIB_BAND_SEC:
            contaminated = False
            break
        print(
            f"# round {round_i + 1} dirty (calib {calib_before}/{calib_after}s "
            f"vs band {CALIB_BAND_SEC}s)"
            + (" — re-running" if round_i < MAX_ROUNDS - 1 else " — out of rounds"),
            file=sys.stderr,
        )
    # `best` is always populated: the skip branch requires
    # round_i < MAX_ROUNDS - 1, so the final round always measures

    timings: dict[str, float] = {}
    total = 0.0
    for label, name in timed:
        dt = round(best[label], 3)
        timings[label] = dt
        total += dt
        print(f"# {label} {name}: {rows_seen[label]} rows in {dt}s", file=sys.stderr)

    # Extras (full run only, not in the headline total): the two
    # betweenness regimes at the FIXED sf0.01 sibling of the data dir,
    # documenting the r01-verdict watch item — the exact Brandes path vs
    # the pivot-sampled distributed path with the small-graph fast-path
    # default (was 189s before the fast path).  Two interleaved passes.
    EXTRAS = () if names else ("gk_betweenness", "gk_betweenness_distributed")
    extras = min_of(2, {n: run(n, EXTRAS_SF_DIR) for n in EXTRAS})
    for name in EXTRAS:
        extras[name] = round(extras[name], 3)
        print(f"# extra {name}: {extras[name]}s at sf0.01", file=sys.stderr)

    print(
        json.dumps(
            {
                "metric": "headline_query_wall_clock",
                "value": round(total, 3),
                "unit": "sec",
                "queries": timings,
                "query_names": dict(timed),
                "extras_sf001": extras,
                "sf": sf,
                "calibration": {
                    "band_sec": CALIB_BAND_SEC,
                    "samples": calib_samples,
                    "contaminated": contaminated,
                },
            }
        )
    )


if __name__ == "__main__":
    main(sys.argv[1:])
