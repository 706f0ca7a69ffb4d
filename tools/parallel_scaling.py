"""Parallel-scaling evidence on splittable input (r13, VERDICT r12 ask #5).

The driver's 8-core/32-core bench pair at sf0.1 shows every headline
ratio <= ~1.2 — not because the engine ignores cores, but because (a)
the sf0.1 testdata parquet is single-rowgroup, so a scan never splits
past one task, and (b) at 0.1-6 s/query, driver plan-build dominates.
That left the 100 TB story resting on plan-shape argument alone.

This tool converts it to measurement: it reuses tools/scale_check.py's
8x-replicated dataset (written by Spark as multi-file parquet, so scans
split), then alternates FULL bench.py runs at SPARK_GRAFT_CPUS=8 and 32
in one window — 8, 32, 8, 32 — and writes SCALING_r13.json with each
query's low/high-core ratio (min-over-runs per side). Interleaving is
what makes the RATIO trustworthy on this drift-prone host.

Usage: python tools/parallel_scaling.py [k] [n_interleaves] [--subset q...]
  k: replication factor (default 8; builds .scratch/sf{k}x if missing)
  --subset: time only the named bench labels / registry names via
    tools/scale_check.bench_subset (for probing the heavy queries at a
    K where compute dominates driver overhead); writes
    SCALING_r13_k{k}_subset.json instead.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def bench(sf_dir: str, cpus: int) -> dict:
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir, SPARK_GRAFT_CPUS=str(cpus))
    out = subprocess.run(
        [sys.executable, "bench.py"],
        env=env,
        capture_output=True,
        text=True,
        cwd=REPO,
        check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def bench_subset_proc(sf_dir: str, cpus: int, names: list[str]) -> dict:
    """tools/scale_check.bench_subset in a fresh subprocess so each
    core count gets its own local[N] JVM."""
    code = (
        "import sys, json; sys.path.insert(0, %r); "
        "from tools.scale_check import bench_subset; "
        "print(json.dumps(bench_subset(%r, %r)))" % (REPO, sf_dir, names)
    )
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    out = subprocess.run(
        [sys.executable, "-c", code],
        env=env,
        capture_output=True,
        text=True,
        cwd=REPO,
        check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    args = [a for a in sys.argv[1:]]
    subset: list[str] | None = None
    if "--subset" in args:
        i = args.index("--subset")
        subset = args[i + 1 :]
        args = args[:i]
    k = int(args[0]) if args else 8
    n = int(args[1]) if len(args) > 1 else 2
    dst = os.path.abspath(os.path.join(REPO, f".scratch/sf{k}x"))
    if not os.path.exists(f"{dst}/lineitem.parquet"):
        from tools.scale_check import build

        print(f"# building {dst} (K={k})", file=sys.stderr)
        t0 = time.time()
        build(dst, k)
        print(f"# built in {time.time() - t0:.0f}s", file=sys.stderr)

    if subset:
        runs = []
        for i in range(n):
            for cpus in (8, 32):
                t0 = time.time()
                qs = bench_subset_proc(dst, cpus, subset)
                runs.append({"cpus": cpus, "queries": qs,
                             "wall": round(time.time() - t0, 1)})
                print(f"# subset run {i}.{cpus}c: {qs}", file=sys.stderr)

        def best_side(c):
            sides = [r for r in runs if r["cpus"] == c]
            return {q: min(r["queries"][q] for r in sides)
                    for q in sides[0]["queries"]}

        lo, hi = best_side(8), best_side(32)
        ratios = {q: round(lo[q] / max(hi[q], 1e-9), 2) for q in lo}
        out = {"k": k, "sf_dir": dst, "cpus_low": 8, "cpus_high": 32,
               "subset": subset, "runs": runs, "low": lo, "high": hi,
               "ratio_low_over_high": ratios,
               "n_queries_scaling_1_5x": sum(1 for v in ratios.values() if v >= 1.5)}
        path = os.path.join(REPO, f"SCALING_r13_k{k}_subset.json")
        with open(path, "w") as f:
            json.dump(out, f, indent=1)
        print(json.dumps({"ratios": ratios,
                          "n_queries_scaling_1_5x": out["n_queries_scaling_1_5x"]}))
        return

    runs: list[dict] = []
    for i in range(n):
        for cpus in (8, 32):
            t0 = time.time()
            r = bench(dst, cpus)
            runs.append(
                {
                    "cpus": cpus,
                    "total": r["value"],
                    "queries": r["queries"],
                    "wall": round(time.time() - t0, 1),
                    "calibration": r.get("calibration", {}),
                }
            )
            print(
                f"# run {i}.{cpus}c: total {r['value']}s", file=sys.stderr
            )

    def best(cpus: int) -> dict:
        sides = [r for r in runs if r["cpus"] == cpus]
        qs = {
            q: min(r["queries"][q] for r in sides)
            for q in sides[0]["queries"]
        }
        return {"total_min": min(r["total"] for r in sides), "queries": qs}

    lo, hi = best(8), best(32)
    ratios = {
        q: round(lo["queries"][q] / max(hi["queries"][q], 1e-9), 2)
        for q in lo["queries"]
    }
    out = {
        "k": k,
        "sf_dir": dst,
        "cpus_low": 8,
        "cpus_high": 32,
        "runs": runs,
        "low": lo,
        "high": hi,
        "ratio_low_over_high": ratios,
        "total_ratio": round(lo["total_min"] / max(hi["total_min"], 1e-9), 2),
        "n_queries_scaling_1_5x": sum(1 for v in ratios.values() if v >= 1.5),
    }
    path = os.path.join(REPO, "SCALING_r13.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({"total_ratio": out["total_ratio"],
                      "n_queries_scaling_1_5x": out["n_queries_scaling_1_5x"],
                      "ratios": ratios}))


if __name__ == "__main__":
    main()
