"""Same-window A/B runner: the one tool that runs a command in a
subprocess and parses its last JSON line.

    python tools/bench_replay.py [--pairs N] SIDE SIDE [SIDE ...] [-- COMMAND ...]

COMMAND (default `python3 bench.py`) runs in full once per side per
pair, all in one window; every other pair runs the sides in reverse
order, so neither side always runs first.  A SIDE is a checkout plus
optional environment assignments, comma-separated:

    .                           the working tree
    99764b8                     a git ref, extracted once (git archive)
                                into the git-ignored .scratch/replay/<sha>
    .,SPARK_GRAFT_CPUS=2        the working tree with SPARK_GRAFT_CPUS=2

Examples:
    # parent vs this tree on the benchmark workload
    python tools/bench_replay.py --pairs 5 HEAD~1 . -- \\
        python3 perfbench/run.py --workload diversity_analysis --seed 101 --seconds 15
    # an env-flag A/B, a core sweep, a data-dir pair
    python tools/bench_replay.py .,SPARK_GRAFT_AQE_COALESCE=false .,SPARK_GRAFT_AQE_COALESCE=true -- python3 bench.py q5 q14
    python tools/bench_replay.py .,SPARK_GRAFT_CPUS=1 .,SPARK_GRAFT_CPUS=2 .,SPARK_GRAFT_CPUS=4

Sides are labelled A, B, ...  The per-pair table has one row per numeric
field of the last line (nested keys dotted: bench.py's `value` and
`queries.q1`, perfbench's `metrics.run_s`), one column per run, the
median per side and each side's median over A's.  The JSON record is the
last line of stdout.

A run mixing the working tree with a git ref refuses an uncommitted tree,
since the record names HEAD's commit for it; SG_REPLAY_ALLOW_DIRTY=1
runs it anyway and the record carries "dirty": true.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import statistics
import subprocess
import sys
import tarfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _git(repo: str, *args: str) -> str:
    return subprocess.run(
        ["git", "-C", repo, *args], check=True, capture_output=True, text=True
    ).stdout.strip()


def _checkout(repo: str, sha: str) -> str:
    """The cached extraction of commit `sha` under .scratch/replay/."""
    path = os.path.join(repo, ".scratch", "replay", sha[:12])
    if not os.path.isdir(path):
        tar = subprocess.run(
            ["git", "-C", repo, "archive", sha], check=True, capture_output=True
        ).stdout
        with tarfile.open(fileobj=io.BytesIO(tar)) as t:
            t.extractall(path + ".part", filter="data")
        os.rename(path + ".part", path)
    return path


def sides(specs: list[str], repo: str = REPO) -> tuple[list[dict], bool]:
    """Resolve side specs to {spec, checkout, commit, env}; also returns
    whether the working tree is dirty."""
    head = _git(repo, "rev-parse", "HEAD")
    dirty = bool(_git(repo, "status", "--porcelain"))
    out = []
    for spec in specs:
        ref, *assigns = spec.split(",")
        env = dict(a.split("=", 1) for a in assigns)
        local = ref in ("", ".")
        sha = head if local else _git(repo, "rev-parse", "--verify", f"{ref}^{{commit}}")
        out.append({"spec": spec, "checkout": repo if local else None,
                    "commit": sha, "env": env})
    mixed = len({s["checkout"] is None for s in out}) > 1
    if dirty and mixed and os.environ.get("SG_REPLAY_ALLOW_DIRTY") != "1":
        sys.exit(
            "bench_replay: the working tree has uncommitted changes and is "
            "compared with a git ref, so the record would name HEAD's commit "
            "for them. Commit first, or set SG_REPLAY_ALLOW_DIRTY=1."
        )
    for s in out:
        s["checkout"] = s["checkout"] or _checkout(repo, s["commit"])
    return out, dirty


def numeric_fields(rec: dict, prefix: str = "") -> dict:
    """The int/float leaves of a JSON object, nested keys dotted."""
    out = {}
    for k, v in rec.items():
        if isinstance(v, dict):
            out.update(numeric_fields(v, f"{prefix}{k}."))
        elif isinstance(v, (int, float)) and not isinstance(v, bool):
            out[f"{prefix}{k}"] = v
    return out


def _last_json(cmd: list[str], cwd: str, env: dict) -> dict:
    proc = subprocess.run(cmd, cwd=cwd, env={**os.environ, **env},
                          stdout=subprocess.PIPE, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode or not lines or not lines[-1].startswith("{"):
        raise RuntimeError(
            f"{' '.join(cmd)} in {cwd} with {env} exited {proc.returncode}; "
            f"last stdout line: {lines[-1:]}"
        )
    return json.loads(lines[-1])


def replay(specs: list[str], cmd: list[str], pairs: int, repo: str = REPO) -> dict:
    """Run `cmd` once per side per pair, reversing the side order on
    every other pair; returns the record."""
    resolved, dirty = sides(specs, repo)
    labels = [chr(ord("A") + i) for i in range(len(resolved))]
    runs = []
    for p in range(pairs):
        order = range(len(resolved)) if p % 2 == 0 else reversed(range(len(resolved)))
        for i in order:
            side = resolved[i]
            print(f"# pair {p + 1}/{pairs}: {labels[i]} = {side['spec']}", file=sys.stderr)
            fields = numeric_fields(_last_json(cmd, side["checkout"], side["env"]))
            runs.append({"pair": p + 1, "side": labels[i], "fields": fields})
    median = {}
    for lab in labels:
        mine = [r["fields"] for r in runs if r["side"] == lab]
        keys = dict.fromkeys(f for m in mine for f in m)
        median[lab] = {f: statistics.median(m[f] for m in mine if f in m) for f in keys}
    return {
        "command": cmd,
        "pairs": pairs,
        "dirty": dirty,
        "sides": dict(zip(labels, resolved)),
        "runs": runs,
        "median": median,
    }


def table(rec: dict) -> str:
    """Per-pair values, per-side medians and median ratios over side A."""
    labels = list(rec["sides"])
    runs = rec["runs"]
    cols = [f"p{r['pair']}{r['side']}" for r in runs]
    cols += [f"med{lab}" for lab in labels]
    cols += [f"{lab}/A" for lab in labels[1:]]
    fields = dict.fromkeys(f for r in runs for f in r["fields"])
    width = max(len(f) for f in fields)
    lines = [f"# {lab} = {s['spec']} ({s['commit'][:12]})" for lab, s in rec["sides"].items()]
    lines.append(f"{'field':{width}s} " + " ".join(f"{c:>10s}" for c in cols))

    def cell(v) -> str:
        return f"{v:10.4g}" if v is not None else f"{'-':>10s}"

    for f in fields:
        med = [rec["median"][lab].get(f) for lab in labels]
        vals = [r["fields"].get(f) for r in runs] + med
        vals += [m / med[0] if m is not None and med[0] else None for m in med[1:]]
        lines.append(f"{f:{width}s} " + " ".join(cell(v) for v in vals))
    return "\n".join(lines)


def main(argv: list[str]) -> None:
    cut = argv.index("--") if "--" in argv else len(argv)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--pairs", type=int, default=2)
    ap.add_argument("side", nargs="+")
    args = ap.parse_args(argv[:cut])
    if len(args.side) < 2:
        ap.error("give at least two sides")
    cmd = argv[cut + 1:] or ["python3", "bench.py"]
    rec = replay(args.side, cmd, args.pairs)
    print(table(rec))
    print(json.dumps(rec))


if __name__ == "__main__":
    main(sys.argv[1:])
