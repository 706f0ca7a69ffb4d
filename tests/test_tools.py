"""The measurement tools without Spark: the A/B runner (side order, the
per-pair table and medians, the dirty-tree refusal), the plan-audit
counters, and an import/compile smoke of bench.py and every tool."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from tools import bench_replay  # noqa: E402
from tools.capture_plans import audit_line, plan_counts  # noqa: E402

# Each run appends its side to $LOG and prints one last line whose
# numbers are the side's base times its run count: side A (base 1)
# prints 1, 2, 3 over three pairs, side B (base 10) 10, 20, 30.
FAKE = r'''
import json, os, sys
log = os.environ["LOG"]
side = os.environ["SIDE"]
with open(log, "a") as f:
    f.write(side + "\n")
n = open(log).read().split().count(side)
v = float(os.environ["BASE"]) * n
if os.environ.get("SHAPE") == "perfbench":
    rec = {"correct": True, "attempted": 7, "failed": 0,
           "metrics": {"setup_s": v, "run_s": v / 10}}
else:
    rec = {"metric": "headline_query_wall_clock", "value": v, "unit": "sec",
           "queries": {"q1": v / 2, "q2": v / 4}, "query_names": {"q1": "a", "q2": "b"},
           "extras_sf001": {}, "sf": 0.1,
           "calibration": {"band_sec": 0.8, "samples": [{"before": 0.3}],
                           "contaminated": False}}
print("# some progress line")
print(json.dumps(rec))
'''


def _git(repo: Path, *args: str) -> None:
    subprocess.run(
        ["git", "-C", str(repo), "-c", "user.name=t", "-c", "user.email=t@t", *args],
        check=True, capture_output=True,
    )


@pytest.fixture
def repo(tmp_path, monkeypatch):
    """A one-commit git checkout holding the fake command; $LOG in it."""
    r = tmp_path / "repo"
    r.mkdir()
    (r / "fake.py").write_text(FAKE)
    (r / ".gitignore").write_text("log\n.scratch/\n")
    _git(r, "init", "-q")
    _git(r, "add", "-A")
    _git(r, "commit", "-q", "-m", "fake")
    monkeypatch.setenv("LOG", str(r / "log"))
    return r


def _replay(repo: Path, shape: str, pairs: int = 3) -> dict:
    return bench_replay.replay(
        [f".,SIDE=A,BASE=1,SHAPE={shape}", f".,SIDE=B,BASE=10,SHAPE={shape}"],
        [sys.executable, "fake.py"], pairs, repo=str(repo),
    )


def test_runner_flips_side_order_every_pair(repo):
    rec = _replay(repo, "bench", pairs=4)
    order = (repo / "log").read_text().split()
    assert order == ["A", "B", "B", "A", "A", "B", "B", "A"]
    assert [(r["pair"], r["side"]) for r in rec["runs"]] == [
        (1, "A"), (1, "B"), (2, "B"), (2, "A"), (3, "A"), (3, "B"), (4, "B"), (4, "A"),
    ]


def test_runner_tabulates_bench_last_lines(repo):
    rec = _replay(repo, "bench")
    a, b = rec["median"]["A"], rec["median"]["B"]
    # numbers only: strings, booleans and lists are not fields
    assert set(a) == {"value", "queries.q1", "queries.q2", "sf", "calibration.band_sec"}
    assert (a["value"], a["queries.q1"], a["queries.q2"]) == (2.0, 1.0, 0.5)
    assert (b["value"], b["queries.q1"]) == (20.0, 10.0)
    assert [r["fields"]["value"] for r in rec["runs"]] == [1, 10, 20, 2, 3, 30]
    rows = {ln.split()[0]: ln.split()[1:] for ln in bench_replay.table(rec).splitlines()}
    assert rows["field"] == ["p1A", "p1B", "p2B", "p2A", "p3A", "p3B", "medA", "medB", "B/A"]
    assert rows["value"] == ["1", "10", "20", "2", "3", "30", "2", "20", "10"]
    assert rows["queries.q1"][-3:] == ["1", "10", "10"]


def test_runner_tabulates_perfbench_last_lines(repo):
    rec = _replay(repo, "perfbench")
    a, b = rec["median"]["A"], rec["median"]["B"]
    assert set(a) == {"attempted", "failed", "metrics.setup_s", "metrics.run_s"}
    assert (a["metrics.setup_s"], a["metrics.run_s"]) == (2.0, 0.2)
    assert (b["metrics.setup_s"], b["metrics.run_s"]) == (20.0, 2.0)
    rows = {ln.split()[0]: ln.split()[1:] for ln in bench_replay.table(rec).splitlines()}
    assert rows["metrics.run_s"][-3:] == ["0.2", "2", "10"]
    assert rows["failed"][-1] == "-"  # no ratio over a zero median


def test_runner_refuses_uncommitted_tree(repo, monkeypatch):
    monkeypatch.delenv("SG_REPLAY_ALLOW_DIRTY", raising=False)
    specs = [".,SIDE=A,BASE=1", "HEAD,SIDE=B,BASE=10"]
    cmd = [sys.executable, "fake.py"]
    assert bench_replay.replay(specs, cmd, 1, repo=str(repo))["dirty"] is False
    (repo / "fake.py").write_text(FAKE.replace("* n", "* n * 1000"))
    with pytest.raises(SystemExit, match="uncommitted"):
        bench_replay.replay(specs, cmd, 1, repo=str(repo))
    # env-only sides in one tree compare no commits: no refusal
    env_only = [".,SIDE=A,BASE=1", ".,SIDE=B,BASE=10"]
    assert bench_replay.replay(env_only, cmd, 1, repo=str(repo))["dirty"]
    monkeypatch.setenv("SG_REPLAY_ALLOW_DIRTY", "1")
    rec = bench_replay.replay(specs, cmd, 1, repo=str(repo))
    assert rec["dirty"] is True
    # the ref side runs the committed file from its cached extraction
    assert rec["sides"]["B"]["checkout"].startswith(str(repo / ".scratch" / "replay"))
    assert rec["median"]["A"]["value"] > 1000 > rec["median"]["B"]["value"]


# `explain("formatted")` of a plan with a sort-merge, a broadcast and a
# cartesian join, a Python UDF and a pandas UDF (Spark 4.1; the node
# detail sections are cut to their numbered headers)
CANNED_PLAN = """== Physical Plan ==
* HashAggregate (25)
+- Exchange (24)
   +- * HashAggregate (23)
      +- * Project (22)
         +- ArrowEvalPython (21)
            +- * Project (20)
               +- BatchEvalPython (19)
                  +- CartesianProduct Inner (18)
                     :- * Project (15)
                     :  +- * BroadcastHashJoin Inner BuildRight (14)
                     :     :- * Project (10)
                     :     :  +- * SortMergeJoin Inner (9)
                     :     :     :- * Sort (4)
                     :     :     :  +- Exchange (3)
                     :     :     :     +- * Project (2)
                     :     :     :        +- * Range (1)
                     :     :     +- * Sort (8)
                     :     :        +- Exchange (7)
                     :     :           +- * Project (6)
                     :     :              +- * Range (5)
                     :     +- BroadcastExchange (13)
                     :        +- * Project (12)
                     :           +- * Range (11)
                     +- * Project (17)
                        +- * Range (16)


(1) Range [codegen id : 1]
(2) Project [codegen id : 1]
(3) Exchange
(4) Sort [codegen id : 2]
(5) Range [codegen id : 3]
(6) Project [codegen id : 3]
(7) Exchange
(8) Sort [codegen id : 4]
(9) SortMergeJoin [codegen id : 6]
(10) Project [codegen id : 6]
(11) Range [codegen id : 5]
(12) Project [codegen id : 5]
(13) BroadcastExchange
(14) BroadcastHashJoin [codegen id : 6]
(15) Project [codegen id : 6]
(16) Range [codegen id : 7]
(17) Project [codegen id : 7]
(18) CartesianProduct
(19) BatchEvalPython
(20) Project [codegen id : 8]
(21) ArrowEvalPython
(22) Project [codegen id : 9]
(23) HashAggregate [codegen id : 9]
(24) Exchange
(25) HashAggregate [codegen id : 10]
"""


def test_plan_counts_give_plan_audit_numbers():
    # the numbers plan_audit.py's regexes gave on this plan: exchanges
    # counted once (detail headers), the rest at every mention
    counts = plan_counts(CANNED_PLAN)
    assert counts == {"ex": 3, "bcast": 1, "smj": 2, "cart": 2, "bep": 2, "arrowpy": 2}
    line, flagged = audit_line("x", counts)
    assert flagged
    assert line.endswith("<< BatchEvalPython×2, CartesianProduct×2, SMJ×2")
    quiet = plan_counts("(1) Scan parquet\n(2) Exchange\n(3) ArrowEvalPython\n")
    assert quiet == {"ex": 1, "bcast": 0, "smj": 0, "cart": 0, "bep": 0, "arrowpy": 1}
    assert audit_line("y", quiet)[1] is False


def test_tools_import_without_starting_spark():
    mods = ["bench"] + [f"tools.{p.stem}" for p in sorted((ROOT / "tools").glob("*.py"))]
    code = (
        "import importlib\n"
        f"for m in {mods!r}:\n"
        "    importlib.import_module(m)\n"
        "from pyspark import SparkContext\n"
        "assert SparkContext._active_spark_context is None\n"
        "print(len(" + repr(mods) + "))\n"
    )
    out = subprocess.run([sys.executable, "-c", code], cwd=ROOT,
                         capture_output=True, text=True)
    assert out.returncode == 0, out.stderr[-2000:]
    assert int(out.stdout.split()[-1]) == len(mods) >= 6


def test_tools_compile():
    out = subprocess.run([sys.executable, "-m", "compileall", "-q", "tools", "bench.py"],
                         cwd=ROOT, capture_output=True, text=True)
    assert out.returncode == 0, out.stdout[-2000:]
