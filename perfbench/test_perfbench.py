"""The benchmark's own tests: span arithmetic, generator determinism,
output checks catching corrupted results, and BENCHMARK.json agreeing
with the code. No Spark needed.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE]
sys.path.append(os.path.join(ROOT, "tests"))

import gen  # noqa: E402
import layers  # noqa: E402
import spans  # noqa: E402
import verify  # noqa: E402


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_self_time_subtracts_children_and_merges_overlaps():
    clock = FakeClock()
    tr = spans.Tracer(clock=clock)
    root = tr.begin("root", "op")
    clock.t = 1.0
    a = tr.begin("a", "call")
    clock.t = 3.0
    tr.end(a)
    clock.t = 4.0
    b = tr.begin("b", "call")
    clock.t = 4.5
    c = tr.begin("c", "call")  # grandchild: counts against b, not root
    clock.t = 5.0
    tr.end(c)
    clock.t = 6.0
    tr.end(b)
    clock.t = 10.0
    tr.end(root)
    got = spans.self_times(tr.spans)
    assert got == pytest.approx([10 - 2 - 2, 2, 2 - 0.5, 0.5])
    assert [s.parent for s in tr.spans] == [None, 0, 0, 2]


def test_self_time_of_overlapping_children_counts_the_union():
    s = [spans.Span("p", "op", 0.0, None, None, end=10.0),
         spans.Span("x", "call", 1.0, 0, None, end=5.0),
         spans.Span("y", "call", 4.0, 0, None, end=6.0),
         spans.Span("z", "call", 8.0, 0, None, end=12.0)]  # clipped at the parent's end
    assert spans.self_times(s)[0] == pytest.approx(10 - 5 - 2)


def test_inclusive_counts_roll_up_to_ancestors():
    s = [spans.Span("p", "op", 0, None, None, jobs=1),
         spans.Span("c", "call", 0, 0, None, jobs=2),
         spans.Span("g", "call", 0, 1, None, jobs=3)]
    tr = spans.Tracer()
    tr.spans = s
    assert tr.inclusive("jobs") == [6, 5, 3]


def test_install_wraps_imported_aliases_once_and_uninstall_restores():
    import types

    home = types.ModuleType("pkg.home")
    exec("def f(x):\n    return g(x) + 1\n\ndef g(x):\n    return x * 2\n", home.__dict__)
    home.f.__module__ = home.g.__module__ = "pkg.home"
    user = types.ModuleType("pkg.user")
    user.f = home.f  # "from pkg.home import f"
    tr = spans.Tracer()
    patched = spans.install(tr, {"home": home, "user": user})
    assert user.f(3) == 7
    assert [s.name for s in tr.spans] == ["home.f", "home.g"]
    assert tr.spans[1].parent == 0
    spans.uninstall(patched)
    assert user.f is home.f and not hasattr(home.f, "__wrapped__")


def test_frame_passed_on_keeps_its_innermost_producer():
    from pyspark.sql import DataFrame

    def frame():  # a DataFrame instance without a JVM behind it
        return object.__new__(DataFrame)

    inner, own = frame(), frame()
    tr = spans.Tracer()
    tr.register(inner, "stats.rarefy")
    tr.register({"rarefied": inner, "stats": own}, "pipelines.interpersonal_diversity")
    assert tr.producer(inner) == "stats.rarefy"
    assert tr.producer(own) == "pipelines.interpersonal_diversity"
    assert tr.producer(frame()) is None


def test_layer_aggregate_splits_plan_and_exec():
    clock = FakeClock()
    tr = spans.Tracer(clock=clock)
    i = tr.begin("queries.q1_interaction_scores", "call")
    clock.t = 0.25
    tr.end(i)
    j = tr.begin("queries.q1_interaction_scores", "exec")
    clock.t = 1.25
    tr.end(j)
    tr.spans[j].extra["rows"] = 7
    out = layers.aggregate(tr, range(0, 2), [])
    assert out["queries.q1_interaction_scores.plan_s"] == pytest.approx(0.25)
    assert out["queries.q1_interaction_scores.exec_s"] == pytest.approx(1.0)
    assert out["queries.q1_interaction_scores.rows"] == 7
    assert out["kernels.pagerank.s"] == 0.0


def test_layer_aggregate_is_per_pass_and_set_up_counts_once():
    clock = FakeClock()
    tr = spans.Tracer(clock=clock)
    w = tr.begin("graph_store.write_graph", "call")  # set-up only
    clock.t = 2.0
    tr.end(w)
    for _ in range(2):  # the warm-up pass: its q1 is not reported
        q = tr.begin("queries.q1_interaction_scores", "exec")
        clock.t += 9.0
        tr.end(q)
    timed_from = len(tr.spans)
    for _ in range(4):  # two timed passes of two q1 each
        q = tr.begin("queries.q1_interaction_scores", "exec")
        clock.t += 0.5
        tr.end(q)
        tr.spans[q].extra["rows"] = 3
    out = layers.aggregate(tr, range(timed_from, len(tr.spans)), [range(0, timed_from)], passes=2)
    assert out["queries.q1_interaction_scores.exec_s"] == pytest.approx(1.0)
    assert out["queries.q1_interaction_scores.rows"] == pytest.approx(6)
    assert out["graph_store.write_graph.s"] == pytest.approx(2.0)


def _graph(tmp_path, seed):
    d = tmp_path / f"g{seed}"
    d.mkdir()
    meta = gen.graph_tables(np.random.default_rng([seed, 0]), str(d))
    return str(d), meta


def test_generator_same_seed_same_digest_other_seed_differs(tmp_path):
    a, meta_a = _graph(tmp_path, 1)
    b, meta_b = _graph(tmp_path, 2)
    c = tmp_path / "again"
    c.mkdir()
    gen.graph_tables(np.random.default_rng([1, 0]), str(c))
    assert gen.digest(a) == gen.digest(str(c))
    assert gen.digest(a) != gen.digest(b)
    assert sum(meta_a["studies"].values()) == gen.N_SAMPLES
    assert sorted(meta_a["studies"].values()) == sorted(meta_b["studies"].values())
    assert len(set(meta_a["studies"].values())) == len(gen.STUDY_SHARES)  # unequal sizes


def test_corpus_variants_are_seeded_and_distinct(tmp_path):
    rng = np.random.default_rng(7)
    docs, emb = gen.documents(rng), gen.embeddings(rng)
    for tag, salt in (("a", 1), ("b", 2), ("c", 1)):
        gen.corpus_variant(np.random.default_rng(salt), docs, emb, str(tmp_path), tag)
    read = lambda t: pd.read_parquet(tmp_path / f"documents_{t}.parquet")  # noqa: E731
    assert read("a").equals(read("c"))
    assert not read("a").equals(read("b"))


def test_corrupted_query_result_is_caught(tmp_path):
    src, meta = _graph(tmp_path, 3)
    con = verify.graph_con(src)
    disease = max(meta["diseases"], key=meta["diseases"].get)
    want = con.execute(verify.graph_sql("q7", disease)).df()
    verify.same_rows(want.sample(frac=1, random_state=0), want, "shuffled rows")
    bad = want.copy()
    bad.loc[0, "m"] = "S0"
    with pytest.raises(verify.CheckFailed):
        verify.same_rows(bad, want, "q7")
    with pytest.raises(verify.CheckFailed):
        verify.same_rows(want.iloc[1:], want, "q7")
    q1 = con.execute(verify.graph_sql("q1", None)).df()
    off = q1.copy()
    off.loc[3, "crispr"] += 0.01
    with pytest.raises(verify.CheckFailed):
        verify.same_rows(off, q1, "q1", tol=1.01e-4)


def test_corrupted_kernel_result_is_caught(tmp_path):
    import independent_impl as impl

    q5 = pd.DataFrame({
        "sample": ["C1"] * 3 + ["C2"] * 2,
        "phage": ["P1", "P1", "P2", "P1", "P3"],
        "host": ["S1", "S2", "S1", "S1", "S3"],
        "phage_abundance": [10, 10, 5, 7, 9],
        "host_abundance": [3, 4, 3, 2, 8],
        "phage_length": [20000, 20000, 30000, 20000, 10000],
        "host_length": [None] * 5,
        "weight": [1.5, 1.25, 2.0, 1.0, 0.5],
    })
    want = verify.diversity_replay(impl, q5, ["C1", "C2"], eigen_iter=4, pr_iter=3)
    verify.close_maps(dict(want["centrality"]), want["centrality"], "same", 2e-6)
    bad = dict(want["centrality"])
    k = next(iter(bad))
    bad[k] += 1e-3
    with pytest.raises(verify.CheckFailed):
        verify.close_maps(bad, want["centrality"], "eigenvector_centrality", 2e-6)
    assert want["components"][("C1", "S2")] == "P1"  # one component, least id


def test_repeated_op_must_repeat_its_checked_output():
    import workloads

    class W(workloads.Workload):
        def full_check(self, op, out):
            self.full = getattr(self, "full", 0) + 1

    w = W.__new__(W)
    w.seen = {}
    op = workloads.Op("q", lambda: None, ("q", 1))
    df = pd.DataFrame({"a": [1, 2]})
    w.check(op, df)
    w.check(op, df.iloc[::-1])  # row order is free
    assert w.full == 1
    with pytest.raises(verify.CheckFailed):
        w.check(op, pd.DataFrame({"a": [1, 3]}))


def test_benchmark_json_matches_the_code():
    import run
    import workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert {w["name"] for w in bench["workloads"]} <= set(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == layers.metric_units()
    assert [m["name"] for m in bench["end_to_end"]] == list(run.END_TO_END)
    assert all(m["bound"] <= 0.25 for m in bench["end_to_end"])


def test_tail_is_the_highest_percentile_with_ten_beyond():
    import run

    v, p = run.tail([float(i) for i in range(40)])
    assert v == 29.0 and p == pytest.approx(75.0)
    assert run.tail([1.0, 3.0, 2.0]) == (3.0, 100.0)
