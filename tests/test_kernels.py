"""Closed-form graph-kernel fixtures (FIXTURES.md §8): path P5, star S10,
clique K5, two-component graph, weighted triangle, bipartite 3x3."""

import math

import pytest
from pyspark.sql import functions as F

from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators import kernels as K
from tests.conftest import count_jobs, edges_df

P5 = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")]
S10 = [("hub", f"leaf{i}") for i in range(9)]  # star, 10 nodes
K5 = [(a, b) for a in "abcde" for b in "abcde" if a < b]
TWO_COMP = [("a", "b"), ("b", "c"), ("x", "y")]
BIPARTITE_33 = [(p, h) for p in ["p1", "p2", "p3"] for h in ["h1", "h2", "h3"]]


def as_map(rows, k, v):
    return {r[k]: r[v] for r in rows}


def test_degrees_star(spark):
    deg = as_map(K.degrees(edges_df(spark, S10)).collect(), "node", "degree")
    assert deg["hub"] == 9
    assert deg["leaf3"] == 1


def test_graph_size(spark):
    row = K.graph_size(edges_df(spark, K5)).collect()[0]
    assert row.n_nodes == 5 and row.n_edges == 10


def test_diameter_radius_path(spark):
    d = K.bfs_distances(edges_df(spark, P5))
    row = K.diameter_radius(d).collect()[0]
    assert row.diameter == 4 and row.radius == 2


def test_diameter_clique(spark):
    d = K.bfs_distances(edges_df(spark, K5))
    row = K.diameter_radius(d).collect()[0]
    assert row.diameter == 1 and row.radius == 1


def test_eccentricity_path(spark):
    d = K.bfs_distances(edges_df(spark, P5))
    ecc = as_map(K.eccentricity(d).collect(), "node", "eccentricity")
    assert ecc == {"a": 4, "b": 3, "c": 2, "d": 3, "e": 4}


def test_closeness_path(spark):
    d = K.bfs_distances(edges_df(spark, P5))
    clo = as_map(K.closeness_centrality(d).collect(), "node", "closeness")
    # center c: dists 2+1+1+2 = 6 → 4/6
    assert clo["c"] == pytest.approx(4 / 6, abs=1e-6)
    # end a: dists 1+2+3+4 = 10 → 4/10
    assert clo["a"] == pytest.approx(0.4, abs=1e-6)


def test_connected_components(spark):
    comp = as_map(
        K.connected_components(edges_df(spark, TWO_COMP)).collect(), "node", "component"
    )
    assert comp["a"] == comp["b"] == comp["c"] == "a"
    assert comp["x"] == comp["y"] == "x"
    assert comp["a"] != comp["x"]


def test_connected_components_grouped_local(spark):
    # same edge pairs under two group keys must resolve independently
    e = spark.createDataFrame(
        [("g1", "a", "b"), ("g1", "x", "y"), ("g2", "b", "x")],
        "grp string, src string, dst string",
    )
    rows = K.connected_components(e, ["grp"]).collect()
    comp = {(r.grp, r.node): r.component for r in rows}
    assert comp[("g1", "a")] == comp[("g1", "b")] == "a"
    assert comp[("g1", "x")] == comp[("g1", "y")] == "x"
    assert comp[("g2", "b")] == comp[("g2", "x")] == "b"


# in-task vs superstep parity: (kernel, case) pairs; cc has no
# max_iter=0 case (its max_iter caps convergence, 0 always raises)
_PARITY_KERNELS = {
    "cc": lambda e, g, it: K.connected_components(e, g),
    "eigenvector": lambda e, g, it: K.eigenvector_centrality(e, g, max_iter=it),
    "pagerank": lambda e, g, it: K.pagerank(e, g, weight_col="weight", max_iter=it),
}
_PARITY_CASES = [
    "two_comp", "p5", "k5", "s10", "bipartite33_weighted",
    "grouped_int_ids", "self_loop", "null_weight", "one_edge_group", "max_iter0",
]


def _parity_case(spark, case):
    """(edges, group_cols, max_iter of the power-iteration kernels)."""
    plain = {"two_comp": TWO_COMP, "p5": P5, "k5": K5, "s10": S10}
    if case in plain:
        return edges_df(spark, plain[case]), None, 10
    if case in ("bipartite33_weighted", "max_iter0"):
        e = edges_df(spark, BIPARTITE_33, weights=[1, 2, 3, 4, 5, 6, 7, 8, 9])
        return e, None, (0 if case == "max_iter0" else 10)
    if case == "grouped_int_ids":
        e = spark.createDataFrame(
            [(1, 2, 10, 1.5), (1, 10, 7, 2.0), (1, 7, 2, 0.5), (1, 7, 3, 1.0),
             (2, 3, 5, 1.0), (2, 5, 8, 3.0), (2, 8, 3, 2.0)],
            "grp int, src long, dst long, weight double",
        )
        return e, ["grp"], 10
    if case == "self_loop":
        e = edges_df(spark, [("a", "a"), ("a", "b"), ("b", "c")], weights=[4.0, 1.0, 2.0])
        return e, None, 10
    if case == "null_weight":
        # a NULL weight contributes nothing; x's only weight is NULL
        e = spark.createDataFrame(
            [("a", "b", 1.0), ("b", "c", None), ("c", "d", 3.0), ("d", "e", 4.0), ("x", "y", None)],
            "src string, dst string, weight double",
        )
        return e, None, 10
    # one_edge_group: a one-edge group next to a P5 group
    e = edges_df(spark, P5, weights=[1, 2, 3, 4], group="g1").unionByName(
        edges_df(spark, [("x", "y")], weights=[2.0], group="g2")
    )
    return e, ["g"], 10


@pytest.mark.parametrize(
    "kernel,case",
    [(k, c) for k in _PARITY_KERNELS for c in _PARITY_CASES if (k, c) != ("cc", "max_iter0")],
)
def test_in_task_matches_superstep(spark, monkeypatch, kernel, case):
    """The in-task regime (each group solved inside one task) and the
    superstep regime give EQUAL rounded outputs and schemas — not
    merely close ones."""
    e, g, it = _parity_case(spark, case)
    run = _PARITY_KERNELS[kernel]
    calls = []
    real = K._in_task
    monkeypatch.setattr(K, "_in_task", lambda *a: calls.append(1) or real(*a))
    local = run(e, g, it)
    local_rows = sorted(map(tuple, local.collect()))
    assert calls, "the small graph did not take the in-task path"
    monkeypatch.setattr(K, "_IN_TASK_ROWS", 0)
    superstep = run(e, g, it)
    assert len(calls) == 1, "_IN_TASK_ROWS = 0 did not force the superstep path"
    assert local.schema == superstep.schema
    assert local_rows == sorted(map(tuple, superstep.collect()))


@pytest.mark.parametrize("kernel", ["eigenvector", "pagerank"])
def test_in_task_job_count_independent_of_max_iter(spark, kernel):
    """On a small grouped graph the whole iteration runs in-task, so
    the number of Spark jobs does not grow with max_iter (each
    superstep adds jobs)."""
    e, g, _ = _parity_case(spark, "one_edge_group")

    def jobs(max_iter):
        return count_jobs(spark, lambda: _PARITY_KERNELS[kernel](e, g, max_iter).collect())

    assert jobs(2) == jobs(12)


@pytest.mark.parametrize("kernel", list(_PARITY_KERNELS))
def test_in_task_job_count(spark, kernel):
    """An in-task call on a materialized grouped input runs 5 jobs: the
    static-graph checkpoint (its group exchange and its write, which
    also observes the row counts that pick the regime), the in-task
    checkpoint (the same two) and the collect.  A count job to pick the
    regime, or PageRank's (group, src) window for p = w/Σw, would add
    more."""
    e, g, it = _parity_case(spark, "one_edge_group")
    e = K._checkpoint(e)
    assert count_jobs(spark, lambda: _PARITY_KERNELS[kernel](e, g, it).collect()) <= 5


@pytest.mark.parametrize("kernel", list(_PARITY_KERNELS))
def test_in_task_routes_on_largest_group(spark, monkeypatch, kernel):
    """The regime follows the LARGEST group's adjacency rows, not the
    total: four P5 groups (8 rows each, 32 in all) stay in-task at a
    cutoff of 8, in at least ceil(32 / 8) partitions, and go superstep
    at 7, with equal rows."""
    e = edges_df(spark, P5, weights=[1, 2, 3, 4], group="g0")
    for i in range(1, 4):
        e = e.unionByName(edges_df(spark, P5, weights=[i, 1, 2, 5 - i], group=f"g{i}"))
    run = _PARITY_KERNELS[kernel]
    parts = []
    real = K._per_group
    monkeypatch.setattr(K, "_per_group", lambda *a: parts.append(a[4]) or real(*a))
    monkeypatch.setattr(K, "_IN_TASK_ROWS", 8)
    local = sorted(map(tuple, run(e, ["g"], 10).collect()))
    assert parts and parts[0] >= 4, "8-row groups under a cutoff of 8 did not run in-task"
    monkeypatch.setattr(K, "_IN_TASK_ROWS", 7)
    assert local == sorted(map(tuple, run(e, ["g"], 10).collect()))
    assert len(parts) == 1, "8-row groups over a cutoff of 7 did not go superstep"


def test_kernel_leaves_session_usable_by_mllib(spark):
    """The static graph's row counts must not leave the session
    unserializable: a LogisticRegression model (whose transform closure
    captures the session through its training summary) still scores
    after a kernel call."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    K.pagerank(edges_df(spark, P5)).collect()
    rows = spark.createDataFrame([(float(i % 2), float(i)) for i in range(20)], "label double, x double")
    data = VectorAssembler(inputCols=["x"], outputCol="features").transform(rows)
    assert len(LogisticRegression(maxIter=3).fit(data).transform(data).select("prediction").collect()) == 20


@pytest.mark.parametrize("in_task", [True, False])
def test_pagerank_zero_weight_sum_raises(spark, monkeypatch, in_task):
    """A source whose non-NULL weights sum to 0 has no transition
    weights p = w/Σw: both regimes raise DIVIDE_BY_ZERO (ANSI mode)
    rather than return ranks."""
    if not in_task:
        monkeypatch.setattr(K, "_IN_TASK_ROWS", 0)
    e = spark.createDataFrame(
        [("a", "b", 0.0), ("a", "c", None), ("b", "c", 1.0)],
        "src string, dst string, weight double",
    )
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        K.pagerank(e, weight_col="weight").collect()


def test_connected_components_superstep_raises_unconverged(spark, monkeypatch):
    """The superstep path never returns an over-split partition: P5
    needs 5 supersteps, so max_iter=1 must raise."""
    monkeypatch.setattr(K, "_IN_TASK_ROWS", 0)
    with pytest.raises(RuntimeError, match="did not converge in 1 supersteps"):
        K.connected_components(edges_df(spark, P5), max_iter=1)


def _counted_p5(spark):
    """P5 as a lazy input whose every row read (by any job) counts on
    an accumulator."""
    acc = spark.sparkContext.accumulator(0)

    def read(row):
        acc.add(1)
        return row

    rdd = spark.sparkContext.parallelize(P5, 1).map(read)
    return spark.createDataFrame(rdd, "src string, dst string"), acc


_READ_ONCE_KERNELS = {
    "eigenvector": K.eigenvector_centrality,
    "pagerank": K.pagerank,
    "katz": K.katz_centrality,
    "lpa": K.label_propagation,
    "cc": K.connected_components,
    "bfs": K.bfs_distances,
    "bfs_directed": lambda e: K.bfs_distances(e, directed=True),
    "approx_betweenness": lambda e: K.approx_betweenness(e, n_pivots=None),
    "betweenness": K.betweenness_centrality,
    "alpha": K.alpha_centrality,
    "greedy_modularity": K.greedy_modularity,
}


@pytest.mark.parametrize("kernel", list(_READ_ONCE_KERNELS))
def test_kernel_reads_input_once(spark, kernel):
    """Read-once rule: a kernel reads its (lazy) input once per call,
    set-up, every superstep and the consumer's job included."""
    e, reads = _counted_p5(spark)
    _READ_ONCE_KERNELS[kernel](e).collect()
    assert reads.value == len(P5)


@pytest.mark.parametrize("kernel", ["betweenness", "alpha", "greedy_modularity"])
def test_per_group_kernels_keep_group_types(spark, kernel):
    """One output contract for every per-group solve: group columns keep
    their input type, node ids are strings, and the values do not
    depend on the group column's type."""
    from pyspark.sql.types import StringType

    e, g, _ = _parity_case(spark, "grouped_int_ids")
    run = {
        "betweenness": lambda e: K.betweenness_centrality(e, g),
        "alpha": lambda e: K.alpha_centrality(e, 0.05, g, weight_col="weight"),
        "greedy_modularity": lambda e: K.greedy_modularity(e, g, weight_col="weight"),
    }[kernel]
    native = run(e)
    strings = run(e.withColumn("grp", F.col("grp").cast("string")))
    assert native.schema["grp"].dataType == e.schema["grp"].dataType
    assert native.schema["node"].dataType == StringType()
    assert sorted((str(r[0]), *r[1:]) for r in native.collect()) == sorted(
        map(tuple, strings.collect())
    )


def test_approx_betweenness_exact_when_all_pivots(spark):
    # pivots=None → every node is a source → exactly Brandes
    for fixture in (P5, S10):
        exact = as_map(
            K.betweenness_centrality(edges_df(spark, fixture)).collect(),
            "node",
            "betweenness",
        )
        dist = as_map(
            K.approx_betweenness(edges_df(spark, fixture), n_pivots=None).collect(),
            "node",
            "betweenness",
        )
        assert dist == exact
    # path P5 known values sanity: ends 0, center 4
    p5 = as_map(
        K.approx_betweenness(edges_df(spark, P5), n_pivots=None).collect(),
        "node",
        "betweenness",
    )
    assert p5 == {"a": 0.0, "b": 3.0, "c": 4.0, "d": 3.0, "e": 0.0}


def test_approx_betweenness_local_matches_superstep_path(spark, monkeypatch):
    # the small-graph single-task solve and the distributed superstep
    # path must be numerically identical: same md5 pivot set, same V/k
    # scaling, same depth cap — on exact AND sampled runs, and when the
    # depth cap truncates the BFS (P5 with max_depth=2)
    cases = [
        (P5, None, 20),
        (S10, None, 20),
        (TWO_COMP, None, 20),
        (P5, 3, 20),
        (S10, 4, 20),
        (P5, None, 2),
        (P5, 3, 2),
    ]
    for fixture, n_pivots, max_depth in cases:
        local = as_map(
            K.approx_betweenness(
                edges_df(spark, fixture), n_pivots=n_pivots, max_depth=max_depth
            ).collect(),
            "node",
            "betweenness",
        )
        with monkeypatch.context() as m:
            m.setattr(K, "_LOCAL_BRANDES_NODES", 0)
            superstep = as_map(
                K.approx_betweenness(
                    edges_df(spark, fixture), n_pivots=n_pivots, max_depth=max_depth
                ).collect(),
                "node",
                "betweenness",
            )
        assert local == superstep, (fixture, n_pivots, max_depth)


def test_approx_betweenness_sampled_deterministic(spark):
    a = as_map(
        K.approx_betweenness(edges_df(spark, K5), n_pivots=2).collect(),
        "node",
        "betweenness",
    )
    b = as_map(
        K.approx_betweenness(edges_df(spark, K5), n_pivots=2).collect(),
        "node",
        "betweenness",
    )
    assert a == b  # md5 pivot choice is deterministic
    assert all(v >= 0 for v in a.values())
    # K5: every node's true betweenness is 0 (all pairs adjacent) — the
    # estimator must agree regardless of which pivots were sampled
    assert set(a.values()) == {0.0}


def test_connectivity_summary(spark):
    # directed 3-cycle: strongly AND weakly connected
    cyc = K.connectivity_summary(edges_df(spark, [("a", "b"), ("b", "c"), ("c", "a")])).first()
    assert (cyc.strongly_connected, cyc.weakly_connected) == (1, 1)
    # directed chain: weakly but not strongly connected
    chain = K.connectivity_summary(edges_df(spark, [("a", "b"), ("b", "c")])).first()
    assert (chain.strongly_connected, chain.weakly_connected) == (0, 1)
    assert chain.forward_reach == 3 and chain.backward_reach == 1
    # two components: neither
    two = K.connectivity_summary(edges_df(spark, TWO_COMP)).first()
    assert (two.strongly_connected, two.weakly_connected) == (0, 0)
    assert K.is_connected(edges_df(spark, TWO_COMP), "weak") is False
    assert K.is_connected(edges_df(spark, [("a", "b"), ("b", "a")]), "strong") is True


def _symmetrize_union(edges, g):
    """The two-projection union form of symmetrize (forward ∪ reversed,
    then the MAX-weight or dedup rule): the rows symmetrize must keep."""
    w = ["weight"] if "weight" in edges.columns else []
    fwd = edges.select(*g, "src", "dst", *w)
    rev = edges.select(*g, F.col("dst").alias("src"), F.col("src").alias("dst"), *w)
    both = fwd.unionByName(rev)
    if w:
        return both.groupBy(*g, "src", "dst").agg(F.max("weight").alias("weight"))
    return both.dropDuplicates([*g, "src", "dst"])


@pytest.mark.parametrize(
    "case",
    ["self_loops", "max_rule", "unweighted_duplicates", "int_ids", "grouped"],
)
def test_symmetrize_matches_union_form(spark, case):
    g = []
    if case == "self_loops":
        e = edges_df(spark, [("a", "a"), ("a", "b"), ("b", "b")], weights=[4.0, 1.0, 2.0])
    elif case == "max_rule":
        # (a,b,w1) and (b,a,w2) both present: MAX of the two, both ways
        e = edges_df(spark, [("a", "b"), ("b", "a"), ("a", "b"), ("c", "a")],
                     weights=[1.0, 3.0, 2.0, 5.0])
    elif case == "unweighted_duplicates":
        e = edges_df(spark, [("a", "b"), ("a", "b"), ("b", "a"), ("c", "c"), ("c", "c")])
    elif case == "int_ids":
        e = spark.createDataFrame([(2, 10), (10, 2), (3, 3), (3, 5)], "src long, dst long")
    else:
        g = ["g"]
        e = edges_df(spark, [("a", "b"), ("b", "a")], weights=[1.0, 2.0], group="g1").unionByName(
            edges_df(spark, [("a", "b"), ("b", "c")], weights=[7.0, 1.0], group="g2"))
    got, want = K.symmetrize(e, g), _symmetrize_union(e, g)
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())
    if case == "max_rule":
        ws = {(r.src, r.dst): r.weight for r in got.collect()}
        assert ws == {("a", "b"): 3.0, ("b", "a"): 3.0, ("a", "c"): 5.0, ("c", "a"): 5.0}


def test_eigenvector_star(spark):
    # star: hub has max centrality 1; leaves all equal at 1/sqrt(k) for S_k
    cen = as_map(
        K.eigenvector_centrality(edges_df(spark, S10), weight_col=None).collect(),
        "node",
        "centrality",
    )
    assert cen["hub"] == pytest.approx(1.0, abs=1e-6)
    for i in range(9):
        # star S_k leading eigenvector: hub=1, leaves = 1/sqrt(k)
        assert cen[f"leaf{i}"] == pytest.approx(1 / math.sqrt(9), abs=1e-3)


def test_eigenvector_weighted_triangle(spark):
    # triangle with one heavy edge: a-b weight 2, others 1.
    # Adjacency [[0,2,1],[2,0,1],[1,1,0]]: eigenvector (1,1,t) with
    # t² + 2t − 2 = 0 → t = √3 − 1 ≈ 0.7321, λ₁ = 2 + t.
    e = edges_df(spark, [("a", "b"), ("b", "c"), ("a", "c")], weights=[2.0, 1.0, 1.0])
    cen = as_map(K.eigenvector_centrality(e).collect(), "node", "centrality")
    assert cen["a"] == pytest.approx(cen["b"], abs=1e-5)
    assert cen["c"] < cen["a"]
    assert cen["c"] == pytest.approx(math.sqrt(3) - 1, abs=1e-3)


def test_centralization_star_vs_clique(spark):
    star_c = K.centralization(
        K.eigenvector_centrality(edges_df(spark, S10), weight_col=None)
    ).collect()[0]["centralization"]
    clique_c = K.centralization(
        K.eigenvector_centrality(edges_df(spark, K5), weight_col=None)
    ).collect()[0]["centralization"]
    assert star_c > 0.5  # star maximizes centralization
    assert clique_c == pytest.approx(0.0, abs=1e-5)  # symmetric graph → 0


def test_pagerank_star(spark):
    pr = as_map(
        K.pagerank(edges_df(spark, S10)).collect(),
        "node",
        "pagerank",
    )
    assert pr["hub"] > pr["leaf0"]
    assert sum(pr.values()) == pytest.approx(1.0, abs=1e-4)
    assert pr["leaf1"] == pytest.approx(pr["leaf7"], abs=1e-8)


def test_node_entropy_uniform(spark):
    # node with k equal-weight edges → entropy ln(k)
    e = edges_df(spark, [("n", "a"), ("n", "b"), ("n", "c"), ("n", "d")],
                 weights=[1, 1, 1, 1])
    h = as_map(K.node_entropy(e).collect(), "node", "entropy")
    assert h["n"] == pytest.approx(math.log(4), abs=1e-6)


def test_label_propagation_two_cliques(spark):
    # two K3s joined by one bridge edge → two communities
    pairs = (
        [(a, b) for a in "abc" for b in "abc" if a < b]
        + [(a, b) for a in "xyz" for b in "xyz" if a < b]
        + [("c", "x")]
    )
    lab = as_map(K.label_propagation(edges_df(spark, pairs)).collect(), "node", "community")
    assert lab["a"] == lab["b"] == lab["c"]
    assert lab["x"] == lab["y"] == lab["z"]
    assert lab["a"] != lab["x"]


def test_modularity_two_cliques(spark):
    pairs = (
        [(a, b) for a in "abc" for b in "abc" if a < b]
        + [(a, b) for a in "xyz" for b in "xyz" if a < b]
        + [("c", "x")]
    )
    e = edges_df(spark, pairs)
    comm = K.label_propagation(e)
    q = K.modularity(e, comm).collect()[0]["modularity"]
    # known value for two K3s + bridge with perfect split: Q = 10/49 ≈ 0.367 — wait,
    # m=7; intra=6; Q = 6/7 - ( (7/14)^2 + (7/14)^2 ) = 0.857 - 0.5 = 0.357
    assert q == pytest.approx(0.357, abs=0.01)


def test_greedy_modularity_two_cliques(spark):
    # CNM on two K3s + bridge: the greedy agglomeration must recover the
    # cliques exactly, with the published Q = 2·(3/7 − (7/14)²) = 0.357143
    pairs = (
        [(a, b) for a in "abc" for b in "abc" if a < b]
        + [(a, b) for a in "xyz" for b in "xyz" if a < b]
        + [("c", "x")]
    )
    e = edges_df(spark, pairs)
    rows = K.greedy_modularity(e).collect()
    lab = as_map(rows, "node", "community")
    assert lab["a"] == lab["b"] == lab["c"]
    assert lab["x"] == lab["y"] == lab["z"]
    assert lab["a"] != lab["x"]
    q = rows[0]["modularity"]
    assert q == pytest.approx(5.0 / 14.0, abs=1e-6)
    # the reported Q must equal what the modularity() aggregate computes
    # for the same labels
    comm = e.sparkSession.createDataFrame(
        [(n, c) for n, c in lab.items()], "node string, community string"
    )
    q2 = K.modularity(e, comm).collect()[0]["modularity"]
    assert q == pytest.approx(q2, abs=1e-6)


def test_greedy_modularity_grouped_and_deterministic(spark):
    # two disjoint cliques with NO bridge in group g1 (Q = 1/2 for the
    # 2-clique partition of two K3s: 6/6 − 2·(6/12)² = 0.5) and a path
    # graph in g2 — one job, per-group results; rerun must be identical
    pairs1 = [(a, b) for a in "abc" for b in "abc" if a < b] + [
        (a, b) for a in "xyz" for b in "xyz" if a < b
    ]
    pairs2 = [("p", "q"), ("q", "r"), ("r", "s")]
    e = edges_df(spark, pairs1, group="g1").unionByName(
        edges_df(spark, pairs2, group="g2")
    )
    out1 = sorted(map(tuple, K.greedy_modularity(e, ["g"]).collect()))
    out2 = sorted(map(tuple, K.greedy_modularity(e, ["g"]).collect()))
    assert out1 == out2
    g1 = {r[1]: r[2] for r in out1 if r[0] == "g1"}
    assert g1["a"] == g1["b"] == g1["c"]
    assert g1["x"] == g1["y"] == g1["z"]
    assert g1["a"] != g1["x"]
    q1 = {r[3] for r in out1 if r[0] == "g1"}
    assert len(q1) == 1
    assert next(iter(q1)) == pytest.approx(0.5, abs=1e-6)


def test_grouped_kernels_independent_groups(spark):
    # same kernel invocation computes both groups at once
    e1 = edges_df(spark, P5, group="g1")
    e2 = edges_df(spark, S10, group="g2")
    e = e1.unionByName(e2)
    sizes = {r["g"]: (r.n_nodes, r.n_edges) for r in K.graph_size(e, ["g"]).collect()}
    assert sizes["g1"] == (5, 4)
    assert sizes["g2"] == (10, 9)
    d = K.bfs_distances(e, ["g"])
    dr = {r["g"]: (r.diameter, r.radius) for r in K.diameter_radius(d, ["g"]).collect()}
    assert dr["g1"] == (4, 2)
    assert dr["g2"] == (2, 1)


def test_sample_edges_deterministic(spark):
    e = edges_df(spark, K5)
    a = sorted(map(tuple, K.sample_edges(e, 0.5, seed=7).select("src", "dst").collect()))
    b = sorted(map(tuple, K.sample_edges(e, 0.5, seed=7).select("src", "dst").collect()))
    assert a == b
    assert 0 < len(a) < 10


def test_betweenness_path(spark):
    # path a-b-c-d-e, undirected exact betweenness: a/e=0, b/d=3, c=4
    bc = as_map(K.betweenness_centrality(edges_df(spark, P5)).collect(), "node", "betweenness")
    assert bc["a"] == pytest.approx(0.0)
    assert bc["b"] == pytest.approx(3.0)
    assert bc["c"] == pytest.approx(4.0)
    assert bc["d"] == pytest.approx(3.0)


def test_betweenness_star(spark):
    # star: hub on every pair's path: C(9,2)=36; leaves 0
    bc = as_map(K.betweenness_centrality(edges_df(spark, S10)).collect(), "node", "betweenness")
    assert bc["hub"] == pytest.approx(36.0)
    assert bc["leaf0"] == pytest.approx(0.0)


def test_betweenness_grouped(spark):
    e = edges_df(spark, P5, group="g1").unionByName(edges_df(spark, S10, group="g2"))
    bc = {(r["g"], r["node"]): r["betweenness"]
          for r in K.betweenness_centrality(e, ["g"]).collect()}
    assert bc[("g1", "c")] == pytest.approx(4.0)
    assert bc[("g2", "hub")] == pytest.approx(36.0)


def test_alpha_centrality_path_matches_numpy(spark):
    import numpy as np

    nodes = sorted({n for e in P5 for n in e})
    idx = {n: i for i, n in enumerate(nodes)}
    A = np.zeros((5, 5))
    for s, d in P5:
        A[idx[d], idx[s]] = 1.0
        A[idx[s], idx[d]] = 1.0
    expected = np.linalg.solve(np.eye(5) - 0.1 * A, np.ones(5))
    got = as_map(K.alpha_centrality(edges_df(spark, P5), alpha=0.1).collect(),
                 "node", "alpha_centrality")
    for n in nodes:
        assert got[n] == pytest.approx(expected[idx[n]], abs=1e-5)


def test_katz_centrality_matches_truncated_series_and_exact(spark):
    import numpy as np

    nodes = sorted({n for e in P5 for n in e})
    idx = {n: i for i, n in enumerate(nodes)}
    A = np.zeros((5, 5))
    for s, d in P5:
        A[idx[d], idx[s]] = 1.0
        A[idx[s], idx[d]] = 1.0
    alpha, iters = 0.1, 15
    x = np.ones(5)
    for _ in range(iters):
        x = np.ones(5) + alpha * (A @ x)
    got = as_map(
        K.katz_centrality(edges_df(spark, P5), alpha=alpha, max_iter=iters).collect(),
        "node", "katz",
    )
    for n in nodes:
        # exact truncated-series replay (both compute the same finite sum)
        assert got[n] == pytest.approx(x[idx[n]], abs=1e-6)
    # and with alpha < 1/lambda1 the series has converged to the solve
    exact = np.linalg.solve(np.eye(5) - alpha * A, np.ones(5))
    for n in nodes:
        assert got[n] == pytest.approx(exact[idx[n]], abs=1e-3)


def test_self_loop_degree_and_gsize(spark):
    """igraph parity on self-loops: a loop adds 2 to its node's degree
    and counts as ONE edge (rows/2 used to truncate on odd counts)."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators import kernels as K

    e = spark.createDataFrame(
        [("a", "a"), ("a", "b"), ("b", "c")], "src string, dst string"
    )
    deg = {r.node: r.degree for r in K.degrees(e).collect()}
    # a: loop (counts 2) + edge to b (counts 1) = 3, igraph::degree parity
    assert deg == {"a": 3, "b": 2, "c": 1}
    gs = K.graph_size(e).collect()[0]
    assert gs.n_nodes == 3 and gs.n_edges == 3  # loop = one edge, no truncation
    only_loop = spark.createDataFrame([("x", "x")], "src string, dst string")
    gs2 = K.graph_size(only_loop).collect()[0]
    assert gs2.n_nodes == 1 and gs2.n_edges == 1  # was 0 via (1/2).cast(long)


def test_connected_components_paths_agree_on_int_ids(spark, monkeypatch):
    """Local union-find and superstep min-label must return the SAME
    labels and schema for integer node ids (both stringify)."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators import kernels as K

    e = spark.createDataFrame([(2, 10), (10, 7), (3, 5)], "src long, dst long")
    local = {r.node: r.component for r in K.connected_components(e).collect()}
    monkeypatch.setattr(K, "_IN_TASK_ROWS", 0)
    superstep = {r.node: r.component for r in K.connected_components(e).collect()}
    assert local == superstep
    # lexicographic min on stringified ids: "10" < "2" < "7"
    assert local["2"] == "10" and local["7"] == "10" and local["5"] == "3"


def test_centralization_single_node_is_zero(spark):
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators import kernels as K

    one = spark.createDataFrame([("a", 1.0)], "node string, centrality double")
    row = K.centralization(one).collect()[0]
    assert row.centralization == 0.0  # was NULL via 0/0


def test_bfs_raises_on_silent_truncation(spark):
    """A capped sweep that would corrupt diameter/connectivity must
    raise; allow_truncated=True restores bounded-exploration use."""
    import pytest as _pytest

    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators import kernels as K

    path = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(8)], "src string, dst string"
    )
    with _pytest.raises(RuntimeError, match="frontier still expanding"):
        K.bfs_distances(path, max_depth=3).count()
    capped = K.bfs_distances(path, max_depth=3, allow_truncated=True)
    assert capped.agg({"dist": "max"}).collect()[0][0] == 3
    # a sweep that completes under the cap is unaffected
    full = K.bfs_distances(path, max_depth=20)
    assert full.agg({"dist": "max"}).collect()[0][0] == 8


def test_approx_betweenness_error_bound_realistic_pivots(spark):
    """Accuracy contract for the pivot-sampled path on a NON-TOY graph
    (r03 verdict item #7): on the sf0.001 Infects graph (210 nodes,
    ~1.9k directed pairs), the Brandes-Pich estimate at realistic pivot
    counts must stay within a documented relative-error envelope of the
    exact values, and must recover the exact top-10 nodes.  Everything
    is deterministic (md5 pivot order), so these are fixed numbers, not
    statistical bounds: measured max relative error (vs the exact max)
    is 0.114 at 32 pivots and 0.068 at 64 — pinned with headroom at
    0.15 / 0.10.  Exact equality when pivots >= |V| is covered by
    test_approx_betweenness_* above; this pins the SAMPLED regime."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.kernels import approx_betweenness
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.plans.testdata_graph import infects_edges

    e = infects_edges(spark, "/root/testdata/sf0.001").select("src", "dst")
    exact = {r.node: r.betweenness for r in approx_betweenness(e, n_pivots=None).collect()}
    mx = max(exact.values())
    top10 = set(sorted(exact, key=lambda n: -exact[n])[:10])
    for n_pivots, bound in ((32, 0.15), (64, 0.10)):
        appr = {
            r.node: r.betweenness
            for r in approx_betweenness(e, n_pivots=n_pivots).collect()
        }
        max_err = max(abs(appr.get(n, 0.0) - v) / mx for n, v in exact.items())
        assert max_err <= bound, (n_pivots, max_err)
        assert set(sorted(appr, key=lambda n: -appr[n])[:10]) == top10


def test_approx_betweenness_error_bound_bench_scale(spark):
    """Approximation grade at BENCH scale (r04 verdict ask #7): the
    sf0.1 nation-0 supplier subgraph, built exactly as gk_betweenness
    builds it (quantity>45, per-nation, hash-capped at 800 edges).
    Unlike the connected sf0.001 Infects graph (max rel err 0.114 at 32
    pivots), this subgraph is FRAGMENTED — 831 nodes in 31 components,
    largest 105 — and pivot sampling degrades with component coverage:
    the Brandes-Pich V/k scale is unbiased only once pivots land in
    every mass-bearing component.  All numbers are deterministic (md5
    pivot order), measured once and pinned with headroom:

        pivots   max rel err   exact-top10 overlap
          32        1.099            8/10
          64        0.363            9/10
         128        0.286            9/10
         256        0.105           10/10

    Operating guidance this test documents: on fragmented graphs scale
    n_pivots with the component count (~8 pivots per component
    recovered the exact top-10 here), or run exact Brandes
    per-component via betweenness_centrality's grouped solver."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.kernels import approx_betweenness
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.relational import best_hit
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.schemas import load_table

    sf = "/root/testdata/sf0.1"
    li = load_table(spark, sf, "lineitem")
    supp = load_table(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    e = (
        li.filter(F.col("l_quantity") > 45)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .select(
            F.col("s_nationkey").cast("string").alias("grp"),
            F.concat(F.lit("P"), F.col("l_partkey")).alias("src"),
            F.concat(F.lit("S"), F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
    )
    e = best_hit(e, keys=["grp"], order=[F.abs(F.xxhash64("src", "dst")).asc()], n=800)
    g0 = e.filter(F.col("grp") == "0").select("src", "dst")
    exact = {r.node: r.betweenness for r in approx_betweenness(g0, n_pivots=None).collect()}
    assert len(exact) == 831
    mx = max(exact.values())
    top10 = set(sorted(exact, key=lambda n: -exact[n])[:10])
    for n_pivots, bound, min_overlap in (
        (32, 1.3, 7),
        (64, 0.45, 8),
        (128, 0.35, 8),
        (256, 0.15, 10),
    ):
        appr = {
            r.node: r.betweenness
            for r in approx_betweenness(g0, n_pivots=n_pivots).collect()
        }
        max_err = max(abs(appr.get(n, 0.0) - v) / mx for n, v in exact.items())
        assert max_err <= bound, (n_pivots, max_err)
        overlap = len(set(sorted(appr, key=lambda n: -appr[n])[:10]) & top10)
        assert overlap >= min_overlap, (n_pivots, overlap)
    # component-stratified pivots on the same graph: measured 0.520 at
    # 32 and 0.169 at 128 (vs 1.099/0.286 global) with the exact top-10
    # recovered at 128 — half the budget the global estimator needed
    for n_pivots, bound, min_overlap in ((32, 0.65, 8), (128, 0.25, 10)):
        appr = {
            r.node: r.betweenness
            for r in approx_betweenness(
                g0, n_pivots=n_pivots, stratify_components=True
            ).collect()
        }
        max_err = max(abs(appr.get(n, 0.0) - v) / mx for n, v in exact.items())
        assert max_err <= bound, ("stratified", n_pivots, max_err)
        overlap = len(set(sorted(appr, key=lambda n: -appr[n])[:10]) & top10)
        assert overlap >= min_overlap, ("stratified", n_pivots, overlap)


def test_stratified_betweenness_coverage_parity_exactness(spark, monkeypatch):
    """The three contracts of stratify_components: (1) COVERAGE — every
    component gets >= 1 pivot, so no component's estimate is
    identically zero (the global estimator's structural failure mode on
    fragmented graphs); (2) local and superstep paths are numerically
    identical; (3) a budget covering every node reduces exactly to
    Brandes."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.kernels import approx_betweenness

    # two components: path a-b-c-d (interior nodes central) and star
    # around x (center maximally central)
    edges = [("a", "b"), ("b", "c"), ("c", "d"),
             ("x", "y1"), ("x", "y2"), ("x", "y3"), ("x", "y4")]
    e = spark.createDataFrame(edges, "src string, dst string")
    strat = {
        r.node: r.betweenness
        for r in approx_betweenness(e, n_pivots=2, stratify_components=True).collect()
    }
    # both components carry nonzero mass under a 2-pivot budget
    assert max(strat[n] for n in ("b", "c")) > 0.0
    assert strat["x"] > 0.0
    # superstep path identical to the local fast path
    with monkeypatch.context() as m:
        m.setattr(K, "_LOCAL_BRANDES_NODES", 0)
        sup = {
            r.node: r.betweenness
            for r in approx_betweenness(e, n_pivots=2, stratify_components=True).collect()
        }
    assert sup == strat
    # full budget == exact Brandes, stratified or not
    exact = {
        r.node: r.betweenness for r in approx_betweenness(e, n_pivots=None).collect()
    }
    full = {
        r.node: r.betweenness
        for r in approx_betweenness(e, n_pivots=99, stratify_components=True).collect()
    }
    assert full == exact


def test_reliable_checkpoint_requires_dir(spark, monkeypatch):
    """Fail fast, not fall back: reliable mode without any checkpoint
    dir must raise the configuration error (a silent localCheckpoint
    fallback would defeat the fault-tolerance opt-in) — unless the
    session already has one installed by a previous reliable run."""
    if spark.sparkContext.getCheckpointDir() is not None:
        pytest.skip("session already has a checkpoint dir installed")
    monkeypatch.setenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", "1")
    monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT_DIR", raising=False)
    with pytest.raises(RuntimeError, match="SPARK_GRAFT_CHECKPOINT_DIR"):
        K.pagerank(edges_df(spark, P5)).collect()


def test_reliable_checkpoint_mode_identical(spark, tmp_path, monkeypatch):
    """Opt-in reliable checkpointing (r07 verdict ask #2): with
    SPARK_GRAFT_RELIABLE_CHECKPOINT=1 and a configured checkpoint dir,
    the iterative kernels must run their loops through df.checkpoint()
    (files actually land in the DFS dir — the executor-loss-surviving
    path) and produce results identical to the localCheckpoint default.
    Covers the power-iteration kernels on both regimes (the in-task
    output checkpoint, and the superstep loops with eigenvector's
    A + sI set-up checkpoint), a BFS kernel (diameter/radius) and the
    interpersonal-diversity pipeline's materialized tables end-to-end."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.plans import pipelines as P
    from tests.test_pipelines import _q5_edges

    e = edges_df(spark, P5)
    we = edges_df(spark, BIPARTITE_33, weights=[1, 2, 3, 4, 5, 6, 7, 8, 9])

    def power_iteration():
        pr = sorted((r.node, round(r.pagerank, 10)) for r in K.pagerank(e).collect())
        ev = sorted((r.node, r.centrality) for r in K.eigenvector_centrality(we).collect())
        return pr, ev

    def run():
        in_task = power_iteration()
        with monkeypatch.context() as m:
            m.setattr(K, "_IN_TASK_ROWS", 0)
            superstep = power_iteration()
        dr = K.diameter_radius(K.bfs_distances(e)).collect()[0]
        out = P.interpersonal_diversity(_q5_edges(spark), eigen_iter=4)
        div = {k: sorted(map(tuple, out[k].collect())) for k in ("rarefied", "centrality", "stats")}
        return in_task, superstep, (dr.diameter, dr.radius), div

    base = run()

    cdir = str(tmp_path / "reliable_ckpt")
    monkeypatch.setenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", "1")
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", cdir)
    try:
        rel = run()
    finally:
        # session-scoped fixture: later tests must go back to the local
        # default (env is restored by monkeypatch; the dir is harmless)
        monkeypatch.undo()

    assert rel == base
    import os as _os

    assert _os.path.isdir(cdir) and any(_os.scandir(cdir)), (
        "reliable mode did not write DFS checkpoints"
    )


def test_superstep_checkpoints_released(spark, monkeypatch):
    """Iterative loops must RELEASE superseded superstep checkpoints
    (kernels._release): every eager localCheckpoint pins blocks in the
    block manager until the session dies, so without the release a
    max_iter-N loop retains N frames — at probe scale (K=64 stratified
    betweenness: ~5 GB per forward superstep) that accumulation OOMed
    a 48g single-JVM heap.  Pin the bound: after a 10-iteration
    pagerank, eigenvector runs and a BFS sweep, the number of persistent
    RDDs grows by a small constant (live inputs + final state), not per
    iteration.  The in-task regime keeps only its output: the static
    graph it solved from is released.  The fixtures are tiny, so the
    superstep path is forced after that check."""
    jsc = spark.sparkContext._jsc

    def growth(run):
        before = jsc.getPersistentRDDs().size()
        run()
        return jsc.getPersistentRDDs().size() - before

    assert growth(lambda: K.eigenvector_centrality(edges_df(spark, P5)).count()) == 1
    monkeypatch.setattr(K, "_IN_TASK_ROWS", 0)

    # eigenvector: the superseded weighted adjacency is released once
    # A + sI is materialized, and no frame is kept per superstep
    ev = [
        growth(lambda k=k: K.eigenvector_centrality(edges_df(spark, P5), max_iter=k).count())
        for k in (2, 10)
    ]
    assert max(ev) <= 3, f"eigenvector retained {ev} persistent frames"

    # the shared superstep loop keeps no frame per superstep: at
    # max_iter 2 and 10 alike, Katz retains its adjacency, node table
    # and final state, LPA its adjacency and final labels
    for name, run, live in (
        ("katz", lambda k: K.katz_centrality(edges_df(spark, P5), max_iter=k), 3),
        ("lpa", lambda k: K.label_propagation(edges_df(spark, P5), max_iter=k), 2),
    ):
        grown = [growth(lambda k=k: run(k).count()) for k in (2, 10)]
        assert max(grown) <= live, f"{name} retained {grown} persistent frames"
    # components stops at convergence: K5 converges within max_iter 2,
    # P5 runs 5 supersteps of max_iter 10; both keep adjacency + labels
    cc = [
        growth(lambda: K.connected_components(edges_df(spark, K5), max_iter=2).count()),
        growth(lambda: K.connected_components(edges_df(spark, P5), max_iter=10).count()),
    ]
    assert max(cc) <= 2, f"connected_components retained {cc} persistent frames"

    before = jsc.getPersistentRDDs().size()

    pr = K.pagerank(edges_df(spark, P5), max_iter=10)
    assert pr.count() == 5
    after_pr = jsc.getPersistentRDDs().size()
    # retained: adj-style inputs + the final ranks checkpoint — NOT one
    # frame per iteration (which would be >= 10 here)
    assert after_pr - before <= 5, (
        f"pagerank leaked {after_pr - before} persistent frames"
    )

    d = K.bfs_distances(edges_df(spark, P5))
    assert d.count() > 0
    after_bfs = jsc.getPersistentRDDs().size()
    # P5 runs 4 expansion supersteps; retained: und + final visited +
    # trailing frontier/empty-new — not visited+new per depth
    assert after_bfs - after_pr <= 5, (
        f"bfs_distances leaked {after_bfs - after_pr} persistent frames"
    )


def test_tracking_fallback_warns_once(spark, monkeypatch):
    """The r08 ADVICE item: if the private py4j plan path behind
    checkpoint block tracking changes shape, the fallback must stay
    functional (untracked frame, _release no-ops) but WARN once per
    process — a silent regression to leak-until-GC block retention
    would otherwise only surface under a memory profiler."""
    import warnings

    def boom(out):
        raise AttributeError("plan path changed shape")

    monkeypatch.setattr(K, "_ckpt_rdd_id", boom)
    monkeypatch.setattr(K, "_ckpt_track_warned", False)
    df = edges_df(spark, P5)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        first = K._tracked_local_checkpoint(df)
        second = K._tracked_local_checkpoint(df)
    msgs = [x for x in w if "block tracking unavailable" in str(x.message)]
    assert len(msgs) == 1 and issubclass(msgs[0].category, RuntimeWarning)
    # untracked frames still work end-to-end and _release no-ops on them
    assert first._sg_ckpt_ids == [] and second._sg_ckpt_ids == []
    assert first.count() == second.count()
    K._release(first, second)  # must not raise
