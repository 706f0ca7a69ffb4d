"""Independent cross-implementation checks for the frozen fixture-oracle
entries (r03 verdict item #1).

Each frozen table in eng/oracle_fixtures.py is the engine's own sf0.01
output — the driver's hash check is a determinism/regression gate, not
independent correctness.  These tests RECOMPUTE the same answers from
the raw parquet with independently written pandas/numpy/duckdb/stdlib
code (tests/independent_impl.py — no eng imports, enforced below) and
assert equality with the frozen rows.  A solver that was wrong from
birth would disagree here even though the driver gate stays green.

No SparkSession anywhere in this file: inputs load through DuckDB, the
solvers are pure python/numpy.
"""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pytest

import independent_impl as I
from hannigan_conjunctisviribus_ploscompbio_2017_spark import oracle_fixtures as FX

SF001 = "/root/testdata/sf0.01"


def test_no_engine_imports():
    """The independence guarantee: independent_impl must not import the
    engine (else it would be the engine checking itself)."""
    import ast
    import pathlib

    tree = ast.parse(pathlib.Path(I.__file__).read_text())
    mods = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            mods.update(a.name.split(".")[0] for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module:
            mods.add(node.module.split(".")[0])
    assert "hannigan_conjunctisviribus_ploscompbio_2017_spark" not in mods
    assert "pyspark" not in mods


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in ("lineitem", "orders", "supplier", "customer", "documents",
              "nation", "region", "part", "embeddings"):
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF001}/{t}.parquet'")
    return c


def _nation_subgraphs(con, cap=800):
    """Shared input of gk_betweenness / gk_alpha_centrality: per-nation
    supplier subgraphs, hash-capped at `cap` edges per group with the
    SAME abs(xxhash64(src, dst)) ascending order the query uses."""
    rows = con.execute(
        """
        SELECT DISTINCT CAST(s_nationkey AS VARCHAR) AS grp,
               'P' || l_partkey AS src, 'S' || l_suppkey AS dst
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        WHERE l_quantity > 45
        """
    ).fetchall()
    by_grp: dict[str, list[tuple[str, str]]] = {}
    for grp, src, dst in rows:
        by_grp.setdefault(grp, []).append((src, dst))
    return {
        grp: sorted(es, key=lambda e: abs(I.spark_xxhash64(e[0], e[1])))[:cap]
        for grp, es in by_grp.items()
    }


def test_gk_betweenness_independent(con):
    """Exact Brandes per nation subgraph, recomputed from the published
    algorithm; summary must equal the frozen GK_BETWEENNESS_SF001."""
    expect = {(g, n, m) for g, n, m in FX.GK_BETWEENNESS_SF001}
    got = set()
    for grp, edges in _nation_subgraphs(con).items():
        bc = I.brandes_betweenness(edges)
        vals = [I.round_half_up(v, 6) for v in bc.values()]
        got.add((grp, len(vals), I.round_half_up(max(vals), 4)))
    assert got == expect


def test_gk_alpha_centrality_independent(con):
    """Dense (I − αAᵀ)⁻¹·1 solve per nation subgraph; summary must equal
    the frozen GK_ALPHA_CENTRALITY_SF001 (mean over the 6dp-rounded
    per-node values, rounded to 4dp, as the query computes)."""
    expect = {(g, n, m) for g, n, m in FX.GK_ALPHA_CENTRALITY_SF001}
    got = set()
    for grp, edges in _nation_subgraphs(con).items():
        ac = I.alpha_centrality_solve(edges, alpha=0.05)
        vals = [I.round_half_up(v, 6) for v in ac.values()]
        got.add((grp, len(vals), I.round_half_up(sum(vals) / len(vals), 4)))
    assert got == expect


def test_gk_greedy_modularity_independent(con):
    """CNM agglomeration per mktsegment subgraph, re-implemented from
    the CNM paper with the documented tie-break (largest ΔQ, ties to the
    lexicographically smallest pair, community = min member id); the
    full (grp, node, community, modularity) row set must equal the
    frozen GK_GREEDY_MODULARITY_SF001."""
    rows = con.execute(
        """
        SELECT DISTINCT c_mktsegment AS grp,
               'P' || l_partkey AS src, 'S' || l_suppkey AS dst
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE l_partkey <= 120
        """
    ).fetchall()
    by_grp: dict[str, list[tuple[str, str]]] = {}
    for grp, src, dst in rows:
        by_grp.setdefault(grp, []).append((src, dst))
    got = set()
    for grp, edges in by_grp.items():
        comm, q = I.cnm_greedy_modularity(edges)
        q6 = I.round_half_up(q, 6)
        for node, label in comm.items():
            got.add((grp, node, label, q6))
    assert got == {tuple(r) for r in FX.GK_GREEDY_MODULARITY_SF001}


def test_gk_betweenness_distributed_independent(con):
    """Pivot-sampled truncated Brandes on the global Infects graph:
    32 md5-ordered pivots, BFS truncated at depth 8, Brandes-Pich V/k
    scaling — recomputed independently; the top-20 (desc betweenness,
    node) must equal the frozen GK_BETWEENNESS_DIST_SF001."""
    import hashlib

    edges = con.execute(
        """
        SELECT DISTINCT 'P' || l_partkey AS src, 'S' || l_suppkey AS dst
        FROM lineitem
        """
    ).fetchall()
    nodes = sorted({n for e in edges for n in e})
    pivots = sorted(nodes, key=lambda n: hashlib.md5(n.encode()).hexdigest())[:32]
    scale = len(nodes) / 32.0
    bc = I.brandes_betweenness(edges, max_depth=8, pivots=pivots)
    scaled = {n: I.round_half_up(v * scale, 6) for n, v in bc.items()}
    top = sorted(scaled.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    # fixture rows are stored repr-sorted by the generator → compare sets
    assert set(top) == {tuple(r) for r in FX.GK_BETWEENNESS_DIST_SF001}


def _abundance(con):
    """(sample, item, count) table of the rarefaction entry."""
    return con.execute(
        """
        SELECT 'C' || o_custkey AS sample, CAST(l_partkey AS VARCHAR) AS item,
               CAST(SUM(l_quantity) AS BIGINT) AS cnt
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY 1, 2
        """
    ).fetchall()


def test_m1_rarefaction_independent(con):
    """Seeded hypergeometric rarefaction to the global min depth,
    replayed straight through numpy (the ONE replay implementation,
    independent_impl.rarefy_py — also used by the pipeline tests, so
    the rarefaction semantics cannot drift between test families);
    per-sample (richness, total) must equal M1_RAREFACTION_SF001."""
    ab = _abundance(con)
    by_sample: dict[str, list[tuple[str, int]]] = {}
    for s, i, c in ab:
        by_sample.setdefault(s, []).append((i, int(c)))
    depth = min(sum(c for _, c in v) for v in by_sample.values())
    got = set()
    for s, ic in by_sample.items():
        if sum(c for _, c in ic) < depth:
            continue
        kept = I.rarefy_py(ic, depth, s)
        got.add((s, len(kept), sum(kept.values())))
    assert got == {tuple(r) for r in FX.M1_RAREFACTION_SF001}


# --------------------------------------------------------------------------
# Composed pipelines (§3) — full independent replays
# --------------------------------------------------------------------------


def _class_stats(dist_rows):
    """(pair_class → (mean, sd_pop, n)) over (class, bc) tuples."""
    by_cls: dict[str, list[float]] = {}
    for cls, bc in dist_rows:
        by_cls.setdefault(cls, []).append(bc)
    return {
        c: (
            I.round_half_up(sum(v) / len(v), 6),
            I.round_half_up(I.stddev_pop(v), 6),
            len(v),
        )
        for c, v in by_cls.items()
    }


def _assert_stats_match(got: dict, fixture_rows):
    assert set(got) == {r[0] for r in fixture_rows}
    for cls, mean, sd, n in fixture_rows:
        gm, gs, gn = got[cls]
        assert gn == n, (cls, gn, n)
        assert math.isclose(gm, mean, abs_tol=2e-6), (cls, gm, mean)
        assert math.isclose(gs, sd, abs_tol=2e-6), (cls, gs, sd)


def _weighted_sample_graphs(edge_rows):
    """(sample, phage, host, host_ab) + rarefied {(sample, phage): k} →
    per-sample weighted edge lists with weight = log10((k+1)(hab+1))."""
    return edge_rows


def test_pipeline_interpersonal_diversity_independent(con):
    """Entry-point-A lifecycle replayed end-to-end independently:
    Q5 join → min-depth hypergeometric rarefaction → log10 weights →
    per-sample shifted power iteration (8 iters) → Bray-Curtis →
    intra/inter-mktsegment stats; must match PIPE_INTERPERSONAL_SF001."""
    q5 = con.execute(
        """
        WITH members AS (
          SELECT 'C' || c_custkey AS sample
          FROM customer JOIN nation ON c_nationkey = n_nationkey
          WHERE n_regionkey = 0 AND c_nationkey = 0
        ), fact AS (
          SELECT 'C' || o_custkey AS sample, l_partkey, l_suppkey, l_quantity
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        ), pa AS (
          SELECT f.sample, 'P' || l_partkey AS phage,
                 CAST(SUM(l_quantity) AS BIGINT) AS pab
          FROM fact f JOIN members m ON f.sample = m.sample
          GROUP BY 1, 2 HAVING SUM(l_quantity) > 0
        ), ha AS (
          SELECT f.sample, 'S' || l_suppkey AS host,
                 CAST(SUM(l_quantity) AS BIGINT) AS hab
          FROM fact f JOIN members m ON f.sample = m.sample
          GROUP BY 1, 2 HAVING SUM(l_quantity) > 0
        ), inf AS (
          SELECT DISTINCT 'P' || l_partkey AS phage, 'S' || l_suppkey AS host
          FROM lineitem
        )
        SELECT pa.sample, pa.phage, inf.host, pa.pab, ha.hab
        FROM pa JOIN inf ON pa.phage = inf.phage
        JOIN ha ON ha.sample = pa.sample AND ha.host = inf.host
        """
    ).fetchall()
    cls_map = dict(
        con.execute("SELECT 'C' || c_custkey, c_mktsegment FROM customer").fetchall()
    )

    # rarefaction of per-(sample, phage) abundances to the global min depth
    ab: dict[str, dict[str, int]] = {}
    for s, p, _, pab, _h in q5:
        ab.setdefault(s, {})[p] = int(pab)
    depth = min(sum(v.values()) for v in ab.values())
    rarefied = {
        s: I.rarefy_py(list(items.items()), depth, s) for s, items in ab.items()
    }

    # weighted per-sample graphs → eigenvector centrality (8 iterations)
    by_sample: dict[str, list[tuple[str, str, float]]] = {}
    for s, p, h, _pab, hab in q5:
        k = rarefied[s].get(p)
        if k is None:
            continue
        w = math.log10((k + 1) * (int(hab) + 1))
        by_sample.setdefault(s, []).append((p, h, w))
    cent_rows = []
    for s, edges in by_sample.items():
        for node, c in I.eigenvector_centrality_py(edges, max_iter=8).items():
            cent_rows.append((s, node, c))

    bc = I.bray_curtis_py(cent_rows)
    dist_rows = [
        ("intra" if cls_map[a] == cls_map[b] else "inter", v)
        for (a, b), v in bc.items()
    ]
    _assert_stats_match(_class_stats(dist_rows), FX.PIPE_INTERPERSONAL_SF001)


def test_pipeline_compare_skin_independent(con):
    """CompareSkin replay: composite patient__location__timepoint keys,
    5th-percentile depth, rarefaction, log10 weights, per-key power
    iteration (6 iters), Bray-Curtis, intra/inter-patient stats."""
    rows = con.execute(
        """
        SELECT 'C' || o_custkey AS patient, 'N' || c_nationkey AS location,
               substring(o_orderpriority, 1, 1) AS timepoint,
               'P' || l_partkey AS phage, 'S' || l_suppkey AS host,
               CAST(SUM(l_quantity) AS BIGINT) AS ab
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE o_custkey < 30
        GROUP BY 1, 2, 3, 4, 5
        """
    ).fetchall()
    e = [
        (f"{p}__{loc}__{t}", p, ph, h, int(ab)) for p, loc, t, ph, h, ab in rows
    ]
    ab_by_key: dict[str, dict[str, int]] = {}
    for skey, _p, ph, _h, ab in e:
        prev = ab_by_key.setdefault(skey, {}).get(ph)
        ab_by_key[skey][ph] = ab if prev is None else max(prev, ab)
    totals = sorted(sum(v.values()) for v in ab_by_key.values())
    depth = int(np.percentile(totals, 5))  # exact linear interp, trunc
    rarefied = {
        s: I.rarefy_py(list(items.items()), depth, s)
        for s, items in ab_by_key.items()
        if sum(items.values()) >= depth
    }
    by_key: dict[str, list[tuple[str, str, float]]] = {}
    for skey, _p, ph, h, ab in e:
        k = rarefied.get(skey, {}).get(ph)
        if k is None:
            continue
        # host_abundance == phage_abundance == this row's grouped sum
        by_key.setdefault(skey, []).append(
            (ph, h, math.log10((k + 1) * (ab + 1)))
        )
    cent_rows = []
    for skey, edges in by_key.items():
        for node, c in I.eigenvector_centrality_py(edges, max_iter=6).items():
            cent_rows.append((skey, node, c))
    bc = I.bray_curtis_py(cent_rows)
    patient = {skey: skey.split("__")[0] for skey, *_ in e}
    dist_rows = [
        (
            "intra_patient" if patient[a] == patient[b] else "inter_patient",
            v,
        )
        for (a, b), v in bc.items()
    ]
    _assert_stats_match(_class_stats(dist_rows), FX.PIPE_COMPARE_SKIN_SF001)


def test_pipeline_altered_diet_independent(con):
    """alteredDiet replay: per-mktsegment networks under hash-filter
    edge retention (1.0, 0.8): sizes, landmark-truncated diameter and
    radius (32 md5-first roots, depth 6), eigen centralization (6
    iters), mean degree — must match PIPE_ALTERED_DIET_SF001."""
    rows = con.execute(
        """
        SELECT c_mktsegment AS diet, 'P' || l_partkey AS src,
               'S' || l_suppkey AS dst, CAST(SUM(l_quantity) AS DOUBLE) AS w
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE o_custkey < 200
        GROUP BY 1, 2, 3
        """
    ).fetchall()
    import hashlib as _hl

    got = set()
    for frac in (1.0, 0.8):
        if frac >= 1.0:
            sub = rows
        else:
            thr = int(frac * (1 << 60))
            sub = [
                r for r in rows if I.md5_60(f"{r[1]}|{r[2]}|42") < thr
            ]
        by_diet: dict[str, list] = {}
        for diet, s, d, w in sub:
            by_diet.setdefault(diet, []).append((s, d, float(w)))
        for diet, edges in by_diet.items():
            pairs = [(s, d) for s, d, _ in edges]
            n_nodes, n_edges = I.graph_size_py(pairs)
            nodes = sorted({n for p in I.symmetrize_pairs(pairs) for n in p})
            roots = sorted(
                nodes, key=lambda n: _hl.md5(n.encode()).hexdigest()
            )[:32]
            ecc = I.truncated_bfs_ecc(pairs, roots, max_depth=6)
            diameter, radius = max(ecc.values()), min(ecc.values())
            cz = I.centralization_py(
                I.eigenvector_centrality_py(edges, max_iter=6).values()
            )
            deg = I.degrees_py(pairs)
            md = I.round_half_up(sum(deg.values()) / len(deg), 4)
            got.add((diet, n_nodes, n_edges, diameter, radius, cz, md, frac))
    expect = {tuple(r) for r in FX.PIPE_ALTERED_DIET_SF001}
    # counts/depths exact; centralization float-compared
    assert {(r[0], r[1], r[2], r[3], r[4], r[6], r[7]) for r in got} == {
        (r[0], r[1], r[2], r[3], r[4], r[6], r[7]) for r in expect
    }
    e_cz = {(r[0], r[7]): r[5] for r in expect}
    for r in got:
        assert math.isclose(r[5], e_cz[(r[0], r[7])], abs_tol=2e-6), r


def test_ev_near_dup_stream_independent(con):
    """Full replay of the streaming MinHash-LSH candidate detector with
    the independent XXH64: 3-token shingles of the normalized text, 16
    affine min-hashes (random.Random(42) coefficient stream mod the
    Mersenne prime — the engine's documented family), 4-hash band
    buckets via xxhash64(array<long>), per-bucket (ts, id)-ordered probe
    against a 16-id bounded state list; (doc, candidate, n_bands)
    aggregation must equal EV_NEAR_DUP_STREAM_SF001."""
    import random
    import re

    M = (1 << 31) - 1
    rng = random.Random(42)
    coeffs = [(rng.randrange(1, M), rng.randrange(0, M)) for _ in range(16)]

    docs = con.execute("SELECT doc_id, text FROM documents").fetchall()
    buckets: dict[tuple[int, int], list[int]] = {}
    rows = []
    for doc_id, text in docs:
        norm = re.sub(r"[^a-z0-9]+", " ", (text or "").lower()).strip()
        toks = norm.split(" ") if norm else []
        if len(toks) < 3:
            continue  # no signature → filtered upstream
        shingles = [" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)]
        hs = [I.spark_xxhash64(s) % M for s in shingles]  # pmod ≥ 0
        sig = [min((h * a + b) % M for h in hs) for a, b in coeffs]
        for band in range(4):
            bucket = I.spark_xxhash64(sig[band * 4 : band * 4 + 4])
            rows.append((int(doc_id), band, bucket))
    pairs: dict[tuple[int, int], int] = {}
    # single bounded batch: per (band, bucket), probe in (ts, id) order
    # — ts is 1700000000 + doc_id, so ordering by doc_id is identical
    by_bucket: dict[tuple[int, int], list[int]] = {}
    for doc, band, bucket in rows:
        by_bucket.setdefault((band, bucket), []).append(doc)
    for (_band, _bucket), ids_in in by_bucket.items():
        state: list[int] = []
        for doc in sorted(ids_in):
            for prior in state:
                if prior != doc:
                    pairs[(doc, prior)] = pairs.get((doc, prior), 0) + 1
            if len(state) < 16 and doc not in state:
                state.append(doc)
    got = {(d, c, n) for (d, c), n in pairs.items()}
    assert got == {tuple(r) for r in FX.EV_NEAR_DUP_STREAM_SF001}


def _ceil_frac(frac: float, n: int) -> int:
    """The split's EXACT per-stratum ceiling: ⌈decimal₁₂(frac)·n⌉ —
    decimal arithmetic, not double (0.07·100 rounds UP to 8 in binary
    doubles; the engine computes the product in decimal(14,12))."""
    from decimal import ROUND_HALF_UP, Decimal

    d = Decimal(frac).quantize(Decimal("1e-12"), rounding=ROUND_HALF_UP)
    return int(math.ceil(d * n))


def _split_sizes(con):
    """Independent replay of the ML data prep: Infects feature rows
    (one per (part, supplier) pair), binarized label = max(l_quantity)
    > 45, per-stratum sizes; returns {label: n}."""
    rows = con.execute(
        """
        SELECT CASE WHEN MAX(l_quantity) > 45 THEN 1 ELSE 0 END AS label
        FROM lineitem GROUP BY 'P' || l_partkey, 'S' || l_suppkey
        """
    ).fetchall()
    from collections import Counter

    return Counter(lbl for (lbl,) in rows)


def test_ml_split_sizes_independent(con):
    """The RF fit itself is MLlib-internal (not independently
    recomputable), but the stratified-split arithmetic feeding it IS:
    test size = Σ_s (n_s − ⌈0.8·n_s⌉) over label strata, computed here
    from raw parquet.  Pins ml_rf_interactions' confusion totals and
    ml_nested_cv's per-iteration n_test — a wrong split (the r03 nit:
    per-stratum drift) would break these before any model runs."""
    sizes = _split_sizes(con)
    n_test = sum(n - _ceil_frac(0.8, n) for n in sizes.values())
    # every nested-CV iteration splits the same strata → identical n_test
    for it, _cv, _auc, _sens, _spec, nt in FX.ML_NESTED_CV_SF001:
        assert nt == n_test, (it, nt, n_test)
    # confusion-matrix totals per gold class == held-out stratum sizes
    by_gold: dict[int, int] = {}
    for _pred, gold, n in FX.ML_RF_INTERACTIONS_SF001:
        by_gold[gold] = by_gold.get(gold, 0) + n
    expect_gold = {
        lbl: n - _ceil_frac(0.8, n) for lbl, n in sizes.items()
    }
    assert by_gold == expect_gold


def test_ml_roc_points_curve_invariants(con):
    """ROC-curve validity for the frozen ml_roc_points table: the
    (inf, 0, 0) anchor exists, fpr/tpr are monotone non-decreasing as
    the threshold falls, and the curve terminates at (1, 1).  (The RF
    scores themselves are MLlib-internal; the curve MATH is pinned
    derivationally by ml_roc_portable's window-cumsum oracle.)"""
    pts = sorted(FX.ML_ROC_POINTS_SF001, key=lambda r: -r[0])
    assert pts[0][0] == float("inf") and pts[0][1:] == (0.0, 0.0)
    fpr = [p[1] for p in pts]
    tpr = [p[2] for p in pts]
    assert all(a <= b + 1e-12 for a, b in zip(fpr, fpr[1:]))
    assert all(a <= b + 1e-12 for a, b in zip(tpr, tpr[1:]))
    assert pts[-1][1:] == (1.0, 1.0)
    # thresholds are distinct RF probabilities → bounded by test size
    sizes = _split_sizes(con)
    n_test = sum(n - _ceil_frac(0.8, n) for n in sizes.values())
    assert len(pts) - 1 <= n_test


def test_ml_quality_classifier_invariants(con):
    """Per-source doc counts recomputed independently; probabilities in
    [0, 1].  (The LR fit is MLlib-internal — the text-signal features
    and the behavioral contract are pinned by test_ml's separable
    fixture, where the classifier must separate clean from soup.)"""
    counts = dict(
        con.execute("SELECT source, COUNT(*) FROM documents GROUP BY source").fetchall()
    )
    assert {(s, n) for s, _p, n in FX.ML_QUALITY_CLASSIFIER_SF001} == {
        (s, n) for s, n in counts.items()
    }
    assert all(0.0 <= p <= 1.0 for _s, p, _n in FX.ML_QUALITY_CLASSIFIER_SF001)


def test_ss_ivf_trained_topk_independent(con):
    """The trained-KMeans IVF fixture gets independent evidence without
    recomputing MLlib's fit: (1) every reported cosine_sim must equal
    the numpy-exact cosine of the claimed (query, neighbor) pair — the
    values are exact cosines, not quantized, so a corrupted fixture or
    wrong rerank math fails hard; (2) ranks must be consistent with the
    similarities (desc, ties by neighbor id); (3) recall@5 vs the
    numpy-exact cosine top-5 is pinned (measured 0.59 with 16 cells /
    4 probes on the iid synthetic embeddings — deterministic, pinned
    with headroom at 0.5)."""
    rows = con.execute("SELECT vec_id, embedding FROM embeddings").fetchall()
    vecs = {i: np.array(v, dtype=np.float64) for i, v in rows}

    def cos(a, b):
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    by_q: dict[int, list] = {}
    for qid, nid, sim, rank in FX.SS_IVF_TRAINED_SF001:
        assert abs(cos(vecs[qid], vecs[nid]) - sim) <= 2e-6, (qid, nid)
        by_q.setdefault(qid, []).append((rank, sim, nid))
    hits = tot = 0
    for qid, lst in by_q.items():
        lst.sort()
        assert [r for r, _, _ in lst] == list(range(1, len(lst) + 1))
        assert lst == sorted(lst, key=lambda t: (t[0],))
        sims = [(-s, n) for _, s, n in lst]
        assert sims == sorted(sims), qid  # rank order == (sim desc, id asc)
        exact = {
            n
            for _, n in sorted(
                ((-cos(vecs[qid], v), n) for n, v in vecs.items() if n != qid)
            )[:5]
        }
        hits += len(exact & {n for _, _, n in lst})
        tot += 5
    assert hits / tot >= 0.5, hits / tot


def test_mm_video_frames_independent(con):
    """The video gate entry admits a CLOSED-FORM independent answer
    from the PUBLIC BT.601 limited-range spec — each synthesized frame
    is a constant fill v = (d·13 + i·29) % 256 in all three channels,
    so the whole y4m pipeline collapses to scalar arithmetic:

      encode   Y  = round(16 + v·219/255)        (Cb = Cr = 128)
      decode   Y' = round(float32(1.164383)·(Y − 16))  (chroma terms 0)
      feature  mean_lum = round6(float32(Y'/255))

    Expected rows are a pure function of doc_id: frames 0, 2, ...
    (every_n=2, ≤4) of n = 2 + d%3 frames at 100 ms (fps=10), 8×6."""
    doc_ids = [
        r[0]
        for r in con.execute(
            "SELECT doc_id FROM documents WHERE doc_id < 40"
        ).fetchall()
    ]

    def lum(v: int) -> float:
        y_u8 = int(np.clip(np.round(16.0 + v * 219.0 / 255.0), 0, 255))
        yl = np.float32(np.float32(y_u8) - np.float32(16.0)) * np.float32(1.164383)
        pix = int(np.clip(np.round(yl), 0, 255))
        return I.round_half_up(float(np.float32(pix / 255.0)), 6)

    expect = set()
    for d in doc_ids:
        n = 2 + d % 3
        for i in list(range(0, n, 2))[:4]:
            v = (d * 13 + i * 29) % 256
            expect.add((d, i, i * 100, 6, 8, lum(v)))
    assert expect == {tuple(r) for r in FX.MM_VIDEO_FRAMES_SF001}


def test_pipeline_compare_twins_independent(con):
    """compareTwins replay: per-sample weighted PageRank (8 iters),
    capped weighted alpha centrality, edge-weight entropy; summary per
    sample must match PIPE_COMPARE_TWINS_SF001."""
    rows = con.execute(
        """
        SELECT 'C' || o_custkey AS sample, 'P' || l_partkey AS src,
               'S' || l_suppkey AS dst, CAST(SUM(l_quantity) AS DOUBLE) AS w
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_custkey < 40
        GROUP BY 1, 2, 3
        """
    ).fetchall()
    by_sample: dict[str, list] = {}
    for s, a, b, w in rows:
        by_sample.setdefault(s, []).append((a, b, float(w)))
    got = {}
    for s, edges in by_sample.items():
        pr = I.pagerank_py(edges, damping=0.85, max_iter=8)
        ac = I.alpha_centrality_weighted_py(edges, alpha=0.05, cap_alpha=True)
        en = I.node_entropy_py(I.symmetrize_weighted(edges))
        nodes = sorted(set(pr) | set(ac) | set(en))
        got[s] = (
            I.round_half_up(max(pr.values()), 6),
            I.round_half_up(max(ac.values()), 6),
            I.round_half_up(sum(en[n] for n in nodes) / len(nodes), 6),
            len(nodes),
        )
    expect = {r[0]: (r[1], r[2], r[3], r[4]) for r in FX.PIPE_COMPARE_TWINS_SF001}
    assert set(got) == set(expect)
    for s, (mp, ma, me, n) in got.items():
        ep, ea, ee, en_ = expect[s]
        assert n == en_, s
        assert math.isclose(mp, ep, abs_tol=2e-6), (s, mp, ep)
        assert math.isclose(ma, ea, abs_tol=2e-6), (s, ma, ea)
        assert math.isclose(me, ee, abs_tol=2e-6), (s, me, ee)


def test_ml_roc_auc_confusion_from_frozen_probs(con):
    """The r04 verdict's ask: with the model's per-row held-out
    probabilities frozen (tests/ml_frozen.py, double-run checked), the
    ROC points, AUC trapezoid, and confusion counts of the driver's ML
    fixtures are recomputed here WITHOUT MLlib — leaving only the RF
    fit itself engine-attested.  Also re-verifies the frozen score
    table's own shape against the independent split arithmetic."""
    import ml_frozen as MLF

    scored = [(gold, score) for _s, _d, gold, score in MLF.ML_PROBS_SF001]
    # the frozen score table covers exactly the held-out stratum sizes
    sizes = _split_sizes(con)
    assert len(scored) == sum(n - _ceil_frac(0.8, n) for n in sizes.values())
    by_gold: dict[int, int] = {}
    for g, _ in scored:
        by_gold[g] = by_gold.get(g, 0) + 1
    assert by_gold == {lbl: n - _ceil_frac(0.8, n) for lbl, n in sizes.items()}

    # (1) ROC points: pure-python cumulative curve == the frozen driver
    # fixture, threshold-for-threshold, value-for-value
    pts = I.roc_points_py(scored, round_to=6)
    assert sorted(pts) == sorted(FX.ML_ROC_POINTS_SF001)

    # (2) AUC: trapezoid over the exact curve == the engine's frozen
    # BinaryClassificationEvaluator value (10dp; MLlib's reduction
    # jitters at ~1e-16)
    assert abs(I.auc_trapezoid_py(scored) - MLF.ML_EVAL_SF001["auc"]) < 1e-8

    # (3) confusion counts under the argmax rule == the frozen
    # ml_rf_interactions fixture
    conf = I.confusion_py(scored)
    assert conf == {(p, g): n for p, g, n in FX.ML_RF_INTERACTIONS_SF001}

    # (4) sensitivity/specificity from the recomputed confusion ==
    # the engine's frozen evaluate() metrics (exact count ratios)
    tp = conf.get(("Interacts", 1), 0)
    fn = conf.get(("NotInteracts", 1), 0)
    tn = conf.get(("NotInteracts", 0), 0)
    fp = conf.get(("Interacts", 0), 0)
    assert tp + fn + tn + fp == MLF.ML_EVAL_SF001["n_test"]
    assert tp / (tp + fn) == MLF.ML_EVAL_SF001["sensitivity"]
    assert tn / (tn + fp) == MLF.ML_EVAL_SF001["specificity"]


def test_ml_nested_cv_metrics_from_frozen_probs(con):
    """ml_nested_cv's per-iteration auc/sensitivity/specificity
    recomputed from each outer iteration's frozen held-out scores with
    no MLlib (cv_auc — the inner CV selection metric — is the one value
    that genuinely requires refitting, documented in COVERAGE.md)."""
    import ml_frozen as MLF

    by_iter: dict[int, list[tuple[int, float]]] = {}
    for it, gold, score in MLF.ML_NESTED_PROBS_SF001:
        by_iter.setdefault(it, []).append((gold, score))
    frozen = {r[0]: r for r in FX.ML_NESTED_CV_SF001}
    assert sorted(by_iter) == sorted(frozen)
    for it, scored in by_iter.items():
        _it, _cv, auc, sens, spec, n_test = frozen[it]
        assert len(scored) == n_test
        # 6dp-frozen MLlib AUC vs exact trapezoid: half-ulp + reduction
        # jitter tolerance
        assert abs(I.auc_trapezoid_py(scored) - auc) < 6e-7, it
        conf = I.confusion_py(scored)
        tp = conf.get(("Interacts", 1), 0)
        fn = conf.get(("NotInteracts", 1), 0)
        tn = conf.get(("NotInteracts", 0), 0)
        fp = conf.get(("Interacts", 0), 0)
        assert I.round_half_up(tp / (tp + fn), 6) == sens, it
        assert I.round_half_up(tn / (tn + fp), 6) == spec, it


def test_ml_quality_classifier_from_frozen_probs(con):
    """ml_quality_classifier's per-source means/counts recomputed from
    the frozen per-doc quality probabilities with no MLlib — the LR fit
    (the probabilities) is now the only engine-attested piece.  Also
    checks the frozen score table covers every document exactly once."""
    import ml_frozen as MLF

    n_docs = con.execute("SELECT COUNT(*) FROM documents").fetchone()[0]
    ids = [did for did, _s, _p in MLF.ML_QUALITY_PROBS_SF001]
    assert len(ids) == len(set(ids)) == n_docs
    by_src: dict[str, list[float]] = {}
    for _did, src, prob in MLF.ML_QUALITY_PROBS_SF001:
        assert 0.0 <= prob <= 1.0
        by_src.setdefault(src, []).append(prob)
    got = {
        (src, I.round_half_up(sum(ps) / len(ps), 4), len(ps))
        for src, ps in by_src.items()
    }
    assert got == set(FX.ML_QUALITY_CLASSIFIER_SF001)


def _infects_dataset(con):
    """Independent replay of the full ML data prep from raw parquet:
    per-(part, supplier) feature vector (HALF_UP 4dp rounded averages —
    prepare_training's fillna never fires here because every grouped
    pair has all four aggregates) + binarized label.  Returns
    {(src, dst): ([crispr, blast, blastx, pfam], label)}."""
    rows = con.execute(
        """
        SELECT 'P' || l_partkey AS src, 'S' || l_suppkey AS dst,
               AVG(l_quantity), AVG(l_extendedprice),
               AVG(l_discount), AVG(l_tax),
               CASE WHEN MAX(l_quantity) > 45 THEN 1 ELSE 0 END
        FROM lineitem GROUP BY 1, 2
        """
    ).fetchall()
    return {
        (src, dst): ([I.round_half_up(v, 4) for v in f4], lbl)
        for src, dst, *f4, lbl in rows
    }


def _replay_split(data, frac=0.8, seed=42):
    """Independent replay of stratified_split: md5-60(src|dst|seed)
    ascending rank within each label stratum (tie-break on the key),
    top ⌈decimal₁₂(frac)·n_s⌉ to train.  Returns (train_keys,
    test_keys) as sorted lists."""
    strata: dict[int, list[tuple[int, str, str]]] = {}
    for (src, dst), (_f, lbl) in data.items():
        strata.setdefault(lbl, []).append((I.md5_60(f"{src}|{dst}|{seed}"), src, dst))
    train, test = [], []
    for lst in strata.values():
        lst.sort()
        k = _ceil_frac(frac, len(lst))
        train += [(s, d) for _h, s, d in lst[:k]]
        test += [(s, d) for _h, s, d in lst[k:]]
    return sorted(train), sorted(test)


def test_ml_rf_second_implementation_auc_parity(con):
    """r05 verdict ask #3 — the RF FIT itself gets a second
    implementation: a numpy-only forest (independent_impl.rf_train_py:
    seeded bootstrap bagging, per-node sqrt-mtry draws, gini splits,
    depth 5 — bin/CalculatePredModel.R:47-57 semantics via the MLlib
    defaults) trained on the independently-recomputed sf0.01 train
    stratum, scored on the same held-out rows as the frozen engine fit.

    The two forests share NO code and NO RNG stream, so score equality
    is impossible by construction; what an honest pair of forests on
    the same data MUST share is the ranking quality.  Pinned bands
    (measured: numpy 0.9795 vs engine 0.96618, pearson 0.995):
    |ΔAUC| ≤ 0.03, both ≥ 0.9, per-row score correlation ≥ 0.98.
    A label permutation, feature scramble, or train/test leak in the
    engine fit moves its frozen AUC far outside every band."""
    import ml_frozen as MLF

    data = _infects_dataset(con)
    train_keys, test_keys = _replay_split(data, 0.8, seed=42)
    # the replayed held-out stratum is EXACTLY the frozen score table's
    assert set(test_keys) == {(s, d) for s, d, _g, _p in MLF.ML_PROBS_SF001}

    Xtr = np.array([data[k][0] for k in train_keys])
    ytr = np.array([data[k][1] for k in train_keys], dtype=float)
    trees = I.rf_train_py(Xtr, ytr, n_trees=20, max_depth=5, mtry=2, seed=42)
    Xte = np.array([data[k][0] for k in test_keys])
    scores = I.rf_predict_py(trees, Xte)
    gold = [data[k][1] for k in test_keys]

    auc_np = I.auc_trapezoid_py(list(zip(gold, scores)))
    auc_engine = MLF.ML_EVAL_SF001["auc"]
    assert auc_np >= 0.9 and auc_engine >= 0.9
    assert abs(auc_np - auc_engine) <= 0.03, (auc_np, auc_engine)
    frozen_map = {(s, d): p for s, d, _g, p in MLF.ML_PROBS_SF001}
    mls = np.array([frozen_map[k] for k in test_keys])
    corr = float(np.corrcoef(scores, mls)[0, 1])
    assert corr >= 0.98, corr


def test_ml_nested_cv_auc_from_frozen_fold_aucs(con):
    """cv_auc — the inner CV selection metric, the one value the r05
    verdict still listed as engine-attested — recomputed from the
    frozen per-fold AUCs (tests/ml_frozen.ML_NESTED_FOLD_AUCS_SF001,
    which the generator replayed fold-for-fold from CrossValidator's
    rand(seed) buckets and asserted equal to the real avgMetrics at
    1e-9 before freezing): cv_auc must equal max over the mtry grid of
    the 3-fold AUC mean.  Fold sizes must partition the train stratum
    exactly (independent split arithmetic), for every param."""
    import ml_frozen as MLF

    by_iter: dict[int, dict[int, list[float]]] = {}
    fold_sizes: dict[tuple[int, int], list[int]] = {}
    for it, mtry, _fold, n_val, auc in MLF.ML_NESTED_FOLD_AUCS_SF001:
        by_iter.setdefault(it, {}).setdefault(mtry, []).append(auc)
        fold_sizes.setdefault((it, mtry), []).append(n_val)
    frozen = {r[0]: r for r in FX.ML_NESTED_CV_SF001}
    assert sorted(by_iter) == sorted(frozen)

    sizes = _split_sizes(con)
    n_train = sum(_ceil_frac(0.8, n) for n in sizes.values())
    for it, per_param in by_iter.items():
        assert sorted(per_param) == [1, 2, 3]
        means = {}
        for mtry, aucs in per_param.items():
            assert len(aucs) == 3
            # the 3 folds partition the whole train stratum
            assert sum(fold_sizes[(it, mtry)]) == n_train
            means[mtry] = sum(aucs) / 3
        # selection arithmetic: max over grid, 6dp — equals the frozen
        # driver cv_auc (10dp-frozen fold values → ≤1e-9 mean error,
        # plus half-ulp of the engine's 6dp rounding)
        assert abs(max(means.values()) - frozen[it][1]) < 6e-7, it


def test_ml_nested_fold_aucs_recomputed_from_frozen_scores():
    """r06 verdict ask #3 — the LAST engine-attested statement in the
    ML chain, closed exactly: every inner-CV fold AUC in
    ML_NESTED_FOLD_AUCS_SF001 is recomputed here from the frozen
    per-fold held-out SCORE MULTISET (ML_NESTED_FOLD_SCORES_SF001) by
    the independent trapezoid — threshold-for-threshold, the same move
    r05 made for ml_roc_points — replacing the former ±0.03
    second-implementation bound as the only check on these values.
    The multiset sizes must also reproduce each fold's n_validation,
    so no score row can be dropped or double-counted.  After this,
    only the RF fits themselves are engine-side (the adjudicated
    second-implementation boundary; bin/CalculatePredModel.R:302-313
    is the reference semantics)."""
    import ml_frozen as MLF

    multisets: dict[tuple[int, int, int], list[tuple[int, float]]] = {}
    for it, mtry, fold, score, n_pos, n_neg in MLF.ML_NESTED_FOLD_SCORES_SF001:
        rows = multisets.setdefault((it, mtry, fold), [])
        rows.extend([(1, score)] * n_pos)
        rows.extend([(0, score)] * n_neg)

    frozen = {
        (it, mtry, fold): (n_val, auc)
        for it, mtry, fold, n_val, auc in MLF.ML_NESTED_FOLD_AUCS_SF001
    }
    assert sorted(multisets) == sorted(frozen)  # all 18 folds, no extras
    for key, scored in multisets.items():
        n_val, auc = frozen[key]
        assert len(scored) == n_val, key
        # 10dp-frozen AUC vs exact trapezoid: half-ulp of the rounding
        assert abs(I.auc_trapezoid_py(scored) - auc) < 1e-9, key


def test_ml_cv_auc_second_implementation_parity(con):
    """Magnitude-level second implementation for cv_auc: the numpy
    forest (rf_train_py) runs its OWN 3-fold CV over the same mtry grid
    {1,2,3} on the independently-replayed train stratum of each
    nested-CV iteration (md5-60 fold assignment — deliberately NOT
    MLlib's rand() stream; two honest CV loops on the same data must
    agree on the selection metric's size even with different folds).
    Pinned band: |cv_auc_np − frozen cv_auc| ≤ 0.03."""
    import ml_frozen as MLF

    data = _infects_dataset(con)
    frozen = {r[0]: r for r in FX.ML_NESTED_CV_SF001}
    for it in sorted(frozen):
        it_seed = 42 + it
        train_keys, _test = _replay_split(data, 0.8, seed=it_seed)
        folds = [I.md5_60(f"{s}|{d}|cv{it_seed}") % 3 for s, d in train_keys]
        X = np.array([data[k][0] for k in train_keys])
        y = np.array([data[k][1] for k in train_keys], dtype=float)
        means = []
        for mtry in (1, 2, 3):
            aucs = []
            for f_i in range(3):
                mask = np.array([f == f_i for f in folds])
                trees = I.rf_train_py(
                    X[~mask], y[~mask], n_trees=20, max_depth=5,
                    mtry=mtry, seed=it_seed,
                )
                scores = I.rf_predict_py(trees, X[mask])
                aucs.append(
                    I.auc_trapezoid_py(list(zip(y[mask].astype(int), scores)))
                )
            means.append(sum(aucs) / 3)
        cv_auc_np = max(means)
        assert abs(cv_auc_np - frozen[it][1]) <= 0.03, (it, cv_auc_np, frozen[it][1])
