"""Composed-lifecycle pipelines (SURVEY §3) on closed-form fixtures."""

import ast
from pathlib import Path

from pyspark.sql import functions as F

from hannigan_conjunctisviribus_ploscompbio_2017_spark.plans import pipelines as P
from tests.conftest import count_jobs


def _q5_edges(spark):
    rows = []
    for s, mult in [("A1", 1), ("A2", 2), ("B1", 3)]:
        for p, h, pa, ha in [
            ("p1", "h1", 40, 10),
            ("p1", "h2", 40, 20),
            ("p2", "h1", 30, 10),
            ("p3", "h2", 20, 30),
        ]:
            rows.append((s, p, h, pa * mult, ha * mult))
    return spark.createDataFrame(
        rows,
        "sample string, phage string, host string, "
        "phage_abundance long, host_abundance long",
    )


def test_interpersonal_diversity_stats_classes(spark):
    cls = spark.createDataFrame(
        [("A1", "grpA"), ("A2", "grpA"), ("B1", "grpB")], "sample string, cls string"
    )
    out = P.interpersonal_diversity(
        _q5_edges(spark), sample_class=cls, eigen_iter=4
    )
    stats = {r["pair_class"]: r for r in out["stats"].collect()}
    assert set(stats) == {"intra", "inter"}
    assert stats["intra"]["n_pairs"] == 1  # (A1,A2)
    assert stats["inter"]["n_pairs"] == 2  # (A1,B1), (A2,B1)
    # rarefied sums hit the min per-sample depth for every kept sample
    sums = {
        r["sample"]: r["s"]
        for r in out["rarefied"]
        .groupBy("sample")
        .agg(F.sum("phage_abundance").alias("s"))
        .collect()
    }
    assert len(set(sums.values())) == 1


def _site_edges(spark):
    rows = []
    for pt, loc in [("P1", "arm"), ("P1", "leg"), ("P2", "arm")]:
        for p, h, pa, ha in [
            ("p1", "h1", 50, 10),
            ("p2", "h1", 30, 20),
            ("p3", "h2", 20, 30),
        ]:
            rows.append((pt, loc, "T1", p, h, pa, ha))
    return spark.createDataFrame(
        rows,
        "patient string, location string, timepoint string, phage string, "
        "host string, phage_abundance long, host_abundance long",
    )


def test_compare_skin_centralization_and_classes(spark):
    out = P.compare_skin(_site_edges(spark), eigen_iter=4)
    cz = out["centralization"].collect()
    keys = {r["skey"] for r in cz}
    assert keys == {"P1__arm__T1", "P1__leg__T1", "P2__arm__T1"}
    assert {r["measure"] for r in cz} == {"eigenvector", "degree"}
    stats = {r["pair_class"]: r["n_pairs"] for r in out["stats"].collect()}
    assert stats == {"intra_patient": 1, "inter_patient": 2}


def test_altered_diet_robustness_degrades(spark):
    rows = []
    for diet in ("herb", "omni"):
        for i in range(12):
            rows.append((diet, f"p{i}", f"h{i % 4}", 1.0 + i))
    e = spark.createDataFrame(rows, "diet string, src string, dst string, weight double")
    out = P.altered_diet(e, fractions=(1.0, 0.5), max_depth=6, eigen_iter=4)
    res = out["robustness"].collect()
    assert len(res) == 4  # 2 diets x 2 fractions
    by = {(r["diet"], r["fraction"]): r for r in res}
    for diet in ("herb", "omni"):
        assert by[(diet, 0.5)]["n_edges"] <= by[(diet, 1.0)]["n_edges"]
        assert by[(diet, 1.0)]["n_edges"] == 12
        assert by[(diet, 1.0)]["diameter"] >= by[(diet, 1.0)]["radius"]


def test_compare_twins_importance_measures(spark):
    rows = []
    for s in ("tw1", "tw2"):
        for p, h, w in [("p1", "h1", 2.0), ("p1", "h2", 1.0), ("p2", "h1", 4.0)]:
            rows.append((s, p, h, w))
    e = spark.createDataFrame(rows, "sample string, src string, dst string, weight double")
    out = P.compare_twins(e, pr_iter=6)
    summary = {r["sample"]: r for r in out["summary"].collect()}
    assert set(summary) == {"tw1", "tw2"}
    for r in summary.values():
        assert 0 < r["max_pagerank"] <= 1
        assert r["max_alpha"] > 0
        assert r["n_nodes"] == 4  # p1, p2, h1, h2 (symmetrized node set)
    imp = out["importance"]
    # every (sample, node) row carries all three measures after the join
    n_full = imp.filter(
        F.col("pagerank").isNotNull()
        & F.col("alpha_centrality").isNotNull()
    ).count()
    assert n_full == imp.count()


def test_corpus_curation_dispositions_partition_docs(spark):
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.plans.pipelines import corpus_curation

    rows = [
        (1, "the cat sat on the mat with a hat and a bat for fun today", "en", "s0"),
        (2, "the cat sat on the mat with a hat and a bat for fun today", "en", "s0"),  # exact dup of 1
        (3, "tiny", "en", "s1"),                                                       # rejected: too_short
        (4, "the dog ran in the park with a ball and a stick for play", "zh", "s1"),   # rejected: lang
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    out = corpus_curation(
        df, min_tokens=5, max_tokens=100, min_quality=0.2, allowed_langs=["en"]
    )
    routed = {r.doc_id: r.disposition for r in out["routed"].collect()}
    assert routed[2] == "duplicate"
    assert routed[3] == "rejected" and routed[4] == "rejected"
    assert routed[1] in {"train", "val", "test"}
    # summary covers exactly the surviving docs
    total = sum(r.n_docs for r in out["summary"].collect())
    assert total == 1


def test_pretrain_pack_dispositions_and_packing(spark):
    from pyspark.sql import functions as F

    from hannigan_conjunctisviribus_ploscompbio_2017_spark.plans.pipelines import pretrain_pack

    rows = [
        # two identical docs after cleaning -> second is a duplicate
        (1, "Alpha beta gamma delta keeps this line.\ncall 555-555-1234 ok"),
        (2, "Alpha beta gamma delta keeps this line.\ncall 555-555-9999 ok"),
        # no terminal punctuation anywhere -> empty after line filter
        (3, "no terminal punctuation here at all"),
        # distinct keeper
        (4, "A different surviving sentence stays right here.\nshort."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.id: r for r in pretrain_pack(df, budget=16, n_buckets=2).collect()}
    assert len(out) == 4
    # docs 1/2 differ only in their phone number, which the scrub
    # redacts -> identical cleaned text -> min-id keeper wins
    assert out[2].disposition == "duplicate"
    assert out[1].disposition in ("train", "val", "test")
    assert out[3].disposition == "empty"
    assert out[3].pack_id == -1 and out[3].n_tok == -1
    # every train doc got a non-negative pack slot within budget
    for r in out.values():
        if r.disposition == "train":
            assert r.pack_id >= 0 and 0 <= r.pack_offset < 16
        else:
            assert r.pack_id == -1


def test_pretrain_pack_null_text_routes_empty(spark):
    """A NULL-text doc must land in 'empty' with pack fields -1 — the
    'only train docs pack' invariant — never in a train/val/test split
    (the split(NULL) → NULL n_kept trap)."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.plans.pipelines import pretrain_pack

    df = spark.createDataFrame(
        [(1, None), (2, "A surviving sentence stays right here.")],
        "doc_id long, text string",
    )
    out = {r.id: r for r in pretrain_pack(df, budget=16, n_buckets=2).collect()}
    assert out[1].disposition == "empty"
    assert out[1].pack_id == -1 and out[1].n_tok == -1
    assert out[2].disposition in ("train", "val", "test")


def test_pretrain_pack_spancut_cuts_before_packing(spark):
    """Lee et al. ordering: the duplicated 8-token run shared by two
    otherwise-distinct docs is cut from BOTH before packing, so each
    train doc's n_tok reflects the post-cut text; fully-cut and
    NULL-text docs route to 'empty' with pack fields -1."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.plans.pipelines import pretrain_pack_spancut

    boiler = "one two three four five six seven eight"
    rows = [
        (1, f"{boiler} unique tail alpha beta gamma delta epsilon zeta"),
        (2, f"{boiler} other ending iota kappa lambdaa mu nu xi"),
        (3, boiler),  # nothing but the duplicated span -> fully cut
        (4, None),  # NULL text -> empty
        (5, "an untouched doc with no duplicated span at all here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.id: r
        for r in pretrain_pack_spancut(df, budget=16, n_buckets=2, k=8).collect()
    }
    assert len(out) == 5
    assert out[3].disposition == "empty" and out[3].pack_id == -1
    assert out[4].disposition == "empty" and out[4].n_tok == -1
    # docs 1/2 lose the 8-token boilerplate: 16 raw tokens -> 8 survive
    for i in (1, 2):
        assert out[i].n_removed == 8
        assert out[i].disposition in ("train", "val", "test")
        if out[i].disposition == "train":
            assert out[i].n_tok == 8
    assert out[5].n_removed == 0
    for r in out.values():
        if r.disposition == "train":
            assert r.pack_id >= 0 and 0 <= r.pack_offset < 16
        else:
            assert r.pack_id == -1 and r.n_tok == -1


def test_interpersonal_diversity_distances_materialized(spark):
    """The table that both a pipeline's summary and its callers read
    comes back materialized: collecting the summary and then that table
    re-runs no kernel, rarefaction or Bray-Curtis stage (at most 2 jobs
    each: an exchange and a result).  Covers `distances` of both
    diversity pipelines and compare_twins' `importance`."""
    cls = spark.createDataFrame(
        [("A1", "grpA"), ("A2", "grpA"), ("B1", "grpB")], "sample string, cls string"
    )
    twins = spark.createDataFrame(
        [(s, p, h, w) for s in ("tw1", "tw2")
         for p, h, w in [("p1", "h1", 2.0), ("p1", "h2", 1.0), ("p2", "h1", 4.0)]],
        "sample string, src string, dst string, weight double",
    )
    cases = [
        (P.interpersonal_diversity(_q5_edges(spark), sample_class=cls, eigen_iter=4),
         "stats", "distances"),
        (P.compare_skin(_site_edges(spark), eigen_iter=4), "stats", "distances"),
        (P.compare_twins(twins, pr_iter=6), "summary", "importance"),
    ]
    for out, summary, table in cases:
        assert count_jobs(spark, out[summary].collect) <= 2, summary
        assert count_jobs(spark, out[table].collect) <= 2, table


def test_one_call_site_per_diversity_stage():
    """Spark-free: the rarefy → Bray-Curtis chain is written once in
    plans/pipelines.py (in _sample_networks), not once per pipeline."""
    tree = ast.parse(Path(P.__file__).read_text())
    calls = [
        n.func.id for n in ast.walk(tree)
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Name)
    ]
    for name in ("rarefy", "rarefaction_depth", "bray_curtis"):
        assert calls.count(name) == 1, name
