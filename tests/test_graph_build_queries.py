"""Graph build (§2.9) + pattern queries Q1-Q7 on reference-shaped fixtures."""

import pytest
from pyspark.sql import functions as F

from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators import graph_build as GB
from hannigan_conjunctisviribus_ploscompbio_2017_spark.plans import queries as Q


@pytest.fixture(scope="module")
def graph(spark):
    """Tiny reference-shaped property graph: 2 phages, 2 hosts, 2 samples,
    1 study, 1 disease."""
    phages = spark.createDataFrame(
        [("p1", "Phage", "p1"), ("p2", "Phage", "p2")], "id string, label string, name string"
    )
    hosts = spark.createDataFrame(
        [("h1", "Bacterial_Host", "h1"), ("h2", "Bacterial_Host", "h2")],
        "id string, label string, name string",
    ).withColumn("species", F.concat(F.col("id"), F.lit("_sp")))
    samples = spark.createDataFrame(
        [("s1", "SampleID", "s1"), ("s2", "SampleID", "s2")],
        "id string, label string, name string",
    )
    study = spark.createDataFrame([("st1", "StudyID", "st1")], "id string, label string, name string")
    disease = spark.createDataFrame([("d1", "Disease", "d1")], "id string, label string, name string")
    nodes = GB.build_nodes([phages, hosts.drop("species"), samples, study, disease])
    # re-attach species for q2 (build_nodes conforms columns; species rides along)
    nodes = nodes.drop("species").join(
        hosts.select("id", "species"), "id", "left"
    )

    crispr = spark.createDataFrame([("p1", "h1", 90.0)], "src string, dst string, score double")
    blast = spark.createDataFrame(
        [("p1", "h1", 500.0), ("p2", "h2", 700.0)], "src string, dst string, score double"
    )
    inter = spark.createDataFrame([("p1", "h1", 1), ("p2", "h1", 0)], "src string, dst string, interaction int")
    edges = GB.build_infects_edges(inter, {"crispr": crispr, "blast": blast})

    meta = spark.createDataFrame(
        [
            ("s1", "p1", "Sampled", 100),
            ("s1", "h1", "Sampled", 200),
            ("s2", "p2", "Sampled", 50),
            ("s2", "h2", "Sampled", 10),
            ("st1", "s1", "IncludedInStudy", None),
            ("st1", "s2", "IncludedInStudy", None),
            ("d1", "s1", "Diseased", None),
        ],
        "src string, dst string, type string, abundance int",
    )
    edges = GB.add_metadata_edges(edges, meta)
    lengths = spark.createDataFrame([("p1", 1000), ("p2", 2000), ("zz", 5)], "id string, length long")
    nodes = GB.update_node_lengths(nodes, lengths)
    return nodes, edges


def test_build_nodes_unique(graph):
    nodes, _ = graph
    assert nodes.count() == 8  # 2 phage + 2 host + 2 sample + study + disease
    assert nodes.filter(F.col("label") == "Phage").count() == 2


def test_build_nodes_duplicate_across_labels_raises(spark):
    a = spark.createDataFrame([("x", "Phage", "x")], "id string, label string, name string")
    b = spark.createDataFrame([("x", "Bacterial_Host", "x")], "id string, label string, name string")
    with pytest.raises(ValueError, match="duplicate node ids"):
        GB.build_nodes([a, b])


def test_infects_edge_merge(graph):
    _, edges = graph
    infects = {(r.src, r.dst): r for r in edges.filter(F.col("type") == "Infects").collect()}
    assert len(infects) == 3  # (p1,h1) merged, (p2,h2) blast-only, (p2,h1) label-only
    assert infects[("p1", "h1")].crispr == 90.0
    assert infects[("p1", "h1")].blast == 500.0
    assert infects[("p1", "h1")].interaction == 1
    assert infects[("p2", "h2")].crispr is None
    assert infects[("p2", "h1")].interaction == 0


def test_predicted_edges_skip_existing(spark, graph):
    _, edges = graph
    preds = spark.createDataFrame(
        [("p1", "h2", "Interacts"), ("p2", "h1", "NotInteracts")],
        "src string, dst string, prediction string",
    )
    e2 = GB.add_predicted_edges(edges, preds)
    assert e2.filter(F.col("type") == "PredictedInteraction").count() == 2
    # second add of same pairs is a no-op (skip-if-exists)
    e3 = GB.add_predicted_edges(e2, preds)
    assert e3.filter(F.col("type") == "PredictedInteraction").count() == 2


def test_node_length_update(graph):
    nodes, _ = graph
    lens = {r.id: r.length for r in nodes.select("id", "length").collect()}
    assert lens["p1"] == 1000 and lens["p2"] == 2000
    assert lens["h1"] is None  # not in the length table → untouched


def test_q1_interaction_scores(graph):
    nodes, edges = graph
    pos = Q.q1_interaction_scores(edges, nodes, interaction=1).collect()
    assert len(pos) == 1 and pos[0].from_name == "p1"
    allrows = Q.q1_interaction_scores(edges, nodes).collect()
    assert len(allrows) == 3


def test_q2_predicted_links(spark, graph):
    nodes, edges = graph
    preds = spark.createDataFrame(
        [("p1", "h2", "Interacts")], "src string, dst string, prediction string"
    )
    e2 = GB.add_predicted_edges(edges, preds)
    rows = Q.q2_predicted_links(e2, nodes).collect()
    assert len(rows) == 1
    assert rows[0].from_name == "p1" and rows[0].to_species == "h2_sp"


def test_q3_triadic(graph):
    _, edges = graph
    rows = Q.q3_triadic_closure(edges, limit=None).collect()
    # p1->h1 and p2->h1 share target h1; the symmetric Cypher emits
    # BOTH orientations (Neo4j matches (n)-->(m)<--(k) both ways)
    assert sorted((r.n, r.k) for r in rows) == [("p1", "p2"), ("p2", "p1")]
    # limit=0 means zero rows, not "no limit"
    assert Q.q3_triadic_closure(edges, limit=0).count() == 0


def test_q4_study_network(graph):
    _, edges = graph
    rows = Q.q4_study_network(edges, "st1").collect()
    # s1 samples p1 (ab 100) and h1 (ab 200); p1 infects h1 → row
    found = {(r.sample1, r.phage, r.host, r.sample2) for r in rows}
    assert ("s1", "p1", "h1", "s1") in found


def test_q5_sample_network(graph):
    nodes, edges = graph
    rows = Q.q5_sample_network(edges, nodes, study="st1").collect()
    by_key = {(r.sample, r.phage, r.host): r for r in rows}
    r = by_key[("s1", "p1", "h1")]
    assert r.phage_abundance == 100 and r.host_abundance == 200
    assert r.phage_length == 1000
    assert r.phage_norm == pytest.approx(1e7 * 100 / 1000)
    # host has no length -> 1000 default; weight = log10 of the
    # NORMALIZED product (interpersonaldiversity.R:41-42,78)
    assert r.host_norm == pytest.approx(1e7 * 200 / 1000)
    assert r.weight == pytest.approx(12.30103, abs=1e-5)  # log10(1e6 * 2e6)


def test_q6_label_scan(graph):
    nodes, _ = graph
    assert [r.name for r in Q.q6_label_scan(nodes, "StudyID").collect()] == ["st1"]


def test_q7_disease_scope(graph):
    _, edges = graph
    rows = Q.q7_disease_scope(edges, "d1").collect()
    # d1→s1; s1 samples p1,h1; p1→h1 infects: expansion from p1 AND h1 nodes
    assert ("s1", "p1", "h1") in {(r.sample, r.n, r.m) for r in rows}


def test_simplify(spark):
    e = spark.createDataFrame(
        [("a", "b", "T"), ("a", "b", "T"), ("a", "a", "T"), ("a", "b", "U")],
        "src string, dst string, type string",
    )
    out = GB.simplify(e).collect()
    assert len(out) == 2  # (a,b,T) deduped, loop dropped, (a,b,U) kept


# --- gene/protein network (bin/ProteinNetworkCreation.pl) -------------------


def _gene_tables(spark):
    phage = spark.createDataFrame(
        [
            ("pg1", "c1", "acc1", "Phi X-174!"),
            ("pg2", "c1", "acc2", "Phi X-174!"),
            ("pg3", "c2", "acc3", "Lambda phage"),
        ],
        "unique_id string, cluster_id string, accession string, name string",
    )
    bact = spark.createDataFrame(
        [
            ("bg1", "c9", "accb1", "E. coli K-12"),
            ("bg2", "c9", "accb2", "E. coli K-12"),
            ("bg3", "c8", "accb3", "B. subtilis"),
        ],
        "unique_id string, cluster_id string, accession string, name string",
    )
    return phage, bact


def test_build_gene_nodes_typed_schema(spark):
    phage, bact = _gene_tables(spark)
    nodes = GB.build_gene_nodes(phage, bact)
    assert nodes.columns == GB.GENE_NODE_COLS
    rows = {r.id: r for r in nodes.collect()}
    assert len(rows) == 6
    assert rows["pg1"].label == "Phage" and rows["bg1"].label == "Bacteria"
    assert rows["pg1"].data_type == "ReferenceGenes"
    # sanitized names: runs of non-alnum -> '_', trailing '_' stripped
    assert rows["pg1"].name == "Phi_X_174"
    assert rows["bg3"].name == "B_subtilis"


def test_build_gene_nodes_duplicate_id_raises(spark):
    phage, bact = _gene_tables(spark)
    dup = bact.union(
        spark.createDataFrame(
            [("pg1", "cX", "accX", "Imposter")], bact.schema
        )
    )
    with pytest.raises(ValueError, match="duplicate gene node ids"):
        GB.build_gene_nodes(phage, dup)


def test_linked_gene_edges_all_pairs(spark):
    phage, bact = _gene_tables(spark)
    nodes = GB.build_gene_nodes(phage, bact)
    records = spark.createDataFrame(
        [
            ("r1", "Phi X-174", "E. coli (K-12)"),  # 2 phage x 2 bact = 4 edges
            ("r2", "Lambda phage", "B. subtilis"),  # 1 x 1
            ("r3", "Unknown virus", "B. subtilis"),  # no phage match -> 0
            ("r4", "Lambda phage", None),  # no host -> 0
        ],
        "record_id string, organism string, host string",
    )
    edges = GB.linked_gene_edges(nodes, records)
    rows = edges.collect()
    assert len(rows) == 5
    assert all(r.type == "LinkedGenes" and r.literature == "TRUE" for r in rows)
    per_rec = {r.record_id: r["count"] for r in edges.groupBy("record_id").count().collect()}
    assert per_rec == {"r1": 4, "r2": 1}
    # all-pairs content for r1
    pairs = {(r.src, r.dst) for r in rows if r.record_id == "r1"}
    assert pairs == {("pg1", "bg1"), ("pg1", "bg2"), ("pg2", "bg1"), ("pg2", "bg2")}


def test_build_infects_edges_rejects_unknown_score_keys(spark):
    inter = spark.createDataFrame([("p1", "h1", 1)], "src string, dst string, interaction int")
    crispr = spark.createDataFrame([("p1", "h1", 90.0)], "src string, dst string, score double")
    # the reference's own casing works...
    out = GB.build_infects_edges(inter, {"CRISPR": crispr})
    assert out.filter(F.col("crispr").isNotNull()).count() == 1
    # ...but a key that is not a score column must raise, not silently
    # build an all-null edge table
    with pytest.raises(ValueError, match="score_tables"):
        GB.build_infects_edges(inter, {"bitscore": crispr})


def test_simplify_deterministic_survivor_per_multi_edge(spark):
    e = spark.createDataFrame(
        [("a", "b", "T", 250), ("a", "b", "T", 100), ("a", "a", "T", 5), ("a", "b", "U", 7)],
        "src string, dst string, type string, abundance int",
    )
    rows = {(r.src, r.dst, r.type): r.abundance for r in GB.simplify(e).collect()}
    # min-struct survivor: always the abundance-100 row, run after run
    assert rows == {("a", "b", "T"): 100, ("a", "b", "U"): 7}
    again = {(r.src, r.dst, r.type): r.abundance
             for r in GB.simplify(e.repartition(7)).collect()}
    assert rows == again


def test_feature_merge_union_form_equals_full_outer_cascade(spark):
    """r12 optimization pin: feature_merge's tag+union+pivot-aggregate
    execution must reproduce the full-outer join cascade row-for-row on
    its contract domain (key-unique score tables): keys present in only
    some tables, NULL scores, fill on/off, and the mixed-type fallback
    path."""
    from pyspark.sql import functions as F

    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.relational import (
        feature_merge,
    )

    t1 = spark.createDataFrame(
        [("p1", "b1", 0.5), ("p2", "b2", 1.5)], "src string, dst string, score double"
    )
    t2 = spark.createDataFrame(
        [("p1", "b1", 2.0), ("p3", "b3", None)], "src string, dst string, score double"
    )
    t3 = spark.createDataFrame(
        [("p4", "b4", 7.0)], "src string, dst string, score double"
    )
    tables = {"a": t1, "b": t2, "c": t3}

    def cascade(fill):
        out = None
        for name, df in tables.items():
            cur = df.select("src", "dst", F.col("score").alias(name))
            out = cur if out is None else out.join(cur, ["src", "dst"], "full_outer")
        return out.fillna(fill, subset=list(tables)) if fill is not None else out

    for fill in (0.0, None):
        got = sorted(map(tuple, feature_merge(tables, ["src", "dst"], fill=fill).collect()))
        want = sorted(map(tuple, cascade(fill).collect()))
        assert got == want, f"fill={fill}"

    # mixed value types take the cascade fallback and still merge
    t2i = spark.createDataFrame([("p1", "b1", 3)], "src string, dst string, score int")
    mixed = feature_merge({"a": t1, "b": t2i}, ["src", "dst"], fill=0.0)
    rows = {(r["src"], r["dst"]): (r["a"], r["b"]) for r in mixed.collect()}
    assert rows[("p1", "b1")] == (0.5, 3)
    assert rows[("p2", "b2")] == (1.5, 0)


def test_feature_merge_null_key_raises(spark):
    """r13 contract pin (ADVICE): NULL join keys are the one input where
    the union+pivot form and the full-outer cascade diverge (the cascade
    leaves NULL keys unmatched per table; groupBy would merge them), so
    both paths must fail loudly instead of silently merging."""
    from pyspark.sql import functions as F
    from pyspark.errors import PySparkException

    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.relational import (
        feature_merge,
    )

    t1 = spark.createDataFrame(
        [("p1", "b1", 0.5), (None, "b2", 1.5)], "src string, dst string, score double"
    )
    t2 = spark.createDataFrame(
        [("p1", "b1", 2.0)], "src string, dst string, score double"
    )
    merged = feature_merge({"a": t1, "b": t2}, ["src", "dst"], fill=0.0)
    with pytest.raises(PySparkException, match="feature_merge: NULL join key"):
        merged.collect()
    # non-null inputs are untouched by the guard
    ok = feature_merge(
        {"a": t2, "b": t2}, ["src", "dst"], fill=0.0
    ).collect()
    assert [tuple(r) for r in ok] == [("p1", "b1", 2.0, 2.0)]
    # mixed value dtypes take the full-outer cascade: same loud error
    t3 = spark.createDataFrame([("p1", "b1", 2)], "src string, dst string, score int")
    mixed = feature_merge({"a": t1, "c": t3}, ["src", "dst"], fill=0.0)
    with pytest.raises(PySparkException, match="feature_merge: NULL join key"):
        mixed.collect()
    ok = feature_merge({"b": t2, "c": t3}, ["src", "dst"], fill=0.0).collect()
    assert [tuple(r) for r in ok] == [("p1", "b1", 2.0, 2)]
