"""Stats operators: seeded rarefaction, Bray-Curtis, permutation test."""

import pytest
from pyspark.sql import functions as F

from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators import stats


def _abundance(spark):
    rows = [
        ("s1", "a", 10), ("s1", "b", 20), ("s1", "c", 70),
        ("s2", "a", 50), ("s2", "b", 50),
        ("s3", "d", 5),
    ]
    return spark.createDataFrame(rows, "sample string, item string, count long")


def test_rarefy_sums_to_depth(spark):
    r = stats.rarefy(_abundance(spark), "sample", "item", "count", depth=30)
    sums = {x["sample"]: x["t"] for x in r.groupBy("sample").agg(F.sum("count").alias("t")).collect()}
    assert sums == {"s1": 30, "s2": 30}  # s3 total 5 < depth → dropped


def test_rarefy_deterministic(spark):
    a = sorted(map(tuple, stats.rarefy(_abundance(spark), "sample", "item", "count", 30, seed=7).collect()))
    b = sorted(map(tuple, stats.rarefy(_abundance(spark), "sample", "item", "count", 30, seed=7).collect()))
    c = sorted(map(tuple, stats.rarefy(_abundance(spark), "sample", "item", "count", 30, seed=8).collect()))
    assert a == b
    assert a != c  # different seed → different draw (overwhelmingly)


def test_rarefy_respects_partitioning_invariance(spark):
    df = _abundance(spark)
    a = sorted(map(tuple, stats.rarefy(df, "sample", "item", "count", 30).collect()))
    b = sorted(map(tuple, stats.rarefy(df.repartition(7), "sample", "item", "count", 30).collect()))
    assert a == b  # seed derives from sample key, not partition layout


def test_rarefy_hash_sums_to_depth_and_drops_shallow(spark):
    r = stats.rarefy_hash(_abundance(spark), "sample", "item", "count", depth=30)
    sums = {x["sample"]: x["s"] for x in r.groupBy("sample").agg(F.sum("count").alias("s")).collect()}
    assert sums == {"s1": 30, "s2": 30}  # s3 (total 5) dropped


def test_rarefy_hash_partition_invariant(spark):
    df = _abundance(spark)
    a = sorted(map(tuple, stats.rarefy_hash(df, "sample", "item", "count", 30).collect()))
    b = sorted(map(tuple, stats.rarefy_hash(df.repartition(7), "sample", "item", "count", 30).collect()))
    assert a == b and len(a) > 0


def test_rarefy_hash_marginals_track_abundance(spark):
    # s1 has a 10/20/70 split; the kept 30 must never exceed the source
    # counts and the dominant item must stay dominant on average
    r = {x["item"]: x["count"] for x in
         stats.rarefy_hash(_abundance(spark), "sample", "item", "count", 30)
         .filter(F.col("sample") == "s1").collect()}
    assert sum(r.values()) == 30
    assert r.get("a", 0) <= 10 and r.get("b", 0) <= 20 and r.get("c", 0) <= 70
    assert r["c"] == max(r.values())


def test_bray_curtis_known_values(spark):
    # s1=(10,20,70), s2=(50,50,0): min-sum=10+20=30, totals 100+100
    # BC = 1 - 2*30/200 = 0.7
    bc = {(r.sample_a, r.sample_b): r.bray_curtis
          for r in stats.bray_curtis(_abundance(spark), "sample", "item", "count").collect()}
    assert bc[("s1", "s2")] == pytest.approx(0.7, abs=1e-6)
    # s3 shares nothing with s1 → BC = 1
    assert bc[("s1", "s3")] == pytest.approx(1.0, abs=1e-6)


def test_identical_samples_zero_distance(spark):
    rows = [("x", "a", 3), ("x", "b", 7), ("y", "a", 3), ("y", "b", 7)]
    df = spark.createDataFrame(rows, "sample string, item string, count long")
    bc = stats.bray_curtis(df, "sample", "item", "count").collect()[0]
    assert bc.bray_curtis == pytest.approx(0.0, abs=1e-9)


def test_rarefaction_curve_monotone_richness(spark):
    rows = [("s", f"i{i}", 2) for i in range(50)]  # 50 species, 100 individuals
    df = spark.createDataFrame(rows, "sample string, item string, count long")
    curve = {r.depth: r.richness
             for r in stats.rarefaction_curve(df, "sample", "item", "count", [10, 50, 100]).collect()}
    assert curve[10] <= curve[50] <= curve[100]
    assert curve[100] == 50  # full depth → all species


def test_permutation_pvalue_detects_difference(spark):
    rows = [("a", float(v)) for v in range(0, 20)] + [("b", float(v)) for v in range(100, 120)]
    df = spark.createDataFrame(rows, "grp string, val double")
    res = stats.permutation_pvalue(df, "grp", "val", n_perm=199).collect()[0]
    assert abs(res.observed_diff) == pytest.approx(100.0, abs=1e-6)
    assert res.p_value < 0.05


def test_permutation_pvalue_null(spark):
    # identical distributions → p should be large
    rows = [("a", float(v % 10)) for v in range(40)] + [("b", float(v % 10)) for v in range(40)]
    df = spark.createDataFrame(rows, "grp string, val double")
    res = stats.permutation_pvalue(df, "grp", "val", n_perm=199).collect()[0]
    assert res.p_value > 0.2


def test_permutation_portable_signal_and_null(spark):
    rows = [("a", v) for v in range(0, 20)] + [("b", v) for v in range(100, 120)]
    df = spark.createDataFrame(rows, "grp string, val long")
    res = stats.permutation_pvalue(df, "grp", "val", n_perm=199).collect()[0]
    assert abs(res.observed_diff) == pytest.approx(100.0, abs=1e-6)
    assert res.p_value < 0.05
    null_rows = [("a", v % 10) for v in range(40)] + [("b", v % 10) for v in range(40)]
    ndf = spark.createDataFrame(null_rows, "grp string, val long")
    nres = stats.permutation_pvalue(ndf, "grp", "val", n_perm=199).collect()[0]
    assert nres.p_value > 0.2


def test_rarefy_frame_depth_matches_int_depth(spark):
    rows = [(f"s{j}", f"i{v}", (v * 7) % 11 + 1) for j in range(4) for v in range(12)]
    df = spark.createDataFrame(rows, "s string, i string, c long")
    depth_df = df.groupBy("s").agg(F.sum("c").alias("t")).agg(F.min("t").alias("d"))
    d = depth_df.collect()[0]["d"]
    for fn in (stats.rarefy, stats.rarefy_hash):
        by_int = {(r.s, r.i): r.c for r in fn(df, "s", "i", "c", depth=int(d)).collect()}
        by_frame = {(r.s, r.i): r.c for r in fn(df, "s", "i", "c", depth=depth_df).collect()}
        assert by_int == by_frame


def test_sample_columns_deterministic(spark):
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.relational import sample_columns

    df = spark.createDataFrame([tuple(range(10))], ", ".join(f"c{i} int" for i in range(10)))
    a = sample_columns(df, keep=["c0"], fraction=0.4, seed=1).columns
    b = sample_columns(df, keep=["c0"], fraction=0.4, seed=1).columns
    c = sample_columns(df, keep=["c0"], fraction=0.4, seed=9).columns
    assert a == b
    assert "c0" in a
    assert a != c or len(a) != len(c)  # different seed → (almost surely) different pick


def test_permutation_unbalanced_groups_null(spark):
    # margin-preserving null: with a 6-vs-54 split from one distribution
    # the p-value must stay calibrated (a Bernoulli(1/2) reallocation
    # null inflates the variance here and over-rejects)
    rows = [("a", float(v)) for v in (0, 8, 1, 7, 2, 6)] + [
        ("b", float(v % 9)) for v in range(54)
    ]  # both groups mean 4.0
    df = spark.createDataFrame(rows, "grp string, val double")
    res = stats.permutation_pvalue(df, "grp", "val", n_perm=199).collect()[0]
    assert res.p_value > 0.2
    ldf = spark.createDataFrame(
        [(g, int(v)) for g, v in rows], "grp string, val long"
    )
    lres = stats.permutation_pvalue(ldf, "grp", "val", n_perm=199).collect()[0]
    assert lres.p_value > 0.2


def test_permutation_pvalue_all_tied_values(spark):
    # regression: tied values used to share one permutation id, collapsing
    # the null distribution; all-equal groups must give p ≈ 1, not ≈ 0
    rows = [("a", 5.0)] * 20 + [("b", 5.0)] * 20
    df = spark.createDataFrame(rows, "grp string, val double")
    res = stats.permutation_pvalue(df, "grp", "val", n_perm=99).collect()[0]
    assert res.observed_diff == 0.0
    assert res.p_value == pytest.approx(1.0, abs=0.01)


def test_rarefy_hash_expression_depth_matches_explicit(spark):
    # depth="min(_t)" (global window over the internal per-sample totals)
    # must draw exactly what an explicit int depth equal to that min draws
    df = _abundance(spark)
    totals = df.groupBy("sample").agg(F.sum("count").alias("t")).collect()
    dmin = min(r.t for r in totals)
    a = sorted(map(tuple, stats.rarefy_hash(df, "sample", "item", "count", depth="min(_t)").collect()))
    b = sorted(map(tuple, stats.rarefy_hash(df, "sample", "item", "count", depth=int(dmin)).collect()))
    assert a == b and len(a) > 0


def test_rarefy_hash_ignores_zero_count_rows(spark):
    """Spark's sequence(1, 0) is DESCENDING [1, 0]: unfiltered
    zero-count rows would explode into two phantom individuals."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.stats import rarefy_hash

    with_zeros = spark.createDataFrame(
        [("s1", "a", 5), ("s1", "b", 0), ("s1", "c", 5), ("s2", "a", 10), ("s2", "z", 0)],
        "sample string, item string, count long",
    )
    out = rarefy_hash(with_zeros, "sample", "item", "count", depth=6).collect()
    items = {(r.sample, r.item) for r in out}
    assert ("s1", "b") not in items and ("s2", "z") not in items
    per_sample = {}
    for r in out:
        per_sample[r.sample] = per_sample.get(r.sample, 0) + r["count"]
    assert per_sample == {"s1": 6, "s2": 6}
    # identical draw with the zero rows pre-dropped
    no_zeros = with_zeros.filter("count > 0")
    same = rarefy_hash(no_zeros, "sample", "item", "count", depth=6).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, same))


def test_rarefaction_curve_rejects_empty_depths(spark):
    import pytest as _pytest

    df = spark.createDataFrame([("s", "i", 5)], "sample string, item string, count long")
    with _pytest.raises(ValueError, match="non-empty"):
        stats.rarefaction_curve(df, "sample", "item", "count", depths=[])


def test_rarefaction_curve_richness_is_rarefy_hash_richness(spark):
    """At every depth, the curve's per-sample richness is exactly the
    richness of rarefy_hash at that depth (the curve reads all depths
    off one ranked draw): same samples kept, same distinct-item counts,
    and samples whose community is below the depth absent from both."""
    rows = [(f"s{j}", f"i{v}", (v * 7 + j) % 9 + 1) for j in range(5) for v in range(3 + 4 * j)]
    df = spark.createDataFrame(rows, "sample string, item string, count long")
    depths = [5, 30, 60, 200]
    curve = {}
    for r in stats.rarefaction_curve(df, "sample", "item", "count", depths, seed=3).collect():
        curve.setdefault(r.depth, {})[r["sample"]] = r.richness
    for d in depths:
        want = {r["sample"]: r.n for r in stats.rarefy_hash(df, "sample", "item", "count", d, seed=3)
                .groupBy("sample").agg(F.count(F.lit(1)).alias("n")).collect()}
        assert curve.get(d, {}) == want, d
    assert curve[5] and 200 not in curve  # a kept depth and an all-dropped one


def test_smallest_k_fallback_matches_main_path(spark, monkeypatch):
    """A zero candidate margin starves every group's τ-filtered pool, so
    rarefy_hash and exact_k_sample both select through the full-sort
    fallback branch of the shared smallest-k selection — which must
    keep exactly the main path's rows (the margin only buys speed).
    NULL group keys are a group of their own on both paths."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators import corpus

    ab = _abundance(spark).unionByName(spark.createDataFrame(
        [(None, "a", 40), (None, "b", 2)], "sample string, item string, count long"))
    docs = spark.range(0, 600).withColumnRenamed("id", "doc_id").withColumn(
        "lang", F.when(F.col("doc_id") % 4 == 0, None).otherwise((F.col("doc_id") % 3).cast("string"))
    )

    def run():
        return (
            sorted(map(tuple, stats.rarefy_hash(ab, "sample", "item", "count", 30).collect()),
                   key=repr),
            sorted(r.doc_id for r in corpus.exact_k_sample(docs, "lang", 12).collect()),
        )

    main = run()
    monkeypatch.setattr(stats, "_MARGIN", (0, 0, 0))
    assert run() == main
    sums = {}
    for s_, _, c in main[0]:
        sums[s_] = sums.get(s_, 0) + c
    assert sums == {"s1": 30, "s2": 30, None: 30}
    assert len(main[1]) == 48  # 12 in each of three strata and the NULL one


def test_rarefy_draw_matches_per_group_reference(spark):
    """r12 optimization pin: rarefy's partition-at-a-time mapInPandas
    stage must reproduce the ORIGINAL per-group draw contract exactly —
    items in canonical (sorted) order, generator seeded
    sha256('{seed}:{sample}'), one multivariate-hypergeometric draw per
    sample, kept>0 rows only, samples with total < depth dropped. The
    reference below is the straight per-group form the operator shipped
    with before the partition-batched rewrite."""
    import numpy as np

    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.stats import _seed_for

    rows = [
        ("s1", "a", 10), ("s1", "b", 20), ("s1", "c", 70),
        ("s2", "a", 50), ("s2", "b", 50),
        ("s3", "d", 5),  # total 5 < depth → dropped
        ("s4", "x", 3), ("s4", "y", 4), ("s4", "z", 40),
    ]
    depth, seed = 30, 11
    expected = []
    by_sample: dict = {}
    for s, i, c in rows:
        by_sample.setdefault(s, []).append((i, c))
    for s, items in by_sample.items():
        items = sorted(items)  # canonical item order
        counts = np.array([c for _, c in items], dtype=np.int64)
        if int(counts.sum()) < depth:
            continue
        rng = np.random.default_rng(_seed_for(s, seed))
        kept = rng.multivariate_hypergeometric(counts, depth)
        expected.extend(
            (s, items[j][0], int(kept[j])) for j in range(len(items)) if kept[j] > 0
        )
    df = spark.createDataFrame(rows, "sample string, item string, count long")
    got = sorted(map(tuple, stats.rarefy(df, "sample", "item", "count", depth, seed=seed).collect()))
    assert got == sorted(expected)
