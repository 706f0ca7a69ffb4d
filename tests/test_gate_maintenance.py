"""Admission-gate store maintenance (r07 verdict ask #3): the append
step between runs, one two-RUN test per gate family — a clone of a
run-1 admit must be flagged duplicate in run 2 — plus the plan guard
that deriving the appended rows never reads (so never shuffles) the
existing store."""

from pyspark.sql import functions as F

from hannigan_conjunctisviribus_ploscompbio_2017_spark import fslock as FL
from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators import gate_maintenance as GM
from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.dedup import (
    fingerprint_store,
    ingest_dedup,
    minhash_ingest_dedup,
    minhash_store,
)
from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.similarity import (
    sampled_centroids,
    semantic_ingest_dedup,
    semantic_store,
)
from tests.test_plan_shapes import plan_of

TEXT_A = "the quick brown fox jumps over the lazy dog again and again"
TEXT_B = "completely different content about adaptive query execution plans"
TEXT_C = "a third body of text that is not like the other two at all"


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_gate_two_run_append(spark, tmp_path):
    """Run 1 admits TEXT_B; append_admitted_fingerprints persists it;
    run 2's clone of TEXT_B under a new id must flag dup_store — and
    would have been 'new' without the append (asserted, so the test
    can only pass through the maintenance step)."""
    store_path = str(tmp_path / "fp_store")
    fingerprint_store(_docs(spark, [(100, TEXT_A)])).write.parquet(store_path)

    run1 = _docs(spark, [(1, TEXT_B), (2, TEXT_A)])
    dec1 = ingest_dedup(run1, spark.read.parquet(store_path)).localCheckpoint()
    d1 = {r.id: r.status for r in dec1.collect()}
    assert d1 == {1: "new", 2: "dup_store"}

    run2 = _docs(spark, [(3, TEXT_B), (4, TEXT_C)])
    # control: without the append the clone is 'new' again
    pre = {r.id: r.status for r in ingest_dedup(run2, spark.read.parquet(store_path)).collect()}
    assert pre[3] == "new"

    GM.append_admitted_fingerprints(dec1, store_path)
    dec2 = {r.id: r.status for r in ingest_dedup(run2, spark.read.parquet(store_path)).collect()}
    assert dec2 == {3: "dup_store", 4: "new"}
    # the store grew by exactly the run-1 admits (doc 1's fingerprint)
    assert spark.read.parquet(store_path).count() == 2


def test_minhash_gate_two_run_append_flat(spark, tmp_path):
    """Near-dup family, flat store layout: run 2's clone of the run-1
    admit must collide in the appended buckets and report the run-1
    doc as its match."""
    store_path = str(tmp_path / "mh_store")
    minhash_store(_docs(spark, [(100, TEXT_A)])).write.parquet(store_path)

    run1 = _docs(spark, [(1, TEXT_B)])
    dec1 = minhash_ingest_dedup(run1, spark.read.parquet(store_path)).localCheckpoint()
    assert {r.id: r.status for r in dec1.collect()} == {1: "new"}

    GM.append_admitted_minhash(dec1, run1, store_path)
    run2 = _docs(spark, [(2, TEXT_B), (3, TEXT_A)])
    rows = {
        r.id: r
        for r in minhash_ingest_dedup(run2, spark.read.parquet(store_path)).collect()
    }
    assert rows[2].status == "dup_near" and rows[2].match_id == 1
    assert rows[2].est_jaccard == 1.0
    assert rows[3].status == "dup_near" and rows[3].match_id == 100


def test_minhash_gate_two_run_append_array_layout(spark, tmp_path):
    """The band-array bucket layout (bucket_by_hash=False — the
    documented partitionBy trap): initial store and append both use
    derive_minhash_partition's `_part` column and partitionBy("band",
    "_part"); the probe side still matches on the raw (band, bucket)
    array, so a clone of the run-1 admit flags dup_near."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.dedup import (
        portable_token_hash,
    )

    kw = dict(hash_fn=portable_token_hash, bucket_by_hash=False)
    store_path = str(tmp_path / "mh_store_arr")
    GM.derive_minhash_partition(
        minhash_store(_docs(spark, [(100, TEXT_A)]), **kw), hash_partitions=4
    ).write.partitionBy("band", "_part").parquet(store_path)

    run1 = _docs(spark, [(1, TEXT_B)])
    dec1 = minhash_ingest_dedup(run1, spark.read.parquet(store_path), **kw).localCheckpoint()
    assert {r.id: r.status for r in dec1.collect()} == {1: "new"}

    GM.append_admitted_minhash(
        dec1, run1, store_path,
        partition_by=("band", "_part"), hash_partitions=4, **kw,
    )
    store = spark.read.parquet(store_path)
    # one layout under one root: every row carries the derived _part
    assert "_part" in store.columns and store.filter(F.col("_part").isNull()).count() == 0
    rows = {r.id: r for r in minhash_ingest_dedup(_docs(spark, [(2, TEXT_B)]), store, **kw).collect()}
    assert rows[2].status == "dup_near" and rows[2].match_id == 1


def test_semantic_gate_two_run_append_keeps_dpp(spark, tmp_path):
    """Semantic family: the append lands inside the cell-partitioned
    layout, so run 2 sees the run-1 admit as dup_semantic AND the
    store scan stays dynamic-partition-pruned after the append (the
    layout property the partitionBy("cell") append exists to keep)."""
    dim = 4
    base = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0, 0.1]), (101, [0.0, 1.0, 0.0, 0.1]),
         (102, [0.0, 0.0, 1.0, 0.1])],
        "vec_id long, embedding array<double>",
    )
    cents = sampled_centroids(base, n_cells=3)
    store_path = str(tmp_path / "sem_store")
    semantic_store(base, dim=dim, n_cells=3, centroids=cents).write.partitionBy(
        "cell"
    ).parquet(store_path)

    run1 = spark.createDataFrame(
        [(1, [0.7, 0.7, 0.0, 0.1])], "vec_id long, embedding array<double>"
    )
    dec1 = semantic_ingest_dedup(
        run1, spark.read.parquet(store_path), cents, dim, tau=0.95, n_probe=1
    ).localCheckpoint()
    assert {r.id: r.status for r in dec1.collect()} == {1: "new"}

    GM.append_admitted_semantic(dec1, run1, store_path, cents, dim)
    run2 = spark.createDataFrame(
        [(2, [0.7, 0.7, 0.0, 0.1])], "vec_id long, embedding array<double>"
    )
    gate2 = semantic_ingest_dedup(
        run2, spark.read.parquet(store_path), cents, dim, tau=0.95, n_probe=1
    )
    plan = plan_of(gate2)
    assert "dynamicpruning" in plan.lower()  # append kept the DPP layout
    rows = {r.id: r for r in gate2.collect()}
    assert rows[2].status == "dup_semantic" and rows[2].match_id == 1
    assert rows[2].cosine == 1.0


def test_append_derivation_never_reads_store(spark, tmp_path):
    """Plan guard: the frames the append writes are derived from the
    decisions + source delta ONLY — the existing store path never
    appears in their plans (so the append cannot shuffle or rewrite
    it), and the admitted-id probe is a broadcast semi join, never a
    sort-merge."""
    store_path = str(tmp_path / "guard_store")
    minhash_store(_docs(spark, [(100, TEXT_A)])).write.parquet(store_path)
    run1 = _docs(spark, [(1, TEXT_B)])
    dec1 = minhash_ingest_dedup(run1, spark.read.parquet(store_path)).localCheckpoint()

    mh_rows = GM.admitted_minhash_rows(dec1, run1)
    plan = plan_of(mh_rows)
    assert "guard_store" not in plan
    assert "BroadcastHashJoin LeftSemi" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan

    fp_rows = GM.admitted_fingerprints(dec1.withColumn("fingerprint", F.lit("x")))
    assert "guard_store" not in plan_of(fp_rows)

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    dec_sem = spark.createDataFrame([(1, "new")], "id long, status string")
    sem_rows = GM.admitted_semantic_rows(dec_sem, emb, [[1.0, 0.0, 0.0, 0.0]], dim=4)
    sem_plan = plan_of(sem_rows)
    assert "guard_store" not in sem_plan
    assert "BroadcastHashJoin LeftSemi" in sem_plan
    assert "SortMergeJoin" not in sem_plan


def test_append_refuses_lazy_gate_output(spark, tmp_path):
    """The module docstring's lazy-decisions caveat is now ENFORCED
    (r08 verdict nit #2): an un-materialized gate output (its plan
    still holds the gate's joins, so the append would re-run the whole
    gate including its store pass) raises loudly with the caveat as
    the error text; require_materialized=False is the explicit
    opt-out, and the blessed inputs (checkpointed frame, parquet read,
    read_gate_decisions resolution) all pass."""
    import pytest

    from hannigan_conjunctisviribus_ploscompbio_2017_spark.streaming.events import (
        read_gate_decisions,
    )

    store_path = str(tmp_path / "fp_store")
    fingerprint_store(_docs(spark, [(100, TEXT_A)])).write.parquet(store_path)
    lazy = ingest_dedup(_docs(spark, [(1, TEXT_B)]), spark.read.parquet(store_path))
    with pytest.raises(RuntimeError, match="UN-materialized"):
        GM.append_admitted_fingerprints(lazy, store_path)
    with pytest.raises(RuntimeError, match="UN-materialized"):
        GM.append_admitted_minhash(lazy, _docs(spark, [(1, TEXT_B)]), store_path)
    with pytest.raises(RuntimeError, match="UN-materialized"):
        GM.append_admitted_semantic(
            lazy,
            spark.createDataFrame([(1, [1.0])], "vec_id long, embedding array<double>"),
            str(tmp_path / "sem"),
            [[1.0]],
            dim=1,
        )
    # explicit opt-out accepts the re-execution
    GM.append_admitted_fingerprints(lazy, store_path, require_materialized=False)
    assert spark.read.parquet(store_path).count() == 2
    # blessed inputs pass the default: a checkpointed gate output...
    ck = ingest_dedup(_docs(spark, [(2, TEXT_C)]), spark.read.parquet(store_path)).localCheckpoint()
    GM.append_admitted_fingerprints(ck, store_path)
    assert spark.read.parquet(store_path).count() == 3
    # ...and a decisions-log resolution (aggregate over a scan, no join)
    log_path = str(tmp_path / "dec_log")
    ck.withColumn("_epoch", F.lit(0)).write.parquet(log_path)
    GM.append_admitted_fingerprints(
        read_gate_decisions(spark, log_path), str(tmp_path / "fp_store2")
    )


def test_compact_store_flat_fingerprints(spark, tmp_path):
    """Flat-store compaction: after several appends the fingerprint
    store holds many small file sets; compact_store folds them into
    few files with IDENTICAL content, and the exact gate answers the
    same decisions on the compacted store."""
    store_path = str(tmp_path / "fp_store")
    fingerprint_store(_docs(spark, [(100, TEXT_A)])).write.parquet(store_path)
    for i, txt in enumerate((TEXT_B, TEXT_C, TEXT_A + " extra")):
        dec = ingest_dedup(
            _docs(spark, [(i + 1, txt)]), spark.read.parquet(store_path)
        ).localCheckpoint()
        GM.append_admitted_fingerprints(dec, store_path)

    probe = _docs(spark, [(50, TEXT_B), (51, "never seen before text")])
    pre_rows = sorted(map(tuple, spark.read.parquet(store_path).collect()))
    pre_dec = {r.id: r.status for r in ingest_dedup(probe, spark.read.parquet(store_path)).collect()}

    before, after = GM.compact_store(spark, store_path)
    assert before > after >= 1  # the listing actually shrank

    assert sorted(map(tuple, spark.read.parquet(store_path).collect())) == pre_rows
    post_dec = {r.id: r.status for r in ingest_dedup(probe, spark.read.parquet(store_path)).collect()}
    assert post_dec == pre_dec == {50: "dup_store", 51: "new"}


def test_compact_store_semantic_keeps_dpp(spark, tmp_path):
    """Partitioned-store compaction preserves the partitionBy("cell")
    layout: rows identical, file listing reduced, and the semantic
    gate's store scan is STILL dynamic-partition-pruned on the
    compacted store — the plan property the layout exists for."""
    dim = 4
    base = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0, 0.1]), (101, [0.0, 1.0, 0.0, 0.1]),
         (102, [0.0, 0.0, 1.0, 0.1])],
        "vec_id long, embedding array<double>",
    )
    cents = sampled_centroids(base, n_cells=3)
    store_path = str(tmp_path / "sem_store")
    semantic_store(base, dim=dim, n_cells=3, centroids=cents).write.partitionBy(
        "cell"
    ).parquet(store_path)
    # three append rounds → three extra file sets inside the cell dirs
    for i, vec in enumerate(
        ([0.7, 0.7, 0.0, 0.1], [0.1, 0.9, 0.3, 0.0], [0.9, 0.1, 0.2, 0.0])
    ):
        run = spark.createDataFrame(
            [(i + 1, vec)], "vec_id long, embedding array<double>"
        )
        dec = semantic_ingest_dedup(
            run, spark.read.parquet(store_path), cents, dim, tau=0.999, n_probe=1
        ).localCheckpoint()
        GM.append_admitted_semantic(dec, run, store_path, cents, dim)

    pre_rows = sorted(map(tuple, spark.read.parquet(store_path).collect()))
    before, after = GM.compact_store(spark, store_path, partition_by=("cell",))
    assert before > after >= 1

    store = spark.read.parquet(store_path)
    assert sorted(map(tuple, store.collect())) == pre_rows
    probe = spark.createDataFrame(
        [(9, [0.7, 0.7, 0.0, 0.1])], "vec_id long, embedding array<double>"
    )
    gate = semantic_ingest_dedup(probe, store, cents, dim, tau=0.95, n_probe=1)
    plan = plan_of(gate)
    assert "dynamicpruning" in plan.lower()  # DPP survived the rewrite
    rows = {r.id: r for r in gate.collect()}
    assert rows[9].status == "dup_semantic" and rows[9].match_id == 1


def test_compact_store_array_layout(spark, tmp_path):
    """Band-array minhash layout ("band", "_part"): compaction keeps
    the derived partition columns and the near-dup gate still matches
    the appended admit on the compacted store."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.dedup import (
        portable_token_hash,
    )

    kw = dict(hash_fn=portable_token_hash, bucket_by_hash=False)
    store_path = str(tmp_path / "mh_store_arr")
    GM.derive_minhash_partition(
        minhash_store(_docs(spark, [(100, TEXT_A)]), **kw), hash_partitions=4
    ).write.partitionBy("band", "_part").parquet(store_path)
    dec1 = minhash_ingest_dedup(
        _docs(spark, [(1, TEXT_B)]), spark.read.parquet(store_path), **kw
    ).localCheckpoint()
    GM.append_admitted_minhash(
        dec1, _docs(spark, [(1, TEXT_B)]), store_path,
        partition_by=("band", "_part"), hash_partitions=4, **kw,
    )
    pre_rows = sorted(map(tuple, spark.read.parquet(store_path).collect()))
    before, after = GM.compact_store(spark, store_path, partition_by=("band", "_part"))
    assert before > after >= 1
    assert sorted(map(tuple, spark.read.parquet(store_path).collect())) == pre_rows
    rows = {
        r.id: r
        for r in minhash_ingest_dedup(
            _docs(spark, [(2, TEXT_B)]), spark.read.parquet(store_path), **kw
        ).collect()
    }
    assert rows[2].status == "dup_near" and rows[2].match_id == 1


def test_compact_store_leftover_and_restore(spark, tmp_path):
    """Interrupted-compaction handling: a leftover .precompact beside a
    LIVE store refuses loudly (the live store is intact); the REAL
    crash window between the two swap renames — store missing,
    .precompact complete, and the superseded .compact.tmp necessarily
    still present — is restored automatically (tmp cleared, not
    manually adjudicated) and the compaction completes in the same
    call."""
    import os
    import shutil
    import pytest

    store_path = str(tmp_path / "fp_store")
    fingerprint_store(_docs(spark, [(100, TEXT_A), (101, TEXT_B)])).write.parquet(store_path)
    rows = sorted(map(tuple, spark.read.parquet(store_path).collect()))

    os.makedirs(store_path + ".precompact")
    with pytest.raises(RuntimeError, match="interrupted compaction"):
        GM.compact_store(spark, store_path)
    os.rmdir(store_path + ".precompact")

    # the real between-renames state: live store renamed aside AND the
    # compacted tmp (helper output, superseded) still on disk
    shutil.copytree(store_path, store_path + ".compact.tmp")
    os.rename(store_path, store_path + ".precompact")
    before, after = GM.compact_store(spark, store_path)
    assert after >= 1
    assert sorted(map(tuple, spark.read.parquet(store_path).collect())) == rows
    assert not os.path.exists(store_path + ".compact.tmp")
    assert not os.path.exists(store_path + ".precompact")
    assert not os.path.exists(store_path + ".maintenance")  # lock released


def test_compact_store_refuses_silent_flattening(spark, tmp_path):
    """Review fix: compacting a partitioned store WITHOUT its layout
    must refuse loudly — the flat rewrite would keep every row (all
    content checks pass) while silently destroying the cell directories
    and with them dynamic partition pruning."""
    import pytest

    dim = 4
    base = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0, 0.1]), (101, [0.0, 1.0, 0.0, 0.1])],
        "vec_id long, embedding array<double>",
    )
    cents = sampled_centroids(base, n_cells=2)
    store_path = str(tmp_path / "sem_store_flatten")
    semantic_store(base, dim=dim, n_cells=2, centroids=cents).write.partitionBy(
        "cell"
    ).parquet(store_path)
    with pytest.raises(ValueError, match="flatten"):
        GM.compact_store(spark, store_path)  # forgot partition_by
    with pytest.raises(ValueError, match="flatten"):
        GM.compact_store(spark, store_path, partition_by=("band",))  # wrong layout
    # correct layout still compacts
    before, after = GM.compact_store(spark, store_path, partition_by=("cell",))
    assert after >= 1


def test_semantic_gate_cold_start_bootstrap(spark, tmp_path):
    """A brand-new crawl has NO store and NO centroids. The bootstrap
    flow: sample the cell geometry from the FIRST delta itself, gate it
    against an empty (schema-only) store — every usable doc admits —
    and let the first append_admitted_semantic CREATE the store path;
    run 2 then reads the real store back and sees run 1's admits as
    dup_semantic with DPP intact.  (The exact and near-dup gates
    bootstrap trivially — an empty store frame admits everything —
    asserted here too for the record.)"""
    dim = 4
    run1 = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.1]), (2, [0.0, 1.0, 0.0, 0.1])],
        "vec_id long, embedding array<double>",
    )
    cents = sampled_centroids(run1, n_cells=2)  # geometry from the first crawl
    empty_store = semantic_store(run1.limit(0), dim=dim, n_cells=2, centroids=cents)
    dec1 = semantic_ingest_dedup(
        run1, empty_store, cents, dim, tau=0.95, n_probe=1
    ).localCheckpoint()
    assert {r.id: r.status for r in dec1.collect()} == {1: "new", 2: "new"}

    store_path = str(tmp_path / "cold_store")  # does not exist yet
    GM.append_admitted_semantic(dec1, run1, store_path, cents, dim)

    run2 = spark.createDataFrame(
        [(3, [1.0, 0.0, 0.0, 0.1])], "vec_id long, embedding array<double>"
    )
    gate2 = semantic_ingest_dedup(
        run2, spark.read.parquet(store_path), cents, dim, tau=0.95, n_probe=1
    )
    assert "dynamicpruning" in plan_of(gate2).lower()
    rows = {r.id: r for r in gate2.collect()}
    assert rows[3].status == "dup_semantic" and rows[3].match_id == 1

    # exact + near-dup gates bootstrap against empty store frames
    empty_docs = _docs(spark, [])
    d = {r.id: r.status for r in ingest_dedup(
        _docs(spark, [(1, TEXT_A)]), fingerprint_store(empty_docs)).collect()}
    assert d == {1: "new"}
    m = {r.id: r.status for r in minhash_ingest_dedup(
        _docs(spark, [(1, TEXT_A)]), minhash_store(empty_docs)).collect()}
    assert m == {1: "new"}


def test_retire_from_store_exact_and_semantic(spark, tmp_path):
    """retire_from_store — the takedown inverse of the appends: the
    retired keys vanish from the store (future gating re-admits their
    clones), everything else survives byte-for-byte, the partition
    layout (and DPP) survives on the vector store, and the rewrite
    inherits the flatten-refusal guard."""
    import pytest

    # exact store: retire one fingerprint, its clone is 'new' again
    store_path = str(tmp_path / "fp_store")
    fingerprint_store(_docs(spark, [(100, TEXT_A), (101, TEXT_B)])).write.parquet(store_path)
    pre = {r.id: r.status for r in ingest_dedup(
        _docs(spark, [(1, TEXT_A), (2, TEXT_B)]), spark.read.parquet(store_path)).collect()}
    assert pre == {1: "dup_store", 2: "dup_store"}
    gone_fp = fingerprint_store(_docs(spark, [(0, TEXT_A)])).collect()[0].fingerprint
    before, after = GM.retire_from_store(spark, store_path, [gone_fp], "fingerprint")
    assert (before, after) == (2, 1)
    post = {r.id: r.status for r in ingest_dedup(
        _docs(spark, [(1, TEXT_A), (2, TEXT_B)]), spark.read.parquet(store_path)).collect()}
    assert post == {1: "new", 2: "dup_store"}

    # semantic store: retire by id, layout + DPP survive
    dim = 4
    base = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0, 0.1]), (101, [0.0, 1.0, 0.0, 0.1]),
         (102, [0.0, 0.0, 1.0, 0.1])],
        "vec_id long, embedding array<double>",
    )
    cents = sampled_centroids(base, n_cells=3)
    sem_path = str(tmp_path / "sem_store")
    semantic_store(base, dim=dim, n_cells=3, centroids=cents).write.partitionBy(
        "cell"
    ).parquet(sem_path)
    with pytest.raises(ValueError, match="flatten"):
        GM.retire_from_store(spark, sem_path, [100], "id")  # forgot layout
    before, after = GM.retire_from_store(
        spark, sem_path, [100], "id", partition_by=("cell",)
    )
    assert (before, after) == (3, 2)
    probe = spark.createDataFrame(
        [(9, [1.0, 0.0, 0.0, 0.1]), (10, [0.0, 1.0, 0.0, 0.1])],
        "vec_id long, embedding array<double>",
    )
    gate = semantic_ingest_dedup(
        probe, spark.read.parquet(sem_path), cents, dim, tau=0.95, n_probe=1
    )
    assert "dynamicpruning" in plan_of(gate).lower()
    rows = {r.id: r for r in gate.collect()}
    assert rows[9].status == "new"            # retired doc no longer matches
    assert rows[10].status == "dup_semantic" and rows[10].match_id == 101

    # DataFrame form + no-op retire
    b2, a2 = GM.retire_from_store(
        spark, sem_path,
        spark.createDataFrame([(999,)], "id long"), "id", partition_by=("cell",),
    )
    assert (b2, a2) == (2, 2)


def test_retire_from_store_pins_sampled_retired_frame(spark, tmp_path):
    """r09 verdict nit #2: the retired-keys frame is localCheckpointed
    before counting and rewriting, so a SAMPLED (re-execution-unstable)
    retired frame cannot make the reported (rows_before, rows_after)
    drift from what the rewrite actually removed — asserted by
    re-reading the store and reconciling against the reported counts."""
    store_path = str(tmp_path / "fp_store_sampled")
    docs = _docs(spark, [(i, f"document number {i} body text") for i in range(40)])
    fingerprint_store(docs).write.parquet(store_path)
    store = spark.read.parquet(store_path)
    sampled = store.sample(0.4, seed=7)  # plan re-executes per consumer
    before, after = GM.retire_from_store(spark, store_path, sampled, "fingerprint")
    remaining = spark.read.parquet(store_path).count()
    assert before == 40
    assert after == remaining  # reported count == rewrite's actual result
    assert 0 < remaining < 40  # the sample really retired something


def test_maintenance_marker_blocks_appends_and_second_rewrite(spark, tmp_path):
    """r09 verdict ask #2, batch side: while a maintenance pass holds
    `<store>.maintenance`, every append_admitted_* writer and
    check_store_maintenance fail fast with the guidance error, and a
    SECOND maintenance pass loses the compare-and-set claim with its
    own designed message.  After a clean compact_store the marker is
    gone and everything proceeds."""
    import os
    import pytest

    store_path = str(tmp_path / "fp_store_mx")
    fingerprint_store(_docs(spark, [(100, TEXT_A)])).write.parquet(store_path)
    dec = ingest_dedup(
        _docs(spark, [(1, TEXT_B)]), spark.read.parquet(store_path)
    ).localCheckpoint()

    marker = FL._take_marker(spark, FL._STORE, store_path, "test holds the lock")
    with pytest.raises(RuntimeError, match="under maintenance"):
        GM.check_store_maintenance(spark, store_path)
    with pytest.raises(RuntimeError, match="under maintenance"):
        GM.append_admitted_fingerprints(dec, store_path)
    with pytest.raises(RuntimeError, match="under maintenance"):
        GM.append_admitted_minhash(dec, _docs(spark, [(1, TEXT_B)]), store_path)
    with pytest.raises(RuntimeError, match="under maintenance"):
        GM.append_admitted_semantic(
            dec,
            spark.createDataFrame([(1, [1.0])], "vec_id long, embedding array<double>"),
            store_path,
            [[1.0]],
            dim=1,
        )
    # the CAS loser: a second rewrite racing the holder
    with pytest.raises(RuntimeError, match="already holds"):
        GM.compact_store(spark, store_path)
    # retire claims the marker up front (one claim over count+rewrite,
    # r11) — it loses the CAS before its counting scan even starts
    with pytest.raises(RuntimeError, match="already holds"):
        GM.retire_from_store(spark, store_path, ["x"], "fingerprint")
    os.remove(marker)  # the documented crash adjudication

    GM.append_admitted_fingerprints(dec, store_path)
    assert spark.read.parquet(store_path).count() == 2
    GM.compact_store(spark, store_path)
    assert not os.path.exists(marker)  # released on success
    GM.check_store_maintenance(spark, store_path)  # no-op again


def test_maintenance_marker_fails_gate_epoch_loudly(spark, tmp_path):
    """r09 verdict ask #2, streaming side — 'a test starting a gate,
    invoking compact_store concurrently, and asserting the designed
    error on whichever side loses': a foreachBatch gate given
    store_path= processes epoch 0 normally; a maintenance pass then
    claims the store's marker, and the gate's NEXT epoch dies at the
    epoch boundary with the protocol's guidance error (not a raw
    FileNotFound).  The decisions-log `_maintenance` marker
    (compact_gate_decisions' claim) fails an epoch the same way."""
    import os
    import time as _time
    from datetime import datetime

    import pytest

    from hannigan_conjunctisviribus_ploscompbio_2017_spark.streaming import events as SE

    schema = "doc_id long, ts timestamp, text string"
    src = tmp_path / "doc_stream"
    spark.createDataFrame(
        [(1, datetime(2025, 1, 1, 12, 0), TEXT_A)], schema
    ).coalesce(1).write.mode("append").parquet(str(src))

    store_path = str(tmp_path / "fp_store_stream")
    fingerprint_store(_docs(spark, [(100, TEXT_B)])).write.parquet(store_path)
    dec_path = str(tmp_path / "dec")

    def start():
        return SE.streaming_ingest_dedup_foreach(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src)),
            spark.read.parquet(store_path),
            decisions_path=dec_path,
            checkpoint=str(tmp_path / "ckpt"),
            store_path=store_path,
        )

    q = start()
    try:
        q.processAllAvailable()  # epoch 0 commits normally
    finally:
        q.stop()

    # concurrent maintenance claims the store marker; the gate's next
    # epoch must lose with the designed error
    marker = FL._take_marker(spark, FL._STORE, store_path, "concurrent compaction")
    spark.createDataFrame(
        [(2, datetime(2025, 1, 1, 12, 5), TEXT_C)], schema
    ).coalesce(1).write.mode("append").parquet(str(src))
    _time.sleep(0.3)
    q = start()
    try:
        with pytest.raises(Exception, match="under maintenance"):
            q.processAllAvailable()
    finally:
        q.stop()
    os.remove(marker)

    # decisions-log side: compact_gate_decisions' marker fails the epoch
    SE._fs_write_text(spark, f"{dec_path}/_maintenance", "compact_gate_decisions")
    q = start()
    try:
        with pytest.raises(Exception, match="under maintenance"):
            q.processAllAvailable()
    finally:
        q.stop()
    os.remove(f"{dec_path}/_maintenance")

    # with both markers gone the delayed epoch commits fine
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {r.id: r.status for r in SE.read_gate_decisions(spark, dec_path).collect()}
    assert rows == {1: "new", 2: "new"}


def test_store_stats_tracks_fragmentation_and_maintenance(spark, tmp_path):
    """store_stats is the monitoring face of the lifecycle: appends
    grow data_files (per partition dir on the cell layout), compaction
    shrinks them back with the layout intact, and the maintenance
    marker surfaces as under_maintenance — all from the filesystem
    alone, no Spark job."""
    import os

    dim = 4
    base = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0, 0.1]), (101, [0.0, 1.0, 0.0, 0.1])],
        "vec_id long, embedding array<double>",
    )
    cents = sampled_centroids(base, n_cells=2)
    store_path = str(tmp_path / "sem_store_stats")
    semantic_store(base, dim=dim, n_cells=2, centroids=cents).write.partitionBy(
        "cell"
    ).parquet(store_path)

    s0 = GM.store_stats(spark, store_path)
    assert s0["partition_columns"] == ["cell"]
    assert s0["partition_dirs"] == 2 and s0["data_files"] >= 2
    assert s0["total_bytes"] > 0 and s0["avg_file_bytes"] > 0
    assert s0["under_maintenance"] is False

    run = spark.createDataFrame(
        [(1, [0.9, 0.1, 0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    dec = semantic_ingest_dedup(
        run, spark.read.parquet(store_path), cents, dim, tau=0.999, n_probe=1
    ).localCheckpoint()
    GM.append_admitted_semantic(dec, run, store_path, cents, dim)
    s1 = GM.store_stats(spark, store_path)
    assert s1["data_files"] > s0["data_files"]  # the append fragmented it
    assert s1["partition_dirs"] == 2  # inside the existing cell dirs

    GM.compact_store(spark, store_path, partition_by=("cell",))
    s2 = GM.store_stats(spark, store_path)
    assert s2["data_files"] < s1["data_files"]
    assert s2["partition_columns"] == ["cell"] and s2["partition_dirs"] == 2

    marker = FL._take_marker(spark, FL._STORE, store_path, "stats test")
    assert GM.store_stats(spark, store_path)["under_maintenance"] is True
    os.remove(marker)

    # flat store: one leaf dir, no partition columns
    flat = str(tmp_path / "fp_store_stats")
    fingerprint_store(_docs(spark, [(1, TEXT_A)])).write.parquet(flat)
    sf = GM.store_stats(spark, flat)
    assert sf["partition_columns"] == [] and sf["partition_dirs"] == 1


def test_crawl_loop_lifecycle_end_to_end(spark, tmp_path):
    """The headline operational claim, pinned as one chained loop: a
    crawl can run indefinitely on these primitives — gate → append the
    admits → monitor → compact when fragmented → retire a takedown →
    gate again — with every decision correct at every step.  Three
    full runs over the exact-fingerprint store:
      run 1: cold start (empty store) — everything admits; append.
      run 2: a clone of a run-1 admit flags dup_store (only possible
             through the append); append; compact (rows identical,
             files shrink per store_stats); retire one fingerprint.
      run 3: a clone of the RETIRED doc is 'new' again, a clone of a
             surviving doc still dup_store — on the compacted+retired
             store."""
    store_path = str(tmp_path / "loop_store")

    # --- run 1: cold start ---
    run1 = _docs(spark, [(1, TEXT_A), (2, TEXT_B)])
    dec1 = ingest_dedup(run1, fingerprint_store(_docs(spark, []))).localCheckpoint()
    assert {r.id: r.status for r in dec1.collect()} == {1: "new", 2: "new"}
    GM.append_admitted_fingerprints(dec1, store_path)  # creates the store

    # --- run 2: gate against the persisted store ---
    run2 = _docs(spark, [(3, TEXT_A), (4, TEXT_C)])
    dec2 = ingest_dedup(run2, spark.read.parquet(store_path)).localCheckpoint()
    assert {r.id: r.status for r in dec2.collect()} == {3: "dup_store", 4: "new"}
    GM.append_admitted_fingerprints(dec2, store_path)

    s_frag = GM.store_stats(spark, store_path)
    assert s_frag["data_files"] >= 2  # two appends fragmented it
    pre_rows = sorted(map(tuple, spark.read.parquet(store_path).collect()))
    GM.compact_store(spark, store_path)
    s_comp = GM.store_stats(spark, store_path)
    assert s_comp["data_files"] < s_frag["data_files"]
    assert sorted(map(tuple, spark.read.parquet(store_path).collect())) == pre_rows

    # takedown: retire TEXT_A's fingerprint
    gone = fingerprint_store(_docs(spark, [(0, TEXT_A)])).collect()[0].fingerprint
    before, after = GM.retire_from_store(spark, store_path, [gone], "fingerprint")
    assert (before, after) == (3, 2)
    assert GM.store_stats(spark, store_path)["under_maintenance"] is False

    # --- run 3: the retired doc re-admits, survivors still gate ---
    run3 = _docs(spark, [(5, TEXT_A), (6, TEXT_B), (7, TEXT_C)])
    dec3 = {r.id: r.status for r in ingest_dedup(
        run3, spark.read.parquet(store_path)).collect()}
    assert dec3 == {5: "new", 6: "dup_store", 7: "dup_store"}


def test_check_materialized_join_detection_is_node_anchored(spark, tmp_path):
    """r09 ADVICE: the lazy-gate-output detector matches plan NODE
    names, so a blessed (materialized) decisions frame whose plan text
    merely CONTAINS the token 'Join' — a filter against the literal
    string, a column named like it — is no longer false-positive
    rejected, while a real un-materialized gate output still raises."""
    store_path = str(tmp_path / "fp_store_lit")
    fingerprint_store(_docs(spark, [(100, TEXT_A)])).write.parquet(store_path)
    log_path = str(tmp_path / "dec_log_lit")
    ingest_dedup(
        _docs(spark, [(1, TEXT_B)]), spark.read.parquet(store_path)
    ).localCheckpoint().write.parquet(log_path)

    # literal 'Join' in a Filter node's arguments — blessed input, passes
    dec = (
        spark.read.parquet(log_path)
        .filter(F.col("status") != "Join the Join club Join")
        .withColumn("joined_note", F.lit("Join Inner Join"))
    )
    GM.append_admitted_fingerprints(dec.drop("joined_note"), store_path)
    assert spark.read.parquet(store_path).count() == 2


def test_retire_claim_covers_count_and_rewrite(spark, tmp_path, monkeypatch):
    """r10 verdict ask #4 (nit #2): retire_from_store claims the
    maintenance marker BEFORE its counting scan and holds that single
    claim through the rewrite — spied at both phases: when the counting
    pass runs AND when the rewrite starts, the marker is already held,
    and a maintenance pass racing either phase loses the CAS with the
    designed error (the r10 check-then-claim shape let a rewrite
    started between count and rewrite yank the path mid-pass)."""
    import os

    import pytest

    store_path = str(tmp_path / "fp_store_claim")
    fingerprint_store(
        _docs(spark, [(1, TEXT_A), (2, TEXT_B), (3, TEXT_C)])
    ).write.parquet(store_path)
    gone = fingerprint_store(_docs(spark, [(0, TEXT_A)])).collect()[0].fingerprint
    marker = store_path + ".maintenance"

    phases = []
    real_count = GM._count_retired
    real_rewrite = GM._rewrite_locked

    def count_spy(spark_, path, rset, key_col):
        assert os.path.exists(marker)  # claimed before the count
        with pytest.raises(RuntimeError, match="already holds"):
            FL._take_marker(spark_, FL._STORE, path, "racer-during-count")
        phases.append("count")
        return real_count(spark_, path, rset, key_col)

    def rewrite_spy(spark_, path, *a, **k):
        assert os.path.exists(marker)  # the SAME claim, still held
        with pytest.raises(RuntimeError, match="already holds"):
            FL._take_marker(spark_, FL._STORE, path, "racer-during-rewrite")
        phases.append("rewrite")
        return real_rewrite(spark_, path, *a, **k)

    monkeypatch.setattr(GM, "_count_retired", count_spy)
    monkeypatch.setattr(GM, "_rewrite_locked", rewrite_spy)
    before, after = GM.retire_from_store(spark, store_path, [gone], "fingerprint")
    assert (before, after) == (3, 2)
    assert phases == ["count", "rewrite"]
    assert not os.path.exists(marker)  # released on success


def test_store_stats_cold_start_returns_zeroed(spark, tmp_path):
    """r10 ADVICE: store_stats on a not-yet-created store path (cold
    start — the first append creates it) returns zeroed stats instead
    of a raw Java FileNotFoundException, so the monitoring loop can
    poll before run 1; a held maintenance marker still surfaces."""
    import os

    path = str(tmp_path / "never_created_store")
    assert GM.store_stats(spark, path) == {
        "data_files": 0,
        "total_bytes": 0,
        "avg_file_bytes": 0,
        "partition_columns": [],
        "partition_dirs": 0,
        "under_maintenance": False,
        "active_claims": 0,
        "oldest_claim_age_s": None,
    }
    marker = FL._take_marker(spark, FL._STORE, path, "cold start test")
    assert GM.store_stats(spark, path)["under_maintenance"] is True
    os.remove(marker)


class _RenameFaultFS:
    """Delegating wrapper around the JVM Hadoop FileSystem whose
    rename() fails by predicate — simulates the swap-rename failures a
    permission change or object-store backend can produce, which a
    local POSIX tmpdir never does on its own."""

    def __init__(self, real, fail_when):
        self._real = real
        self._fail_when = fail_when

    def rename(self, src, dst):
        if self._fail_when(str(src), str(dst)):
            return False
        return self._real.rename(src, dst)

    def __getattr__(self, name):
        return getattr(self._real, name)


def _fault_renames(monkeypatch, fail_when):
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.fslock import (
        _hadoop_fs as real_hfs,
    )

    def fake(spark_, path_str):
        fs, jpath, jvm = real_hfs(spark_, path_str)
        return _RenameFaultFS(fs, fail_when), jpath, jvm

    monkeypatch.setattr(GM, "_hadoop_fs", fake)


def test_swap_failure_rolls_back_and_releases_marker(spark, tmp_path, monkeypatch):
    """Single swap failure: rename(tmp→live) fails but the rollback
    rename(bak→live) succeeds — the original store returns live, the
    error says so, and the maintenance marker is RELEASED (the store is
    intact, gates may proceed).  The superseded .compact.tmp is the
    documented leftover; clearing it lets a clean pass succeed."""
    import os
    import shutil

    import pytest

    store_path = str(tmp_path / "fp_store_rb1")
    fingerprint_store(
        _docs(spark, [(1, TEXT_A), (2, TEXT_B), (3, TEXT_C)])
    ).write.parquet(store_path)
    rows = sorted(map(tuple, spark.read.parquet(store_path).collect()))

    _fault_renames(
        monkeypatch, lambda src, dst: src.rstrip("/").endswith(".compact.tmp")
    )
    with pytest.raises(RuntimeError, match="rolled back and live again"):
        GM.compact_store(spark, store_path)
    assert os.path.exists(store_path)  # original restored live
    assert not os.path.exists(store_path + ".precompact")
    assert not os.path.exists(store_path + ".maintenance")  # released
    assert sorted(map(tuple, spark.read.parquet(store_path).collect())) == rows

    monkeypatch.undo()
    shutil.rmtree(store_path + ".compact.tmp")  # the documented leftover step
    GM.compact_store(spark, store_path)
    assert sorted(map(tuple, spark.read.parquet(store_path).collect())) == rows


def test_swap_double_failure_keeps_marker_with_guidance(spark, tmp_path, monkeypatch):
    """r10 ADVICE: if rename(tmp→live) fails AND the rollback
    rename(bak→live) also fails, no live store path exists — the raise
    is StoreRestoreError naming the .precompact restore step, and the
    maintenance marker is deliberately KEPT so gates keep dying with
    the protocol's guidance error instead of a raw FileNotFound (the
    old code's unchecked rollback let the finally delete the marker
    over a missing store)."""
    import os
    import shutil

    import pytest

    store_path = str(tmp_path / "fp_store_rb2")
    fingerprint_store(
        _docs(spark, [(1, TEXT_A), (2, TEXT_B), (3, TEXT_C)])
    ).write.parquet(store_path)
    rows = sorted(map(tuple, spark.read.parquet(store_path).collect()))

    # every rename INTO the live path fails: both the swap-in and the rollback
    _fault_renames(
        monkeypatch, lambda src, dst: dst.rstrip("/").endswith("fp_store_rb2")
    )
    with pytest.raises(GM.StoreRestoreError, match="rename it back"):
        GM.compact_store(spark, store_path)
    assert not os.path.exists(store_path)  # no live store...
    assert os.path.exists(store_path + ".precompact")  # ...original complete here
    assert os.path.exists(store_path + ".maintenance")  # marker KEPT
    # gates die with guidance, not FileNotFound, until the manual restore
    with pytest.raises(RuntimeError, match="under maintenance"):
        GM.check_store_maintenance(spark, store_path)

    # the error message's manual adjudication, then a clean pass works
    monkeypatch.undo()
    os.rename(store_path + ".precompact", store_path)
    os.remove(store_path + ".maintenance")
    shutil.rmtree(store_path + ".compact.tmp")
    assert sorted(map(tuple, spark.read.parquet(store_path).collect())) == rows
    GM.compact_store(spark, store_path)
    assert sorted(map(tuple, spark.read.parquet(store_path).collect())) == rows


def test_store_user_claims_close_the_writer_race(spark, tmp_path, monkeypatch):
    """r10 ADVICE #1, the stronger option taken in r11: writers hold a
    SHARED claim, so maintenance-vs-writer is a two-sided lock, not
    check-then-act.  Three interleavings: (1) maintenance racing a
    mid-flight append backs out with the designed error and releases
    its marker (asserted from INSIDE the append's claim window via a
    resolve_store spy); (2) a user whose claim post-dates a rewrite's
    marker claim backs out at the phase-2 re-check and leaves no claim
    file; (3) a crashed user's stale claim blocks maintenance with the
    stale-claim guidance until deleted — and the store is untouched."""
    import os

    import pytest

    store_path = str(tmp_path / "fp_store_claims")
    fingerprint_store(_docs(spark, [(100, TEXT_A)])).write.parquet(store_path)
    dec = ingest_dedup(
        _docs(spark, [(1, TEXT_B)]), spark.read.parquet(store_path)
    ).localCheckpoint()
    claims_dir = store_path + ".claims"
    marker = store_path + ".maintenance"

    def live_claims():
        # the Hadoop local FS writes hidden .crc siblings — count claims only
        return [f for f in os.listdir(claims_dir) if not f.startswith((".", "_"))]

    # (1) compact racing a mid-flight append: the append's claim is held
    # when resolve_store runs — a maintenance pass attempted there must
    # back out, releasing its marker, and the append finishes untouched
    real_resolve = GM.resolve_store
    seen = {}

    def resolve_spy(spark_, path):
        assert len(live_claims()) == 1  # the append's claim
        assert GM.store_stats(spark_, path)["active_claims"] == 1  # monitored
        with pytest.raises(RuntimeError, match="active store-user claims"):
            GM.compact_store(spark_, path)
        assert not os.path.exists(marker)  # the losing rewrite released it
        seen["raced"] = True
        return real_resolve(spark_, path)

    monkeypatch.setattr(GM, "resolve_store", resolve_spy)
    GM.append_admitted_fingerprints(dec, store_path)
    monkeypatch.undo()
    assert seen["raced"]
    assert live_claims() == []  # claim released after the append
    assert spark.read.parquet(store_path).count() == 2

    # (2) the phase-2 re-check: a rewrite that claims the marker between
    # the user's first check and its claim create must win — simulated
    # by passing check 1 and raising at check 2
    calls = {"n": 0}
    real_check = FL._check_marker

    def flaky_check(spark_, fam, path):
        calls["n"] += 1
        if calls["n"] == 2:  # the re-check inside the claim window
            raise RuntimeError("store is under maintenance (simulated)")
        return real_check(spark_, fam, path)

    monkeypatch.setattr(FL, "_check_marker", flaky_check)
    with pytest.raises(RuntimeError, match="under maintenance"):
        with GM.store_user_claim(spark, store_path, "loser"):
            raise AssertionError("must not enter — the re-check lost")
    monkeypatch.undo()
    assert live_claims() == []  # backed out: no claim left behind

    # (3) a crashed user's stale claim blocks maintenance with guidance
    with open(f"{claims_dir}/deadbeef", "w") as f:
        f.write("crashed epoch")
    with pytest.raises(RuntimeError, match="delete the stale claim"):
        GM.compact_store(spark, store_path)
    assert not os.path.exists(marker)  # refused cleanly
    os.remove(f"{claims_dir}/deadbeef")
    GM.compact_store(spark, store_path)  # proceeds once clear


def test_concurrent_appends_vs_compactions_stress(spark, tmp_path):
    """Live two-thread stress of the r11 claim protocol — the
    real-concurrency counterpart of the constructed interleavings: one
    thread appends 8 decision sets (retrying on protocol errors), the
    other loops compactions (skipping on protocol errors), genuinely
    overlapping on local[32].  The lock's guarantee under test: the
    ONLY errors either side ever sees are the protocol's designed
    messages (never a raw FileNotFound / AnalysisException from a
    half-swapped store), every append eventually lands exactly once,
    and no marker or claim file survives the run."""
    import os
    import threading
    import time as _t

    store_path = str(tmp_path / "fp_store_stress")
    fingerprint_store(_docs(spark, [(0, "seed document zero")])).write.parquet(
        store_path
    )
    empty = fingerprint_store(_docs(spark, []))
    texts = [f"unique stress document number {i} with body {i * 7}" for i in range(8)]
    decs = [
        ingest_dedup(_docs(spark, [(i + 1, t)]), empty).localCheckpoint()
        for i, t in enumerate(texts)
    ]
    expected = {
        r.fingerprint
        for r in fingerprint_store(
            _docs(spark, [(0, "seed document zero")] + list(enumerate(texts, 1)))
        ).collect()
    }

    PROTOCOL = ("under maintenance", "active store-user claims", "already holds")
    unexpected: list[str] = []
    done = threading.Event()

    def appender():
        try:
            for dec in decs:
                while True:
                    try:
                        GM.append_admitted_fingerprints(dec, store_path)
                        break
                    except RuntimeError as e:
                        if not any(p in str(e) for p in PROTOCOL):
                            unexpected.append(f"append: {e!r}")
                            return
                        _t.sleep(0.05)  # lost to a compaction — retry
        except Exception as e:  # noqa: BLE001 — the test records, the main thread asserts
            unexpected.append(f"append: {e!r}")
        finally:
            done.set()

    def compactor():
        while not done.is_set():
            try:
                GM.compact_store(spark, store_path)
            except RuntimeError as e:
                if not any(p in str(e) for p in PROTOCOL):
                    unexpected.append(f"compact: {e!r}")
                    return
            except Exception as e:  # noqa: BLE001
                unexpected.append(f"compact: {e!r}")
                return
            _t.sleep(0.01)

    ta = threading.Thread(target=appender)
    tb = threading.Thread(target=compactor)
    ta.start(), tb.start()
    ta.join(timeout=300), tb.join(timeout=300)
    assert not ta.is_alive() and not tb.is_alive(), "stress threads hung"
    assert unexpected == [], unexpected

    got = {r.fingerprint for r in spark.read.parquet(store_path).collect()}
    assert got == expected  # every append landed exactly once, none lost
    assert not os.path.exists(store_path + ".maintenance")
    claims = store_path + ".claims"
    if os.path.isdir(claims):
        assert [f for f in os.listdir(claims) if not f.startswith((".", "_"))] == []


def test_versioned_lifecycle_runs_with_all_renames_failing(spark, tmp_path, monkeypatch):
    """The object-store-safe mode end-to-end (r10 verdict ask #3): an
    existing exact store converts to the VERSIONED layout, and the
    whole maintenance lifecycle — gate, append, compact, retire, gate —
    then runs with EVERY rename issued by the maintenance module forced
    to fail, proving the versioned rewrite path renames nothing (on
    s3a-class filesystems rename is copy+delete and the rename-swap's
    crash windows stop being safe; this mode removes them)."""
    import os

    store_path = str(tmp_path / "fp_store_ver")
    fingerprint_store(_docs(spark, [(1, TEXT_A), (2, TEXT_B)])).write.parquet(
        store_path
    )
    live = GM.convert_store_to_versioned(spark, store_path)
    assert live == store_path + "/v1"
    assert GM.resolve_store(spark, store_path) == live
    assert spark.read.parquet(GM.resolve_store(spark, store_path)).count() == 2
    assert GM.store_stats(spark, store_path)["version"] == 1

    # from here on, no rename may be needed — force them all to fail
    _fault_renames(monkeypatch, lambda src, dst: True)

    run1 = _docs(spark, [(3, TEXT_C), (4, TEXT_A)])
    dec1 = ingest_dedup(
        run1, spark.read.parquet(GM.resolve_store(spark, store_path))
    ).localCheckpoint()
    assert {r.id: r.status for r in dec1.collect()} == {3: "new", 4: "dup_store"}
    GM.append_admitted_fingerprints(dec1, store_path)  # lands inside v1/

    fb, fa = GM.compact_store(spark, store_path)  # manifest flip v1 -> v2
    assert fb >= 2 and fa <= fb
    assert GM.resolve_store(spark, store_path).endswith("/v2")
    assert GM.store_stats(spark, store_path)["version"] == 2
    assert not os.path.exists(store_path + "/v1")  # GC'd
    assert not os.path.exists(f"{store_path}/_MANIFEST-v1")
    assert spark.read.parquet(GM.resolve_store(spark, store_path)).count() == 3

    gone = fingerprint_store(_docs(spark, [(0, TEXT_A)])).collect()[0].fingerprint
    before, after = GM.retire_from_store(spark, store_path, [gone], "fingerprint")
    assert (before, after) == (3, 2)
    assert GM.resolve_store(spark, store_path).endswith("/v3")
    dec2 = {
        r.id: r.status
        for r in ingest_dedup(
            _docs(spark, [(5, TEXT_A), (6, TEXT_C)]),
            spark.read.parquet(GM.resolve_store(spark, store_path)),
        ).collect()
    }
    assert dec2 == {5: "new", 6: "dup_store"}  # readmit + survivor
    assert not os.path.exists(store_path + ".maintenance")


def test_versioned_crash_windows_self_repair(spark, tmp_path):
    """The two kill windows of the manifest rewrite, constructed as the
    exact on-disk states a crash leaves, both repaired by the next
    pass: (a) killed between writing v<N+1> and the flip — readers
    stay on v<N> and the orphan is GC'd; (b) killed between the flip
    and GC — readers are already on the complete v<N+1> and the stale
    version is GC'd."""
    import os
    import shutil

    store_path = str(tmp_path / "fp_store_crashwin")
    fingerprint_store(_docs(spark, [(1, TEXT_A), (2, TEXT_B)])).write.parquet(
        store_path
    )
    GM.convert_store_to_versioned(spark, store_path)
    rows = sorted(map(tuple, spark.read.parquet(store_path + "/v1").collect()))

    # (a) crash BEFORE the flip: v2 data (partial) exists, no manifest
    os.makedirs(store_path + "/v2")
    with open(store_path + "/v2/garbage.bin", "w") as f:
        f.write("partial write from a killed job")
    assert GM.resolve_store(spark, store_path).endswith("/v1")  # readers unaffected
    assert GM.store_stats(spark, store_path)["version"] == 1  # no double count
    GM.compact_store(spark, store_path)  # GCs the orphan, writes a fresh v2
    assert GM.resolve_store(spark, store_path).endswith("/v2")
    assert sorted(map(tuple, spark.read.parquet(store_path + "/v2").collect())) == rows
    assert not os.path.exists(store_path + "/v1")

    # (b) crash AFTER the flip, before GC: complete v3 + manifest, stale v2
    shutil.copytree(store_path + "/v2", store_path + "/v3")
    with open(f"{store_path}/_MANIFEST-v3", "w") as f:
        f.write("flip")
    assert GM.resolve_store(spark, store_path).endswith("/v3")  # already live
    GM.compact_store(spark, store_path)  # GCs stale v2, flips v3 -> v4
    assert GM.resolve_store(spark, store_path).endswith("/v4")
    assert sorted(map(tuple, spark.read.parquet(store_path + "/v4").collect())) == rows
    assert not os.path.exists(store_path + "/v2")
    assert not os.path.exists(f"{store_path}/_MANIFEST-v2")
    assert not os.path.exists(store_path + "/v3")
    assert not os.path.exists(f"{store_path}/_MANIFEST-v3")


def test_versioned_semantic_store_keeps_dpp_and_layout(spark, tmp_path):
    """Versioned + partitioned compose: a cell-partitioned semantic
    store converts, appends land inside the live version's cell dirs,
    the versioned compaction preserves partitionBy('cell') — with the
    flatten-refusal guard still firing — and the gate's DPP probe plan
    survives on the post-flip store."""
    import pytest

    dim = 4
    base = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0, 0.1]), (101, [0.0, 1.0, 0.0, 0.1])],
        "vec_id long, embedding array<double>",
    )
    cents = sampled_centroids(base, n_cells=2)
    root = str(tmp_path / "sem_store_ver")
    semantic_store(base, dim=dim, n_cells=2, centroids=cents).write.partitionBy(
        "cell"
    ).parquet(root)
    GM.convert_store_to_versioned(spark, root)

    run = spark.createDataFrame(
        [(1, [0.9, 0.1, 0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    dec = semantic_ingest_dedup(
        run, spark.read.parquet(GM.resolve_store(spark, root)), cents, dim,
        tau=0.999, n_probe=1,
    ).localCheckpoint()
    GM.append_admitted_semantic(dec, run, root, cents, dim)
    s = GM.store_stats(spark, root)
    assert s["version"] == 1 and s["partition_columns"] == ["cell"]

    with pytest.raises(ValueError, match="flatten"):
        GM.compact_store(spark, root)  # forgot the layout
    GM.compact_store(spark, root, partition_by=("cell",))
    s2 = GM.store_stats(spark, root)
    assert s2["version"] == 2 and s2["partition_columns"] == ["cell"]
    gate = semantic_ingest_dedup(
        spark.createDataFrame(
            [(9, [0.9, 0.1, 0.0, 0.0])], "vec_id long, embedding array<double>"
        ),
        spark.read.parquet(GM.resolve_store(spark, root)), cents, dim,
        tau=0.95, n_probe=1,
    )
    assert "dynamicpruning" in plan_of(gate).lower()
    rows = {r.id: r for r in gate.collect()}
    assert rows[9].status == "dup_semantic" and rows[9].match_id == 1


def test_versioned_store_state_machine_vs_model(spark, tmp_path):
    """Seeded state-machine check of the versioned lifecycle: a random
    sequence of {append, compact, retire, crash-debris injection}
    against a plain Python-set model — after EVERY op, resolve_store
    must name a complete readable version whose fingerprint set equals
    the model.  Crash debris is the exact litter a killed rewrite
    leaves (orphan v-dirs without manifests; stale version+manifest
    pairs behind the live one) planted BETWEEN ops; the next
    maintenance pass must self-repair it without touching the model's
    rows.  Seeded, so failures replay deterministically."""
    import os
    import random
    import shutil

    rng = random.Random(1109)
    root = str(tmp_path / "fp_store_sm")
    GM.convert_store_to_versioned(spark, root)  # cold: versioned from day one
    model: set[str] = set()
    next_doc = 0
    empty = fingerprint_store(_docs(spark, []))

    def fp_of(text):
        return fingerprint_store(_docs(spark, [(0, text)])).collect()[0].fingerprint

    def check(op):
        live = GM.resolve_store(spark, root)
        if not model:
            # an all-retired store may be empty/unreadable — cold-start
            # semantics; nothing to compare
            return
        got = {r.fingerprint for r in spark.read.parquet(live).collect()}
        assert got == model, f"after {op}: store diverged from model"

    for step in range(18):
        op = rng.choice(["append", "append", "compact", "retire", "debris"])
        if op == "append":
            texts = [
                f"state machine doc {next_doc + i} body {(next_doc + i) * 13}"
                for i in range(rng.randint(1, 3))
            ]
            next_doc += len(texts)
            dec = ingest_dedup(
                _docs(spark, list(enumerate(texts))), empty
            ).localCheckpoint()
            GM.append_admitted_fingerprints(dec, root)
            model |= {fp_of(t) for t in texts}
        elif op == "compact":
            GM.compact_store(spark, root)
        elif op == "retire" and model:
            victims = rng.sample(sorted(model), k=min(2, len(model)))
            before, after = GM.retire_from_store(
                spark, root, victims, "fingerprint"
            )
            assert (before, after) == (len(model), len(model) - len(victims))
            model -= set(victims)
        elif op == "debris":
            live_n = int(GM.resolve_store(spark, root).rsplit("v", 1)[1])
            kind = rng.choice(["orphan", "stale"])
            if kind == "orphan":  # killed before the flip
                os.makedirs(f"{root}/v{live_n + 1}", exist_ok=True)
                with open(f"{root}/v{live_n + 1}/partial.bin", "w") as f:
                    f.write("killed mid-write")
            else:  # killed after a flip, before GC: stale complete twin
                src = f"{root}/v{live_n}"
                if os.path.isdir(src) and not os.path.isdir(f"{root}/v{live_n + 9}"):
                    shutil.copytree(src, f"{root}/v{live_n + 9}")
                    with open(f"{root}/_MANIFEST-v{live_n + 9}", "w") as f:
                        f.write("flip")
        check(op)

    # closing sweep: one compaction clears any remaining debris and the
    # tree holds exactly one version + one manifest
    GM.compact_store(spark, root)
    check("final compact")
    entries = sorted(os.listdir(root))
    versions = [e for e in entries if e.startswith("v")]
    manifests = [e for e in entries if e.startswith("_MANIFEST-")]
    assert len(versions) == 1 and len(manifests) == 1
    assert manifests[0] == f"_MANIFEST-{versions[0]}"


def test_versioned_banded_minhash_store_composes(spark, tmp_path):
    """Completes the versioned-layout matrix: the band-array bucket
    store (partitionBy("band","_part") — the documented partitionBy
    trap) converts, appends land inside the live version with the
    derived `_part`, the versioned compaction preserves the two-column
    layout, and the gate still collides a clone of the run-1 admit on
    the post-flip store."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.dedup import (
        portable_token_hash,
    )

    kw = dict(hash_fn=portable_token_hash, bucket_by_hash=False)
    root = str(tmp_path / "mh_store_arr_ver")
    GM.derive_minhash_partition(
        minhash_store(_docs(spark, [(100, TEXT_A)]), **kw), hash_partitions=4
    ).write.partitionBy("band", "_part").parquet(root)
    GM.convert_store_to_versioned(spark, root)
    assert GM.store_stats(spark, root)["partition_columns"] == ["_part", "band"]

    run1 = _docs(spark, [(1, TEXT_B)])
    dec1 = minhash_ingest_dedup(
        run1, spark.read.parquet(GM.resolve_store(spark, root)), **kw
    ).localCheckpoint()
    assert {r.id: r.status for r in dec1.collect()} == {1: "new"}
    GM.append_admitted_minhash(
        dec1, run1, root, partition_by=("band", "_part"), hash_partitions=4, **kw
    )

    GM.compact_store(spark, root, partition_by=("band", "_part"))
    s = GM.store_stats(spark, root)
    assert s["version"] == 2 and s["partition_columns"] == ["_part", "band"]
    store = spark.read.parquet(GM.resolve_store(spark, root))
    assert "_part" in store.columns
    assert store.filter(F.col("_part").isNull()).count() == 0
    rows = {
        r.id: r
        for r in minhash_ingest_dedup(_docs(spark, [(2, TEXT_B)]), store, **kw).collect()
    }
    assert rows[2].status == "dup_near" and rows[2].match_id == 1


def test_convert_versioned_cold_and_resume(spark, tmp_path):
    """convert_store_to_versioned's other entries: cold creation (call
    it on the empty path before run 1 — the first append creates v1/),
    resuming an interrupted conversion (tree left at <root>.tov), and
    the already-versioned refusal."""
    import os

    import pytest

    # cold creation: versioned from day one, no rename ever needed
    root = str(tmp_path / "cold_ver")
    GM.convert_store_to_versioned(spark, root)
    assert GM.resolve_store(spark, root) == root + "/v1"
    s = GM.store_stats(spark, root)
    assert s["data_files"] == 0 and s["version"] == 1
    dec = ingest_dedup(
        _docs(spark, [(1, TEXT_A)]), fingerprint_store(_docs(spark, []))
    ).localCheckpoint()
    GM.append_admitted_fingerprints(dec, root)  # creates v1/
    assert spark.read.parquet(GM.resolve_store(spark, root)).count() == 1

    # interrupted conversion: the kill window between the two renames
    root2 = str(tmp_path / "resume_ver")
    fingerprint_store(_docs(spark, [(1, TEXT_A), (2, TEXT_B)])).write.parquet(root2)
    os.rename(root2, root2 + ".tov")  # the state the kill leaves
    GM.convert_store_to_versioned(spark, root2)
    assert spark.read.parquet(GM.resolve_store(spark, root2)).count() == 2
    with pytest.raises(RuntimeError, match="already versioned"):
        GM.convert_store_to_versioned(spark, root2)
    assert not os.path.exists(root2 + ".maintenance")  # released on the raise


def test_convert_stall_keeps_marker_with_guidance(spark, tmp_path, monkeypatch):
    """r11 ADVICE: when the conversion's rename INTO the root fails with
    the data stranded at `<root>.tov` — either mid-conversion ('stalled')
    or while resuming an interrupted one — no live store exists, so the
    raise is StoreRestoreError and the maintenance marker is KEPT (the
    same treatment the rename-swap's double failure gets): gates keep
    failing fast with the protocol's guidance error instead of a raw
    empty-path/schema-inference error until the operator restores the
    tree.  The old code let the finally delete the marker over the
    stranded state."""
    import os

    import pytest

    def restore_and_convert(root):
        monkeypatch.undo()
        os.rmdir(root)  # the empty root mkdirs left
        os.rename(root + ".tov", root)
        os.remove(root + ".maintenance")  # the documented manual step
        GM.convert_store_to_versioned(spark, root)
        assert spark.read.parquet(GM.resolve_store(spark, root)).count() == 2

    # (1) the 'conversion stalled' branch: move-aside succeeded, the
    # rename into v1 fails
    root = str(tmp_path / "stall_ver")
    fingerprint_store(_docs(spark, [(1, TEXT_A), (2, TEXT_B)])).write.parquet(root)
    _fault_renames(monkeypatch, lambda src, dst: src.rstrip("/").endswith(".tov"))
    with pytest.raises(GM.StoreRestoreError, match="no live store exists"):
        GM.convert_store_to_versioned(spark, root)
    assert os.path.exists(root + ".tov")  # data stranded here, complete
    assert os.path.exists(root + ".maintenance")  # marker KEPT
    with pytest.raises(RuntimeError, match="under maintenance"):
        GM.check_store_maintenance(spark, root)  # guidance, not raw error
    restore_and_convert(root)

    # (2) the 'could not resume' branch: the kill-window state (.tov
    # exists) and the resume's rename also fails
    root2 = str(tmp_path / "stall_resume_ver")
    fingerprint_store(_docs(spark, [(1, TEXT_A), (2, TEXT_B)])).write.parquet(root2)
    os.rename(root2, root2 + ".tov")
    _fault_renames(monkeypatch, lambda src, dst: src.rstrip("/").endswith(".tov"))
    with pytest.raises(GM.StoreRestoreError, match="could not resume"):
        GM.convert_store_to_versioned(spark, root2)
    assert os.path.exists(root2 + ".tov")
    assert os.path.exists(root2 + ".maintenance")  # marker KEPT
    restore_and_convert(root2)

    # (3) a rename that RAISES (transient DFS error) instead of
    # returning False, inside the stranded window: the marker must be
    # kept for raised failures too, not just returned ones
    class _RaisingRenameFS(_RenameFaultFS):
        def rename(self, src, dst):
            if self._fail_when(str(src), str(dst)):
                raise RuntimeError("simulated transient DFS rename error")
            return self._real.rename(src, dst)

    from hannigan_conjunctisviribus_ploscompbio_2017_spark.fslock import (
        _hadoop_fs as real_hfs,
    )

    def raising_hfs(spark_, path_str):
        fs, jpath, jvm = real_hfs(spark_, path_str)
        return (
            _RaisingRenameFS(fs, lambda s, d: s.rstrip("/").endswith(".tov")),
            jpath,
            jvm,
        )

    root3 = str(tmp_path / "stall_raise_ver")
    fingerprint_store(_docs(spark, [(1, TEXT_A), (2, TEXT_B)])).write.parquet(root3)
    monkeypatch.setattr(GM, "_hadoop_fs", raising_hfs)
    with pytest.raises(RuntimeError, match="simulated transient"):
        GM.convert_store_to_versioned(spark, root3)
    assert os.path.exists(root3 + ".tov")  # data stranded, complete
    assert os.path.exists(root3 + ".maintenance")  # marker KEPT on the raise
    restore_and_convert(root3)


def test_claim_payload_sweep_and_stats_age(spark, tmp_path):
    """r11 verdict missing #2: claims carry a machine-adjudicable JSON
    payload (what, created_utc, pid, host) and sweep_stale_claims ages
    them out for unattended operation.  Pinned: (1) a stale claim (old
    payload stamp) is swept with its identity returned, a fresh one
    survives; (2) store_stats reports active_claims + oldest_claim_age_s
    from the payload stamps; (3) a pre-r12 bare-text claim falls back
    to FS mtime (fresh file → young → survives an hours-scale
    threshold); (4) the sweep refuses while the maintenance marker is
    held (a crashed rewrite adjudicates first)."""
    import json
    import os

    import pytest

    store_path = str(tmp_path / "fp_store_sweep")
    fingerprint_store(_docs(spark, [(1, TEXT_A)])).write.parquet(store_path)
    claims_dir = store_path + ".claims"
    os.makedirs(claims_dir)

    # a crashed writer's claim from two days ago + a live-fresh one
    stale = json.dumps(
        {
            "what": "append_admitted_fingerprints",
            "created_utc": "2020-01-01T00:00:00Z",
            "pid": 4242,
            "host": "lost-worker",
        }
    )
    with open(f"{claims_dir}/deadclaim", "w") as f:
        f.write(stale)
    with open(f"{claims_dir}/freshclaim", "w") as f:
        f.write(FL._claim_payload("live append"))
    with open(f"{claims_dir}/legacyclaim", "w") as f:
        f.write("bare-text pre-r12 claim")  # no payload → FS mtime fallback
    with open(f"{claims_dir}/oddstamp", "w") as f:
        # JSON payload whose stamp is malformed (no Z): identity fields
        # must survive the parse, age falls back to FS mtime (young)
        f.write(
            json.dumps(
                {
                    "what": "odd append",
                    "created_utc": "2020-01-01T00:00:00",
                    "pid": 77,
                    "host": "odd-host",
                }
            )
        )

    s = GM.store_stats(spark, store_path)
    assert s["active_claims"] == 4
    assert s["oldest_claim_age_s"] > 365 * 24 * 3600  # the 2020 stamp
    odd = [r for r in FL._claim_files_info(spark, FL._STORE.claims(store_path)) if r["name"] == "oddstamp"][0]
    assert odd["what"] == "odd append" and odd["pid"] == 77  # identity kept
    assert odd["age_s"] < 3600  # mtime fallback, not the broken stamp

    # maintenance refuses while ANY claim exists (stale included) —
    # the exact situation the sweep exists for
    with pytest.raises(RuntimeError, match="active store-user claims"):
        GM.compact_store(spark, store_path)

    swept = GM.sweep_stale_claims(spark, store_path, max_age_s=6 * 3600)
    assert [r["name"] for r in swept] == ["deadclaim"]
    assert swept[0]["what"] == "append_admitted_fingerprints"
    assert swept[0]["pid"] == 4242 and swept[0]["host"] == "lost-worker"
    left = {r["name"] for r in FL._claim_files_info(spark, FL._STORE.claims(store_path))}
    assert left == {"freshclaim", "legacyclaim", "oddstamp"}  # young, kept
    s2 = GM.store_stats(spark, store_path)
    assert s2["active_claims"] == 3 and s2["oldest_claim_age_s"] < 3600

    # the sweep refuses while a rewrite marker is held
    with open(store_path + ".maintenance", "w") as f:
        f.write("crashed rewrite")
    with pytest.raises(RuntimeError, match="under maintenance"):
        GM.sweep_stale_claims(spark, store_path, max_age_s=0)
    os.remove(store_path + ".maintenance")

    # clear the young claims (max_age -1 ages everything out), then
    # maintenance proceeds — the unattended loop end-to-end
    swept2 = GM.sweep_stale_claims(spark, store_path, max_age_s=-1)
    assert {r["name"] for r in swept2} == {"freshclaim", "legacyclaim", "oddstamp"}
    assert GM.store_stats(spark, store_path)["oldest_claim_age_s"] is None
    GM.compact_store(spark, store_path)


def test_sweep_never_sweeps_live_claim(spark, tmp_path):
    """A claim held by a LIVE pass survives any sane threshold: inside
    a store_user_claim window, an hours-scale sweep removes nothing and
    the claim file is still there for maintenance to refuse on."""
    store_path = str(tmp_path / "fp_store_live")
    fingerprint_store(_docs(spark, [(1, TEXT_A)])).write.parquet(store_path)
    with GM.store_user_claim(spark, store_path, "live reader"):
        assert GM.sweep_stale_claims(spark, store_path, max_age_s=3600) == []
        info = FL._claim_files_info(spark, FL._STORE.claims(store_path))
        assert len(info) == 1 and info[0]["what"] == "live reader"
        assert info[0]["age_s"] < 600
    assert FL._claim_files_info(spark, FL._STORE.claims(store_path)) == []  # released


def test_read_store_facade_claims_and_resolves(spark, tmp_path):
    """r11 verdict missing #1: read_store is the blessed ad-hoc read
    path — resolve_store + store_user_claim + the parquet read in one
    motion.  Pinned: (1) it resolves a VERSIONED root (a bare read of
    the root sees zero data files); (2) a rewrite racing the read block
    backs out with the designed claims error and the read finishes
    undisturbed; (3) against a mid-swap store (live path momentarily
    absent, marker held) the unclaimed raw read dies with a raw
    path-not-found while read_store fails fast with the protocol's
    guidance."""
    import os

    import pytest

    root = str(tmp_path / "ver_read")
    GM.convert_store_to_versioned(spark, root)  # versioned from day one
    dec = ingest_dedup(
        _docs(spark, [(1, TEXT_A), (2, TEXT_B)]), fingerprint_store(_docs(spark, []))
    ).localCheckpoint()
    GM.append_admitted_fingerprints(dec, root)

    # (1) resolves the live version; (2) a racing rewrite backs out
    with GM.read_store(spark, root) as store:
        assert store.count() == 2
        with pytest.raises(RuntimeError, match="active store-user claims"):
            GM.compact_store(spark, root)
        assert store.count() == 2  # read window undisturbed
        assert not os.path.exists(root + ".maintenance")  # loser released it
    GM.compact_store(spark, root)  # proceeds once the claim is gone

    # (3) the mid-swap contrast, plain layout: live path missing,
    # marker held — the exact state an unclaimed reader races into
    plain = str(tmp_path / "plain_read")
    fingerprint_store(_docs(spark, [(1, TEXT_A)])).write.parquet(plain)
    os.rename(plain, plain + ".precompact")  # the swap's mid-state
    with open(plain + ".maintenance", "w") as f:
        f.write("mid-swap rewrite")
    with pytest.raises(Exception, match="PATH_NOT_FOUND|does not exist"):
        spark.read.parquet(plain).count()  # raw read: raw error
    with pytest.raises(RuntimeError, match="under maintenance"):
        with GM.read_store(spark, plain):
            raise AssertionError("must fail fast before yielding")
    # the facade left no claim behind when backing out
    assert FL._claim_files_info(spark, FL._STORE.claims(plain)) == []


def test_atomic_create_gate_refuses_unattested_s3(spark):
    """r11 ADVICE (medium): the marker/claim/manifest CAS rests on
    atomic create-if-absent, which baseline s3a does not provide
    (HEAD-then-PUT) — so every CAS entry point refuses s3/s3a paths
    unless the operator attests a conditional-create-capable client
    via spark.hadoop.sparkgraft.fs.atomic.create.attested=true.  The
    refusal fires BEFORE any filesystem access (no s3a classes needed
    here), and local/HDFS-style paths are never gated."""
    import pytest

    from hannigan_conjunctisviribus_ploscompbio_2017_spark.streaming import events as SE

    # helper-level: s3 schemes refuse, everything else passes untouched
    for bad in ("s3a://bucket/store.maintenance", "s3://b/x", "s3n://b/x"):
        with pytest.raises(RuntimeError, match="ATOMIC create-if-absent"):
            FL._check_atomic_create_capable(spark, bad, "test CAS")
    for ok in ("/tmp/x", "file:///tmp/x", "hdfs://nn/x", "abfs://c@a/x"):
        FL._check_atomic_create_capable(spark, ok, "test CAS")

    # entry-point level: the marker take dies with the guidance before
    # touching the (absent) s3a filesystem classes
    with pytest.raises(RuntimeError, match="ATOMIC create-if-absent"):
        FL._take_marker(spark, FL._STORE, "s3a://bucket/store", "compact")
    # ...and so do the shared user claims and the claimed read, which
    # check the scheme before reading the marker through the filesystem
    with pytest.raises(RuntimeError, match="ATOMIC create-if-absent"):
        with GM.store_user_claim(spark, "s3a://bucket/store", "append"):
            raise AssertionError("must refuse before entering")
    with pytest.raises(RuntimeError, match="ATOMIC create-if-absent"):
        with SE.log_user_claim(spark, "s3a://bucket/decisions", "gate epoch 0"):
            raise AssertionError("must refuse before entering")
    with pytest.raises(RuntimeError, match="ATOMIC create-if-absent"):
        with GM.read_store(spark, "s3a://bucket/store"):
            raise AssertionError("must refuse before yielding")
    # ...and the read-side entry points: the marker check, both stale
    # sweeps and the stats snapshot refuse before touching the filesystem
    with pytest.raises(RuntimeError, match="ATOMIC create-if-absent"):
        GM.check_store_maintenance(spark, "s3a://bucket/store")
    with pytest.raises(RuntimeError, match="ATOMIC create-if-absent"):
        GM.sweep_stale_claims(spark, "s3a://bucket/store", max_age_s=3600)
    with pytest.raises(RuntimeError, match="ATOMIC create-if-absent"):
        SE.sweep_stale_log_claims(spark, "s3a://bucket/decisions", max_age_s=3600)
    with pytest.raises(RuntimeError, match="ATOMIC create-if-absent"):
        GM.store_stats(spark, "s3a://bucket/store")

    # the attestation unlocks the helper (conf is cleaned up after)
    hconf = spark._jsc.hadoopConfiguration()
    hconf.setBoolean(FL._ATOMIC_CREATE_ATTESTATION, True)
    try:
        FL._check_atomic_create_capable(spark, "s3a://bucket/x", "test CAS")
    finally:
        hconf.unset(FL._ATOMIC_CREATE_ATTESTATION)
    with pytest.raises(RuntimeError, match="ATOMIC create-if-absent"):
        FL._check_atomic_create_capable(spark, "s3a://bucket/x", "test CAS")

    # a SCHEME-LESS path on a cluster whose fs.defaultFS is s3a must
    # not bypass the refusal — the check resolves the default scheme
    # (string parse only, still no FS instantiation)
    prev = hconf.get("fs.defaultFS", "file:///")
    hconf.set("fs.defaultFS", "s3a://bucket")
    try:
        with pytest.raises(RuntimeError, match="ATOMIC create-if-absent"):
            FL._check_atomic_create_capable(spark, "/stores/fp.maintenance", "t")
        # explicit non-S3 scheme still passes even under an s3a default
        FL._check_atomic_create_capable(spark, "file:///tmp/x", "t")
    finally:
        hconf.set("fs.defaultFS", prev)
    FL._check_atomic_create_capable(spark, "/stores/fp.maintenance", "t")
