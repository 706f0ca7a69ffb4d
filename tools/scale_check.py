"""Scale validation: replicate sf0.1 K times with disjoint key spaces,
run the headline bench queries on both, and report per-query scaling
factors.

A query whose wall-clock grows faster than data (factor >> K) has a
scale bug — e.g. a fact table sliding under the broadcast threshold, a
driver-side collect, or an output-quadratic join. This caught the
64 MB-threshold orders-broadcast regression (factor ~10x at K=8).

Usage: python tools/scale_check.py [K]   (default 8; writes the scaled
dataset to .scratch/sfX once and reuses it)

Subset mode (r05 verdict ask #4 — probe the next scale decade):
    python tools/scale_check.py 64 --subset [name ...]
times only the named queries (bench labels like q12 or raw registry
names like dd_ingest_dedup) in-process with interleaved best-of-2
passes, base vs K-replicated, and reports per-query factors.  Default
subset: the corpus/ANN paths whose sublinearity claims matter most at
scale (q8 LSH, q12 rarefaction, q17-q20 ANN tiers, q21 TF-IDF,
dd_ingest_dedup store maintenance).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = "/root/testdata/sf0.1"
BIG = 10_000_000
SHIFTS = {
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "events": ["event_id", "user_id"],
}
COPY = ["region", "nation"]


def build(dst: str, k: int) -> None:
    from pyspark.sql import functions as F

    from hannigan_conjunctisviribus_ploscompbio_2017_spark.session import get_spark

    spark = get_spark("scale-build")
    for t, shifts in SHIFTS.items():
        src = spark.read.parquet(f"{SRC}/{t}.parquet")
        out = None
        for i in range(k):
            d = src
            for c in shifts:
                d = d.withColumn(c, F.col(c) + i * BIG)
            out = d if out is None else out.unionByName(d)
        out.write.mode("overwrite").parquet(f"{dst}/{t}.parquet")
    # documents: K replicas with a replica token woven between every pair
    # of words. Every 3-token shingle then contains the replica tag, so
    # replicas share no shingles: within-replica near-dup structure is
    # preserved (the LSH pair count scales ~K), while a verbatim copy
    # would make every doc a cross-replica near-dup of K-1 others and
    # blow the TRUE pair count up K²-fold — a data artifact that would
    # mask or fake a scale bug in the banded join.
    docs = spark.read.parquet(f"{SRC}/documents.parquet")
    out = None
    for i in range(k):
        d = docs.withColumn("doc_id", F.col("doc_id") + i * BIG).withColumn(
            "text", F.regexp_replace(F.col("text"), " ", f" xrep{i}q ")
        )
        out = d if out is None else out.unionByName(d)
    out.write.mode("overwrite").parquet(f"{dst}/documents.parquet")
    # embeddings: id shift only — ANN cost is queries × candidate rows,
    # so duplicate vectors still exercise the K-fold probe fan-out.
    emb = spark.read.parquet(f"{SRC}/embeddings.parquet")
    out = None
    for i in range(k):
        d = emb.withColumn("vec_id", F.col("vec_id") + i * BIG)
        out = d if out is None else out.unionByName(d)
    out.write.mode("overwrite").parquet(f"{dst}/embeddings.parquet")
    for t in COPY:
        spark.read.parquet(f"{SRC}/{t}.parquet").write.mode("overwrite").parquet(
            f"{dst}/{t}.parquet"
        )
    spark.stop()


def bench(sf_dir: str) -> dict:
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir)
    out = subprocess.run(
        [sys.executable, "bench.py"],
        env=env,
        capture_output=True,
        text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


# The corpus/ANN paths whose sublinearity claims matter most at scale,
# plus (r07) the three batch admission gates — near-flat by design —
# and the hypergeometric rarefaction route (m1_rarefaction, the
# at-scale default measured against the explode-based q12 twin).
SUBSET_DEFAULT = [
    "q8", "q12", "q17", "q18", "q19", "q20", "q21", "q22",
    "dd_ingest_dedup", "dd_minhash_ingest", "m1_rarefaction",
]


def bench_subset(sf_dir: str, names: list[str]) -> dict:
    """In-process timing of a named query subset at sf_dir: warm each
    query once (codegen/broadcast spin-up), then two interleaved passes,
    per-query min.  Accepts bench labels (q12) or registry names."""
    from bench import HEADLINE

    from hannigan_conjunctisviribus_ploscompbio_2017_spark.queries_testdata import QUERIES
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.session import get_spark

    label_map = dict(HEADLINE)
    resolved = [(n, label_map.get(n, n)) for n in names]
    spark = get_spark("scale-subset")
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    for _lbl, qname in resolved:
        QUERIES[qname](spark, sf_dir).count()
    best: dict[str, float] = {}
    for _ in range(2):
        for lbl, qname in resolved:
            t0 = time.time()
            QUERIES[qname](spark, sf_dir).count()
            best[lbl] = min(best.get(lbl, float("inf")), time.time() - t0)
    spark.stop()
    return {lbl: round(v, 3) for lbl, v in best.items()}


def bench_betweenness(k: int, dst: str) -> dict:
    """Scale-probe the distributed pivot-Brandes paths (r07 verdict ask
    #5): run approx_betweenness on the base vs K-replicated Infects
    graph with the pivot budget held PROPORTIONAL to the data (32 →
    32·K global; 64 → 64·K stratified).  Proportionality matters on the
    replicated dataset specifically: a BFS never leaves its pivot's
    component, and the K replicas are disjoint — fixed pivots would
    keep per-pivot work constant and under-measure the engine.  With
    k ∝ data the honest cost model O(k_pivots · E_component · diameter)
    predicts factor ≈ K (pivot-work × K, edge scan per superstep × K,
    supersteps constant).  The ERROR side of the trade-off moves the
    other way: Brandes–Pich needs only k = O(ln(V/δ)/ε²) pivots for a
    fixed relative error — logarithmic in V — so holding k ∝ V is
    strictly conservative; a real 100 TB run would grow pivots far
    slower than data and land well below this measured factor.

    kernels._LOCAL_BRANDES_NODES = 0 forces the 2·diameter-superstep
    engine on BOTH sides so the probe times the distributed path, not
    the small-graph single-task short-circuit."""
    from pyspark.sql import functions as F

    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators import kernels
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.plans.testdata_graph import (
        infects_edges,
    )
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.session import get_spark

    spark = get_spark("scale-betweenness")
    kernels._LOCAL_BRANDES_NODES = 0
    out: dict = {"k": k, "probes": {}}
    for name, strat, base_pivots in [
        ("gk_betweenness_distributed", False, 32),
        ("gk_betweenness_stratified", True, 64),
    ]:
        times = {}
        for side, sf_dir, pivots in [
            ("base", SRC, base_pivots),
            ("scaled", dst, base_pivots * k),
        ]:
            e = infects_edges(spark, sf_dir).select("src", "dst")
            t0 = time.time()
            bc = kernels.approx_betweenness(
                e,
                n_pivots=pivots,
                max_depth=8,
                stratify_components=strat,
            )
            n = bc.agg(F.count(F.lit(1))).first()[0]
            times[side] = round(time.time() - t0, 1)
            print(
                f"# {name} {side}: {times[side]}s ({n} nodes, "
                f"{pivots} pivots)",
                file=sys.stderr,
            )
        out["probes"][name] = {
            "base_s": times["base"],
            "scaled_s": times["scaled"],
            "factor": round(times["scaled"] / max(times["base"], 1e-9), 2),
            "pivots": f"{base_pivots} -> {base_pivots * k}",
        }
    spark.stop()
    return out


def bench_compaction(n_appends: int = 64) -> dict:
    """Measure what compact_store buys back after a long append-only
    crawl loop (r08 verdict ask #2): accumulate a fingerprint store
    over n_appends maintenance runs — each a pure parquet append of a
    small file set, exactly what append_admitted_fingerprints writes —
    then time the exact admission gate against the FRAGMENTED store,
    compact, and re-time against the compacted store.  The gate's plan
    is identical both times (one store pass, delta broadcast LeftSemi);
    the delta is footer resolution + per-file scan overhead, i.e. the
    cost class the append-only lifecycle defers to compaction.  Store
    content is identical pre/post (asserted), so the ratio isolates
    the file-count effect."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.dedup import (
        fingerprint_store,
        ingest_dedup,
    )
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.gate_maintenance import (
        compact_store,
    )
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.session import get_spark

    spark = get_spark("scale-compaction")
    tmp = tempfile.mkdtemp(prefix="sg_compact_probe_")
    store = f"{tmp}/fp_store"
    docs = spark.read.parquet(f"{SRC}/documents.parquet").select("doc_id", "text")
    d = F.col("doc_id")
    for i in range(n_appends):
        fingerprint_store(docs.filter(d % n_appends == i)).write.mode(
            "append"
        ).parquet(store)
    delta = docs.filter(d % 7 == 3).select((d + 10_000_000).alias("doc_id"), "text")

    def gate_pass() -> float:
        best = float("inf")
        for _ in range(3):
            t0 = time.time()
            ingest_dedup(delta, spark.read.parquet(store)).agg(
                F.count(F.lit(1))
            ).first()
            best = min(best, time.time() - t0)
        return round(best, 3)

    pre_rows = spark.read.parquet(store).count()
    frag_s = gate_pass()
    files_before, files_after = compact_store(spark, store)
    assert spark.read.parquet(store).count() == pre_rows, "compaction changed rows"
    compact_s = gate_pass()
    shutil.rmtree(tmp, ignore_errors=True)
    spark.stop()
    return {
        "n_appends": n_appends,
        "files_before": files_before,
        "files_after": files_after,
        "gate_fragmented_s": frag_s,
        "gate_compacted_s": compact_s,
        "speedup": round(frag_s / max(compact_s, 1e-9), 2),
    }


def bench_compaction_versioned(n_appends: int = 64) -> dict:
    """The VERSIONED (manifest/pointer-swap) layout run through the
    identical probe as bench_compaction: same appends, same gate, same
    content assertion — but the store is converted to the versioned
    layout first, so the compaction is the rename-free manifest flip
    (write v2 fully, create _MANIFEST-v2, GC v1).  Establishes that the
    object-store-safe mode buys the same file-count reduction and gate
    speedup as the rename swap, i.e. choosing it costs nothing but the
    one extra listStatus per resolve."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.dedup import (
        fingerprint_store,
        ingest_dedup,
    )
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.gate_maintenance import (
        compact_store,
        convert_store_to_versioned,
        resolve_store,
    )
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.session import get_spark

    spark = get_spark("scale-compaction-versioned")
    tmp = tempfile.mkdtemp(prefix="sg_compact_ver_probe_")
    store = f"{tmp}/fp_store"
    convert_store_to_versioned(spark, store)  # versioned from day one
    docs = spark.read.parquet(f"{SRC}/documents.parquet").select("doc_id", "text")
    d = F.col("doc_id")
    for i in range(n_appends):
        fingerprint_store(docs.filter(d % n_appends == i)).write.mode(
            "append"
        ).parquet(resolve_store(spark, store))
    delta = docs.filter(d % 7 == 3).select((d + 10_000_000).alias("doc_id"), "text")

    def gate_pass() -> float:
        best = float("inf")
        for _ in range(3):
            t0 = time.time()
            ingest_dedup(
                delta, spark.read.parquet(resolve_store(spark, store))
            ).agg(F.count(F.lit(1))).first()
            best = min(best, time.time() - t0)
        return round(best, 3)

    pre_rows = spark.read.parquet(resolve_store(spark, store)).count()
    frag_s = gate_pass()
    files_before, files_after = compact_store(spark, store)
    live = resolve_store(spark, store)
    assert live.endswith("/v2"), "manifest flip did not advance the version"
    assert spark.read.parquet(live).count() == pre_rows, "compaction changed rows"
    compact_s = gate_pass()
    shutil.rmtree(tmp, ignore_errors=True)
    spark.stop()
    return {
        "n_appends": n_appends,
        "files_before": files_before,
        "files_after": files_after,
        "gate_fragmented_s": frag_s,
        "gate_compacted_s": compact_s,
        "speedup": round(frag_s / max(compact_s, 1e-9), 2),
    }


def _compaction_probe(spark, store, partition_by, gate_pass_fn, n_appends) -> dict:
    """Shared tail of the partitioned compaction probes: time the gate
    against the fragmented store, compact (layout-preserving), assert
    identical rows, re-time."""
    import time as _t

    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.gate_maintenance import (
        compact_store,
    )

    def best_of_3() -> float:
        best = float("inf")
        for _ in range(3):
            t0 = _t.time()
            gate_pass_fn()
            best = min(best, _t.time() - t0)
        return round(best, 3)

    pre_rows = spark.read.parquet(store).count()
    frag_s = best_of_3()
    files_before, files_after = compact_store(spark, store, partition_by=partition_by)
    assert spark.read.parquet(store).count() == pre_rows, "compaction changed rows"
    compact_s = best_of_3()
    return {
        "n_appends": n_appends,
        "files_before": files_before,
        "files_after": files_after,
        "gate_fragmented_s": frag_s,
        "gate_compacted_s": compact_s,
        "speedup": round(frag_s / max(compact_s, 1e-9), 2),
    }


def bench_compaction_semantic(n_appends: int = 64) -> dict:
    """The cell-partitioned semantic store is the layout that fragments
    FASTEST under the append-only lifecycle: every
    append_admitted_semantic run writes one small file set into EACH
    cell directory it touches (n_appends runs x n_cells dirs), so the
    per-file overhead multiplies by the partition fan-out.  Accumulate
    the sf0.1 embedding store over n_appends partitionBy("cell")
    appends, time the DPP-pruned semantic gate against the fragmented
    store, compact with the layout preserved, re-time (r09 verdict ask
    #3 — the flat probe alone under-measures the win)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.similarity import (
        sampled_centroids,
        semantic_ingest_dedup,
        semantic_store,
    )
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.session import get_spark

    spark = get_spark("scale-compaction-semantic")
    tmp = tempfile.mkdtemp(prefix="sg_compact_sem_")
    store = f"{tmp}/sem_store"
    emb = spark.read.parquet(f"{SRC}/embeddings.parquet")
    cents = sampled_centroids(emb, n_cells=16)
    v = F.col("vec_id")
    for i in range(n_appends):
        # one committed file per touched cell dir per append — the
        # append_admitted_semantic write shape after a small run
        semantic_store(
            emb.filter(v % n_appends == i), dim=64, n_cells=16, centroids=cents
        ).coalesce(1).write.mode("append").partitionBy("cell").parquet(store)
    delta = emb.filter(v % 7 == 3).select(
        (v + 10_000_000).alias("vec_id"), "embedding"
    )

    def gate_pass():
        semantic_ingest_dedup(
            delta, spark.read.parquet(store), cents, dim=64, tau=0.38
        ).agg(F.count(F.lit(1))).first()

    out = _compaction_probe(spark, store, ("cell",), gate_pass, n_appends)
    shutil.rmtree(tmp, ignore_errors=True)
    spark.stop()
    return {"layout": "semantic partitionBy(cell)", **out}


def bench_compaction_banded(n_appends: int = 64) -> dict:
    """Band-array minhash store, partitionBy("band", "_part") — the
    other fast-fragmenting layout (each append writes a file set per
    (band, _part) directory).  Accumulate over n_appends appends using
    the same derived `_part` column the appends use, time the near-dup
    gate fragmented vs compacted."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.dedup import (
        minhash_ingest_dedup,
        minhash_store,
        portable_token_hash,
    )
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.gate_maintenance import (
        derive_minhash_partition,
    )
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.session import get_spark

    kw = dict(hash_fn=portable_token_hash, bucket_by_hash=False)
    spark = get_spark("scale-compaction-banded")
    tmp = tempfile.mkdtemp(prefix="sg_compact_band_")
    store = f"{tmp}/mh_store"
    docs = spark.read.parquet(f"{SRC}/documents.parquet").select("doc_id", "text")
    d = F.col("doc_id")
    for i in range(n_appends):
        derive_minhash_partition(
            minhash_store(docs.filter(d % n_appends == i), **kw), hash_partitions=4
        ).coalesce(1).write.mode("append").partitionBy("band", "_part").parquet(store)
    delta = docs.filter(d % 7 == 3).select((d + 10_000_000).alias("doc_id"), "text")

    def gate_pass():
        minhash_ingest_dedup(delta, spark.read.parquet(store), **kw).agg(
            F.count(F.lit(1))
        ).first()

    out = _compaction_probe(spark, store, ("band", "_part"), gate_pass, n_appends)
    shutil.rmtree(tmp, ignore_errors=True)
    spark.stop()
    return {"layout": "minhash partitionBy(band, _part)", **out}


def main() -> None:
    args = sys.argv[1:]
    subset = None
    betweenness = "--betweenness" in args
    if betweenness:
        args.remove("--betweenness")
    for flag, fn in (
        ("--compaction-semantic", bench_compaction_semantic),
        ("--compaction-banded", bench_compaction_banded),
        ("--compaction-versioned", bench_compaction_versioned),
        ("--compaction", bench_compaction),
    ):
        if flag in args:
            i = args.index(flag)
            n = int(args[i + 1]) if len(args) > i + 1 and args[i + 1].isdigit() else 64
            print(json.dumps(fn(n)))
            return
    if "--subset" in args:
        i = args.index("--subset")
        subset = args[i + 1 :] or SUBSET_DEFAULT
        args = args[:i]
    k = int(args[0]) if args else 8
    dst = os.path.abspath(f".scratch/sf{k}x")
    if not os.path.exists(f"{dst}/lineitem.parquet"):
        print(f"# building {dst} (K={k})", file=sys.stderr)
        t0 = time.time()
        build(dst, k)
        print(f"# built in {time.time() - t0:.0f}s", file=sys.stderr)
    if betweenness:
        print(json.dumps(bench_betweenness(k, dst)))
        return
    if subset is not None:
        base_q = bench_subset(SRC, subset)
        big_q = bench_subset(dst, subset)
        factors = {
            q: round(big_q[q] / max(base_q[q], 1e-9), 2) for q in base_q
        }
        print(
            json.dumps(
                {
                    "k": k,
                    "subset": subset,
                    "base_s": base_q,
                    "scaled_s": big_q,
                    "per_query_factor": factors,
                    "verdict": {
                        q: ("OK" if f <= k * 1.5 else "SUPERLINEAR — investigate")
                        for q, f in factors.items()
                    },
                }
            )
        )
        return
    base = bench(SRC)
    big = bench(dst)
    factors = {
        q: round(big["queries"][q] / max(base["queries"][q], 1e-9), 2)
        for q in base["queries"]
    }
    print(
        json.dumps(
            {
                "k": k,
                "base_total_s": base["value"],
                "scaled_total_s": big["value"],
                "per_query_factor": factors,
                "verdict": {
                    q: ("OK" if f <= k * 1.5 else "SUPERLINEAR — investigate")
                    for q, f in factors.items()
                },
            }
        )
    )


if __name__ == "__main__":
    main()
