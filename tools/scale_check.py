"""Scale validation: replicate the data dir ($SPARK_GRAFT_SF_DIR, default
sf0.1) K times with disjoint key spaces, run bench.py on both in one
window (tools/bench_replay.py, sides SPARK_GRAFT_SF_DIR=base and =scaled),
and report per-query scaling factors.

A query whose wall-clock grows faster than data (factor >> K) has a
scale bug — e.g. a fact table sliding under the broadcast threshold, a
driver-side collect, or an output-quadratic join. This caught the
64 MB-threshold orders-broadcast regression (factor ~10x at K=8).

Usage: python tools/scale_check.py [K] [name ...]
  K:     replication factor (default 8); the scaled dataset is written
         once to .scratch/<data dir name>x<K> (e.g. .scratch/sf0.1x8) and
         reused
  name:  bench labels (q12) or registry names (dd_ingest_dedup) to time;
         default every headline query

Probes (one JSON line each):
  --betweenness              pivot-Brandes base vs K-replicated
  --compaction[-versioned|-semantic|-banded] [N]
                             gate time on a store fragmented by N
                             appends (default 64), then compacted
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from bench import HEADLINE, SF_DIR, min_of  # noqa: E402
from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators import kernels  # noqa: E402
from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.dedup import (  # noqa: E402
    fingerprint_store,
    ingest_dedup,
    minhash_ingest_dedup,
    minhash_store,
    portable_token_hash,
)
from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.gate_maintenance import (  # noqa: E402
    compact_store,
    convert_store_to_versioned,
    derive_minhash_partition,
    resolve_store,
)
from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.similarity import (  # noqa: E402
    sampled_centroids,
    semantic_ingest_dedup,
    semantic_store,
)
from hannigan_conjunctisviribus_ploscompbio_2017_spark.plans.testdata_graph import (  # noqa: E402
    infects_edges,
)
from hannigan_conjunctisviribus_ploscompbio_2017_spark.session import get_spark  # noqa: E402
from tools.bench_replay import replay  # noqa: E402

SRC = os.path.abspath(SF_DIR)
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

            def probe():
                bc = kernels.approx_betweenness(
                    e, n_pivots=pivots, max_depth=8, stratify_components=strat
                )
                return bc.agg(F.count(F.lit(1))).first()[0]

            n = {}
            times[side] = round(min_of(1, {side: probe}, n)[side], 1)
            print(
                f"# {name} {side}: {times[side]}s ({n[side]} nodes, "
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


def _compaction_probe(spark, store, gate, n_appends, partition_by=None, read=None) -> dict:
    """Time `gate(store frame)` (min of 3) against the store fragmented by
    n_appends appends, compact it with the layout kept, assert identical
    rows, re-time.  `read` reads the live store (default: the path)."""
    read = read or (lambda: spark.read.parquet(store))

    def gate_s() -> float:
        def once():
            gate(read()).agg(F.count(F.lit(1))).first()

        return round(min_of(3, {"gate": once})["gate"], 3)

    pre_rows = read().count()
    frag_s = gate_s()
    files_before, files_after = compact_store(spark, store, partition_by=partition_by)
    assert read().count() == pre_rows, "compaction changed rows"
    compact_s = gate_s()
    return {
        "n_appends": n_appends,
        "files_before": files_before,
        "files_after": files_after,
        "gate_fragmented_s": frag_s,
        "gate_compacted_s": compact_s,
        "speedup": round(frag_s / max(compact_s, 1e-9), 2),
    }


def bench_compaction(n_appends: int = 64, versioned: bool = False) -> dict:
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
    the file-count effect.

    versioned=True runs the identical probe on the VERSIONED
    (manifest/pointer-swap) layout: the store is converted first, every
    read resolves the live version, and the compaction is the rename-free
    manifest flip (write v2 fully, create _MANIFEST-v2, GC v1).  It
    establishes that the object-store-safe mode buys the same file-count
    reduction and gate speedup as the rename swap, i.e. choosing it costs
    nothing but the one extra listStatus per resolve."""
    spark = get_spark("scale-compaction")
    tmp = tempfile.mkdtemp(prefix="sg_compact_probe_")
    store = f"{tmp}/fp_store"
    if versioned:
        convert_store_to_versioned(spark, store)  # versioned from day one

    def live() -> str:
        return resolve_store(spark, store) if versioned else store

    docs = spark.read.parquet(f"{SRC}/documents.parquet").select("doc_id", "text")
    d = F.col("doc_id")
    for i in range(n_appends):
        fingerprint_store(docs.filter(d % n_appends == i)).write.mode(
            "append"
        ).parquet(live())
    delta = docs.filter(d % 7 == 3).select((d + 10_000_000).alias("doc_id"), "text")
    out = _compaction_probe(
        spark, store, lambda st: ingest_dedup(delta, st), n_appends,
        read=lambda: spark.read.parquet(live()),
    )
    if versioned:
        assert live().endswith("/v2"), "manifest flip did not advance the version"
    shutil.rmtree(tmp, ignore_errors=True)
    spark.stop()
    return out


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

    def gate(st):
        return semantic_ingest_dedup(delta, st, cents, dim=64, tau=0.38)

    out = _compaction_probe(spark, store, gate, n_appends, ("cell",))
    shutil.rmtree(tmp, ignore_errors=True)
    spark.stop()
    return {"layout": "semantic partitionBy(cell)", **out}


def bench_compaction_banded(n_appends: int = 64) -> dict:
    """Band-array minhash store, partitionBy("band", "_part") — the
    other fast-fragmenting layout (each append writes a file set per
    (band, _part) directory).  Accumulate over n_appends appends using
    the same derived `_part` column the appends use, time the near-dup
    gate fragmented vs compacted."""
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

    def gate(st):
        return minhash_ingest_dedup(delta, st, **kw)

    out = _compaction_probe(spark, store, gate, n_appends, ("band", "_part"))
    shutil.rmtree(tmp, ignore_errors=True)
    spark.stop()
    return {"layout": "minhash partitionBy(band, _part)", **out}


def main(args: list[str]) -> None:
    betweenness = "--betweenness" in args
    if betweenness:
        args.remove("--betweenness")
    for flag, fn in (
        ("--compaction-semantic", bench_compaction_semantic),
        ("--compaction-banded", bench_compaction_banded),
        ("--compaction-versioned", lambda n: bench_compaction(n, versioned=True)),
        ("--compaction", bench_compaction),
    ):
        if flag in args:
            i = args.index(flag)
            n = int(args[i + 1]) if len(args) > i + 1 and args[i + 1].isdigit() else 64
            print(json.dumps(fn(n)))
            return
    k = int(args.pop(0)) if args and args[0].isdigit() else 8
    dst = os.path.join(REPO, ".scratch", f"{os.path.basename(SRC)}x{k}")
    if not os.path.exists(f"{dst}/lineitem.parquet"):
        print(f"# building {dst} (K={k})", file=sys.stderr)
        build(dst, k)
    if betweenness:
        print(json.dumps(bench_betweenness(k, dst)))
        return
    # naming the labels skips bench.py's extras, which read the sf0.01
    # sibling of the data dir that a scaled dir does not have
    labels = args or [lab for lab, _ in HEADLINE]
    rec = replay(
        [f".,SPARK_GRAFT_SF_DIR={SRC}", f".,SPARK_GRAFT_SF_DIR={dst}"],
        [sys.executable, "bench.py", *labels],
        pairs=1,
    )
    base, big = rec["median"]["A"], rec["median"]["B"]
    factors = {
        f.split(".", 1)[1]: round(big[f] / max(t, 1e-9), 2)
        for f, t in base.items()
        if f.startswith("queries.")
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
    main(sys.argv[1:])
