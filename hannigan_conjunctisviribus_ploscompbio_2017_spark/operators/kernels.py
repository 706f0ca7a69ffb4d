"""Graph-analytics kernels (SURVEY §2.10) — DataFrame-native.

The reference computes these with igraph on tiny per-sample subgraphs
(bin/interpersonaldiversity.R:98-114, bin/CompareNetworkGroups.R:108-126,
bin/compareTwins.R:95-104 in the reference code).  Three scale regimes:

1. **Per-group, in-task** (many small per-sample subgraphs): every
   kernel takes a `group_cols` argument and NEVER runs one job per
   subgraph.  One helper, `_per_group`, hash-partitions the rows on
   the group columns and runs a kernel's solve once per PARTITION
   (one mapInPandas call), with the group and node columns in their
   input types.  Exact betweenness, alpha centrality and greedy
   modularity always solve this way (lazily, in the consumer's job),
   as does approx_betweenness below `_LOCAL_BRANDES_NODES` nodes;
   their solves stay per group, looped over the partition's groups by
   `_each_group`.  When the static graph's LARGEST group has at most
   `_IN_TASK_ROWS` adjacency rows, eigenvector centrality, PageRank
   and components also run their whole iteration this way (`_in_task`,
   which checkpoints the output), vectorized over all the partition's
   groups at once on (group, node) integer codes (`_graph_codes`): a
   fixed handful of Spark jobs, however many iterations and groups.  A
   superstep costs several jobs whatever the graph's size, so at this
   scale the job overhead is the whole cost.

2. **Per-group, superstep** (grouped graphs with a group above the
   cutoff): the iterative kernels compute ALL subgraphs jointly,
   keying every intermediate on the group columns, one shuffle per
   superstep whatever the number of groups — the §7 risk-register
   design: per-sample fan-out as grouped aggregation.  Both per-group
   regimes give the same rounded output.

3. **Global iterative kernels** (one big graph): power iteration /
   frontier expansion expressed as a DataFrame loop with per-superstep
   lineage truncation — the Pregel pattern without GraphX,
   shuffle-per-superstep, executor-parallel.  Truncation is
   `localCheckpoint` locally and, opt-in for real clusters, a reliable
   DFS `checkpoint()` that survives executor loss (see `_checkpoint`).

The superstep paths of eigenvector, PageRank, Katz, LPA and components
supply only their per-step algebra: `_gather` sends each node's state
along the adjacency, and `_supersteps` is the one loop (checkpoint,
convergence probe, release of the superseded state).  BFS and
approx_betweenness keep frontier loops of their own: they carry a
visited/frontier pair, and betweenness a backward pass.

Edges are directed (src, dst [, weight]); kernels that need the
undirected view symmetrize internally.

Read-once rule: a kernel derives each input exactly once per call.
Inputs are usually lazy plans (a Q5 join, a pipeline stage), and every
extra reference to one is a full recomputation.  `symmetrize` reads
its input in one pass, and the iterative kernels build their static
graph once through `_static_graph` — symmetrize, weight, one
checkpoint whose own job also observes the row counts that pick the
regime — so each superstep moves only the score/label messages.  BFS
and approx_betweenness checkpoint their adjacency first too, and
derive their node set and roots from that checkpoint.
"""

from __future__ import annotations

import itertools
import math
import os
import warnings

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.dedup import (
    portable_token_hash,
)

# --------------------------------------------------------------------------
# helpers
# --------------------------------------------------------------------------


def _gcols(group_cols: list[str] | None) -> list[str]:
    return list(group_cols) if group_cols else []


def symmetrize(edges: DataFrame, group_cols: list[str] | None = None) -> DataFrame:
    """Undirected view: both directions of every edge, deduped.

    One pass over `edges`: each row explodes into (src, dst) and
    (dst, src).  A union of a forward and a reversed projection would
    make Catalyst plan the whole upstream twice, so every kernel that
    symmetrizes a lazy input (a Q5 join, a pipeline stage) would
    compute it twice per read.

    Weighted edges reduce by MAX per (src, dst) — a deterministic rule
    for inputs that carry both (a,b,w1) and (b,a,w2); dropDuplicates
    would keep whichever row a shuffle happened to order first."""
    g = _gcols(group_cols)
    w = ["weight"] if "weight" in edges.columns else []
    both = edges.select(
        *g,
        F.explode(
            F.array(
                F.struct(F.col("src").alias("src"), F.col("dst").alias("dst")),
                F.struct(F.col("dst").alias("src"), F.col("src").alias("dst")),
            )
        ).alias("_e"),
        *w,
    ).select(*g, "_e.src", "_e.dst", *w)
    if w:
        return both.groupBy(*g, "src", "dst").agg(F.max("weight").alias("weight"))
    return both.dropDuplicates([*g, "src", "dst"])


def _by_group(df: DataFrame, per_group: DataFrame, g: list[str]) -> DataFrame:
    """Attach a per-group table (one row per group; one row in all when
    there are no group columns) to every row of `df`."""
    return df.join(per_group, g) if g else df.crossJoin(per_group)


_RELIABLE_ENV = "SPARK_GRAFT_RELIABLE_CHECKPOINT"
_RELIABLE_DIR_ENV = "SPARK_GRAFT_CHECKPOINT_DIR"


def _checkpoint(df: DataFrame) -> DataFrame:
    """Truncate lineage between supersteps (keeps plans O(1) per iter).

    Default: localCheckpoint — partitions are stored on the EXECUTORS
    and the lineage is discarded, so on a real multi-executor cluster
    ONE executor loss mid-loop makes those partitions unrecoverable and
    fails the job (Spark cannot recompute what it no longer has a plan
    for).  That is the right trade on local[N] (no executor can be
    lost separately from the driver) and wrong for a 100 TB run, where
    some executor loss over a long iterative kernel is close to
    certain.

    Reliable mode (opt-in): set SPARK_GRAFT_RELIABLE_CHECKPOINT=1 and
    configure a fault-tolerant checkpoint directory — either call
    sc.setCheckpointDir("hdfs://..." / "s3a://...") yourself or set
    SPARK_GRAFT_CHECKPOINT_DIR and this helper installs it.  Supersteps
    then persist through df.checkpoint() to the DFS, surviving any
    executor loss at the cost of one write+read per superstep of a
    frame that is already small (frontier / score vectors, never the
    input).  Every iterative loop in this module funnels through this
    one helper, so the switch covers power iteration, BFS frontiers,
    LPA, and the Brandes pivots alike, as well as the static graphs
    built by _static_graph and the tables the plans/pipelines.py
    analyses materialize.  Set
    spark.cleaner.referenceTracking.cleanCheckpoints=true to have
    out-of-scope checkpoint files garbage-collected.

    The lazy .localCheckpoint(eager=False) calls elsewhere in the
    codebase (plan-dedup of delta/abundance frames) are deliberately
    NOT switched: each lives inside a single action, so a plain query
    retry recovers them — there is no multi-job lifetime for an
    executor loss to orphan."""
    sc = df.sparkSession.sparkContext
    if os.environ.get(_RELIABLE_ENV, "").lower() in ("1", "true"):
        if sc.getCheckpointDir() is None:
            cdir = os.environ.get(_RELIABLE_DIR_ENV)
            if not cdir:
                raise RuntimeError(
                    f"{_RELIABLE_ENV} is set but no checkpoint directory is "
                    f"configured: call sc.setCheckpointDir(...) or set "
                    f"{_RELIABLE_DIR_ENV} to a fault-tolerant path"
                )
            sc.setCheckpointDir(cdir)
        # reliable checkpoints live as DFS files, not block-manager
        # blocks — nothing to track for _release (file GC is the
        # cleaner's job, see cleanCheckpoints above).  Persist across
        # the checkpoint's TWO jobs: RDD.checkpoint materializes the
        # eager action first and then runs a separate job to write the
        # DFS files, which would recompute the whole superstep plan a
        # second time on an unpersisted frame (Spark's own
        # RDD.checkpoint doc recommends persisting first).  The cache
        # is dropped as soon as the files are written — the returned
        # frame reads the DFS copy.
        cached = df.persist()
        try:
            return cached.checkpoint(eager=True)
        finally:
            cached.unpersist()
    return _tracked_local_checkpoint(df)


def _tracked_local_checkpoint(df: DataFrame) -> DataFrame:
    """Eager localCheckpoint that records the persistent-RDD id it
    creates (on the returned frame, for _release).  Use directly for
    NON-loop frames that want deterministic block release (e.g. a
    foreachBatch epoch's scored batch); loops go through _checkpoint,
    which adds the reliable-mode switch.

    The id is read straight off the returned frame's analyzed plan —
    a checkpointed Dataset is a LogicalRDD over exactly the persisted
    RDD — so attribution is exact even when other driver threads
    (concurrent foreachBatch epochs, a kernel on another thread)
    checkpoint at the same time.  A global before/after diff of the
    persistent-RDD set would race there and could claim (and later
    release) a concurrent job's live blocks."""
    out = df.localCheckpoint(eager=True)
    try:
        out._sg_ckpt_ids = [_ckpt_rdd_id(out)]
    except Exception:
        # plan shape not LogicalRDD (unexpected for a localCheckpoint
        # result; the py4j path below is private API and may change
        # shape across Spark versions) — leave untracked rather than
        # guess: _release then no-ops and the context cleaner reclaims
        # the blocks on GC, the pre-tracking behavior.  That silent
        # degradation would quietly reintroduce the O(iterations)
        # block retention the tracking exists to prevent, so make it
        # VISIBLE once per process instead of only under a memory
        # profiler.
        global _ckpt_track_warned
        if not _ckpt_track_warned:
            _ckpt_track_warned = True
            warnings.warn(
                "checkpoint block tracking unavailable (could not read the "
                "persisted RDD id off the localCheckpoint result — private "
                "py4j plan path changed?); superseded superstep blocks will "
                "only be reclaimed by GC, so long iterative kernels may "
                "retain O(iterations) block-manager memory",
                RuntimeWarning,
                stacklevel=3,
            )
        out._sg_ckpt_ids = []
    return out


_ckpt_track_warned = False


def _ckpt_rdd_id(out: DataFrame) -> int:
    """The persisted RDD id of an eager localCheckpoint result, read
    off its analyzed plan (a LogicalRDD over exactly the persisted
    RDD).  Private py4j path, isolated here so the tracking fallback
    in _tracked_local_checkpoint is testable."""
    return out._jdf.queryExecution().analyzed().rdd().id()


def _release(*dfs: DataFrame | None) -> None:
    """Free a SUPERSEDED superstep checkpoint's block-manager blocks.

    Every eager localCheckpoint pins its partitions in the block
    manager until the session ends — DataFrame.unpersist() cannot free
    them (localCheckpoint caches at the RDD level, below the SQL
    CacheManager), so a loop that checkpoints per superstep accumulates
    EVERY iteration's blocks even though only the newest frame is ever
    read again.  On one shared local[N] heap that accumulation is the
    difference between completing and OOM: the K=64 betweenness scale
    probe (1.34M nodes, 4096 joint pivots, ~5 GB per visited superstep)
    exhausted a 48g heap purely on superseded forward-pass copies.  On
    a real cluster the same growth evicts executor storage memory and
    forces recomputation-by-eviction churn instead.

    _checkpoint records the persistent-RDD ids each localCheckpoint
    creates; this unpersists them (non-blocking) and blanks the record
    so double-release is a no-op.  SAFETY: a released frame is
    UNRECOVERABLE — its lineage is truncated and its blocks are gone —
    so callers release a frame only after its successor is eagerly
    materialized and no later plan reads it.  Frames without the
    recorded attribute (never checkpointed, or reliable-mode DFS
    checkpoints) are skipped."""
    for df in dfs:
        if df is None:
            continue
        ids = getattr(df, "_sg_ckpt_ids", None)
        if not ids:
            continue
        jmap = df.sparkSession.sparkContext._jsc.getPersistentRDDs()
        for rid in ids:
            jrdd = jmap.get(rid)
            if jrdd is not None:
                jrdd.unpersist(False)
        df._sg_ckpt_ids = []


class _loop_shuffle_width:
    """Pin spark.sql.shuffle.partitions for the duration of an iterative
    kernel loop.

    Why: checkpointed supersteps re-shuffle at the session's full width
    every iteration; for the (very common) case of many SMALL per-sample
    subgraphs the per-task overhead then dominates — measured 31s → 4s on
    the interpersonal-diversity pipeline's 8-iteration eigenvector loop.
    Width is chosen from the static graph's row count `n` (~50k
    rows/partition), capped at the session default, so big graphs keep
    full parallelism.  `n` comes from the checkpoint's own job
    (`_counted_checkpoint`), never from a count job of its own.
    """

    def __init__(self, spark, n: int, rows_per_partition: int = 50_000):
        self.spark = spark
        self.n = n
        default = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        self.width = max(1, min(default, -(-self.n // rows_per_partition)))

    def __enter__(self):
        self.prev = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions", str(self.width))
        return self

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.prev)
        return False


def _counted_checkpoint(df: DataFrame, g: list[str] = ()) -> tuple[DataFrame, int, int]:
    """`_checkpoint(df)` with its row count and its largest group's row
    count (the row count again without group columns), observed by the
    checkpoint's own job — no count job.  The per-group count is a
    window on `g`: free of a second exchange only when `df` is already
    partitioned by `g`, as `_static_graph` makes it.

    The metrics are a named `observe`, read back off the checkpointed
    frame's executed plan.  Not an `Observation` object: in Spark 4.1
    its first use gives the session an unserializable
    ObservationManager, and every later MLlib model whose transform
    captures the session (LogisticRegression's training summary) then
    fails with "Task not serializable"."""
    if g:
        df = df.withColumn("_gn", F.count(F.lit(1)).over(W.partitionBy(*g)))
    name = f"_sg_counts_{next(_observe_ids)}"
    largest = F.max("_gn") if g else F.count(F.lit(1))
    df = df.observe(name, F.count(F.lit(1)).alias("n"), largest.alias("largest"))
    if g:
        df = df.drop("_gn")
    out = _checkpoint(df)
    row = df._jdf.queryExecution().observedMetrics().get(name).get()
    return out, row.getLong(0), 0 if row.isNullAt(1) else row.getLong(1)


_observe_ids = itertools.count()


def _static_graph(
    edges: DataFrame,
    g: list[str],
    weight_col: str | None = None,
    prep=None,
) -> tuple[DataFrame, _loop_shuffle_width, bool]:
    """Set-up shared by the superstep kernels: the static graph, built
    once per call (the Pregel split — only messages move per superstep).

    One read of `edges`: symmetrize, weight column `w` (1.0 when
    `weight_col` is None or absent), then `prep` — the kernel's own
    static columns, which must also read their input once — and one
    checkpoint.  Without it a lazy input (a Q5 join, a pipeline stage)
    is recomputed by every job that reads it.

    The checkpoint's own job observes the adjacency's row count `n` and
    its largest group's row count, so picking the regime costs no job.
    Grouped inputs are hash-partitioned on the group columns first:
    symmetrize's (group, src, dst) aggregate then needs no exchange of
    its own, and the per-group count window none either.  (A single
    huge group is symmetrized in one task; the superstep path
    re-shuffles it by (group, src) from the first superstep on.)

    Returns the checkpointed adjacency, the loop's shuffle-width pin
    over `n`, and whether the in-task regime applies: the largest group
    has at most `_IN_TASK_ROWS` rows.  Routing on the largest group, not
    the total, keeps a study of many small samples in-task at any
    size."""
    und = symmetrize(edges.repartition(*g) if g else edges, g)
    w = F.col(weight_col) if (weight_col and weight_col in und.columns) else F.lit(1.0)
    adj = und.select(*g, "src", "dst", w.cast("double").alias("w"))
    adj, n, largest = _counted_checkpoint(prep(adj) if prep else adj, g)
    return adj, _loop_shuffle_width(adj.sparkSession, n), largest <= _IN_TASK_ROWS


def _str_ids(und: DataFrame, g: list[str], *keep: str) -> DataFrame:
    """`und` with string node ids (plus the `keep` columns): the kernels
    whose per-group solve compares or hashes node ids return string node
    and label columns, whatever the input's id type."""
    return und.select(*g, F.col("src").cast("string"), F.col("dst").cast("string"), *keep)


# Static graphs whose largest group has at most this many symmetrized
# adjacency rows take the in-task regime, and an in-task partition
# holds about this many rows at most.  A superstep costs several Spark
# jobs whatever the graph's size, so on small per-group graphs the job
# overhead is the whole cost.
_IN_TASK_ROWS = 500_000
# approx_betweenness solves graphs of at most this many nodes in one
# task (see its docstring); 0 forces the superstep path.
_LOCAL_BRANDES_NODES = 8192


def _per_group(rows: DataFrame, g: list[str], out: str, solve, width: int | None = None) -> DataFrame:
    """Run `solve` once per partition of `rows` hash-partitioned on the
    group columns — the one per-group solve path of the module (one
    mapInPandas call), lazy.

    `solve(pdf, g)` gets a whole partition as one pandas frame — every
    row of each of its groups, group columns `g` included — and returns
    a frame with the group columns, `node` and the kernel's value
    columns; `out` declares the value columns ("<name> <type>, ...").
    Solves written for one group at a time go through `_each_group`.
    One Python call per partition, not per group: per-group Arrow
    batches and calls cost more than the small solves themselves (the
    form stats.rarefy adopted).  Group and node columns keep their
    native types (read off `rows`).  Without group columns the whole
    graph is one group (the `_g` stand-in, dropped by the caller's
    select).  `width` fixes the partition count (default: the
    session's shuffle width); peak task memory is one partition, so
    the in-task callers size it to at most about `_IN_TASK_ROWS` rows.
    Kernels with a superstep path round JVM-side, so HALF_UP rounding
    matches on both paths."""
    import pandas as pd

    g_eff = g or ["_g"]
    if not g:
        rows = rows.withColumn("_g", F.lit(1))
    types = {f.name: f.dataType.simpleString() for f in rows.schema.fields}
    schema = ", ".join(f"{c} {types[c]}" for c in g_eff) + f", node {types['src']}, {out}"

    def _solve_partition(batches):
        pdfs = [b for b in batches if len(b)]
        if pdfs:
            yield solve(pd.concat(pdfs, ignore_index=True), g_eff)

    parts = rows.repartition(width, *g_eff) if width else rows.repartition(*g_eff)
    return parts.mapInPandas(_solve_partition, schema=schema)


def _each_group(solve):
    """Adapt a one-group solve (a group's rows → `node` and value
    columns) to `_per_group`'s per-partition form: loop over the
    partition's groups, copying each group's values into its output
    rows."""
    import pandas as pd

    def _solve(pdf, g):
        res = []
        for _, grp in pdf.groupby(g, sort=False, dropna=False):
            r = solve(grp.reset_index(drop=True))
            for c in g:
                r[c] = grp[c].iloc[0]
            res.append(r)
        return pd.concat(res, ignore_index=True)

    return _solve


def _in_task(adj: DataFrame, g: list[str], width: _loop_shuffle_width, out: str, solve):
    """In-task regime of the grouped iterative kernels: every group's
    whole iteration runs in `_per_group`, a fixed handful of jobs
    instead of a loop of supersteps.  The partition count is the
    loop's width, raised to ceil(n / _IN_TASK_ROWS) so a task holds
    about `_IN_TASK_ROWS` rows at most.  The output is checkpointed
    (left lazy, every consumer would re-run the Python solve), then
    the static graph `adj` is released."""
    parts = max(width.width, -(-width.n // _IN_TASK_ROWS))
    res = _checkpoint(_per_group(adj, g, out, solve, parts))
    _release(adj)
    return res


def _gather(adj: DataFrame, state: DataFrame, g: list[str], *aggs, by=()) -> DataFrame:
    """One superstep's messages: join the per-node `state` on the
    adjacency's `src` and aggregate `aggs` at each `dst` (as `node`,
    and per `by` column of the state)."""
    return (
        adj.join(state.withColumnRenamed("node", "src"), [*g, "src"])
        .groupBy(*g, F.col("dst").alias("node"), *by)
        .agg(*aggs)
    )


def _supersteps(state: DataFrame, width: _loop_shuffle_width, max_iter: int, step, until=None):
    """The superstep loop of eigenvector, PageRank, Katz, LPA and
    components: `state` ← checkpoint(step(state)) up to `max_iter`
    times under the shuffle-width pin, releasing each superseded state
    once its successor is materialized.  `until(new, old)` is the
    convergence probe; it runs before the old state is released and
    stops the loop when true.  A loop with a probe that exhausts
    `max_iter` raises."""
    with width:
        for _ in range(max_iter):
            new = _checkpoint(step(state))
            done = until is not None and until(new, state)
            _release(state)
            state = new
            if done:
                return state
    if until is not None:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "supersteps (graph diameter exceeds max_iter); raise "
            "max_iter — returning would silently over-split components"
        )
    return state


def _graph_codes(pdf, g: list[str]):
    """A partition's adjacency, every group at once, as integer codes:
    (src, dst, grp, out).  `src`/`dst` code each row's endpoints as a
    (group, node) pair, `grp[c]` is pair c's group code, and `out`
    holds each pair's group columns and `node` id, in code order — the
    frame a solve adds its value column to.  Node ids are factorized
    sorted, so within a group code order is node-id order (components'
    min-label rule); per-group reductions are bincounts (or
    `_group_max`) over `grp`."""
    import numpy as np
    import pandas as pd

    m = len(pdf)
    gc = pdf.groupby(g, sort=False, dropna=False).ngroup().to_numpy()
    nc, ids = pd.factorize(pd.concat([pdf["src"], pdf["dst"]], ignore_index=True), sort=True)
    pc, pairs = pd.factorize(np.concatenate([gc, gc]) * len(ids) + nc, sort=True)
    grp = pairs // len(ids)
    first = np.unique(gc, return_index=True)[1]  # each group's first row
    out = pdf[g].iloc[first[grp]].reset_index(drop=True)
    out["node"] = np.asarray(ids)[pairs % len(ids)]
    return pc[:m], pc[m:], grp, out


def _group_max(x, grp):
    """Per-group max of `x` (indexed by group code)."""
    import numpy as np

    mx = np.full(grp.max() + 1, -np.inf)
    np.maximum.at(mx, grp, x)
    return mx


# --------------------------------------------------------------------------
# G1 — degree / graph size
# --------------------------------------------------------------------------


def degrees(edges: DataFrame, group_cols: list[str] | None = None) -> DataFrame:
    """Undirected degree per node (igraph::degree,
    bin/CompareNetworkGroups.R:116-126). One shuffle for all groups."""
    g = _gcols(group_cols)
    und = symmetrize(edges, g)
    # a self-loop appears ONCE in the symmetrized view but contributes 2
    # to its node's degree (igraph semantics)
    loop = F.when(F.col("src") == F.col("dst"), 1).otherwise(0)
    return und.groupBy(*g, F.col("src").alias("node")).agg(
        (F.count(F.lit(1)) + F.sum(loop)).alias("degree")
    )


def graph_size(edges: DataFrame, group_cols: list[str] | None = None) -> DataFrame:
    """Node + edge counts per group (gsize/gorder; rtables/nestats.tsv shape)."""
    g = _gcols(group_cols)
    und = symmetrize(edges, g)
    nodes = (
        und.select(*g, F.col("src").alias("node"))
        .distinct()
        .groupBy(*g)
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )
    # self-loops appear once in the symmetrized view, non-loops twice:
    # n_edges = (rows + loops) / 2 counts each exactly once (igraph
    # gsize parity — plain rows/2 truncates when loops make rows odd)
    loop = F.when(F.col("src") == F.col("dst"), 1).otherwise(0)
    e = und.groupBy(*g).agg(
        ((F.count(F.lit(1)) + F.sum(loop)) / 2).cast("long").alias("n_edges")
    )
    return _by_group(nodes, e, g)


# --------------------------------------------------------------------------
# G10 — Shannon edge-weight diversity per node (pure aggregation)
# --------------------------------------------------------------------------


def node_entropy(
    edges: DataFrame,
    weight_col: str = "weight",
    group_cols: list[str] | None = None,
    node_col: str = "src",
) -> DataFrame:
    """Shannon diversity of a node's incident edge weights
    (bin/compareTwins.R:101-104): H = -Σ p·ln(p), p = w/Σw.

    Computed in ONE aggregation via the identity
    -Σ (w/W)·ln(w/W) = ln(W) - (Σ w·ln w)/W with W = Σw, so the kernel
    is a single map-side-combined shuffle — no totals join, no second
    pass over the edges.
    """
    g = _gcols(group_cols)
    w = F.col(weight_col)
    total = F.sum(w)
    return edges.groupBy(*g, F.col(node_col).alias("node")).agg(
        F.round(F.log(total) - F.sum(w * F.log(w)) / total, 6).alias("entropy")
    )


# --------------------------------------------------------------------------
# G6/G8/G9 — eigenvector centrality / PageRank via joint power iteration
# --------------------------------------------------------------------------


def eigenvector_centrality(
    edges: DataFrame,
    group_cols: list[str] | None = None,
    weight_col: str | None = "weight",
    max_iter: int = 30,
) -> DataFrame:
    """Weighted eigenvector centrality (igraph::eigen_centrality,
    bin/interpersonaldiversity.R:98-114), normalized to max=1 per group
    (igraph's `scale=TRUE` default).

    Iterates on the one matrix A + sI (s = per-group max weighted
    degree, the Gershgorin bound s ≥ λ₁): same leading eigenvector as
    A, but convergent on bipartite graphs where plain power iteration
    oscillates between the ±λ₁ eigenpair (the reference's
    phage↔bacteria graphs are exactly bipartite).  Scores are
    L2-normalized per iteration and scaled to max 1 at the end.

    Static graphs whose largest group has at most _IN_TASK_ROWS
    adjacency rows run every group's whole iteration in-task
    (_in_task), vectorized over a partition's groups; the job count
    then does not grow with max_iter.  Larger graphs run a joint power
    iteration: ONE DataFrame loop computes every group's leading
    eigenvector simultaneously — scores keyed by (group, node), message
    passing a join+aggregate per superstep, max_iter shuffles total,
    independent of #groups.  There the shift is stored as one
    self-loop entry per node in the checkpointed matrix, so a superstep
    is one join, one aggregate and the per-group norm.  Both paths give
    the same rounded output.
    """
    import numpy as np
    import pandas as pd

    g = _gcols(group_cols)
    adj, width, in_task = _static_graph(edges, g, weight_col)
    if in_task:

        def _solve(pdf: pd.DataFrame, gk: list[str]) -> pd.DataFrame:
            src, dst, grp, out = _graph_codes(pdf, gk)
            n, ng = len(out), grp.max() + 1
            # a NULL weight adds nothing to the superstep's sums either
            w = pdf["w"].fillna(0.0).to_numpy()
            s = _group_max(np.bincount(src, weights=w, minlength=n), grp)[grp]
            x = np.ones(n)
            for _ in range(max_iter):
                raw = np.bincount(dst, weights=w * x[src], minlength=n) + s * x
                x = raw / np.sqrt(np.bincount(grp, weights=raw * raw, minlength=ng))[grp]
            out["centrality"] = x / _group_max(x, grp)[grp]
            return out

        res = _in_task(adj, g, width, "centrality double", _solve)
        return res.select(*g, "node", F.round("centrality", 6).alias("centrality"))
    wdeg = adj.groupBy(*g, "src").agg(F.sum("w").alias("_wd"))
    shift = wdeg.groupBy(*g).agg(F.max("_wd").alias("_s"))
    loops = _by_group(wdeg, shift, g).select(
        *g, "src", F.col("src").alias("dst"), F.col("_s").alias("w")
    )
    m = _checkpoint(adj.unionByName(loops))
    _release(adj)

    def step(scores: DataFrame) -> DataFrame:
        raw = _gather(m, scores, g, F.sum(F.col("w") * F.col("score")).alias("raw"))
        # L2-normalize per group (power iteration stability)
        norm = raw.groupBy(*g).agg(F.sqrt(F.sum(F.col("raw") ** 2)).alias("_n"))
        return _by_group(raw, norm, g).select(
            *g, "node", (F.col("raw") / F.col("_n")).alias("score")
        )

    scores = _supersteps(
        m.select(*g, F.col("src").alias("node")).distinct().withColumn("score", F.lit(1.0)),
        width,
        max_iter,
        step,
    )
    # igraph scale: max = 1 per group
    scores = _by_group(scores, scores.groupBy(*g).agg(F.max("score").alias("_mx")), g)
    return scores.select(
        *g, "node", F.round(F.col("score") / F.col("_mx"), 6).alias("centrality")
    )


def centralization(
    centralities: DataFrame,
    score_col: str = "centrality",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Freeman centralization Σ(max − cᵢ) normalized by (n−1)
    (doc/manuscript.md:219-227 formula family; bin/alteredDiet.R:125-131)."""
    g = _gcols(group_cols)
    s = F.col(score_col)
    agg = centralities.groupBy(*g).agg(
        F.max(s).alias("_mx"), F.sum(s).alias("_sum"), F.count(F.lit(1)).alias("_n")
    )
    return agg.select(
        *g,
        # single-node group: 0/0 would yield NULL (or error under ANSI);
        # a one-node graph has zero centralization by definition
        F.when(
            F.col("_n") > 1,
            F.round(
                (F.col("_n") * F.col("_mx") - F.col("_sum")) / (F.col("_n") - 1), 6
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("centralization"),
    )


def pagerank(
    edges: DataFrame,
    group_cols: list[str] | None = None,
    weight_col: str | None = None,
    damping: float = 0.85,
    max_iter: int = 20,
) -> DataFrame:
    """Weighted PageRank on the undirected view (igraph::page_rank,
    bin/compareTwins.R:98-100). Same two regimes as
    eigenvector_centrality: in-task when the largest group has at most
    _IN_TASK_ROWS adjacency rows, joint supersteps above, the same
    rounded output.

    The transition weights are p = w / Σw, Σ over the source's non-NULL
    edge weights; a NULL weight (or a source whose weights are all
    NULL) contributes nothing.  A source whose non-NULL weights sum to
    0 is a division by zero: under ANSI mode (Spark's default) both
    regimes raise DIVIDE_BY_ZERO, without it its edges contribute
    nothing, as a NULL quotient does.  The in-task solve computes p
    itself; the superstep path adds it to the checkpointed adjacency
    with a window on (group, src).  The teleport term is (1 − d)/n for
    a group of n nodes.  On the superstep path n rides in the
    checkpointed node table, so a superstep is one join and one
    aggregate plus the teleport term.
    """
    import numpy as np
    import pandas as pd

    g = _gcols(group_cols)
    adj, width, in_task = _static_graph(edges, g, weight_col)
    if in_task:
        ansi = adj.sparkSession.conf.get("spark.sql.ansi.enabled").lower() == "true"

        def _solve(pdf: pd.DataFrame, gk: list[str]) -> pd.DataFrame:
            src, dst, grp, out = _graph_codes(pdf, gk)
            n = len(out)
            w = pdf["w"].to_numpy(dtype=float)
            known = ~np.isnan(w)
            tot = np.bincount(src, weights=np.where(known, w, 0.0), minlength=n)[src]
            if ansi and (known & (tot == 0)).any():
                raise ZeroDivisionError(
                    "[DIVIDE_BY_ZERO] pagerank: a source's edge weights sum "
                    "to 0, so its transition weights w/Σw are undefined"
                )
            # a NULL p (NULL weight, or 0/0 without ANSI) adds nothing to
            # the superstep's sums either
            ok = known & (tot != 0)
            p = np.zeros(len(w))
            p[ok] = w[ok] / tot[ok]
            size = np.bincount(grp)[grp]
            r = 1.0 / size
            for _ in range(max_iter):
                r = (1 - damping) / size + damping * np.bincount(
                    dst, weights=p * r[src], minlength=n
                )
            out["pagerank"] = r
            return out

        res = _in_task(adj, g, width, "pagerank double", _solve)
        return res.select(*g, "node", F.round("pagerank", 8).alias("pagerank"))
    with width:
        p = F.col("w") / F.sum("w").over(W.partitionBy(*g, "src"))
        weighted = _checkpoint(adj.withColumn("p", p))
    _release(adj)
    adj = weighted
    nodes = adj.select(*g, F.col("src").alias("node")).distinct()
    nodes = _checkpoint(
        _by_group(nodes, nodes.groupBy(*g).agg(F.count(F.lit(1)).alias("_n")), g)
    )

    def step(ranks: DataFrame) -> DataFrame:
        contrib = _gather(adj, ranks, g, F.sum(F.col("p") * F.col("rank")).alias("_in"))
        return nodes.join(contrib, [*g, "node"], "left").select(
            *g,
            "node",
            (
                (1 - damping) / F.col("_n")
                + F.lit(damping) * F.coalesce(F.col("_in"), F.lit(0.0))
            ).alias("rank"),
        )

    ranks = _supersteps(
        nodes.select(*g, "node", (F.lit(1.0) / F.col("_n")).alias("rank")),
        width,
        max_iter,
        step,
    )
    return ranks.select(*g, "node", F.round("rank", 8).alias("pagerank"))


def katz_centrality(
    edges: DataFrame,
    group_cols: list[str] | None = None,
    alpha: float | DataFrame = 0.05,
    beta: float = 1.0,
    max_iter: int = 15,
    weight_col: str | None = None,
) -> DataFrame:
    """Katz-Bonacich centrality by truncated Neumann series:
    x ← β·1 + α·Aᵀx, converging to (I − αAᵀ)⁻¹β1 when α < 1/λ₁
    (igraph::alpha_centrality family, bin/compareTwins.R:95-97).

    The distributed fixed-iteration twin of alpha_centrality's exact
    per-group dense solve: same joint-iteration shape as pagerank —
    max_iter shuffles total for every group at once, no per-group
    matrix ever materialized. Callers must keep α below 1/λ₁ (e.g.
    0.5 / max degree, the Gershgorin bound) or the truncated series
    grows geometrically instead of converging.  α may be a float or a
    1-row/1-column DataFrame (e.g. a data-derived 0.5/max-degree
    aggregate) broadcast into the plan — no driver-side collect.
    """
    g = _gcols(group_cols)
    adj, width, _ = _static_graph(edges, g, weight_col)
    nodes = adj.select(*g, F.col("src").alias("node")).distinct()
    if isinstance(alpha, DataFrame):
        acol = alpha.columns[0]
        nodes = nodes.crossJoin(
            F.broadcast(alpha.select(F.col(acol).cast("double").alias("_alpha")))
        )
    else:
        nodes = nodes.withColumn("_alpha", F.lit(float(alpha)))
    nodes = _checkpoint(nodes)

    def step(x: DataFrame) -> DataFrame:
        msgs = _gather(adj, x, g, F.sum(F.col("w") * F.col("katz")).alias("_in"))
        return nodes.join(msgs, [*g, "node"], "left").select(
            *g,
            "node",
            (
                F.lit(float(beta))
                + F.col("_alpha") * F.coalesce(F.col("_in"), F.lit(0.0))
            ).alias("katz"),
        )

    x = _supersteps(
        nodes.select(*g, "node", F.lit(float(beta)).alias("katz")), width, max_iter, step
    )
    return x.select(*g, "node", F.round("katz", 6).alias("katz"))


# --------------------------------------------------------------------------
# G3 — connected components (large-star/small-star style min-label)
# --------------------------------------------------------------------------


def connected_components(
    edges: DataFrame,
    group_cols: list[str] | None = None,
    max_iter: int = 50,
) -> DataFrame:
    """Weak connectivity (igraph components,
    bin/GeneralNetworkProperties.R:68-84); the component label is the
    lexicographic-min member.

    Static graphs whose largest group has at most _IN_TASK_ROWS
    adjacency rows solve in-task (_in_task): min-label hooking with
    pointer jumping, vectorized over a partition's groups on (group,
    node) codes that sort like the node ids — at small scale the fixed
    per-superstep cost dominates (measured ~7s for a tiny dup-pair
    graph).  Larger graphs run iterative min-label propagation
    to convergence, all groups jointly — O(diameter) supersteps (labels
    advance one hop per round; no pointer-doubling).  Exhausting
    max_iter without converging RAISES rather than returning a silently
    over-split partition.

    Node ids (and component labels) are strings on BOTH paths, so the
    two paths return identical labels and schemas — min-label always
    means lexicographic min."""
    import numpy as np
    import pandas as pd

    g = _gcols(group_cols)
    # either path reads this one checkpoint
    und, width, in_task = _static_graph(edges, g, prep=lambda a: _str_ids(a, g))
    if in_task:

        def _solve(pdf: pd.DataFrame, gk: list[str]) -> pd.DataFrame:
            src, dst, _, out = _graph_codes(pdf, gk)
            # label[v] ≤ v always points into v's component, so the
            # component's min code (its min node id) stays its own root
            label = np.arange(len(out))
            while True:
                # hook each root onto the least label across its edges
                nxt = label.copy()
                np.minimum.at(nxt, label[src], label[dst])
                while not np.array_equal(nxt[nxt], nxt):  # pointer jumping
                    nxt = nxt[nxt]
                if np.array_equal(nxt, label):
                    break
                label = nxt
            out["component"] = out["node"].to_numpy()[label]
            return out

        res = _in_task(und, g, width, "component string", _solve)
        return res.select(*g, "node", "component")

    def step(labels: DataFrame) -> DataFrame:
        nbr_min = _gather(und, labels, g, F.min("component").alias("_nbr"))
        return labels.join(nbr_min, [*g, "node"], "left").select(
            *g, "node", F.least(F.col("component"), F.col("_nbr")).alias("component")
        )

    def converged(new: DataFrame, old: DataFrame) -> bool:
        return (
            new.alias("n")
            .join(old.alias("o"), [*g, "node"])
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        ) == 0

    labels = und.select(*g, F.col("src").alias("node")).distinct()
    return _supersteps(
        labels.withColumn("component", F.col("node")),
        width,
        max_iter,
        step,
        until=converged,
    )


def connectivity_summary(edges: DataFrame, max_depth: int = 30) -> DataFrame:
    """G3 — strong + weak connectivity of a directed graph in one row
    (igraph ``is.connected(mode="strong"|"weak")``,
    bin/GeneralNetworkProperties.R:68-84).

    A whole-graph strong-connectivity CHECK never needs SCC decomposition:
    the graph is strongly connected iff every node is reachable from one
    pivot forward AND backward — two directed BFS sweeps from the
    deterministic min-id node, O(E·diameter) total, vs the many-round
    pivot-coloring SCC algorithms. Weak = one undirected sweep.

    Returns (n_nodes, forward_reach, backward_reach, weak_reach,
    strongly_connected, weakly_connected) — one declarative row; only the
    BFS supersteps iterate."""
    fwd = edges.select("src", "dst")
    nodes = (
        fwd.select(F.col("src").alias("node"))
        .unionByName(fwd.select(F.col("dst").alias("node")))
        .distinct()
    )
    pivot = nodes.agg(F.min("node").alias("root"))
    freach = bfs_distances(fwd, sources=pivot, max_depth=max_depth, directed=True)
    breach = bfs_distances(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")),
        sources=pivot,
        max_depth=max_depth,
        directed=True,
    )
    wreach = bfs_distances(fwd, sources=pivot, max_depth=max_depth)
    out = (
        nodes.agg(F.count(F.lit(1)).alias("n_nodes"))
        .crossJoin(freach.agg(F.count(F.lit(1)).alias("forward_reach")))
        .crossJoin(breach.agg(F.count(F.lit(1)).alias("backward_reach")))
        .crossJoin(wreach.agg(F.count(F.lit(1)).alias("weak_reach")))
    )
    return out.select(
        "n_nodes",
        "forward_reach",
        "backward_reach",
        "weak_reach",
        (
            (F.col("forward_reach") == F.col("n_nodes"))
            & (F.col("backward_reach") == F.col("n_nodes"))
        )
        .cast("int")
        .alias("strongly_connected"),
        (F.col("weak_reach") == F.col("n_nodes")).cast("int").alias("weakly_connected"),
    )


def is_connected(edges: DataFrame, mode: str = "weak", max_depth: int = 30) -> bool:
    """igraph ``is.connected`` twin (bin/GeneralNetworkProperties.R:73-76)."""
    row = connectivity_summary(edges, max_depth=max_depth).first()
    return bool(row.strongly_connected if mode == "strong" else row.weakly_connected)


# --------------------------------------------------------------------------
# G2/G4/G5/G7 — BFS distances → diameter / radius / eccentricity / closeness
# --------------------------------------------------------------------------


def bfs_distances(
    edges: DataFrame,
    group_cols: list[str] | None = None,
    sources: DataFrame | None = None,
    max_depth: int = 20,
    directed: bool = False,
    allow_truncated: bool = False,
) -> DataFrame:
    """Multi-source BFS: distances (group, root, node, dist) for every
    root in `sources` (default: ALL nodes → exact all-pairs, right for
    reference-scale graphs ≤~10⁴ nodes; pass sampled landmark roots at
    scale).

    `directed=True` walks edges src→dst only (strong-connectivity /
    directed-reachability checks); default symmetrizes first.

    `max_depth` is a SAFETY cap, not a silent truncation: if the
    frontier is still expanding when the cap is hit, the function
    RAISES — a capped sweep would report wrong distances, a capped
    diameter, or a false "not connected" verdict downstream. Pass
    allow_truncated=True only where bounded exploration is the
    semantics (truncated/landmark variants).

    Frontier expansion keyed by (group, root) — one shuffle per depth
    level for every root simultaneously, never a per-root job.
    """
    g = _gcols(group_cols)
    # checkpoint first: the node set, the roots and every superstep read
    # this one copy of the input (read-once rule)
    und, n, _ = _counted_checkpoint(
        edges.select(*g, "src", "dst").dropDuplicates([*g, "src", "dst"])
        if directed
        else symmetrize(edges, g)
    )
    all_nodes = und.select(*g, F.col("src").alias("node"))
    if directed:
        all_nodes = all_nodes.unionByName(und.select(*g, F.col("dst").alias("node")))
    all_nodes = all_nodes.distinct()
    roots = sources if sources is not None else all_nodes.select(*g, F.col("node").alias("root"))

    visited = roots.select(*g, "root", F.col("root").alias("node")).withColumn(
        "dist", F.lit(0)
    )
    frontier = visited
    with _loop_shuffle_width(und.sparkSession, n):
        for depth in range(1, max_depth + 1):
            neighbors = (
                frontier.join(und.withColumnRenamed("src", "node"), [*g, "node"])
                .select(*g, "root", F.col("dst").alias("node"))
                .distinct()
            )
            new = neighbors.join(
                visited.select(*g, "root", "node"), [*g, "root", "node"], "left_anti"
            ).withColumn("dist", F.lit(depth))
            new = _checkpoint(new)
            if new.limit(1).count() == 0:
                break
            prev_visited, prev_frontier = visited, frontier
            visited = _checkpoint(visited.unionByName(new))
            # superseded: prev_visited is folded into the new union,
            # prev_frontier's last reader was this superstep's
            # neighbors join (both successors eagerly materialized)
            _release(prev_visited, prev_frontier)
            frontier = new
        else:
            # cap reached with a live frontier: probe one more level —
            # any unvisited neighbor means the sweep is incomplete
            more = (
                frontier.join(und.withColumnRenamed("src", "node"), [*g, "node"])
                .select(*g, "root", F.col("dst").alias("node"))
                .join(
                    visited.select(*g, "root", "node"),
                    [*g, "root", "node"],
                    "left_anti",
                )
                .limit(1)
                .count()
            )
            if more > 0 and not allow_truncated:
                raise RuntimeError(
                    f"bfs_distances frontier still expanding at max_depth="
                    f"{max_depth}; raise max_depth (or pass "
                    "allow_truncated=True for bounded-exploration "
                    "semantics) — truncated distances would silently "
                    "corrupt diameter/eccentricity/connectivity results"
                )
    return visited


def eccentricity(distances: DataFrame, group_cols: list[str] | None = None) -> DataFrame:
    """G4 — per-node eccentricity from BFS distances
    (bin/CompareNetworkGroups.R:108-114)."""
    g = _gcols(group_cols)
    return distances.groupBy(*g, F.col("root").alias("node")).agg(
        F.max("dist").alias("eccentricity")
    )


def diameter_radius(
    distances: DataFrame, group_cols: list[str] | None = None
) -> DataFrame:
    """G2 — diameter & radius (igraph::diameter/radius,
    bin/GeneralNetworkProperties.R:60-66; golden: master graph 4/2,
    rtables/genfigurestats.tsv)."""
    g = _gcols(group_cols)
    ecc = eccentricity(distances, g)
    return ecc.groupBy(*g).agg(
        F.max("eccentricity").alias("diameter"),
        F.min("eccentricity").alias("radius"),
    )


def closeness_centrality(
    distances: DataFrame, group_cols: list[str] | None = None
) -> DataFrame:
    """G7 — closeness = (reachable−1)/Σdist per root
    (doc/manuscript.md:199-215 family)."""
    g = _gcols(group_cols)
    return distances.groupBy(*g, F.col("root").alias("node")).agg(
        F.round(
            (F.count(F.lit(1)) - 1) / F.sum("dist"), 6
        ).alias("closeness")
    )


def mean_distance(distances: DataFrame, group_cols: list[str] | None = None) -> DataFrame:
    """G5 — mean shortest-path length (bin/CompareNetworkGroups.R:121-122)."""
    g = _gcols(group_cols)
    pos = distances.filter(F.col("dist") > 0)
    return pos.groupBy(*g).agg(F.round(F.avg("dist"), 6).alias("mean_distance"))


# --------------------------------------------------------------------------
# G11 — community detection (label propagation) + modularity
# --------------------------------------------------------------------------


def label_propagation(
    edges: DataFrame, group_cols: list[str] | None = None, max_iter: int = 10
) -> DataFrame:
    """Community detection via synchronous label propagation — the
    scalable analog of walktrap/fastgreedy (bin/CompareNetworkGroups.R:66-69;
    semantic difference documented in SURVEY §2.10 G11).

    Deterministic: ties broken by (count desc, label asc); synchronous
    updates with min-label seeds.
    """
    g = _gcols(group_cols)
    und, width, _ = _static_graph(edges, g, prep=lambda a: a.select(*g, "src", "dst"))
    w = W.partitionBy(*g, "node").orderBy(F.desc("_votes"), F.asc("community"))

    def step(labels: DataFrame) -> DataFrame:
        votes = _gather(und, labels, g, F.count(F.lit(1)).alias("_votes"), by=("community",))
        return (
            votes.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(*g, "node", "community")
        )

    labels = und.select(*g, F.col("src").alias("node")).distinct()
    return _supersteps(
        labels.withColumn("community", F.col("node")),
        width,
        max_iter,
        step,
    )


def modularity(
    edges: DataFrame,
    communities: DataFrame,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Newman modularity Q = Σ_c [ e_c/m − (d_c/2m)² ] as a pure
    aggregation over the undirected edge list (igraph::modularity,
    bin/TriadicClosures.R:58-61)."""
    g = _gcols(group_cols)
    und = symmetrize(edges, g)  # both directions present
    lab = communities.select(*g, "node", "community")
    e = (
        und.join(lab.withColumnRenamed("node", "src").withColumnRenamed("community", "_cs"), [*g, "src"])
        .join(lab.withColumnRenamed("node", "dst").withColumnRenamed("community", "_cd"), [*g, "dst"])
    )
    m2 = e.groupBy(*g).agg(F.count(F.lit(1)).alias("_m2"))  # 2m directed-half-edges
    intra = (
        e.filter(F.col("_cs") == F.col("_cd"))
        .groupBy(*g, F.col("_cs").alias("community"))
        .agg(F.count(F.lit(1)).alias("_e_c2"))
    )
    deg = e.groupBy(*g, F.col("_cs").alias("community")).agg(
        F.count(F.lit(1)).alias("_d_c")
    )
    per_c = deg.join(intra, [*g, "community"], "left").fillna(0, subset=["_e_c2"])
    per_c = _by_group(per_c, m2, g)
    q = per_c.withColumn(
        "_q_c",
        F.col("_e_c2") / F.col("_m2") - (F.col("_d_c") / F.col("_m2")) ** 2,
    )
    return q.groupBy(*g).agg(F.round(F.sum("_q_c"), 6).alias("modularity"))


def greedy_modularity(
    edges: DataFrame,
    group_cols: list[str] | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """Exact-style greedy modularity maximization (Clauset-Newman-Moore
    agglomeration) per group — the small-graph fallback the reference
    reaches for with igraph walktrap/fastgreedy
    (bin/CompareNetworkGroups.R:66-69, bin/TriadicClosures.R:58-61).

    Scale regime: each GROUP's subgraph is merged greedily inside one
    task (_per_group; CNM heap, O(m log² n) per group), so thousands
    of per-sample subgraphs still run as ONE Spark job — but a single
    group must fit one task (the reference's use case: per-study
    networks of 10²-10³ nodes). For one big graph use
    label_propagation, the O(supersteps) scale path.

    Deterministic: ΔQ ties break on the lexicographically smallest
    community pair; community ids are each community's minimum node id
    (node ids are compared as strings).
    Returns (group_cols..., node, community, modularity) — modularity is
    the final Q of the group's partition (same value the modularity()
    aggregate computes for these labels).
    """
    import heapq

    import pandas as pd

    g = _gcols(group_cols)
    und = symmetrize(edges, g)
    has_w = weight_col and weight_col in und.columns
    und = _str_ids(und, g, *([weight_col] if has_w else []))

    def _cnm(pdf: pd.DataFrame) -> pd.DataFrame:
        # one undirected edge per (src<dst) pair; symmetrize emitted both
        w_ser = pdf[weight_col] if has_w else [1.0] * len(pdf)
        wmap: dict[tuple[str, str], float] = {}
        for s, d, wv in zip(pdf["src"], pdf["dst"], w_ser):
            if s < d:
                wmap[(s, d)] = float(wv)
        nodes = sorted({n for p in wmap for n in p} | set(pdf["src"]))
        if not wmap:
            return pd.DataFrame({"node": nodes, "community": nodes, "modularity": 0.0})
        two_m = 2.0 * sum(wmap.values())
        # e[i][j]: fraction of edge weight between communities (symmetric,
        # both directions summed → w/(2m) per direction)
        e: dict[str, dict[str, float]] = {n: {} for n in nodes}
        a: dict[str, float] = {n: 0.0 for n in nodes}
        for (s, d), wv in wmap.items():
            f_ = wv / two_m
            e[s][d] = e[s].get(d, 0.0) + f_
            e[d][s] = e[d].get(s, 0.0) + f_
            a[s] += f_
            a[d] += f_
        members: dict[str, list[str]] = {n: [n] for n in nodes}
        q = -sum(v * v for v in a.values())  # Σ e_ii − a_i², e_ii = 0
        stamp: dict[str, int] = {n: 0 for n in nodes}
        heap: list[tuple[float, str, str, int, int]] = []
        for i in nodes:
            for j, f_ in e[i].items():
                if i < j:
                    dq = 2.0 * (f_ - a[i] * a[j])
                    heapq.heappush(heap, (-dq, i, j, 0, 0))
        while heap:
            ndq, i, j, si, sj = heapq.heappop(heap)
            if stamp.get(i) != si or stamp.get(j) != sj:
                continue  # stale entry
            if -ndq <= 1e-15:
                break
            # merge j into i
            q += -ndq
            for n_, f_ in e[j].items():
                if n_ == i:
                    continue
                e[i][n_] = e[i].get(n_, 0.0) + f_
                e[n_][i] = e[i][n_]
                del e[n_][j]
            e[i].pop(j, None)
            a[i] += a[j]
            members[i].extend(members.pop(j))
            del e[j], a[j], stamp[j]
            stamp[i] = si + 1
            for n_, f_ in e[i].items():
                lo, hi = (i, n_) if i < n_ else (n_, i)
                dq = 2.0 * (f_ - a[i] * a[n_])
                heapq.heappush(heap, (-dq, lo, hi, stamp[lo], stamp[hi]))
        out_nodes: list[str] = []
        out_comm: list[str] = []
        for ms in members.values():
            label = min(ms)
            for n_ in ms:
                out_nodes.append(n_)
                out_comm.append(label)
        return pd.DataFrame(
            {"node": out_nodes, "community": out_comm, "modularity": round(q, 6)}
        )

    res = _per_group(und, g, "community string, modularity double", _each_group(_cnm))
    return res.select(*g, "node", "community", "modularity")


# --------------------------------------------------------------------------
# G13 — robustness via random edge removal
# --------------------------------------------------------------------------


def sample_edges(edges: DataFrame, fraction: float, seed: int = 42) -> DataFrame:
    """Noise-injection edge sampling (NetSwan robustness,
    bin/error_interpersonaldiversity.R:62-66): keep `fraction` of edges,
    deterministic per seed. Rerun any kernel on the result.

    Hash-filter Bernoulli sample: keep an edge iff the 60-bit md5 of
    (src, dst, seed) falls below fraction·2^60. Unlike df.sample — whose
    draw sequence depends on partition layout, so a repartition or AQE
    re-plan silently changes the sample — the keep decision is a pure
    function of the row: partition-invariant at any cluster width and
    reproducible in any md5-capable engine (the DuckDB oracle replays it).
    """
    key = F.concat_ws("|", F.col("src"), F.col("dst"), F.lit(str(seed)))
    return edges.filter(portable_token_hash(key) < int(fraction * (1 << 60)))


# --------------------------------------------------------------------------
# G7/G8 — betweenness & alpha centrality (grouped per-subgraph solvers)
# --------------------------------------------------------------------------


def betweenness_centrality(
    edges: DataFrame, group_cols: list[str] | None = None
) -> DataFrame:
    """Exact Brandes betweenness per subgraph (igraph::betweenness,
    bin/alteredDiet.R:127-131; formula doc/manuscript.md:199-215).

    Brandes is O(VE) with sequential dependency accumulation — not
    shuffle-decomposable. The reference runs it driver-side on collected
    subgraphs; here each GROUP's subgraph runs inside one task
    (_per_group), so thousands of per-sample graphs compute in parallel
    across executors and only the per-group edge list (tiny, SURVEY §6:
    ≤~40k edges) is ever materialized in one place.  The solve is
    approx_betweenness's one-task Brandes (_brandes) with every node a
    pivot and no depth cap, so the two agree exactly.  Lazy: the solve
    runs in the consumer's job.  Node ids come back as strings, group
    columns in their input types.  For one global giant graph, use
    approx_betweenness.
    """
    g = _gcols(group_cols)
    und = _str_ids(symmetrize(edges, g), g)
    res = _per_group(und, g, "betweenness double", _each_group(_brandes(None, math.inf, False)))
    return res.select(*g, "node", F.round("betweenness", 6).alias("betweenness"))


def _stratified_quota(n_pivots: int, comp_size: int, n_nodes: int) -> int:
    """Per-component pivot quota for stratified sampling: proportional
    share of the budget, at least 1 (every component must be covered —
    a component with zero pivots contributes exactly zero to the
    estimate no matter how central its nodes are).  One definition for
    the local and distributed paths."""
    return max(1, (n_pivots * comp_size) // n_nodes)


def _brandes(n_pivots: int | None, max_depth: float, stratify_components: bool):
    """The module's one Brandes: a per-group solve (for _per_group) of
    the pivot-restricted, depth-capped Brandes betweenness of one
    symmetrized graph with string node ids.  Same md5-ordered pivot
    set, V/k scaling and depth cap as approx_betweenness's superstep
    path, so the two are numerically identical; `n_pivots=None` and
    `max_depth=math.inf` give exact Brandes (every scale factor is
    exactly 1.0)."""
    import hashlib

    import pandas as pd

    def _solve(pdf: pd.DataFrame) -> pd.DataFrame:
        from collections import deque

        adj: dict[str, list[str]] = {}
        for s, d in zip(pdf["src"], pdf["dst"]):
            adj.setdefault(s, []).append(d)
        nodes = list(adj.keys())
        pivot_scale: dict[str, float] = {}
        if n_pivots is None or n_pivots >= len(nodes):
            pivots, scale = nodes, 1.0
        elif stratify_components:
            # per-component proportional quotas (same rule as the
            # distributed path: _stratified_quota + md5 order within
            # the component); scale_c = V_c / k_c per pivot
            seen: set[str] = set()
            comps: list[list[str]] = []
            for n0 in nodes:
                if n0 in seen:
                    continue
                comp = []
                q0 = deque([n0])
                seen.add(n0)
                while q0:
                    v = q0.popleft()
                    comp.append(v)
                    for w in adj[v]:
                        if w not in seen:
                            seen.add(w)
                            q0.append(w)
                comps.append(comp)
            pivots = []
            for comp in comps:
                k_c = min(len(comp), _stratified_quota(n_pivots, len(comp), len(nodes)))
                chosen = sorted(
                    comp, key=lambda n: hashlib.md5(n.encode()).hexdigest()
                )[:k_c]
                for p in chosen:
                    pivot_scale[p] = len(comp) / k_c
                pivots.extend(chosen)
            scale = 1.0
        else:
            pivots = sorted(
                nodes, key=lambda n: hashlib.md5(n.encode()).hexdigest()
            )[:n_pivots]
            scale = len(nodes) / n_pivots
        bc = dict.fromkeys(nodes, 0.0)
        for s in pivots:
            dist = {s: 0}
            sigma = {s: 1.0}
            order = []
            preds: dict[str, list[str]] = {s: []}
            q = deque([s])
            while q:
                v = q.popleft()
                order.append(v)
                if dist[v] >= max_depth:
                    continue
                for w in adj[v]:
                    if w not in dist:
                        dist[w] = dist[v] + 1
                        preds[w] = []
                        sigma[w] = 0.0
                        q.append(w)
                    if dist[w] == dist[v] + 1:
                        sigma[w] += sigma[v]
                        preds[w].append(v)
            delta = dict.fromkeys(order, 0.0)
            s_scale = pivot_scale.get(s, 1.0)
            for w in reversed(order):
                for v in preds[w]:
                    delta[v] += sigma[v] / sigma[w] * (1 + delta[w])
                if w != s:
                    bc[w] += delta[w] * s_scale
        # undirected: every pair counted from both endpoints → halve
        return pd.DataFrame(
            {
                "node": nodes,
                "betweenness": [bc[n] * scale / 2.0 for n in nodes],
            }
        )

    return _solve


def approx_betweenness(
    edges: DataFrame,
    n_pivots: int | None = 64,
    max_depth: int = 20,
    stratify_components: bool = False,
) -> DataFrame:
    """Distributed Brandes betweenness with pivot sampling — the 100 TB
    path for ONE giant graph (SURVEY §7 risk register: exact Brandes is
    O(VE) and the per-group in-task solver above requires a
    group's edges to fit on one executor).

    Level-synchronous Brandes over DataFrames, all pivots jointly:
    forward multi-source BFS accumulating shortest-path counts σ per
    (pivot, node), then backward dependency accumulation
    δ(v) += σv/σw·(1+δw) one depth level at a time. 2·diameter shuffle
    supersteps total, independent of pivot count. Pivots are the first
    `n_pivots` nodes in deterministic md5 order (None → every node →
    EXACTLY Brandes); sampled runs scale by V/|pivots| (Brandes-Pich
    estimator) so values are unbiased estimates of the exact ones.
    Undirected semantics (symmetrized, halved) matching
    betweenness_centrality.

    The input is read once: symmetrized, node ids cast to strings and
    checkpointed, and the node count, the pivots and every superstep
    read that checkpoint.  Graphs of at most _LOCAL_BRANDES_NODES nodes
    short-circuit to a numerically identical single-task solve (the
    module's one Brandes, _brandes, through _per_group; lazy): at small
    scale the fixed cost of ~2·diameter shuffle supersteps dominates,
    and the whole edge list fits one executor comfortably.  Setting the
    module constant to 0 forces the superstep path (e.g. for plan
    testing).  Node ids come back as strings on both paths.

    `stratify_components=True` allocates the pivot budget
    proportionally across connected components (≥1 per component, md5
    order WITHIN each component) and scales each pivot's dependencies
    by its own component's V_c/k_c instead of the global V/k.  Shortest
    paths never cross components, so global sampling has a structural
    failure mode on fragmented graphs: a component that catches zero
    pivots contributes EXACTLY ZERO to the estimate regardless of its
    true centrality mass.  Stratification removes that failure mode by
    construction (every component is covered) and the cross-component
    variance with it; within-component variance remains.  Measured on
    the fragmented sf0.1 nation-0 subgraph (831 nodes, 31 components):
    max rel err 1.10 → 0.52 at 32 pivots, 0.29 → 0.17 at 128, with the
    exact top-10 recovered at 128 stratified vs 256 global.  Costs one
    connected_components pass; the realized pivot count can exceed
    n_pivots by up to the component count.  Reduces exactly to Brandes
    when the budget covers every node, and the local/superstep paths
    stay numerically identical."""
    und, n_rows, _ = _counted_checkpoint(_str_ids(symmetrize(edges), []))
    all_nodes = und.select(F.col("src").alias("node")).distinct()
    n_nodes = all_nodes.count()
    if n_nodes <= _LOCAL_BRANDES_NODES:
        solve = _brandes(n_pivots, max_depth, stratify_components)
        res = _per_group(und, [], "betweenness double", _each_group(solve))
        return res.select("node", F.round("betweenness", 6).alias("betweenness"))
    root_scale = None  # per-root scale frame (stratified mode only)
    if n_pivots is None or n_pivots >= n_nodes:
        roots = all_nodes.select(F.col("node").alias("root"))
        scale = 1.0
    elif stratify_components:
        comp = connected_components(und)
        sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("_vc"))
        quota = F.greatest(
            F.lit(1), F.floor(F.lit(n_pivots) * F.col("_vc") / F.lit(n_nodes))
        )
        ranked = (
            comp.join(sizes.withColumn("_kc", quota), "component")
            .withColumn(
                "_rn",
                F.row_number().over(
                    W.partitionBy("component").orderBy(F.md5(F.col("node")))
                ),
            )
            .filter(F.col("_rn") <= F.col("_kc"))
        )
        root_scale = _checkpoint(
            ranked.select(
                F.col("node").alias("root"),
                (F.col("_vc") / F.least(F.col("_kc"), F.col("_vc"))).alias("_scale"),
            )
        )
        roots = root_scale.select("root")
        scale = 1.0
    else:
        roots = (
            all_nodes.select(F.col("node").alias("root"))
            .orderBy(F.md5(F.col("root")))
            .limit(n_pivots)
        )
        scale = n_nodes / n_pivots

    visited = _checkpoint(
        roots.select(
            "root", F.col("root").alias("node"), F.lit(0).alias("dist"),
            F.lit(1.0).alias("sigma"),
        )
    )
    frontier = visited
    with _loop_shuffle_width(und.sparkSession, n_rows):
        # forward: BFS + σ accumulation (σ flows only level d-1 → d)
        prev_new = None  # the checkpoint backing the current frontier
        for depth in range(1, max_depth + 1):
            contrib = (
                frontier.join(und.withColumnRenamed("src", "node"), "node")
                .groupBy("root", F.col("dst").alias("node"))
                .agg(F.sum("sigma").alias("sigma"))
            )
            new = _checkpoint(
                contrib.join(
                    visited.select("root", "node"), ["root", "node"], "left_anti"
                ).withColumn("dist", F.lit(depth))
            )
            if new.limit(1).count() == 0:
                break
            prev_visited = visited
            visited = _checkpoint(visited.unionByName(new.select(*visited.columns)))
            # superseded: prev_visited is folded into the new union, and
            # the checkpoint backing the old frontier had its last read
            # in this superstep's contrib join (the final visited is NOT
            # released — the backward pass reads it level by level)
            _release(prev_visited, prev_new)
            prev_new = new
            frontier = new.select(*visited.columns)

        d_max = visited.agg(F.max("dist")).first()[0]
        # backward: δ accumulation, deepest level first
        delta_next = None  # rows of level d+1: (root, node, sigma, delta)
        bc_levels = []
        for depth in range(d_max, 0, -1):
            level = visited.filter(F.col("dist") == depth)
            if delta_next is None:
                level = level.withColumn("delta", F.lit(0.0))
            else:
                w_side = delta_next.select(
                    "root",
                    F.col("node").alias("dst"),
                    F.col("sigma").alias("sigma_w"),
                    F.col("delta").alias("delta_w"),
                )
                up = (
                    level.join(und.withColumnRenamed("src", "node"), "node")
                    .join(w_side, ["root", "dst"])
                    .groupBy("root", "node", "sigma", "dist")
                    .agg(
                        F.sum(
                            F.col("sigma") / F.col("sigma_w") * (1 + F.col("delta_w"))
                        ).alias("delta")
                    )
                )
                level = up.unionByName(
                    level.join(up.select("root", "node"), ["root", "node"], "left_anti")
                    .withColumn("delta", F.lit(0.0))
                    .select(*up.columns)
                )
            level = _checkpoint(level)
            bc_levels.append(level.select("root", "node", "delta"))
            delta_next = level

    if not bc_levels:  # pivot set reached nothing (edgeless graph)
        return all_nodes.withColumn("betweenness", F.lit(0.0))
    acc = bc_levels[0]
    for lv in bc_levels[1:]:
        acc = acc.unionByName(lv)
    acc = acc.filter(F.col("node") != F.col("root"))
    if root_scale is not None:
        # stratified: each pivot's dependencies scale by its OWN
        # component's V_c/k_c (the roots table is ≤ n_pivots +
        # n_components rows, keyed exactly on acc's root column)
        acc = acc.join(root_scale, "root").withColumn(
            "delta", F.col("delta") * F.col("_scale")
        )
    return (
        acc.groupBy("node")
        .agg(F.round(F.sum("delta") * scale / 2.0, 6).alias("betweenness"))
        .join(all_nodes, "node", "right")
        .fillna(0.0, subset=["betweenness"])
    )


def alpha_centrality(
    edges: DataFrame,
    alpha: float = 0.1,
    group_cols: list[str] | None = None,
    weight_col: str | None = None,
    cap_alpha: bool = False,
) -> DataFrame:
    """Alpha (Katz-Bonacich) centrality x = (I − αAᵀ)⁻¹·e per subgraph
    (igraph::alpha_centrality, bin/compareTwins.R:95-97;
    bin/CompareNetworkGroups.R:123-124). Per-group dense solve inside
    one task (_per_group) — same distribution argument as betweenness;
    node ids come back as strings, group columns in their input types.

    cap_alpha=True clamps α per subgraph to 0.5/max_row_sum(|A|) — the
    Gershgorin bound on λ₁ of the (possibly weighted) adjacency — so
    (I − αAᵀ) stays nonsingular for every group at any data scale,
    without a driver-side pass to find the global max degree."""
    import numpy as np
    import pandas as pd

    g = _gcols(group_cols)
    und = symmetrize(edges, g)
    has_w = weight_col and weight_col in und.columns
    und = _str_ids(und, g, *([weight_col] if has_w else []))

    def _solve(pdf: pd.DataFrame) -> pd.DataFrame:
        nodes = sorted(set(pdf["src"]) | set(pdf["dst"]))
        idx = {n: i for i, n in enumerate(nodes)}
        n = len(nodes)
        A = np.zeros((n, n))
        w = pdf[weight_col] if has_w else [1.0] * len(pdf)
        for s, d, wv in zip(pdf["src"], pdf["dst"], w):
            A[idx[d], idx[s]] = float(wv)  # transpose: incoming influence
        a_eff = alpha
        if cap_alpha:
            row_sum = np.abs(A).sum(axis=1).max()
            if row_sum > 0:
                a_eff = min(alpha, 0.5 / float(row_sum))
        x = np.linalg.solve(np.eye(n) - a_eff * A, np.ones(n))
        return pd.DataFrame({"node": nodes, "alpha_centrality": x})

    res = _per_group(und, g, "alpha_centrality double", _each_group(_solve))
    return res.select(*g, "node", F.round("alpha_centrality", 6).alias("alpha_centrality"))
