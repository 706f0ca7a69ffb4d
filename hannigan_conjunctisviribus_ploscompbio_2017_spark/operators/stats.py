"""Resampling & ecology statistics (SURVEY §2.11).

- rarefy: vegan::rrarefy — per-sample multinomial subsample to a fixed
  depth (bin/interpersonaldiversity.R:60-76 in the reference).
  Arrow-batched mapInPandas over a hash exchange on the sample; seed
  derived from the sample key by hash so results are reproducible
  regardless of partitioning/order (the reference itself is NOT reproducible here —
  bin/catcontigs.sh:47-51 embeds rand() in contig names; we fix that).
- rarefy_hash: the same draw as a per-individual md5 rank — a pure row
  function the DuckDB oracle replays row for row.
- bray_curtis: vegan::vegdist — pairwise Bray-Curtis over per-sample
  abundance vectors as a sparse join-aggregate (no dense matrix, no
  driver collect): BC(a,b) = 1 − 2·Σ min(xai, xbi) / (Σ xai + Σ xbi).
- rarefaction_curve: M13 — rarefy_hash richness at increasing depths,
  all depths read off one ranked draw.
- permutation_pvalue: M4 harness — margin-preserving label-permutation
  null for a two-group mean difference, all permutations in one job.

rarefy_hash, rarefaction_curve and corpus.exact_k_sample share one
smallest-k-per-group selection (`_smallest_k`).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.dedup import (
    portable_token_hash,
)


def _seed_for(key: str, base_seed: int) -> int:
    h = hashlib.sha256(f"{base_seed}:{key}".encode()).digest()
    return int.from_bytes(h[:4], "big")


def rarefy(
    df: DataFrame,
    sample_col: str,
    item_col: str,
    count_col: str,
    depth: int | DataFrame,
    seed: int = 42,
) -> DataFrame:
    """Subsample each sample's counts to exactly `depth` total
    (multinomial without replacement — vegan::rrarefy semantics).
    Samples with total < depth are dropped (vegan warns; we drop,
    matching the reference's depth-first filter).

    `depth` may be an int or a 1-row/1-column DataFrame (e.g. the A7
    min-depth aggregate): the frame is broadcast-crossJoined into the
    plan, so the threshold stays IN the Catalyst DAG — no driver-side
    collect splitting the pipeline into two jobs.

    Output: (sample_col, item_col, count_col) with per-sample sums ==
    depth. Deterministic: RNG seeded from sha256(seed, sample key).

    This is the AT-SCALE default route: work is ∝ abundance ROWS
    (Arrow-batched), never ∝ Σ counts — measured faster than the
    explode-based rarefy_hash from ~1e9 exploded individuals up (see
    rarefy_hash's routing-threshold paragraph for the crossover).
    """
    out_schema = f"{sample_col} string, {item_col} string, {count_col} long"
    depth_is_frame = isinstance(depth, DataFrame)
    # the closure must not capture the depth DataFrame (unpicklable)
    depth_int = None if depth_is_frame else int(depth)

    # Partition-at-a-time Python stage (r12 optimization round, guide
    # §4.2/§4.5): the natural groupBy().applyInPandas ships one Arrow
    # batch + one pandas DataFrame + one Python call PER SAMPLE — at 15k
    # samples of ~40 rows each that per-group machinery was ~90% of the
    # operator's wall-clock (SQL-tab: 4.6 s/task in FlatMapGroupsInPandas
    # vs <0.5 s of actual draw math). mapInPandas over the SAME
    # hash-exchange (repartition on the sample key) hands each task its
    # whole partition; groups are recovered with one stable numpy sort +
    # boundary scan, and the per-sample draw itself is unchanged: same
    # canonical item order (stable sort by (sample, item) orders each
    # group's items exactly as the old per-group mergesort on item), same
    # sha256-seeded generator, same multivariate-hypergeometric call —
    # bit-identical rows, verified against the frozen m1_rarefaction
    # fixture and the double-run identity test. Peak task memory moves
    # from one GROUP to one PARTITION of the abundance table, which is
    # what spark.sql.shuffle.partitions sizes at any scale (the abundance
    # frame is samples × items — orders of magnitude smaller than the raw
    # data).
    def _rarefy_partition(batches):
        pdfs = list(batches)
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        # canonical item order per group: one stable sort of the whole
        # partition by (sample, item) — within each sample this is the
        # identical mergesort-by-item order the per-group form used
        pdf = pdf.sort_values(
            [sample_col, item_col], kind="mergesort", ignore_index=True
        )
        samples = pdf[sample_col].to_numpy()
        items = pdf[item_col].to_numpy()
        counts = pdf[count_col].to_numpy(dtype=np.int64)
        depths = (
            pdf["_depth"].to_numpy(dtype=np.int64) if depth_is_frame else None
        )
        starts = np.flatnonzero(
            np.concatenate(([True], samples[1:] != samples[:-1]))
        )
        ends = np.concatenate((starts[1:], [len(samples)]))
        out_s: list = []
        out_i: list = []
        out_c: list = []
        for s0, s1 in zip(starts, ends):
            c = counts[s0:s1]
            d = int(depths[s0]) if depths is not None else depth_int
            if int(c.sum()) < d:
                continue
            rng = np.random.default_rng(_seed_for(str(samples[s0]), seed))
            # draw `d` individuals without replacement from the pooled
            # community: multivariate hypergeometric via sequential draws
            kept = rng.multivariate_hypergeometric(c, d)
            m = kept > 0
            if m.any():
                out_s.append(samples[s0:s1][m])
                out_i.append(items[s0:s1][m])
                out_c.append(kept[m])
        if out_s:
            yield pd.DataFrame(
                {
                    sample_col: np.concatenate(out_s),
                    item_col: np.concatenate(out_i),
                    count_col: np.concatenate(out_c).astype(np.int64),
                }
            )

    typed = df.select(
        F.col(sample_col).cast("string").alias(sample_col),
        F.col(item_col).cast("string").alias(item_col),
        F.col(count_col).cast("long").alias(count_col),
    )
    if depth_is_frame:
        dcol = depth.columns[0]
        typed = typed.crossJoin(
            F.broadcast(depth.select(F.col(dcol).cast("long").alias("_depth")))
        )
    return typed.repartition(sample_col).mapInPandas(
        _rarefy_partition, schema=out_schema
    )


def rarefy_hash(
    df: DataFrame,
    sample_col: str,
    item_col: str,
    count_col: str,
    depth: int | str | DataFrame,
    seed: int = 42,
) -> DataFrame:
    """Hash-rank rarefaction — the oracle-checkable twin of rarefy().

    Expand each (sample, item) to `count` individuals, rank individuals
    by the 60-bit md5 of (sample|item|index|seed), keep the `depth`
    lowest per sample. A hash over distinct ids is a uniform random
    permutation of the pooled community, so the kept multiset has exact
    multivariate-hypergeometric marginals — same semantics as rarefy(),
    but the draw is a pure function of the row: partition-invariant and
    replayable in any md5-capable engine (the DuckDB oracle reproduces
    it row for row).

    The explode is ∝ Σ counts: right for bounded abundance counts; for
    heavy-tailed counts use rarefy() (pandas hypergeometric, no
    expansion). Samples with total < depth are dropped, as in rarefy();
    a NULL sample key is a sample of its own.

    ROUTING THRESHOLD (measured r07, tools/scale_check.py on the sf0.1
    lineitem abundance proxy, mean count ≈ 25/cell): at 8x data this
    explode path scales 2.85x vs the hypergeometric's 3.61x (the
    JVM-side explode+filter beats Arrow transfer while the exploded
    community fits the core budget); at 64x data (Σ counts ≈ 1.0e9
    individuals) the order flips — 18.1x here vs 13.75x for rarefy()
    (148s vs 118s wall on 32 cores) — because this path's work stays
    ∝ Σ counts while rarefy() ships only the (samples x items)
    abundance ROWS through Arrow.  Prefer rarefy_hash while Σ counts
    ≲ ~10M individuals per core (needs the replayable-oracle property
    or bounded counts), and rarefy() beyond that or whenever mean count
    per cell is heavy-tailed (≳ 50-100), where the explode multiplies
    the row count by the tail.

    `depth` may be an int, a 1-row/1-column DataFrame broadcast into
    the plan (single Catalyst DAG — no driver-side collect), or a SQL
    aggregate expression over the per-sample total column `_t` (e.g.
    "min(_t)", "percentile(_t, 0.05)"). The expression form is the
    cheapest: it is aggregated from the per-sample totals THIS operator
    already computes over its checkpointed input — a caller-built depth
    DataFrame, by contrast, re-derives the whole upstream plan a second
    time (Catalyst does not reuse the identical subtree across the
    broadcast boundary; measured one extra full scan+join per depth
    consumer).

    The rank never sorts the full exploded community: see `_smallest_k`.
    """
    typed = _typed_abundance(df, sample_col, item_col, count_col)
    # attach the depth to the per-SAMPLE aggregate, not the base table:
    # a crossJoin on the pre-aggregation rows re-derives the (possibly
    # expensive) upstream plan once more per consumer — measured ~40% of
    # this operator's wall-clock at sf0.1
    per_sample = typed.groupBy(sample_col).agg(F.sum(count_col).alias("_t"))
    if isinstance(depth, str):
        # a one-row aggregate of the per-sample totals, crossJoined like
        # a depth frame: a window with no partition would pull every
        # per-sample total into one task
        depth = per_sample.agg(F.expr(depth))
    if isinstance(depth, DataFrame):
        dcol = depth.columns[0]
        per_sample = per_sample.crossJoin(
            F.broadcast(depth.select(F.col(dcol).cast("long").alias("_depth")))
        )
    else:
        per_sample = per_sample.withColumn("_depth", F.lit(int(depth)))
    groups = per_sample.filter(F.col("_t") >= F.col("_depth")).withColumnRenamed(
        "_depth", "_d"
    )
    kept = _kept_individuals(typed, sample_col, item_col, count_col, groups, seed)
    return kept.groupBy(sample_col, item_col).agg(
        F.count(F.lit(1)).alias(count_col)
    )


def _typed_abundance(
    df: DataFrame, sample_col: str, item_col: str, count_col: str
) -> DataFrame:
    """(sample string, item string, count long > 0), lazily checkpointed.

    The count>0 filter is load-bearing, not hygiene: Spark's
    sequence(1, 0) yields a DESCENDING [1, 0] — an unfiltered zero-count
    row would explode into two phantom individuals that compete in the
    draw.  The frame feeds BOTH the per-sample totals and the explode,
    and Catalyst does not share the subtree — without the checkpoint the
    caller's (possibly expensive) upstream plan runs twice (measured
    ~35% of m1_rarefaction_portable's wall-clock at sf0.1).  It is the
    aggregated abundance table (samples × items) — orders of magnitude
    smaller than the raw data at any scale."""
    return (
        df.select(
            F.col(sample_col).cast("string").alias(sample_col),
            F.col(item_col).cast("string").alias(item_col),
            F.col(count_col).cast("long").alias(count_col),
        )
        .filter(F.col(count_col) > 0)
        .localCheckpoint(eager=False)
    )


def _kept_individuals(
    typed: DataFrame,
    sample_col: str,
    item_col: str,
    count_col: str,
    groups: DataFrame,
    seed: int,
) -> DataFrame:
    """The `_d` individuals with the smallest md5_60(sample|item|i|seed)
    per sample of `groups` (one row per eligible sample with `_t`, the
    community size, and `_d`): rows (sample, item, _t, _d, _i, _k, _rn).
    `_i` numbers a cell's individuals 1..count; ties on the key break
    by (item, _i)."""
    key = portable_token_hash(
        F.concat_ws(
            "|", F.col(sample_col), F.col(item_col), F.col("_i"), F.lit(str(seed))
        )
    )
    # count_col is dead once the cell is exploded: dropping it before
    # the candidate checkpoint (r13, guide §2.3 project-before-the-
    # exchange) took an isolated noop-sink A/B on m1_rarefaction_portable
    # from 7.70 s to 5.49 s (best of 5)
    return _smallest_k(
        typed,
        sample_col,
        groups,
        key,
        [item_col, "_i"],
        expand=lambda b: b.withColumn(
            "_i", F.explode(F.sequence(F.lit(1), F.col(count_col)))
        ).drop(count_col),
    )


# Candidate margin over the keep count d: m = a·d + ⌈b·√d⌉ + c with
# (a, b, c) below.  A group's pool of keys ≤ τ = 2⁶⁰·m/n is
# Binomial(n, m/n), so P[pool < d] ≤ exp(−(6√d + 24)²/2m) ≤ e⁻¹⁸ per
# group (r12 optimization round; was d + 10√d + 64, whose slack
# dominated the pool at small depths — d=17 → 122 candidates, a 7×
# inflation of the checkpoint and rank-window input).  A short group
# re-ranks its full population in the fallback, so the margin buys
# only speed, never correctness; tests set it to (0, 0, 0) to send
# every group down the fallback.
_MARGIN = (1, 6.0, 24)


def _smallest_k(
    rows: DataFrame,
    group_col: str,
    groups: DataFrame,
    key,
    order: list[str],
    expand=None,
) -> DataFrame:
    """Keep, per group, the `_d` rows with the smallest 60-bit hash
    `key`, ties broken by `order` — the one smallest-k selection behind
    rarefy_hash, rarefaction_curve and corpus.exact_k_sample.

    `groups` carries one row per eligible group: `group_col`, `_t` (the
    group's population, i.e. its row count after `expand`) and `_d`
    (rows to keep).  Rows of groups missing from `groups` are dropped.
    The group joins are null-safe, so a NULL key is a group of its own.
    `expand` (default: none) maps the joined rows to the population
    `key` ranks — rarefy_hash's explode into individuals.  Returns the
    expanded rows plus `_t`, `_d`, `_k` and `_rn` (≤ `_d`).

    Two phases, so the rank never sorts a full group: keys are uniform
    in [0, 2⁶⁰), so the d-th smallest of a group of n concentrates near
    2⁶⁰·d/n.  A map-side filter at τ = 2⁶⁰·m/n (margin m, `_MARGIN`)
    keeps ~m candidates per group and the row_number window ranks only
    those.  Exactness is unconditional: a per-group candidate count
    finds groups whose pool came up short of `_d`, and those re-rank
    their FULL population in a fallback branch — empty at runtime in
    the normal case, so AQE collapses it to an empty relation."""
    expand = expand or (lambda b: b)
    a, b, c = _MARGIN
    d = F.col("_d")
    margin = F.lit(a) * d + F.ceil(F.lit(float(b)) * F.sqrt(d)).cast("long") + c
    # clamp the ratio at 1.0 BEFORE scaling: m ≥ n means keep-all, and an
    # unclamped 2⁶⁰·m/n overflows the long cast; +512 absorbs the ~2⁷
    # ulp error of 2⁶⁰-scale doubles
    ratio = F.least(margin.cast("double") / F.col("_t"), F.lit(1.0))
    tau = (F.pow(F.lit(2.0), 60) * ratio).cast("long") + 512
    g = groups.select(F.col(group_col).alias("_gk"), "_t", "_d")
    in_g = F.col(group_col).eqNullSafe(F.col("_gk"))
    # groups is one row per GROUP — broadcast it so the full population
    # is never shuffled on the group key just to pick up its (_t, _d, τ)
    # (statically planned as SortMergeJoin otherwise: a checkpointed
    # input's size is unknown to the planner)
    base = rows.join(F.broadcast(g.withColumn("_tau", tau)), in_g).drop("_gk")

    def keyed(b: DataFrame) -> DataFrame:
        return expand(b).withColumn("_k", key)

    # lazy checkpoint: the candidate pool feeds BOTH the margin guard
    # and the rank — without it the expand+hash subtree runs twice
    cand = (
        keyed(base)
        .filter(F.col("_k") <= F.col("_tau"))
        .drop("_tau")
        .localCheckpoint(eager=False)
    )
    # the guard starts from the GROUPS, not from cand: a group whose
    # pool is EMPTY has no cand rows, and a cand-derived guard would
    # silently drop it instead of routing it to the fallback.  Broadcast
    # the per-group candidate counts: both sides are group-sized
    # aggregates the planner cannot estimate, and would SMJ them
    cc = cand.groupBy(F.col(group_col).alias("_ck")).agg(
        F.count(F.lit(1)).alias("_cc")
    )
    short = F.broadcast(
        g.join(F.broadcast(cc), F.col("_gk").eqNullSafe(F.col("_ck")), "left")
        .filter(F.coalesce(F.col("_cc"), F.lit(0)) < F.col("_d"))
        .select("_gk")
    )
    w = W.partitionBy(group_col).orderBy("_k", *order)

    def ranked(pool: DataFrame) -> DataFrame:
        return pool.withColumn("_rn", F.row_number().over(w)).filter(
            F.col("_rn") <= F.col("_d")
        )

    main = ranked(cand.join(short, in_g, "left_anti"))
    # the fallback joins BEFORE the expand: its probe side is the small
    # pre-expansion table, so the ~always-empty branch never re-hashes
    # the population even when its stage races AQE's empty-relation
    # pruning
    fallback = ranked(keyed(base.join(short, in_g, "left_semi")).drop("_tau"))
    return main.unionByName(fallback)


def bray_curtis(
    df: DataFrame,
    sample_col: str,
    item_col: str,
    value_col: str,
) -> DataFrame:
    """Pairwise Bray-Curtis dissimilarity between all sample pairs
    (vegan::vegdist default). Sparse formulation: zeros contribute
    nothing to Σmin, so the item-join over shared keys is exact.

    Returns (sample_a, sample_b, bray_curtis) for sample_a < sample_b.
    Scale: one self-join shuffled on item_col (hot items handled by AQE
    skew split), then one aggregation on the pair key — never a dense
    S×I matrix.
    """
    v = df.select(
        F.col(sample_col).alias("_s"),
        F.col(item_col).alias("_i"),
        F.col(value_col).cast("double").alias("_v"),
    )
    # v feeds THREE consumers (the per-sample totals and both sides of
    # the item self-join) and Catalyst re-derives the subtree per
    # consumer — DELIBERATELY left un-checkpointed: the derivations
    # pipeline in parallel inside one job, and an interleaved A/B at
    # sf0.1 measured the materialize-then-read variant 2x SLOWER
    # (2.02s vs 1.10s).  This is the opposite trade from rarefy's depth
    # branch, whose duplicate subtree sits under a BROADCAST exchange
    # that serializes before the main job (checkpoint measured 1.32x
    # faster there).  A caller whose upstream is genuinely expensive
    # should hand this operator a checkpointed frame.
    totals = v.groupBy("_s").agg(F.sum("_v").alias("_tot"))
    a, b = v.alias("a"), v.alias("b")
    shared_min = (
        a.join(b, F.col("a._i") == F.col("b._i"))
        .filter(F.col("a._s") < F.col("b._s"))
        .groupBy(F.col("a._s").alias("sample_a"), F.col("b._s").alias("sample_b"))
        .agg(F.sum(F.least(F.col("a._v"), F.col("b._v"))).alias("_minsum"))
    )
    ta = totals.select(F.col("_s").alias("sample_a"), F.col("_tot").alias("_ta"))
    tb = totals.select(F.col("_s").alias("sample_b"), F.col("_tot").alias("_tb"))
    # pairs with NO shared items need BC=1: build the full pair frame from
    # totals (S² pairs of sample keys only — cheap), left join shared sums.
    # Broadcast the right side: a plain crossJoin is a CartesianProduct
    # with |left|×|right| PARTITIONS (32×32 = 1024 tasks for two tiny
    # aggregate frames); broadcast keeps it one nested-loop pass wide.
    pairs = ta.crossJoin(F.broadcast(tb)).filter(F.col("sample_a") < F.col("sample_b"))
    return (
        pairs.join(shared_min, ["sample_a", "sample_b"], "left")
        .fillna(0.0, subset=["_minsum"])
        .select(
            "sample_a",
            "sample_b",
            F.round(
                1.0 - 2.0 * F.col("_minsum") / (F.col("_ta") + F.col("_tb")), 6
            ).alias("bray_curtis"),
        )
    )


def rarefaction_curve(
    df: DataFrame,
    sample_col: str,
    item_col: str,
    count_col: str,
    depths: list[int],
    seed: int = 42,
) -> DataFrame:
    """M13 — species richness after rarefying each sample to each depth
    (bin/OpfRarefaction.R:12-18): rows (sample, richness, depth), one
    per sample whose community reaches the depth.  Each depth's
    richness is exactly the richness of rarefy_hash(df, ..., depth,
    seed).

    The per-individual md5 ranking is depth-independent, so ALL depths
    share ONE physical draw: rank once with per-sample effective depth
    d_eff = min(max(depths), community size), checkpoint the kept
    individuals (≤ d_eff + margin rows per sample), and read each
    depth's richness off the shared ranks with a filter + distinct-item
    count (rank ≤ d is the same d smallest keys either way).  A
    per-depth rarefy_hash loop would re-run the explode + md5 + rank
    len(depths) times over the full community — measured 3x wall-clock
    at 3 depths, and the gap widens with the depth grid.  The DuckDB
    oracle replays the whole curve from a single ranked CTE."""
    if not depths:
        raise ValueError("depths must be a non-empty list")
    typed = _typed_abundance(df, sample_col, item_col, count_col)
    per_sample = typed.groupBy(sample_col).agg(F.sum(count_col).alias("_t"))
    # rank only samples that qualify for SOME depth, up to the deepest
    # depth each can serve
    groups = per_sample.filter(F.col("_t") >= int(min(depths))).withColumn(
        "_d", F.least(F.lit(int(max(depths))), F.col("_t"))
    )
    kept = _kept_individuals(
        typed, sample_col, item_col, count_col, groups, seed
    ).localCheckpoint(eager=False)
    out = None
    for d in depths:
        r = (
            kept.filter((F.col("_t") >= d) & (F.col("_rn") <= d))
            .groupBy(sample_col)
            .agg(F.countDistinct(item_col).alias("richness"))
            .withColumn("depth", F.lit(d).cast("long"))
        )
        out = r if out is None else out.unionByName(r)
    return out


def permutation_pvalue(
    df: DataFrame,
    group_col: str,
    value_col: str,
    n_perm: int = 999,
    seed: int = 42,
) -> DataFrame:
    """M4 — permutation test for a two-group mean difference
    (bin/CompareSkin.R:336-423), fully distributed: one explode + one
    window + ONE aggregation for all permutations.

    MARGIN-PRESERVING null: for each permutation, rows are ranked by
    md5_60(rid|perm) — a uniform random permutation of the pooled rows
    — and the n1 lowest are labeled group 1, where n1 is the OBSERVED
    size of group 1 (the lower of the two group keys as strings).
    Permuted group sizes therefore equal the observed n1/n2 exactly,
    unlike an independent per-row Bernoulli flip (a random-allocation
    null whose variance deviates for unbalanced groups).

    Row ids hash (value|tie-rank|seed).  Hashing the value alone would
    make tied rows move in lockstep (a degenerate null); tied rows are
    exchangeable, so the arbitrary tie order never changes any
    permutation statistic.  The value column is hashed and averaged as
    given: with integral values every group sum is exact, so the
    per-permutation statistics are bit-identical across engines and the
    DuckDB oracle replays the exceed count with no tolerance (doubles
    work too, but their string form and sum order are engine-specific).

    Returns 1 row: (observed_diff, p_value, n_perm).
    """
    md5_60 = lambda *cs: portable_token_hash(F.concat_ws("|", *cs))  # noqa: E731
    # base feeds FOUR actions (group enumeration, n1, observed means,
    # the permutation null) — materialize the possibly-join-derived
    # input once instead of re-running its upstream plan per action
    base = df.select(
        F.col(group_col).alias("_g"), F.col(value_col).alias("_v")
    ).localCheckpoint(eager=False)
    groups = sorted((r["_g"] for r in base.select("_g").distinct().collect()), key=str)
    if len(groups) != 2:
        raise ValueError(f"permutation_pvalue needs exactly 2 groups, got {groups}")
    g1, g2 = groups
    n1 = base.filter(F.col("_g") == g1).count()

    tie_rank = F.row_number().over(W.partitionBy("_v").orderBy(F.lit(1)))
    keyed = (
        base.withColumn("_rid", md5_60(F.col("_v"), tie_rank, F.lit(str(seed))))
        .select(
            "_v",
            "_rid",
            F.explode(F.sequence(F.lit(1), F.lit(n_perm))).alias("perm"),
        )
        .withColumn("_pk", md5_60(F.col("_rid"), F.col("perm")))
    )
    wp = W.partitionBy("perm").orderBy("_pk", "_rid")
    labeled = keyed.withColumn("in_g1", F.row_number().over(wp) <= n1)
    perm_stats = labeled.groupBy("perm").agg(
        (
            F.avg(F.when(F.col("in_g1"), F.col("_v")))
            - F.avg(F.when(~F.col("in_g1"), F.col("_v")))
        ).alias("diff")
    )
    obs = {r["_g"]: r["m"] for r in base.groupBy("_g").agg(F.avg("_v").alias("m")).collect()}
    observed = float(obs[g1]) - float(obs[g2])
    exceed = perm_stats.filter(F.abs(F.col("diff")) >= abs(observed)).count()
    spark = df.sparkSession
    return spark.createDataFrame(
        [(observed, float(exceed), float(n_perm))], "od double, e double, np double"
    ).select(
        F.round("od", 6).alias("observed_diff"),
        F.round((F.col("e") + 1) / (F.col("np") + 1), 6).alias("p_value"),
        F.col("np").cast("long").alias("n_perm"),
    )
