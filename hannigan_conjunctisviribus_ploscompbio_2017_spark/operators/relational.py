"""Relational operator layer (SURVEY §2.2-2.8).

Small composable DataFrame functions covering the reference's entire
projection/filter/join/aggregate/window/set-op/pivot surface.  Everything
is declarative — Catalyst handles pushdown, pruning, join selection; the
only hints we add are explicit broadcasts for dimension-sized sides.

Scale notes per operator group:
- joins: small sides are broadcast (no shuffle); large-large joins rely on
  AQE for skew splitting.  Callers joining repeatedly on one key should
  pre-`repartition(key)` once and reuse.
- aggregations: all expressed as groupBy().agg() → partial (map-side)
  aggregation is automatic.
- top-k per group: window row_number, which shuffles once on the partition
  key — the same shuffle the aggregation would need; no sort of the full
  data (rank is computed per partition after hash exchange).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

# --- filters (P1-P10) ------------------------------------------------------


def anti_filter(df: DataFrame, removal: DataFrame, on: str | list[str]) -> DataFrame:
    """P8 — drop rows whose key appears in a removal list
    (bin/interpersonaldiversity.R:49-53). Removal lists are small → broadcast."""
    return df.join(F.broadcast(removal), on, "left_anti")


# --- joins (J1-J10) ---------------------------------------------------------


def feature_merge(
    tables: dict[str, DataFrame],
    keys: Sequence[str],
    value_col: str = "score",
    fill: float | None = 0.0,
) -> DataFrame:
    """J3 — the graph-edge feature matrix: merge per-feature score tables
    on (bacterium, phage), one output column per feature
    (bin/iteratePredictedRelationships.R:50-52;
    bin/BenchmarkDatabaseCreation.pl:147-175 upsert semantics). Inputs
    are score tables — one row per key tuple, non-null keys (both
    callers feed grouped aggregates; "≤1 edge per pair").

    Non-null keys are ENFORCED on both the union and the join-cascade
    path (a raise_error filter on every input — r13): NULL keys are
    where the union+pivot and full-outer forms diverge, so they fail
    loudly instead of silently merging (test_feature_merge_null_key_raises).

    Executed as tag + union + ONE grouped pivot-aggregate rather than
    the equivalent full-outer join cascade (r12 optimization round,
    guide §2.4): a USING-keys full-outer chain rewrites the join keys to
    COALESCE(left, right) at every step, so every additional table
    re-exchanged and re-sorted the whole accumulated merge (measured: 6
    Exchange + 6 SortMergeJoin sorts for 4 tables). The union form
    shuffles every input row exactly once on the key set — at 100 TB a
    single co-partitioned merge — and produces the identical rows: with
    key-unique inputs each (key, feature) group holds at most one value,
    so the conditional max IS that value, absent features go NULL →
    `fill`, and the output key set is the union of the inputs' key sets,
    exactly as the full-outer cascade. Tables whose value columns
    disagree on type fall back to the join cascade (the union would
    silently widen them).
    """
    keys = list(keys)
    names = list(tables)
    assert names, "feature_merge needs ≥1 table"
    if len(names) == 1:
        out = tables[names[0]].select(*keys, F.col(value_col).alias(names[0]))
        return out.fillna(fill, subset=names) if fill is not None else out
    # non-null-key contract, enforced loudly on both paths (r13, ADVICE):
    # a USING-keys full-outer join never matches NULL keys (each side's
    # NULL-key rows stay separate), while groupBy would silently merge
    # them into one row — so a NULL key is a caller bug and must fail
    # whichever path the value dtypes pick. Enforced as a FILTER
    # predicate (per-row null test inside codegen, no extra action)
    # rather than by rewriting the key expressions: a CASE-WHEN-wrapped
    # key is a new expression, which breaks output-partitioning alias
    # propagation and re-introduced the final exchange the union form
    # exists to avoid (caught in the r13 plan diff: Exchange 4 -> 5).
    guard = None
    for k in keys:
        ok = F.when(F.col(k).isNotNull(), F.lit(True)).otherwise(
            F.raise_error(
                F.lit(
                    f"feature_merge: NULL join key '{k}' — merged inputs "
                    "require non-null keys (a full-outer cascade leaves NULL "
                    "keys unmatched; groupBy would merge them)"
                )
            )
        )
        guard = ok if guard is None else guard & ok

    vtypes = {dict(df.dtypes).get(value_col) for df in tables.values()}
    if len(vtypes) == 1:
        tagged = None
        for name, df in tables.items():
            cur = df.where(guard).select(
                *keys,
                F.lit(name).alias("_feat"),
                F.col(value_col).alias("_val"),
            )
            tagged = cur if tagged is None else tagged.unionByName(cur)
        out = tagged.groupBy(*keys).agg(
            *[
                F.max(F.when(F.col("_feat") == n, F.col("_val"))).alias(n)
                for n in names
            ]
        )
    else:
        out = None
        for name, df in tables.items():
            cur = df.where(guard).select(*keys, F.col(value_col).alias(name))
            out = cur if out is None else out.join(cur, keys, "full_outer")
    if fill is not None:
        out = out.fillna(fill, subset=names)
    return out


# --- aggregations (A1-A12) --------------------------------------------------


def collapse_mean(df: DataFrame, keys: Sequence[str], col: str, alias: str) -> DataFrame:
    """A2 — group-by mean score per pair (bin/CollapseGeneScores.R:38)."""
    return df.groupBy(*keys).agg(F.avg(col).alias(alias))


def rarefaction_depth(
    df: DataFrame, sample_col: str, count_col: str, quantile: float | None = None
) -> DataFrame:
    """A7 — rarefaction depth: min (or q-quantile) of per-sample totals
    (bin/interpersonaldiversity.R:56-57). Returns a 1-row DataFrame so the
    value stays in-plan (no driver collect on the hot path)."""
    sums = df.groupBy(sample_col).agg(F.sum(count_col).alias("total"))
    if quantile is None:
        return sums.agg(F.min("total").alias("depth"))
    return sums.agg(
        F.expr(f"percentile(total, {quantile})").cast("double").alias("depth")
    )


def best_hit(
    df: DataFrame, keys: Sequence[str], order: Sequence[Column], n: int = 1
) -> DataFrame:
    """A9/W1/W2 — first-row-per-group dedup / per-group top-N
    (bin/AssembleBlastDistances.sh:42-46; bin/GetLongestContig.R:46).
    `order` must be a deterministic total order (add a key tiebreak)."""
    w = W.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n)
        .drop("_rn")
    )


# --- reshape (R1-R7) --------------------------------------------------------


def pivot_matrix(
    df: DataFrame,
    row_key: str | Sequence[str],
    pivot_col: str,
    value_col: str,
    values: Sequence[str] | None = None,
    agg: str = "sum",
    fill: float = 0.0,
) -> DataFrame:
    """R1/R2/R3 — long→wide incidence/abundance matrix
    (bin/ReshapeAlignedAbundance.R:36-39).

    Pass `values` explicitly at scale: it removes the extra distinct-scan
    job Spark otherwise runs to discover pivot values.
    """
    rows = [row_key] if isinstance(row_key, str) else list(row_key)
    gb = df.groupBy(*rows)
    piv = gb.pivot(pivot_col, list(values) if values is not None else None)
    agg_fn = getattr(F, agg)
    return piv.agg(agg_fn(value_col)).fillna(fill)


def melt(
    df: DataFrame,
    id_cols: Sequence[str],
    value_cols: Sequence[str],
    var_name: str = "variable",
    value_name: str = "value",
) -> DataFrame:
    """R4/R5 — wide→long (reshape2::melt). Uses the native stack() expr —
    no shuffle, row-local explode."""
    stack_args = ", ".join(f"'{c}', `{c}`" for c in value_cols)
    stack_expr = f"stack({len(value_cols)}, {stack_args}) as ({var_name}, {value_name})"
    return df.select(*id_cols, F.expr(stack_expr))


def sample_columns(
    df: DataFrame, keep: Sequence[str], fraction: float, seed: int = 42
) -> DataFrame:
    """R7 — random column subsample (keep 25% of sample columns into
    CONCOCT, bin/ReshapeAlignedAbundance.R:41-45): deterministic choice of
    non-key columns by seeded hash of the column NAME (driver-side over
    metadata only — never touches data; the scan then prunes to the
    chosen columns)."""
    import hashlib

    def keeps(name: str) -> bool:
        h = int.from_bytes(
            hashlib.sha256(f"{seed}:{name}".encode()).digest()[:4], "big"
        )
        return (h / 2**32) < fraction

    chosen = [c for c in df.columns if c in keep or keeps(c)]
    return df.select(*chosen)


def salt_expr(cols: Sequence[str], buckets: int):
    """The deterministic salt salted_join assigns each left row: xxhash64
    over the WHOLE row mod `buckets`.  Exposed so tests (and callers
    pre-bucketing a write) measure the spread of the exact expression
    the join uses, not a private copy of it."""
    return F.pmod(F.xxhash64(*[F.col(c) for c in cols]), F.lit(buckets)).cast("int")


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: salt the LEFT (large, skewed) side into
    `buckets` sub-keys and explode the RIGHT side across all bucket ids,
    so one hot key spreads over `buckets` tasks instead of one straggler.

    Semantically identical to left.join(right, on, how) for inner/left
    joins. AQE's skew-join split handles most cases automatically; this
    is the explicit tool for super-hot keys (power-law host nodes) or
    when AQE is unavailable. Salt is deterministic (salt_expr: hash of
    the whole left row), so results are reproducible.
    """
    lsalted = left.withColumn("_salt", salt_expr(left.columns, buckets))
    rexpl = right.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(buckets)]))
    )
    return lsalted.join(rexpl, [on, "_salt"], how).drop("_salt")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    ts_col: str = "ts",
    value_cols: Sequence[str] | None = None,
    tolerance: float | None = None,
    prefix: str = "asof_",
) -> DataFrame:
    """As-of (backward) join — the training-pipeline feature join Spark
    has no built-in for: each left row picks up the single right row
    with the greatest right.ts <= left.ts per key (DuckDB `ASOF LEFT
    JOIN` / pandas `merge_asof(direction="backward")` semantics,
    equal timestamps match).

    Implemented WITHOUT a join: both sides union into one frame tagged
    by side, one window per key ordered by (ts, side) carries the right
    side's values forward via last(ignoreNulls), and left rows are
    filtered back out. One hash shuffle on the key — no range-join
    explosion, no per-key fan-out, and skewed keys cost what any
    aggregation on that key costs. This is the 100 TB shape: the
    union-window plan touches each row once, where a naive
    left.ts >= right.ts theta-join materializes every (left, right)
    candidate pair per key.

    `value_cols` (default: all right columns except key/ts) are emitted
    as `{prefix}{col}`, plus `{prefix}{ts_col}` — all NULL when no
    right row precedes. `tolerance` (seconds, timestamps; native units
    otherwise) voids matches older than the window, like merge_asof's
    tolerance.

    Right rows should be unique per (key, ts): ties carry no defined
    winner in any as-of engine — pre-aggregate (the registered gate
    entry keeps MAX(event_id) per instant and DuckDB replays it).
    """
    on = list(on)
    if value_cols is None:
        value_cols = [c for c in right.columns if c not in (*on, ts_col)]
    value_cols = list(value_cols)
    out_ts = f"{prefix}{ts_col}"
    rsel = right.select(
        *on,
        F.col(ts_col).alias("_ats"),
        F.lit(0).alias("_side"),
        *[F.col(c).alias(f"{prefix}{c}") for c in value_cols],
        F.col(ts_col).alias(out_ts),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c)
          for c in left.columns if c not in on],
    )
    lsel = left.select(
        *on,
        F.col(ts_col).alias("_ats"),
        F.lit(1).alias("_side"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"{prefix}{c}")
          for c in value_cols],
        F.lit(None).cast(right.schema[ts_col].dataType).alias(out_ts),
        *[F.col(c) for c in left.columns if c not in on],
    )
    # right rows sort BEFORE left rows at the same instant (side 0 < 1),
    # so an equal-timestamp right row is inside every same-instant left
    # row's frame — the `>=` match both reference engines implement
    w = (
        W.partitionBy(*on)
        .orderBy(F.col("_ats").asc(), F.col("_side").asc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = rsel.unionByName(lsel).select(
        *on,
        "_ats",
        "_side",
        *[F.last(f"{prefix}{c}", ignorenulls=True).over(w).alias(f"{prefix}{c}")
          for c in value_cols],
        F.last(out_ts, ignorenulls=True).over(w).alias(out_ts),
        *[F.col(c) for c in left.columns if c not in on],
    )
    res = carried.filter(F.col("_side") == 1)
    if tolerance is not None:
        stale = (
            F.col("_ats").cast("double") - F.col(out_ts).cast("double")
        ) > F.lit(float(tolerance))
        res = res.select(
            *on,
            "_ats",
            "_side",
            *[F.when(stale, F.lit(None)).otherwise(F.col(f"{prefix}{c}"))
              .alias(f"{prefix}{c}") for c in value_cols],
            F.when(stale, F.lit(None)).otherwise(F.col(out_ts)).alias(out_ts),
            *[F.col(c) for c in left.columns if c not in on],
        )
    return res.select(
        *on,
        F.col("_ats").alias(ts_col),
        *[c for c in left.columns if c not in (*on, ts_col)],
        *[f"{prefix}{c}" for c in value_cols],
        out_ts,
    )
