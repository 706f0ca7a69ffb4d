"""Similarity search over embedding columns (array<float>).

The ANN ladder, all pure Catalyst (no Python in any scan) and all
oracle-replayable:

- brute_force_topk      exact cosine — the documented baseline
- srp_lsh_topk          signed-random-projection band buckets: the
                        candidate count tracks true near neighbors
- ivf_topk              coarse cells: each query SCANS n_probe/n_cells
                        of the corpus (md5-sampled or trained-KMeans
                        centroids — ivf_train_centroids)
- sq8_topk              8-bit scalar quantization: one uint8 per
                        dimension (4x smaller residency, near-exact),
                        asymmetric reconstructed-L2 search
- pq_topk               product quantization: each item is READ as m
                        small codes (32x smaller residency); per-pair
                        distance = m ADC table lookups, no vector math
- ivf_pq_topk           both at once — the FAISS-style 100 TB regime
- ivf_sq8_topk          cells + SQ8 codes — the near-exact sublinear
                        tier (4x residency, no subspace coupling)
- semantic_dedup        SemDeDup cells + within-cell cosine clumps
- embedding_near_dup_pairs / embedding_health

Every top-k tier is one skeleton (REPOSE's partition, prune, local
top-k, merge): _candidates builds the broadcast candidate pairs (IVF
tiers add cells), the tier's codec scores them, and _rank_topk keeps
each query's k best. A tier supplies only its codec: item columns,
query columns, score and direction. The banded searches share
dedup._bands and dedup._band_pairs with the MinHash/SimHash family.

Dot products run JVM-side via F.zip_with + F.aggregate; every sampled
artifact (centroids, hyperplanes, codebooks) is an md5-derived plan
literal, so results are partition-invariant and the DuckDB oracles
replay each path end-to-end.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.dedup import (
    _band_pairs,
    _bands,
    _bit_bands,
    _spread_if_undersplit,
    portable_token_hash,
)


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a, b):
    """Cosine similarity; NULL for zero-norm vectors (cosine is
    undefined there, and Spark 4's default ANSI mode turns the naive
    division into a job-killing DIVIDE_BY_ZERO on the first degenerate
    row — the exact rows embedding_health exists to count). NULLs rank
    last under desc() ordering and fail threshold filters, so
    degenerate vectors drop out of top-k/near-dup results naturally.

    Hot-path note: this inlines BOTH norms into the pair expression —
    the generated plan evaluates each norm twice (WHEN condition +
    division), five array passes per PAIR. Every per-pair call in this
    module instead precomputes per-ROW norm columns upstream of the
    join and uses cosine_pre(); keep this form for one-off expressions
    only."""
    den = _norm(a) * _norm(b)
    return F.when(den != 0, _dot(a, b) / den)


def cosine_pre(dot, na, nb):
    """cosine() from a precomputed dot and per-side norm COLUMNS — the
    identical IEEE operations (den = na·nb, guard, divide), but the
    norms are evaluated once per row upstream of the join instead of
    re-derived per pair, so the per-pair work is one zip_with pass.
    Bit-identical to cosine(): same doubles, same operation order —
    the DuckDB oracles that replay the inline form still hash-match.

    Higher-order array functions are interpreted (no whole-stage
    codegen, no common-subexpression elimination), so this explicit
    reuse is the only way the engine avoids the 5x re-evaluation."""
    den = na * nb
    return F.when(den != 0, dot / den)


def _lit_vec(vals) -> "F.Column":
    """Double-array literal in ONE py4j call. F.array(*[F.lit(x) ...])
    costs a JVM round trip PER ELEMENT — for the centroid/hyperplane
    sets (n_cells or num_planes vectors × dim elements) that is
    thousands of driver round trips, ~2s of plan-BUILD time per
    operator at 16×64. Parsing a single SQL array literal yields the
    identical CreateArray-of-Literal tree: `repr(float)` is the
    shortest round-trip form and Spark's `<value>D` literal parses to
    the bit-identical double, so downstream IEEE arithmetic (and every
    oracle replay) is unchanged. Non-finite values fall back to the
    per-element path (`1e400D` would not survive the SQL parser)."""
    vals = [float(x) for x in vals]
    if not all(math.isfinite(x) for x in vals):
        return F.array(*[F.lit(x) for x in vals])
    return F.expr("array(" + ",".join(f"{x!r}D" for x in vals) + ")")


def _lit_longs(vals) -> "F.Column":
    """array<bigint> literal in one py4j call (see _lit_vec)."""
    return F.expr("array(" + ",".join(f"{int(x)}L" for x in vals) + ")")


def _lit_mat(rows) -> "F.Column":
    """array<array<double>> literal in one py4j call (see _lit_vec)."""
    rows = [[float(x) for x in r] for r in rows]
    if not all(math.isfinite(x) for r in rows for x in r):
        return F.array(*[_lit_vec(r) for r in rows])
    return F.expr(
        "array("
        + ",".join("array(" + ",".join(f"{x!r}D" for x in r) + ")" for r in rows)
        + ")"
    )


def _lit_cube(cubes) -> "F.Column":
    """array<array<array<double>>> literal in one py4j call (see
    _lit_vec) — the m × k × dsub PQ codebook stack as a single plan
    literal, so expression factories can index it with F.get instead of
    duplicating one 2-D literal per subspace."""
    cubes = [[[float(x) for x in r] for r in cb] for cb in cubes]
    if not all(math.isfinite(x) for cb in cubes for r in cb for x in r):
        return F.array(*[_lit_mat(cb) for cb in cubes])
    return F.expr(
        "array("
        + ",".join(
            "array("
            + ",".join("array(" + ",".join(f"{x!r}D" for x in r) + ")" for r in cb)
            + ")"
            for cb in cubes
        )
        + ")"
    )


def _py_norm(v: list[float]) -> float:
    """Python replay of _norm() over a literal vector: left-fold double
    adds then sqrt — the exact IEEE sequence Catalyst's aggregate()
    performs, so folding a CONSTANT vector's norm at plan-build time is
    bit-identical to evaluating _norm(lit_array) per row."""
    acc = 0.0
    for x in v:
        acc += float(x) * float(x)
    return math.sqrt(acc)


def _usable(vec_col: str, dim: int | None = None, nonzero: bool = False):
    """THE usable-vector row predicate: a non-NULL vector with no NULL
    element, plus exactly `dim` elements when `dim` is given, plus a
    nonzero norm when `nonzero`. Degenerate rows must be EXCLUDED before
    any distance: zip_with pads a short vector with NULLs, so every dot
    product and subspace L2² goes NULL, and array_sort puts NULL struct
    fields FIRST. A degenerate item would silently take cell/code 0 in
    every subspace, a wrong-dim SRP vector would land in bucket 0 of
    every band, and a degenerate QUERY would rank k arbitrary neighbors
    with a NULL score (first under an ascending rank). Centroid samples
    also need `nonzero`: a zero-norm centroid gives every item a NULL
    cosine distance, which sorts first and would swallow the whole
    corpus into one cell."""
    v = F.col(vec_col)
    ok = v.isNotNull() & ~F.array_contains(F.transform(v, lambda x: x.isNull()), True)
    if dim is not None:
        ok = ok & (F.size(vec_col) == dim)
    if nonzero:
        ok = ok & (_norm(v) > 0)
    return ok


def _rcos(va: str, vb: str, na: str, nb: str, round_to: int):
    """The rounded-cosine score of a candidate pair: cosine_pre over two
    vector columns and their precomputed norm columns, rounded to
    `round_to` places — the form every oracle replays."""
    return F.round(cosine_pre(_dot(F.col(va), F.col(vb)), F.col(na), F.col(nb)), round_to)


def _cos_cols(side: str, v):
    """A cosine side's columns: `<side>_vec` and its norm `<side>_nrm`.
    The norm is a per-ROW column computed upstream of the join, so the
    per-pair rerank is ONE zip_with pass instead of five array
    aggregates (cosine() would re-derive each norm twice per pair)."""
    return [v.alias(f"{side}_vec"), _norm(v).alias(f"{side}_nrm")]


def _cosine_codec(v, round_to: int):
    """Exact-cosine codec of brute_force_topk, srp_lsh_topk and ivf_topk:
    (item columns, query columns, score, ascending)."""
    score = _rcos("q_vec", "n_vec", "q_nrm", "n_nrm", round_to).alias("cosine_sim")
    return _cos_cols("n", v), _cos_cols("q", v), score, False


# The top-k skeleton — REPOSE's partition, prune, local top-k, merge.
# Every tier supplies only a codec: its item columns, its query
# columns, its score and the score's direction. The IVF tiers add cells
# (_cell_exprs); SRP swaps the broadcast candidate join for band buckets.


def _not_self():
    """A pair of a query with itself is never a candidate."""
    return F.col("q_id") != F.col("n_id")


def _sides(
    items: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int | None,
    n_cols: list,
    q_cols: list,
    spread: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Item rows (n_id, *n_cols) and query rows (q_id, *q_cols). A tier
    that takes `dim` keeps only usable vectors (_usable) on both sides.
    The item scan is spread when undersplit: a codec's per-row encode is
    far heavier than the scan itself (_spread_if_undersplit)."""
    if dim is not None:
        items = items.filter(_usable(vec_col, dim))
        queries = queries.filter(_usable(vec_col, dim))
    if spread:
        items = _spread_if_undersplit(items)
    return (
        items.select(F.col(id_col).alias("n_id"), *n_cols),
        queries.select(F.col(id_col).alias("q_id"), *q_cols),
    )


def _candidates(
    items: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int | None,
    codec: tuple,
    cells: tuple | None = None,
    n_probe: int | None = None,
) -> DataFrame:
    """Candidate pairs of the broadcast tiers, minus self-pairs. A flat
    tier pairs every item with every broadcast query (one nested-loop
    pass, never |Q|x|N| cartesian partitions). An IVF tier is its flat
    codec plus cells (_cell_exprs): the item's assigned cell and the
    query's n_probe probed cells, joined on the cell, so each query
    scans n_probe/n_cells of the corpus. The probe array is computed
    once per query row and exploded after (_explode_probes), so
    per-query codec columns are not recomputed per probe."""
    n_cols, q_cols = codec[:2]
    if cells is not None:
        cell, probes = cells
        v = F.col(vec_col)
        n_cols = [*n_cols, cell(v).alias("cell")]
        q_cols = [*q_cols, probes(v, n_probe).alias("_cells")]
    n, q = _sides(items, queries, id_col, vec_col, dim, n_cols, q_cols)
    if cells is None:
        pairs = n.crossJoin(F.broadcast(q))
    else:
        pairs = n.join(F.broadcast(_explode_probes(q)), "cell")
    return pairs.filter(_not_self())


def _pairs(score, *carry) -> list:
    """A scored candidate: (query_id, neighbor_id, score, *carry)."""
    return [F.col("q_id").alias("query_id"), F.col("n_id").alias("neighbor_id"), score, *carry]


def _rank_topk(scored: DataFrame, score: str, k: int, ascending: bool) -> DataFrame:
    """The one per-query top-k: a row-number window over query_id,
    ordered by (score, neighbor_id) so ties break deterministically. A
    window on purpose: Spark pushes `rank <= k` into a Partial
    WindowGroupLimit below the query_id exchange, which then ships at
    most k rows per (query, partition)."""
    order = F.asc(score) if ascending else F.desc(score)
    w = W.partitionBy("query_id").orderBy(order, F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _topk(
    items: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int | None,
    k: int,
    codec: tuple,
    cells: tuple | None = None,
    n_probe: int | None = None,
) -> DataFrame:
    """Candidates → codec score → per-query top-k: the whole body of
    every broadcast tier. Returns (query_id, neighbor_id, score, rank)."""
    cand = _candidates(items, queries, id_col, vec_col, dim, codec, cells, n_probe)
    scored = cand.select(*_pairs(codec[2]))
    return _rank_topk(scored, scored.columns[-1], k, codec[3])


def brute_force_topk(
    items: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Exact cosine top-k: every query against every item (minus self).

    Returns (query_id, neighbor_id, cosine_sim, rank). Rank order is
    deterministic: (rounded sim desc, neighbor id asc).

    Scale: the crossJoin is O(|Q|·|N|) — correct baseline for evaluation
    sets (small |Q|); broadcast the query side. For corpus-scale ANN use
    srp_lsh_topk.
    """
    codec = _cosine_codec(F.col(vec_col), round_to)
    return _topk(items, queries, id_col, vec_col, None, k, codec)


def embedding_near_dup_pairs(
    items: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exact: bool = False,
    dim: int | None = None,
    num_planes: int = 16,
    bands: int = 4,
    seed: int = 42,
    round_to: int = 6,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a < id_b, cosine_sim ≥
    threshold) — the vector-space sibling of the text near-dup family
    (MinHash/SimHash in operators/dedup.py).

    exact=True is the all-pairs baseline (O(n²)/2 — for bounded inputs
    and oracle checks). Default is the corpus-scale shape: SRP band-bucket
    self-join generates candidates (∝ true near-dups, since a pair at
    cosine ≥ 0.95 collides in ≥1 of the 4-bit bands with high
    probability), exact cosine reranks candidates only. Same banding as
    srp_lsh_topk; signature table persistable + bucketed at 100 TB.

    `dim` MUST match the embedding dimension for the banded path: a
    wrong dim nulls every SRP dot product (zip_with pads with nulls),
    every row falls to bucket 0, and the join silently degenerates to
    all-pairs — so it is required rather than defaulted."""
    if exact:
        rows = items.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("vec"),
            _norm(F.col(vec_col)).alias("_nrm"),
        )
    else:
        if dim is None:
            raise ValueError(
                "embedding_near_dup_pairs: pass dim= matching the "
                "embedding dimension for the banded path (a mismatched "
                "dim silently degrades banding to a single bucket)"
            )
        bucket = _bit_bands("sig", num_planes, bands, "SRP banding")
        # norm computed once per VECTOR (before the band explode — the
        # exploded copies carry the scalar along); the rerank below is
        # then a single zip_with per candidate pair. Checkpoint: the
        # signature build (num_planes projection dots) would otherwise
        # derive once per self-join side.
        sig = (
            srp_signature(items, dim, num_planes, id_col, vec_col, seed)
            .withColumn("_nrm", _norm(F.col("vec")))
            .localCheckpoint(eager=False)
        )
        rows = _bands(sig, bands, bucket, "id", "vec", "_nrm")
    a, b = rows.alias("a"), rows.alias("b")
    keep = F.col("a.id") < F.col("b.id")
    cols = [
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        _rcos("a.vec", "b.vec", "a._nrm", "b._nrm", round_to).alias("cosine_sim"),
    ]
    if exact:
        # bounded-input baseline: broadcast the right side so the pair
        # frame is one nested-loop pass, not |a|x|b| cartesian partitions
        pairs = a.crossJoin(F.broadcast(b)).filter(keep).select(*cols)
    else:
        pairs = _band_pairs(a, b, keep, cols)
    return pairs.filter(F.col("cosine_sim") >= threshold)


def _hyperplanes(dim: int, num: int, seed: int = 42) -> list[list[float]]:
    rng = random.Random(seed)
    return [
        [rng.gauss(0.0, 1.0) for _ in range(dim)]
        for _ in range(num)
    ]


def srp_signature(
    df: DataFrame,
    dim: int,
    num_planes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Signed-random-projection bit signature per vector: (id, vec, sig).

    sig bit i = sign(v · h_i); cos(θ) ≈ cos(π · hamming/num_planes).
    Hyperplanes are literal arrays compiled into the plan (no broadcast
    variable needed; num_planes×dim doubles is tiny).
    """
    v = F.col(vec_col)
    return df.select(
        F.col(id_col).alias("id"), v.alias("vec"), _srp_sig(v, dim, num_planes, seed).alias("sig")
    )


def _srp_sig(v, dim: int, num_planes: int, seed: int):
    """The packed SRP signature of vector column `v` (srp_signature)."""
    planes = _hyperplanes(dim, num_planes, seed)
    # ONE transform over a 2-D plane literal instead of num_planes
    # separate dot expressions: building each zip_with/aggregate lambda
    # costs ~20ms of py4j round trips, so 16 planes × 2 call sites was
    # ~0.6s of driver-side plan-BUILD time per query. The fold adds the
    # bit weights left-to-right in plane order — the identical long
    # arithmetic (and identical sig values) as the old per-bit sum.
    p2d = _lit_mat(planes)
    pow2 = _lit_longs(1 << i for i in range(num_planes))
    return F.aggregate(
        F.transform(
            p2d,
            lambda h, i: F.when(_dot(v, h) >= 0, F.get(pow2, i)).otherwise(
                F.lit(0).cast("long")
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def srp_lsh_topk(
    items: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    num_planes: int = 16,
    bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    round_to: int = 6,
) -> DataFrame:
    """Approximate cosine top-k: SRP signatures → band-bucket join for
    candidates → exact cosine rerank of candidates only.

    The 100 TB shape: items hashed once (persist the signature table,
    bucketed by (band, bucket)); each query probes its own buckets — the
    item side never cross-joins.
    """
    bucket = _bit_bands("sig", num_planes, bands, "SRP banding")
    v = F.col(vec_col)
    sig = _srp_sig(v, dim, num_planes, seed).alias("sig")
    n_cols, q_cols, score, ascending = _cosine_codec(v, round_to)
    # deliberately NOT spread (spread=False): the SRP signature is one
    # fold over num_planes dots — cheap enough that the gated A/B
    # measured the spread's exchange as a net loss (1.19×) on this
    # operator, unlike the PQ/SQ8 encode scans
    n, q = _sides(
        items, queries, id_col, vec_col, dim, [*n_cols, sig], [*q_cols, sig], spread=False
    )
    pairs = _band_pairs(
        _bands(n, bands, bucket, "n_id", "n_vec", "n_nrm"),
        _bands(q, bands, bucket, "q_id", "q_vec", "q_nrm"),
        _not_self(),
        _pairs(score),
    )
    return _rank_topk(pairs, "cosine_sim", k, ascending)


def _resolve_centroids(
    items: DataFrame,
    n_cells: int,
    id_col: str,
    vec_col: str,
    centroid_frac: float | None,
    centroids: list[list[float]] | None,
    dim: int | None = None,
) -> list[tuple[int, list[float]]]:
    """Shared coarse-centroid resolution for the cell-based operators
    (ivf_topk, semantic_dedup): explicit centroid list if given, else
    the deterministic md5-first sample (optionally pre-filtered by the
    hash-threshold scan — see ivf_topk's docstring for the proof that
    the filtered and unfiltered passes select identical rows).

    Operators that take `dim` pass it, and only `dim`-element vectors
    are sampled.  Without `dim`, sampled centroids of unequal length
    raise: a wrong-length centroid gives every item a NULL distance to
    it, which sorts first, and the whole corpus would fall into that
    one cell."""
    if centroids is not None:
        return [(i, [float(x) for x in c]) for i, c in enumerate(centroids)]
    # degenerate rows must not become centroids: a null vector/element
    # would hand the driver a None to iterate, and a zero-norm centroid
    # swallows the corpus (_usable)
    sel = items.select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec")
    ).filter(_usable(vec_col, dim, nonzero=True))
    cent_rows: list = []
    if centroid_frac is not None and 0.0 < centroid_frac < 1.0:
        h = portable_token_hash(F.col("cid").cast("string"))
        cent_rows = (
            sel.filter(h < F.lit(int(centroid_frac * (1 << 60))))
            .orderBy(F.md5(F.col("cid").cast("string")))
            .limit(n_cells)
            .collect()
        )
    if len(cent_rows) < n_cells:
        cent_rows = (
            sel.orderBy(F.md5(F.col("cid").cast("string")))
            .limit(n_cells)
            .collect()
        )
    lengths = sorted({len(r["cvec"]) for r in cent_rows})
    if len(lengths) > 1:
        raise ValueError(
            f"sampled centroids have unequal lengths {lengths}: the items "
            f"table mixes vector dimensions; pass `dim` (or filter the "
            f"items) so only full-dimension vectors are sampled"
        )
    return [(i, [float(x) for x in r["cvec"]]) for i, r in enumerate(cent_rows)]


def _ranked_cells_expr(cents: list[tuple[int, list[float]]], round_to: int):
    """Column-expression factory: cells sorted by (rounded cosine
    distance, index) against literal centroid arrays — a pure projection,
    no shuffle, no Python.

    Per-row cost is n_cells zip_with dot products and ONE row-norm:
    centroid norms are constant-folded to literals at plan-build time
    (_py_norm replays the identical IEEE fold, so the distances are
    bit-identical to the inline form the oracles replay), and the row
    norm is bound ONCE via a single-element transform() lambda — a
    precomputed norm COLUMN is not enough here, because CollapseProject
    inlines the producing projection into the n_cells consuming
    expressions and silently re-evaluates it per cell; a lambda-bound
    variable cannot be duplicated by any rewrite. The naive inline
    cosine() costs ~5·n_cells array passes per row — at 16 cells that
    is an 80x vs 17x difference in interpreted higher-order-function
    work (tests pin the plan's aggregate() count).

    Build cost matters too: the distances come from ONE transform over
    a 2-D centroid literal, not n_cells separate dot expressions — each
    zip_with/aggregate lambda costs ~20ms of py4j round trips to
    construct, so 16 per side was ~0.5s of driver-side plan-build time
    per invocation. Values are unchanged: the lambda binds the same
    literal centroid row, the same dot fold, and the same indexed
    centroid-norm literal the per-cell form used."""
    if not cents:
        raise ValueError(
            "no usable centroids: the items table has no non-degenerate "
            "vectors (every row is null, has null elements, or is zero-norm)"
        )
    mat = _lit_mat([cv for _, cv in cents])
    cns = _lit_vec([_py_norm(cv) for _, cv in cents])
    # _resolve_centroids always numbers cells 0..n-1; the transform
    # index replays exactly that numbering
    assert [i for i, _ in cents] == list(range(len(cents)))

    def ranked_cells(v):
        def entries(nv):
            return F.array_sort(
                F.transform(
                    mat,
                    lambda c, i: F.struct(
                        F.round(
                            F.lit(1.0) - cosine_pre(_dot(v, c), nv, F.get(cns, i)),
                            round_to,
                        ).alias("d"),
                        i.alias("i"),
                    ),
                )
            )

        return F.transform(F.array(_norm(v)), entries)[0]

    return ranked_cells


def _cell_exprs(cents: list[tuple[int, list[float]]], round_to: int):
    """(cell(v), probes(v, n_probe)) over _ranked_cells_expr: an item's
    assigned cell (its nearest centroid) and a query's n_probe nearest
    cell entries, which _explode_probes turns into one row per probed
    cell. The one definition of both, for the IVF tiers, semantic_dedup,
    semantic_store and both semantic ingest gates."""
    ranked_cells = _ranked_cells_expr(cents, round_to)

    def cell(v):
        return ranked_cells(v)[0]["i"]

    def probes(v, n_probe: int):
        return F.slice(ranked_cells(v), 1, n_probe)

    return cell, probes


def _explode_probes(df: DataFrame, outer: bool = False) -> DataFrame:
    """Replace the `_cells` probe entries (a projected column, so each
    query's ranked cells are computed once per row) with one row per
    probed `cell`. The explode reads an expression, not a bare column:
    over a bare column Spark infers a size(...) > 0 filter and pushes it
    below the projection, computing the ranked cells twice per row."""
    explode = F.explode_outer if outer else F.explode
    cells = explode(F.transform("_cells", lambda x: x["i"])).alias("cell")
    return df.select(*[c for c in df.columns if c != "_cells"], cells)


def semantic_dedup(
    items: DataFrame,
    tau: float = 0.7,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
    centroid_frac: float | None = None,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): coarse-
    cluster embeddings into `n_cells` cells, then within each cell flag
    every item whose cosine similarity to a LOWER-ID cell member is
    >= tau. Keepers are exactly the items with no tau-neighbor of
    smaller id in their cell — one survivor per tight semantic clump,
    deterministic regardless of partitioning.

    Returns (id, cell, is_dup, dup_of) with dup_of = the smallest
    same-cell tau-neighbor id below this one (which may itself be a
    dup — follow the chain for the clump root), or -1 for keepers.

    The 100 TB shape is SemDeDup's own: candidate pairs come only from
    within-cell self-joins, so the pair count is sum(|cell|^2) — bounded
    by growing n_cells with the corpus (the paper uses ~100k cells at
    100M docs; pass `centroids=ivf_train_centroids(...)` for trained
    cells). Cell assignment is a literal-array projection (no shuffle);
    the self-join shuffles once on the cell id. Default md5-sampled
    centroids keep the whole operator a pure function of the data —
    replayable by the DuckDB oracle."""
    cents = _resolve_centroids(items, n_cells, id_col, vec_col, centroid_frac, centroids)
    cell, _ = _cell_exprs(cents, round_to)
    # row norm once per row (cell assignment binds its own copy inside
    # the ranked-cells lambda; `_n` feeds the pair rerank)
    base = _spread_if_undersplit(items).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("_v"),
        _norm(F.col(vec_col)).alias("_n"),
    )
    cells = base.select(
        "id",
        "_v",
        "_n",
        cell(F.col("_v")).cast("long").alias("cell"),
    )
    # the assignment table feeds THREE consumers (both self-join sides
    # and the output join) and Spark shares no plan subtrees — without
    # this the corpus scan + n_cells cell distances run three times.
    # One materialized pass is the scale shape too: at 100 TB this is
    # the "persist the assignment bucketed by cell" step, here as a
    # lazy localCheckpoint (GC'd with the frame, no storage pinning).
    cells = cells.localCheckpoint(eager=False)
    a = cells.select(
        F.col("id").alias("id_a"), F.col("_v").alias("_va"), F.col("_n").alias("_na"), "cell"
    )
    b = cells.select(
        F.col("id").alias("id_b"), F.col("_v").alias("_vb"), F.col("_n").alias("_nb"), "cell"
    )
    dups = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(_rcos("_va", "_vb", "_na", "_nb", round_to) >= tau)
        .groupBy("id_b")
        .agg(F.min("id_a").alias("_dup_of"))
    )
    return (
        cells.select("id", "cell")
        .join(dups, cells.id == dups.id_b, "left")
        .select(
            "id",
            "cell",
            F.col("_dup_of").isNotNull().cast("int").alias("is_dup"),
            F.coalesce(F.col("_dup_of"), F.lit(-1)).cast("long").alias("dup_of"),
        )
    )


def ivf_train_centroids(
    items: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 20,
    sample_frac: float | None = None,
) -> list[list[float]]:
    """KMeans-trained IVF centroids — the production alternative to
    ivf_topk's deterministic md5 sample: tighter cells → fewer candidates
    per probe at the same recall. Seeded MLlib KMeans with cosine
    distance (matching the probe metric); `sample_frac` trains on a
    md5-hash-thresholded subset so the training pass reads a bounded
    slice of a 100 TB corpus. Returns a plain centroid list consumable
    by ivf_topk(centroids=...). KMeans is iterative/numeric — DuckDB
    cannot re-derive it — but the fit is exactly deterministic (seeded
    init over a canonical hash layout below), so the driver entry
    ss_ivf_trained_topk carries a frozen sf0.01 fixture oracle; recall
    is additionally pinned by tests."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    # degenerate rows crash cosine KMeans (zero-norm assertion) or null
    # out the feature vector — same hygiene filter _resolve_centroids
    # applies to the md5-sampled path
    d = items.filter(_usable(vec_col, nonzero=True))
    if sample_frac is not None and 0.0 < sample_frac < 1.0:
        h = portable_token_hash(F.col(id_col).cast("string"))
        d = d.filter(h < F.lit(int(sample_frac * (1 << 60))))
    # Canonical physical layout BEFORE the seeded fit: k-means|| init
    # draws per-partition randomness in row order, so without a fixed
    # hash layout the trained centroids silently depend on the input's
    # split count (core count, maxPartitionBytes) — the same hazard the
    # round-3 perturbation sweep caught in RF splits. 8 partitions is
    # sized for training SAMPLES (n_cells·thousands of rows), which is
    # what a 100 TB deployment feeds this via sample_frac.
    feats = (
        d.repartition(8, id_col)
        .sortWithinPartitions(id_col)
        .select(array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"))
    )
    km = KMeans(
        k=n_cells, seed=seed, maxIter=max_iter, distanceMeasure="cosine"
    ).fit(feats)
    return [[float(x) for x in c] for c in km.clusterCenters()]


def ivf_topk(
    items: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
    centroid_frac: float | None = None,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF-flat approximate cosine top-k: coarse-quantize items into
    `n_cells` cells (nearest centroid by cosine distance), probe each
    query against its `n_probe` nearest cells, exact-rerank candidates.

    Centroids are the `n_cells` md5-first item vectors — a deterministic
    sample, so cell assignment is a pure function of the data
    (partition-invariant, replayable by the DuckDB oracle). Pass
    `centroids=ivf_train_centroids(items, ...)` for seeded cosine-KMeans
    cells (tighter at the same plan shape): assignment and probing are
    centroid-agnostic.

    The 100 TB shape: centroid selection is an EAGER pass over the items
    table at operator-construction time — Catalyst turns orderBy+limit
    into TakeOrderedAndProject (per-partition top-n heaps merged on the
    driver, never a global shuffle-sort), but it still reads every row
    once. `centroid_frac` cuts that to a hash-thresholded subset: only
    rows with md5_60(id) < frac·2^60 are scanned, which provably
    contains the global md5-first n_cells whenever ≥ n_cells rows
    survive (md5_60 ordering is a prefix of full-md5 ordering); if fewer
    survive, the operator falls back to the unfiltered pass, so results
    are identical for any frac. Item assignment is then a single
    projection over literal centroid arrays (no shuffle, no Python) and
    persists bucketed by cell; each query scans n_probe/n_cells of the
    corpus instead of all of it.
    """
    cents = _resolve_centroids(items, n_cells, id_col, vec_col, centroid_frac, centroids, dim)
    cells = _cell_exprs(cents, round_to)
    codec = _cosine_codec(F.col(vec_col), round_to)
    return _topk(items, queries, id_col, vec_col, dim, k, codec, cells, n_probe)


# hard cap on driver-collected codebook size (doubles): 2^18 ≈ 2 MiB as
# a plan literal — see _pq_codebooks' bounded-collect contract
_PQ_CODEBOOK_MAX_FLOATS = 1 << 18


def _pq_codebooks(
    items: DataFrame,
    dim: int,
    m: int,
    k: int,
    id_col: str,
    vec_col: str,
) -> list[list[list[float]]]:
    """Per-subspace PQ codebooks from the md5-first `k` non-degenerate
    vectors (deterministic sample — the same oracle-replayable
    technique as ivf_topk's coarse centroids): codebook[s][c] is the
    s-th subvector of the c-th sampled vector.  One TakeOrdered pass
    over the items serves every subspace.

    Bounded-collect contract (same spirit as _resolve_centroids): the
    codebooks come back to the driver and re-enter the plan as a
    literal matrix, so `k * dim` is capped at _PQ_CODEBOOK_MAX_FLOATS
    (2^18 doubles ≈ 2 MiB of plan literal — generous for byte-code PQ,
    where k is 16-256).  A 16-bit-codebook caller (k=65536) gets this
    ValueError instead of a silent driver OOM + megabyte plan; codebooks
    that big belong in a join-side table, not a literal."""
    if dim % m != 0:
        raise ValueError(f"PQ: dim={dim} must be divisible by m={m}")
    if k * dim > _PQ_CODEBOOK_MAX_FLOATS:
        raise ValueError(
            f"PQ: codebook literal would hold k*dim = {k * dim} doubles "
            f"(> {_PQ_CODEBOOK_MAX_FLOATS}); driver-collected codebooks are "
            "bounded by construction — for codebooks this large, store them "
            "as a table and join instead of inlining plan literals"
        )
    dsub = dim // m
    sel = items.select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec")
    ).filter(_usable(vec_col, dim))
    rows = sel.orderBy(F.md5(F.col("cid").cast("string"))).limit(k).collect()
    if len(rows) < k:
        raise ValueError(
            f"PQ: needs at least k={k} usable vectors, got {len(rows)}"
        )
    return [
        [[float(x) for x in r["cvec"][s * dsub : (s + 1) * dsub]] for r in rows]
        for s in range(m)
    ]


def _pq_exprs(cbs: list[list[list[float]]], dsub: int, round_to: int):
    """The ONE definition of the PQ encode/table/ADC expressions, shared
    by pq_topk and ivf_pq_topk — both are replayed by DuckDB oracles
    that must stay bit-identical, so the rounding, tie-break, and
    lookup indexing live in exactly one place.  Returns
    (code_expr(v), dtable_expr(v), adc_expr()) where adc_expr reads the
    joined `codes`/`dtable` columns."""
    m = len(cbs)
    # ONE 3-D codebook literal indexed by the subspace lambda variable
    # (r12 optimization round, guide §1.2 step 2 / §7.3 plan-build cost):
    # the previous per-subspace form built m separate
    # zip_with+aggregate+transform trees, each costing ~3 py4j lambda
    # round trips AND embedding its own k × dsub literal — ~1.3 s of
    # driver-side plan build/analysis per pq_topk invocation at m=8
    # (profiled: executions summed to 1.4 s of a 2.7 s warm run). The
    # sequence(0, m-1) transform below is the identical arithmetic — the
    # same slice bounds, the same zip_with/aggregate fold, the same
    # round/tie-break — with the codebook literal appearing ONCE per
    # expression, so plan build is O(1) lambdas and every analyzer pass
    # walks the literals once instead of m times. Values are
    # bit-identical (pinned by the A/B equivalence test and the
    # unchanged DuckDB oracles).
    seq_m = F.sequence(F.lit(0), F.lit(m - 1))
    cb3 = _lit_cube(cbs)

    def l2sq(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double")) ** 2),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    def code_expr(v):
        # per subspace: argmin_{c} round(L2², 6), ties by index — the
        # same deterministic rule (and rounding) the oracles replay
        def percode(s):
            def entry(c, i):
                return F.struct(
                    F.round(
                        l2sq(F.slice(v, s * dsub + 1, dsub), c), round_to
                    ).alias("d"),
                    i.alias("i"),
                )

            return F.array_sort(F.transform(F.get(cb3, s), entry))[0]["i"].cast(
                "int"
            )

        return F.transform(seq_m, percode)

    def dtable_expr(v):
        # m × k lookup table, computed ONCE per query row
        def pertable(s):
            def entry(c):
                return F.round(l2sq(F.slice(v, s * dsub + 1, dsub), c), round_to)

            return F.transform(F.get(cb3, s), entry)

        return F.transform(seq_m, pertable)

    def adc_expr():
        # ADC distance: m table lookups per pair (F.get is 0-based,
        # matching the 0-based codes)
        return F.round(
            sum(
                F.get(F.get(F.col("dtable"), s), F.col("codes")[s])
                for s in range(m)
            ),
            round_to,
        )

    return code_expr, dtable_expr, adc_expr


def _pq_codec(
    items: DataFrame,
    dim: int,
    m: int,
    n_codes: int,
    id_col: str,
    vec_col: str,
    round_to: int,
    rerank: int | None = None,
):
    """PQ codec of pq_topk and ivf_pq_topk: items carry their m codes,
    queries their m × k ADC table, the score is the ADC distance
    (ascending). With `rerank`, both sides also carry the vector and its
    norm for the exact-cosine rerank."""
    cbs = _pq_codebooks(items, dim, m, n_codes, id_col, vec_col)
    code_expr, dtable_expr, adc_expr = _pq_exprs(cbs, dim // m, round_to)
    v = F.col(vec_col)
    exact = lambda side: _cos_cols(side, v) if rerank else []  # noqa: E731
    return (
        [*exact("n"), code_expr(v).alias("codes")],
        [*exact("q"), dtable_expr(v).alias("dtable")],
        adc_expr().alias("adc_dist"),
        True,
    )


def pq_topk(
    items: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    m: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
    rerank: int | None = None,
) -> DataFrame:
    """Product-quantization approximate top-k (Jégou et al. 2011) — the
    compressed-residency ANN path: items are encoded ONCE as `m` byte
    codes (argmin squared-L2 subspace centroid, 6dp-rounded distance +
    index tie-break), and each query probes with an ADC lookup table.

    The 100 TB shape is the whole point: the encoded table stores m
    SMALL INTS per vector instead of `dim` floats (64-d float32 → 8
    codes = 32x smaller), so a corpus that cannot hold its raw
    embeddings in memory scans codes instead.  Per (query, item) pair
    the distance is m array LOOKUPS into the query's precomputed m × k
    distance table — computed once per query row on the broadcast side —
    never a per-pair vector product; the only shuffle is the final
    per-query top-k window.  Codebooks are md5-first samples (pure
    function of the data → partition-invariant, DuckDB-replayable);
    swap in trained centroids the same way ivf_topk accepts them if
    recall needs tightening.

    `rerank=N` optionally re-scores the top-N ADC candidates per query
    with exact cosine before the final top-k (asymmetric distance keeps
    recall high enough that N of ~4k suffices; the rerank touches only
    N·|Q| vectors).  Returns (query_id, neighbor_id, adc_dist, rank) —
    or with rerank, (query_id, neighbor_id, cosine_sim, rank).

    This is the flat-PQ scan (every code row read per query batch);
    ivf_pq_topk is the FAISS-style IVFPQ composition that scans only the
    n_probe probed cells."""
    codec = _pq_codec(items, dim, m, n_codes, id_col, vec_col, round_to, rerank)
    if not rerank:
        return _topk(items, queries, id_col, vec_col, dim, k, codec)
    cand = _candidates(items, queries, id_col, vec_col, dim, codec)
    short = _rank_topk(
        cand.select(*_pairs(codec[2], "q_vec", "n_vec", "q_nrm", "n_nrm")),
        "adc_dist",
        rerank,
        True,
    )
    return _rank_topk(
        short.select(
            "query_id",
            "neighbor_id",
            _rcos("q_vec", "n_vec", "q_nrm", "n_nrm", round_to).alias("cosine_sim"),
        ),
        "cosine_sim",
        k,
        False,
    )


def ivf_pq_topk(
    items: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    m: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
    centroid_frac: float | None = None,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF-PQ approximate top-k — the composed FAISS-style production
    shape: coarse IVF cells bound WHICH items each query touches
    (n_probe/n_cells of the corpus), PQ codes bound WHAT is read per
    touched item (m small ints, 32x less than raw floats), and the
    per-pair distance is m ADC table lookups.  At 100 TB this is the
    only ANN regime where both the scan volume AND the residency are
    sublinear in the raw embedding bytes: persist (cell, codes) bucketed
    by cell and the raw vectors are never read at query time.

    Both halves reuse the verified building blocks unchanged — coarse
    cells from _resolve_centroids/_ranked_cells_expr (as ivf_topk),
    codebooks + ADC from the pq_topk machinery — so cell assignment,
    codes, and distances are all pure row functions over md5-sampled
    literals: partition-invariant and end-to-end DuckDB-replayable.
    Returns (query_id, neighbor_id, adc_dist, rank); ranking is by
    quantized distance (ties by id), as in pq_topk."""
    cents = _resolve_centroids(items, n_cells, id_col, vec_col, centroid_frac, centroids, dim)
    cells = _cell_exprs(cents, round_to)
    codec = _pq_codec(items, dim, m, n_codes, id_col, vec_col, round_to)
    return _topk(items, queries, id_col, vec_col, dim, k, codec, cells, n_probe)


def embedding_health(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    group_col: str | None = None,
    expected_dim: int | None = None,
) -> DataFrame:
    """Embedding-table hygiene report — run BEFORE building ANN indexes:
    per group (or globally), vector count, mean/min/max L2 norm, and the
    counts of degenerate rows that silently poison cosine search — null
    vectors, zero vectors (cosine undefined), and wrong-dimension rows
    (zip_with would pad with nulls).

    Pure Catalyst array expressions in one aggregation pass — a 100 TB
    embedding table is scanned once, no UDF, no shuffle beyond the final
    per-group reduce."""
    norm = _norm(F.col(vec_col))
    is_null = F.col(vec_col).isNull()
    is_zero = (~is_null) & (norm == 0.0)
    bad_dim = (
        F.lit(False)
        if expected_dim is None
        else (~is_null) & (F.size(vec_col) != expected_dim)
    )
    keys = [group_col] if group_col else []
    base = df.select(
        *keys,
        is_null.cast("int").alias("_null"),
        is_zero.cast("int").alias("_zero"),
        bad_dim.cast("int").alias("_bad_dim"),
        F.when(~is_null, norm).alias("_norm"),
    )
    agg = base.groupBy(*keys) if keys else base.groupBy()
    return agg.agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum("_null").alias("n_null"),
        F.sum("_zero").alias("n_zero"),
        F.sum("_bad_dim").alias("n_bad_dim"),
        F.round(F.avg("_norm"), 6).alias("mean_norm"),
        F.round(F.min("_norm"), 6).alias("min_norm"),
        F.round(F.max("_norm"), 6).alias("max_norm"),
    )


def _sq8_params(
    items: DataFrame, dim: int, vec_col: str
) -> tuple[list[float], list[float]]:
    """Per-dimension (min, step) for 8-bit scalar quantization, from
    ONE aggregation pass over the usable vectors.  2·dim doubles come
    back to the driver (bounded by construction — dim is a schema
    constant) and re-enter the plan as two array literals, the same
    bounded-collect contract as _resolve_centroids/_pq_codebooks.
    step = (max−min)/255; a constant dimension gets step 0 (its codes
    collapse to 0 and reconstruct to the constant)."""
    sel = items.filter(_usable(vec_col, dim))
    aggs = []
    for j in range(dim):
        x = F.col(vec_col)[j].cast("double")
        aggs.append(F.min(x).alias(f"_mn{j}"))
        aggs.append(F.max(x).alias(f"_mx{j}"))
    row = sel.agg(*aggs).first()
    if row is None or row["_mn0"] is None:
        raise ValueError("SQ8: no usable vectors to fit min/max")
    mins = [float(row[f"_mn{j}"]) for j in range(dim)]
    steps = [(float(row[f"_mx{j}"]) - mins[j]) / 255.0 for j in range(dim)]
    return mins, steps


def _sq8_codec(items: DataFrame, dim: int, vec_col: str, round_to: int):
    """SQ8 codec of sq8_topk and ivf_sq8_topk, over the fitted
    per-dimension grid: items carry their reconstruction, queries stay
    full-precision, the score is the asymmetric reconstructed L2²
    (ascending).
    code: round HALF_UP to the grid, clamped to [0, 255] (FP noise at
    the extremes can land a hair outside); constant dims → 0.
    recon: min_j + code_j·step_j."""
    mins, steps = _sq8_params(items, dim, vec_col)
    mins_l = _lit_vec(mins)
    steps_l = _lit_vec(steps)
    v = F.col(vec_col)
    codes = F.transform(
        v,
        lambda x, i: F.when(
            F.get(steps_l, i) > 0,
            F.least(
                F.lit(255),
                F.greatest(
                    F.lit(0),
                    F.round(
                        (x.cast("double") - F.get(mins_l, i)) / F.get(steps_l, i),
                        0,
                    ).cast("int"),
                ),
            ),
        ).otherwise(F.lit(0)),
    )
    recon = F.transform(
        codes, lambda c, i: F.get(mins_l, i) + c.cast("double") * F.get(steps_l, i)
    )
    l2sq = F.aggregate(
        F.zip_with(
            F.col("recon"),
            F.col("q_vec"),
            lambda x, y: (x - y.cast("double")) * (x - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, d: acc + d,
    )
    return [recon.alias("recon")], [v.alias("q_vec")], F.round(l2sq, round_to).alias("sq_dist"), True


def sq8_topk(
    items: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """8-bit scalar-quantization approximate top-k (FAISS SQ8) — the
    MID tier of the compression ladder: raw floats (1x) → SQ8 (4x,
    near-exact) → PQ codes (32x, coarser) → IVF-PQ (32x + sublinear
    scan).  Each item stores one uint8 per dimension: code_j =
    round((v_j − min_j)/step_j) against corpus-wide per-dimension
    min/step (one aggregation pass; plan literals, oracle-replayable).
    Search is ASYMMETRIC: the query stays full-precision, items
    reconstruct as min_j + code_j·step_j on the fly — one
    index-transform per scanned row, then an ordinary zip_with L2² per
    pair.  Quantization error is bounded by step/2 per dimension
    (uniform grid), so SQ8 ranking is near-exact wherever neighbors
    aren't step/2-close — unlike PQ there is no subspace coupling.

    At 100 TB: persist the code table (4x smaller residency and scan
    bytes than raw float32, 8x than float64); decode cost is linear in
    scanned rows, NOT pairs beyond the zip_with.  This is the flat
    exhaustive scan (every code row per query batch, broadcast
    nested-loop like pq_topk); ivf_sq8_topk adds IVF cells when the
    scan itself must be sublinear.

    Returns (query_id, neighbor_id, sq_dist, rank): L2² against the
    reconstructed items, rank asc (ties by neighbor id)."""
    codec = _sq8_codec(items, dim, vec_col, round_to)
    return _topk(items, queries, id_col, vec_col, dim, k, codec)


def ivf_sq8_topk(
    items: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
    centroid_frac: float | None = None,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF-SQ8 approximate top-k — the near-exact sibling of ivf_pq_topk,
    completing the tier matrix (flat/IVF × raw/SQ8/PQ): coarse IVF cells
    bound WHICH items each query touches (n_probe/n_cells of the
    corpus), SQ8 codes bound the BYTES per touched item to dim uint8s
    (4x vs float32), and the per-pair distance is the asymmetric
    reconstructed L2² (query full-precision).  Versus IVF-PQ this trades
    4x residency (instead of 32x) for per-dimension error ≤ step/2 with
    no subspace coupling — the right tier when recall matters more than
    the last 8x of compression.  At 100 TB: persist (cell, codes)
    bucketed by cell; raw vectors are never read at query time.

    Both halves reuse the verified building blocks unchanged — coarse
    cells from _resolve_centroids/_ranked_cells_expr (as ivf_topk),
    per-dimension grid + codes from the sq8_topk machinery — so cell
    assignment, codes, and distances are pure row functions over
    one-pass-fitted literals: partition-invariant and end-to-end
    DuckDB-replayable.  Probing all cells (n_probe == n_cells) makes
    the candidate set the whole corpus, i.e. exactly sq8_topk's flat
    scan — pinned as a parity test.  Returns (query_id, neighbor_id,
    sq_dist, rank); rank asc by quantized distance, ties by id."""
    cents = _resolve_centroids(items, n_cells, id_col, vec_col, centroid_frac, centroids, dim)
    cells = _cell_exprs(cents, round_to)
    codec = _sq8_codec(items, dim, vec_col, round_to)
    return _topk(items, queries, id_col, vec_col, dim, k, codec, cells, n_probe)


def sampled_centroids(
    df: DataFrame,
    n_cells: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    frac: float | None = None,
) -> list[list[float]]:
    """Public handle on the deterministic md5-first coarse-centroid
    sample (the derivational sibling of ivf_train_centroids): returns
    the raw centroid vectors so one resolution can be SHARED between
    semantic_store (which bakes cells into the persisted artifact) and
    every later semantic_ingest_dedup delta against it — the two sides
    must agree on the cell geometry or probes would miss."""
    return [
        cv for _, cv in _resolve_centroids(df, n_cells, id_col, vec_col, frac, None)
    ]


def semantic_store(
    df: DataFrame,
    dim: int,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
    centroid_frac: float | None = None,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """The persisted corpus artifact semantic ingest joins against:
    (id, cell, vec, norm) for every usable (full-dim, non-null) vector —
    IVF cell assignment over fixed centroids plus the precomputed L2
    norm, so ingest-time pair scoring is one zip_with per pair and the
    store's cell column is a PARTITION key.  At 100 TB write this
    `.write.partitionBy("cell")`: semantic_ingest_dedup's broadcast
    cell-probe join then triggers dynamic partition pruning and the
    store SCAN itself is bounded to the probed cells (~n_probe/n_cells
    of the corpus) — the vector twin of fingerprint_store's
    never-shuffle contract, with the scan bounded too.

    Pass the SAME centroids to semantic_ingest_dedup (or let both
    default to the md5-sampled resolve over this df's vectors)."""
    cents = _resolve_centroids(df, n_cells, id_col, vec_col, centroid_frac, centroids, dim)
    cell, _ = _cell_exprs(cents, round_to)
    return df.filter(_usable(vec_col, dim)).select(
        F.col(id_col).alias("id"),
        cell(F.col(vec_col)).alias("cell"),
        F.col(vec_col).alias("vec"),
        _norm(F.col(vec_col)).alias("norm"),
    )


def semantic_ingest_dedup(
    incoming: DataFrame,
    store: DataFrame,
    centroids: list[list[float]],
    dim: int,
    tau: float = 0.9,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Incremental SEMANTIC dedup of a delta batch against a persisted
    embedding store — the SemDeDup admission gate as a maintenance
    loop: each new crawl batch is screened against everything already
    accepted by cosine >= tau, without recomputing (or reshuffling) the
    corpus.  The store is semantic_store's output; `centroids` must be
    the ones the store was built with (they define its cells).

    Returns one row per incoming doc — the same one-row-per-doc
    contract as the exact (ingest_dedup) and lexical
    (minhash_ingest_dedup) gates, so the three admission decisions
    union cleanly: (id, status ∈ {'dup_semantic', 'new', 'unusable'},
    match_id, cosine).  match = the store's highest-cosine neighbor
    among the probed cells (ties: smallest store id), reported for
    'new' rows too (it is the evidence for tuning tau); NULL when no
    probed cell held any store row.  Docs whose embedding fails the
    usability predicate (NULL vector, NULL element, wrong dim) are NOT
    silently dropped: they get status 'unusable' with NULL
    match/cosine — a malformed-embedding doc must surface in the
    admission log, not vanish from it.

    Scale shape — the store NEVER shuffles and (partitioned by cell)
    is never fully scanned: the delta explodes to n_probe (cell, query)
    probes and broadcasts onto the store's cell column — one
    BroadcastHashJoin keyed on the partition column, so dynamic
    partition pruning limits the scan to the probed cells; per-pair
    work is one zip_with (both norms precomputed); the only exchange
    is the delta-sized per-doc max aggregation (map-side combined).
    Plan-guarded in test_plan_shapes."""
    _, probes = _cell_exprs(list(enumerate(centroids)), round_to)
    # NO checkpoint here, deliberately: a localCheckpoint would replace
    # the delta's filtered scan with a LogicalRDD and erase the
    # selective predicate dynamic partition pruning needs to see on the
    # probe side — the store-side scan pruning (the operator's core
    # scale property) would silently vanish.  The delta subtree is a
    # pushdown-filtered scan; computing it twice (probes + final
    # rejoin) is noise next to that.
    delta = incoming.filter(_usable(vec_col, dim)).select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_vec"),
        _norm(F.col(vec_col)).alias("q_norm"),
        probes(F.col(vec_col), n_probe).alias("_cells"),
    )
    pairs = store.join(F.broadcast(_explode_probes(delta)), "cell").select(
        "q_id",
        F.col("id").alias("match_id"),
        _rcos("q_vec", "vec", "q_norm", "norm", round_to).alias("cosine"),
    ).filter(F.col("cosine").isNotNull())
    # the NULL filter is load-bearing twice over: cosine is undefined
    # against zero-norm rows (either side), and a NULL first field would
    # sort FIRST in min_by's struct comparison — a degenerate store row
    # would otherwise hijack every match_id while max(cosine) ignored it
    # per-delta-doc best match: max cosine, ties to the smallest store
    # id — a map-side-combined aggregation, not a window (the exchange
    # ships one partial row per (q_id, partition), never the pair table)
    best = pairs.groupBy("q_id").agg(
        F.max("cosine").alias("cosine"),
        F.min_by(
            "match_id",
            F.struct((-F.col("cosine")).alias("nc"), F.col("match_id").alias("mid")),
        ).alias("match_id"),
    )
    # rejoin over ALL incoming ids (not the usable delta): unusable docs
    # produced no probes, so `best` has no row for them and the left
    # join leaves match/cosine NULL — the _usable flag routes them to a
    # distinct status instead of a false 'new' admission
    base = incoming.select(
        F.col(id_col).alias("q_id"),
        _usable(vec_col, dim).alias("_usable"),
    )
    return (
        base.join(F.broadcast(best), "q_id", "left")
        .select(
            F.col("q_id").alias("id"),
            F.when(~F.col("_usable"), F.lit("unusable"))
            .when(F.col("cosine") >= tau, F.lit("dup_semantic"))
            .otherwise(F.lit("new"))
            .alias("status"),
            "match_id",
            "cosine",
        )
    )
