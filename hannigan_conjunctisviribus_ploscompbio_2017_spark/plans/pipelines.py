"""End-to-end analysis pipelines (SURVEY §3 — the reference's entry
points as single Catalyst DAGs).

Entry point A (bin/interpersonaldiversity.R in /root/reference): the
reference splits this across Neo4j (Cypher over REST) and single-threaded
R; here it is one Spark job graph from the edge tables to the final
statistics table, and only the final small stats frame ever reaches the
driver.  Tables that more than one later stage or caller reads (the
normalized edge table, the rarefied abundances, the kernel's static
graph, the labelled Bray-Curtis distances, compare_twins' input and
merged importance) are materialized once, so no stage recomputes the
Q5 join, the rarefaction draw or the distances.

The two interpersonal-diversity entry points (interpersonal_diversity
and compare_skin) share one per-sample network stage, _sample_networks,
and one pair-stats table, _pair_stats.  Stage trace (reference line
cites, bin/interpersonaldiversity.R; bin/CompareSkin.R in brackets):
 1. Q5 sample-network join (:18-36) [F4 composite key :92,123-129]
 2. length-normalize abundances — F6 (:41-42)
 3. anti-filter removal list — P8 (:49-53)
 4. rarefaction depth — A7: min per-sample total (:56-57)
    [5th percentile :55-59]
 5. seeded per-sample rarefaction — M1 (:60-76) [:63-117]
 6. log10 edge weight — F7 (:78) [:142]
 7. per-sample eigenvector centrality — G6, ALL samples jointly
    (:98-114) [+ eigenvector and degree centralization :175-189]
 8. sample×node centrality matrix — R2 (:116-120)
 9. Bray-Curtis sample distances — M2 (:122) [:292-302]
10. intra/inter-class labeling — F8 (:130) + grouped means (:132-147)
    [F5 dim recovery + intra/inter-patient :144-148]
Stages 1-3 and 10 are each pipeline's own; 4-9 are _sample_networks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hannigan_conjunctisviribus_ploscompbio_2017_spark.functions.scalar import edge_weight, length_normalize
from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.kernels import _checkpoint, eigenvector_centrality
from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.relational import (
    anti_filter,
    rarefaction_depth,
)
from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.stats import bray_curtis, rarefy


def _sample_networks(
    e: DataFrame, key: str, quantile: float | None, seed: int, eigen_iter: int
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame, DataFrame]:
    """Stages 4-9 for edges (key, phage, host, phage_abundance,
    host_abundance, ...): rarefy each `key`'s phage abundances to the
    A7 depth (the min per-key total, or its `quantile`), weight the
    edges by log10 co-abundance, run eigenvector centrality on every
    per-key subgraph jointly and take Bray-Curtis between keys.

    Returns (e, rarefied, weighted, centrality, distances): `e` and
    `rarefied` materialized, `weighted` and `centrality` lazy over
    checkpoints, `distances` the lazy unlabelled (sample_a, sample_b,
    bray_curtis) frame."""
    # e feeds the abundances, the weighted join and the caller's labels:
    # materialize it once, or each branch recomputes the whole upstream
    # (the Q5 join)
    e = _checkpoint(e)
    # deterministic canonical abundance per (key, phage): the edge
    # expansion repeats the phage row once per host, and dropDuplicates
    # would keep whichever copy the shuffle ordered first — if copies
    # ever disagree, the rarefaction draw would silently depend on
    # partition layout (this made compare_skin drift 2.5e-05 between
    # 12- and 32-core sessions)
    ab = e.groupBy(key, "phage").agg(
        F.max("phage_abundance").alias("phage_abundance")
    # ab feeds BOTH the depth aggregate and the draw, and Catalyst does
    # not dedupe the subtree — dedup it or the whole upstream edge
    # expansion re-runs inside the broadcast depth branch (measured
    # 1.32x on the m1_rarefaction twin of this exact shape); values
    # are unchanged, the draw depends only on (seed, key, items)
    ).localCheckpoint(eager=False)
    # A7 depth stays IN the plan: the 1-row aggregate is broadcast into
    # the rarefaction — no driver-side collect between the stages;
    # rarefy truncates a percentile depth to a long
    depth_df = rarefaction_depth(ab, key, "phage_abundance", quantile=quantile)
    # rarefy (the Arrow hypergeometric draw), not rarefy_hash: the
    # pipelines' frozen oracles pin the numpy draw REALIZATION.
    # Materialized once: the weighted join, degree centralization and
    # callers all read it
    rarefied = _checkpoint(
        rarefy(ab, key, "phage", "phage_abundance", depth=depth_df, seed=seed)
    )
    # F7: join the rarefied phage abundance back to the host side of
    # each edge
    weighted = (
        e.select(key, "phage", "host", "host_abundance")
        .join(rarefied, [key, "phage"])
        .withColumn(
            "weight",
            edge_weight(F.col("phage_abundance") + 1, F.col("host_abundance") + 1),
        )
        .select(key, F.col("phage").alias("src"), F.col("host").alias("dst"), "weight")
    )
    centrality = eigenvector_centrality(
        weighted, group_cols=[key], weight_col="weight", max_iter=eigen_iter
    )
    # R2+M2: bray_curtis consumes the long form directly — the pivot
    # matrix is implicit (sparse), never materialized densely
    distances = bray_curtis(centrality, key, "node", "centrality")
    return e, rarefied, weighted, centrality, distances


def _pair_stats(distances: DataFrame, by: list[str]) -> DataFrame:
    """Mean, sd and count of the Bray-Curtis distances per `by` class."""
    return distances.groupBy(*by).agg(
        F.round(F.avg("bray_curtis"), 6).alias("mean_distance"),
        F.round(F.stddev_pop("bray_curtis"), 6).alias("sd_distance"),
        F.count(F.lit(1)).alias("n_pairs"),
    )


def interpersonal_diversity(
    sample_edges: DataFrame,
    node_lengths: DataFrame | None = None,
    removal_list: DataFrame | None = None,
    sample_class: DataFrame | None = None,
    seed: int = 42,
    eigen_iter: int = 12,
) -> dict[str, DataFrame]:
    """The full interpersonal-diversity analysis.

    Inputs:
      sample_edges: (sample, phage, host, phage_abundance, host_abundance)
                    — the Q5 output (plans.queries.q5_sample_network or a
                    testdata instantiation).
      node_lengths: optional (id, length) for F6 normalization.
      removal_list: optional (phage,) anti-filter list.
      sample_class: optional (sample, cls) grouping for the final stats.

    Returns a dict of DataFrames.  `rarefied` and `distances` are
    materialized (checkpoints): `stats` and every caller read
    `distances`, and a lazy one would recompute the centrality
    read-back and the Bray-Curtis join for each.  The others are lazy
    over checkpoints:
      rarefied   — per (sample, phage) rarefied abundances
      centrality — per (sample, node) eigenvector centrality
      distances  — per (sample_a, sample_b) Bray-Curtis + class label
      stats      — per class-pair mean/stddev distance
    """
    e = sample_edges
    # 2. length-normalize BOTH abundances (F6 —
    # interpersonaldiversity.R:41-42 corrects PhageAbundance AND
    # BacteriaAbundance; one-sided normalization would skew every edge
    # weight against the paper)
    if node_lengths is not None:
        ln_p = node_lengths.select(F.col("id").alias("phage"), F.col("length").alias("_pl"))
        ln_h = node_lengths.select(F.col("id").alias("host"), F.col("length").alias("_hl"))
        e = (
            e.join(F.broadcast(ln_p), "phage", "left")
            .join(F.broadcast(ln_h), "host", "left")
            .withColumn(
                "phage_abundance",
                length_normalize("phage_abundance", F.coalesce("_pl", F.lit(1000)))
                .cast("long"),
            )
            .withColumn(
                "host_abundance",
                length_normalize("host_abundance", F.coalesce("_hl", F.lit(1000)))
                .cast("long"),
            )
            .drop("_pl", "_hl")
        )
    # 3. anti-filter (P8)
    if removal_list is not None:
        e = anti_filter(e, removal_list, "phage")

    _, rarefied, _, centrality, distances = _sample_networks(
        e, "sample", None, seed, eigen_iter
    )

    # 10. class labeling + grouped stats (F8 + A2)
    by = []
    if sample_class is not None:
        ca = sample_class.select(F.col("sample").alias("sample_a"), F.col("cls").alias("_ca"))
        cb = sample_class.select(F.col("sample").alias("sample_b"), F.col("cls").alias("_cb"))
        distances = (
            distances.join(F.broadcast(ca), "sample_a")
            .join(F.broadcast(cb), "sample_b")
            .withColumn(
                "pair_class",
                F.when(F.col("_ca") == F.col("_cb"), "intra").otherwise("inter"),
            )
            .drop("_ca", "_cb")
        )
        by = ["pair_class"]
    distances = _checkpoint(distances)
    return {
        "rarefied": rarefied,
        "centrality": centrality,
        "distances": distances,
        "stats": _pair_stats(distances, by),
    }


def compare_skin(
    site_edges: DataFrame,
    seed: int = 42,
    eigen_iter: int = 12,
) -> dict[str, DataFrame]:
    """Entry point: bin/CompareSkin.R (:21-423 in /root/reference) — the
    multi-site interpersonal comparison.

    Input: (patient, location, timepoint, phage, host, phage_abundance,
    host_abundance) — the Q5 output with skin-site dims.

    Stages (the module's trace, bracketed cites): F4 composite key
    patient__location__timepoint, then _sample_networks with the A7
    5th-percentile depth, eigenvector and degree centralization per key,
    and F5 dim recovery (a broadcast skey→dims map, separator-safe) +
    F8 intra/inter-patient class.

    Returns a dict: `distances` materialized (`stats` and callers read
    it), `centrality`, `centralization` and `stats` lazy over
    checkpoints.
    """
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.kernels import centralization, degrees

    e, _, weighted, cent, distances = _sample_networks(
        site_edges.withColumn("skey", F.concat_ws("__", "patient", "location", "timepoint")),
        "skey",
        0.05,
        seed,
        eigen_iter,
    )
    eig_cz = centralization(cent, "centrality", group_cols=["skey"]).withColumn(
        "measure", F.lit("eigenvector")
    )
    deg = degrees(weighted, group_cols=["skey"]).withColumn(
        "degree", F.col("degree").cast("double")
    )
    deg_cz = centralization(deg, "degree", group_cols=["skey"]).withColumn(
        "measure", F.lit("degree")
    )

    # Recover the dims by joining the distinct skey→(patient, location)
    # map back — NOT by re-splitting the composite key, which silently
    # mis-parses any dimension value containing the separator.
    dims = e.select("skey", "patient", "location").distinct()
    da = F.broadcast(
        dims.select(
            F.col("skey").alias("sample_a"),
            F.col("patient").alias("patient_a"),
            F.col("location").alias("location_a"),
        )
    )
    db = F.broadcast(
        dims.select(
            F.col("skey").alias("sample_b"),
            F.col("patient").alias("patient_b"),
            F.col("location").alias("location_b"),
        )
    )
    distances = _checkpoint(
        distances.join(da, "sample_a")
        .join(db, "sample_b")
        .withColumn(
            "pair_class",
            F.when(F.col("patient_a") == F.col("patient_b"), "intra_patient")
            .otherwise("inter_patient"),
        )
    )
    return {
        "centrality": cent,
        "centralization": eig_cz.unionByName(deg_cz),
        "distances": distances,
        "stats": _pair_stats(distances, ["pair_class"]),
    }


def altered_diet(
    diet_edges: DataFrame,
    fractions: tuple[float, ...] = (1.0, 0.9, 0.7),
    max_depth: int = 8,
    eigen_iter: int = 10,
    landmarks: int = 32,
    seed: int = 42,
) -> dict[str, DataFrame]:
    """Entry point: bin/alteredDiet.R (:22-204; NetSwan robustness :5) —
    per-diet-group network stats under progressive edge removal.

    Input: (diet, src, dst, weight). For each retention fraction:
    per-group node/edge counts, diameter/radius (G2 BFS from `landmarks`
    md5-first roots per group — deterministic sampling; diameter is a
    lower bound, radius an upper bound, and BFS cost stays
    O(landmarks·V) at any scale), eigenvector centralization (G6), mean
    degree — unioned into one robustness frame (fraction 1.0 row = the
    undegraded bin/alteredDiet.R stats).

    Edge removal uses the hash-filter sample (kernels.sample_edges), so
    every fraction's subgraph is deterministic and partition-invariant.
    """
    from pyspark.sql import Window as W

    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.kernels import (
        bfs_distances,
        centralization,
        degrees,
        diameter_radius,
        graph_size,
        sample_edges,
        symmetrize,
    )

    # the edge frame feeds four consumers per fraction (sizes, roots,
    # BFS, centrality) across len(fractions) subgraphs, in many jobs —
    # materialize the caller's upstream plan once; each fraction's
    # hash-filter subgraph then reads the checkpointed rows
    diet_edges = _checkpoint(diet_edges)
    out = None
    for frac in fractions:
        sub = diet_edges if frac >= 1.0 else sample_edges(diet_edges, frac, seed)
        sz = graph_size(sub, ["diet"])
        roots = (
            symmetrize(sub.select("diet", "src", "dst"), ["diet"])
            .select("diet", F.col("src").alias("root"))
            .distinct()
            .withColumn(
                "_rn",
                F.row_number().over(W.partitionBy("diet").orderBy(F.md5("root"))),
            )
            .filter(F.col("_rn") <= landmarks)
            .drop("_rn")
        )
        dists = bfs_distances(
            sub.select("diet", "src", "dst"),
            group_cols=["diet"],
            sources=roots,
            max_depth=max_depth,
            allow_truncated=True,
        )
        dr = diameter_radius(dists, ["diet"])
        cz = centralization(
            eigenvector_centrality(
                sub, group_cols=["diet"], weight_col="weight", max_iter=eigen_iter
            ),
            "centrality",
            ["diet"],
        )
        md = degrees(sub, ["diet"]).groupBy("diet").agg(
            F.round(F.avg("degree"), 4).alias("mean_degree")
        )
        row = (
            sz.join(dr, "diet")
            .join(cz, "diet")
            .join(md, "diet")
            .withColumn("fraction", F.lit(float(frac)))
        )
        out = row if out is None else out.unionByName(row)
    return {"robustness": out}


def compare_twins(
    sample_edges: DataFrame,
    alpha: float = 0.1,
    pr_iter: int = 10,
    seed: int = 42,
) -> dict[str, DataFrame]:
    """Entry point: bin/compareTwins.R (:95-104) — per-sample node
    importance under three measures: weighted PageRank (G9, :98-100),
    alpha centrality (G8, :95-97), Shannon edge-weight entropy (G10,
    :101-104), merged per (sample, node), plus a per-sample summary.

    Input: (sample, src, dst, weight). All three kernels run grouped —
    every per-sample subgraph in one job each, joined on (sample, node).
    The input (read by all three kernels) and `importance` (read by
    `summary` and callers) are materialized once each.
    """
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.kernels import (
        alpha_centrality,
        node_entropy,
        pagerank,
        symmetrize,
    )

    sample_edges = _checkpoint(sample_edges)
    pr = pagerank(
        sample_edges, group_cols=["sample"], weight_col="weight", max_iter=pr_iter
    )
    # Weighted alpha centrality, as in the reference (compareTwins.R:95-97
    # passes weights=E(g)$weight).  (I − αAᵀ) is singular once α ≥ 1/λ₁;
    # cap_alpha clamps α per subgraph by the WEIGHTED Gershgorin bound
    # (max row-sum of |A| ≥ λ₁) inside the grouped solve itself — no
    # driver-side max-degree collect, and each sample gets the tightest
    # well-posedness cap for its own subgraph.
    ac = alpha_centrality(
        sample_edges,
        alpha=alpha,
        group_cols=["sample"],
        weight_col="weight",
        cap_alpha=True,
    )
    # igraph::diversity (compareTwins.R:101-104) scores EVERY vertex's
    # incident-edge weight entropy; symmetrize first so dst-side (host)
    # nodes are covered too, not just the src-side phages.
    en = node_entropy(
        symmetrize(sample_edges.select("sample", "src", "dst", "weight"), ["sample"]),
        weight_col="weight",
        group_cols=["sample"],
        node_col="src",
    )
    merged = _checkpoint(
        pr.join(ac, ["sample", "node"], "full")
        .join(en, ["sample", "node"], "full")
    )
    summary = merged.groupBy("sample").agg(
        F.round(F.max("pagerank"), 6).alias("max_pagerank"),
        F.round(F.max("alpha_centrality"), 6).alias("max_alpha"),
        F.round(F.avg("entropy"), 6).alias("mean_entropy"),
        F.count(F.lit(1)).alias("n_nodes"),
    )
    return {"importance": merged, "summary": summary}


def corpus_curation(
    docs: DataFrame,
    min_tokens: int = 30,
    max_tokens: int = 80,
    min_quality: float = 0.5,
    allowed_langs: list[str] | None = None,
    split_weights: tuple[float, float, float] = (0.8, 0.1, 0.1),
    seed: int = 42,
) -> dict[str, DataFrame]:
    """End-to-end training-corpus curation as ONE lazy plan — the
    LLM-pipeline analog of the reference-style analysis pipelines above:

      1. quality-filter routing (tx rules → rejection reasons)
      2. exact dedup of the survivors (md5 fingerprint, min-id keeper)
      3. deterministic train/val/test assignment (md5 bucketing)
      4. per-(source, split) summary: docs kept, mean quality

    Returns lazy frames: `routed` (every doc with its reasons/dup/split
    disposition — the audit trail) and `summary`. Every stage is a
    Catalyst expression or one hash shuffle; nothing touches the driver.
    """
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.functions.text import quality_score, reject_reasons
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.corpus import split_assign
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.dedup import exact_dedup

    scored = docs.withColumn(
        "reject_reasons",
        reject_reasons(
            "text",
            "lang",
            min_tokens=min_tokens,
            max_tokens=max_tokens,
            min_quality=min_quality,
            allowed_langs=allowed_langs,
        ),
    ).withColumn("quality", quality_score("text"))
    kept = scored.filter(F.col("reject_reasons") == "")
    dups = exact_dedup(kept, id_col="doc_id", text_col="text").select(
        F.col("id").alias("doc_id"), "is_dup"
    )
    routed = split_assign(
        scored.join(dups, "doc_id", "left"), weights=split_weights, seed=seed
    ).withColumn(
        "disposition",
        F.when(F.col("reject_reasons") != "", F.lit("rejected"))
        .when(F.col("is_dup") == 1, F.lit("duplicate"))
        .otherwise(F.col("split")),
    )
    summary = (
        routed.filter(F.col("disposition").isin("train", "val", "test"))
        .groupBy("source", "disposition")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("quality"), 6).alias("mean_quality"),
        )
    )
    return {"routed": routed, "summary": summary}


def pretrain_pack(
    docs: DataFrame,
    budget: int = 128,
    n_buckets: int = 8,
    split_weights: tuple[float, float, float] = (0.8, 0.1, 0.1),
    split_seed: int = 42,
    pack_seed: int = 7,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The pretraining data path as ONE lazy plan: PII scrub → line-level
    filtering → exact dedup of the cleaned text → deterministic split →
    sequence packing of the train split.

    Returns one audit row per input doc:
    (id, disposition, bucket, n_tok, pack_id, pack_offset) where
    disposition ∈ {empty, duplicate, train, val, test}; pack fields are
    -1 for anything that didn't reach the packer (only train docs pack).
    `pack_seed` is distinct from `split_seed` so pack order is not
    correlated with split assignment.

    Scale shape: scrub + line filter are shuffle-free row functions;
    dedup costs one fingerprint exchange (keeper join broadcasts),
    packing one bucket exchange + streaming running-sum window, and the
    final audit join sort-merges on the id. The routed frame is
    lazily checkpointed before branching — it feeds BOTH the audit side
    and the packer, and Catalyst does not share the subtree, so without
    the checkpoint the whole clean+dedup prefix would execute twice.
    No driver collects anywhere."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.corpus import (
        line_filter,
        pii_scrub,
        sequence_pack,
        split_assign,
    )
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.dedup import exact_dedup

    cleaned = line_filter(
        pii_scrub(docs, id_col=id_col, text_col=text_col).select(
            F.col("id").alias(id_col), F.col("clean_text").alias(text_col)
        ),
        id_col=id_col,
        text_col=text_col,
    ).select(F.col("id").alias(id_col), F.col("clean_text").alias(text_col), "n_kept")
    dups = exact_dedup(cleaned, id_col=id_col, text_col=text_col).select(
        F.col("id").alias(id_col), "is_dup"
    )
    routed = split_assign(
        cleaned.join(dups, id_col), id_col=id_col, weights=split_weights, seed=split_seed
    ).withColumn(
        "disposition",
        # NULL n_kept (only possible if a custom cleaner skips the
        # NULL-text coalesce that line_filter now applies) routes to
        # 'empty' — never to a train/val/test split with NULL text
        F.when((F.col("n_kept") == 0) | F.col("n_kept").isNull(), F.lit("empty"))
        .when(F.col("is_dup") == 1, F.lit("duplicate"))
        .otherwise(F.col("split")),
    ).localCheckpoint(eager=False)
    packed = sequence_pack(
        routed.filter(F.col("disposition") == "train").select(id_col, text_col),
        id_col=id_col,
        text_col=text_col,
        budget=budget,
        n_buckets=n_buckets,
        seed=pack_seed,
    )
    return (
        routed.select(F.col(id_col).alias("id"), "disposition")
        .join(packed, "id", "left")
        .select(
            "id",
            "disposition",
            F.coalesce("bucket", F.lit(-1)).alias("bucket"),
            F.coalesce("n_tok", F.lit(-1)).alias("n_tok"),
            F.coalesce("pack_id", F.lit(-1)).alias("pack_id"),
            F.coalesce("pack_offset", F.lit(-1)).alias("pack_offset"),
        )
    )


def pretrain_pack_spancut(
    docs: DataFrame,
    budget: int = 128,
    n_buckets: int = 8,
    split_weights: tuple[float, float, float] = (0.8, 0.1, 0.1),
    split_seed: int = 42,
    pack_seed: int = 7,
    k: int = 8,
    min_count: int = 2,
    hash_fn=None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The Lee et al. 2022 ordering of the pretraining path: cut
    exact-substring duplicate SPANS first, then split and pack the
    surviving text — so repeated boilerplate never reaches the trainer
    even when it lives INSIDE otherwise-unique documents (which
    doc-level exact dedup, pretrain_pack's step, can never remove).

    Trade-off vs pretrain_pack's whole-doc dedup: span-cut removes the
    duplicated k-token runs from every copy (Lee et al.'s `dedup-before
    -packing`), at the cost of one windowed-fingerprint shuffle over
    token windows instead of one per-doc fingerprint; whole-doc dedup
    keeps one full copy per duplicate cluster and drops the rest.  The
    two compose (cut spans, then doc-dedup survivors) but this variant
    registers the cut→pack spine on its own so the oracle replays it
    end-to-end.

    Returns one audit row per input doc:
    (id, disposition, n_removed, bucket, n_tok, pack_id, pack_offset);
    disposition ∈ {empty, train, val, test} — 'empty' covers NULL text
    AND fully-cut docs; n_tok is the POST-cut token count (pack fields
    -1 off the train split).

    Scale shape: duplicate_spans' fingerprint groupBy is the only
    corpus-wide shuffle; the cut is a per-doc array expression; split
    assignment is a pure hash of the id; packing costs one bucket
    exchange + a streaming running-sum window.  The routed frame is
    lazily checkpointed before branching (audit side + packer), same
    reasoning as pretrain_pack."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.corpus import (
        sequence_pack,
        split_assign,
    )
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.dedup import (
        remove_duplicate_spans,
    )

    cut = remove_duplicate_spans(
        docs, id_col=id_col, text_col=text_col, k=k,
        min_count=min_count, hash_fn=hash_fn,
    )
    routed = (
        split_assign(cut, id_col="id", weights=split_weights, seed=split_seed)
        .withColumn(
            "disposition",
            F.when(F.col("clean_text") == "", F.lit("empty")).otherwise(
                F.col("split")
            ),
        )
        .localCheckpoint(eager=False)
    )
    packed = sequence_pack(
        routed.filter(F.col("disposition") == "train").select("id", "clean_text"),
        id_col="id",
        text_col="clean_text",
        budget=budget,
        n_buckets=n_buckets,
        seed=pack_seed,
    )
    return (
        routed.select("id", "disposition", F.col("n_removed").cast("long").alias("n_removed"))
        .join(packed, "id", "left")
        .select(
            "id",
            "disposition",
            "n_removed",
            F.coalesce("bucket", F.lit(-1)).alias("bucket"),
            F.coalesce("n_tok", F.lit(-1)).alias("n_tok"),
            F.coalesce("pack_id", F.lit(-1)).alias("pack_id"),
            F.coalesce("pack_offset", F.lit(-1)).alias("pack_offset"),
        )
    )
