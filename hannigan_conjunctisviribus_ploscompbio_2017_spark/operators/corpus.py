"""Corpus-level statistics & partitioning for training-data pipelines.

Companions to operators/dedup.py and functions/text.py: global n-gram
frequency (LM corpus statistics), and the deterministic hash-based
train/val/test split every data pipeline needs before training.  All
pure DataFrame — no UDFs, no driver-side state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.dedup import (
    norm_tokens,
    portable_token_hash,
)
from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.stats import _smallest_k


def seeded_id_hash(id_col: str, seed: int):
    """60-bit md5 hash of (id|seed) — THE deterministic randomness
    primitive for every sampling/splitting/packing operator here: a
    pure row function (partition-invariant, engine-replayable). One
    definition so the hash family can never silently diverge between
    operators."""
    return portable_token_hash(
        F.concat_ws("|", F.col(id_col).cast("string"), F.lit(str(seed)))
    )


def ngram_counts(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
) -> DataFrame:
    """(ngram, n_occurrences, n_docs) over the whole corpus — raw
    occurrence counts (every repeat counts, unlike dedup shingles which
    are per-doc sets) plus document frequency.

    Scale: tokenize once per row, explode, one shuffle on the ngram;
    partial (map-side) aggregation absorbs the explode before the
    exchange, so shuffle rows ∝ distinct ngrams per partition."""
    toked = df.select(
        F.col(id_col).alias("id"),
        norm_tokens(text_col).alias("_toks"),
    )
    idx = F.when(
        F.size("_toks") >= n, F.sequence(F.lit(1), F.size("_toks") - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(idx, lambda i: F.array_join(F.slice("_toks", i, n), " "))
    return (
        toked.select("id", F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("id").alias("n_docs"),
        )
    )


def top_ngrams(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    limit: int = 50,
) -> DataFrame:
    """Global top-`limit` n-grams by occurrence count, ties broken by
    ngram text so the result is deterministic.

    The order-by + limit compiles to TakeOrderedAndProject (bounded
    per-partition heaps merged on the driver), never a global sort."""
    return (
        ngram_counts(df, id_col, text_col, n)
        .orderBy(F.desc("n_occurrences"), F.asc("ngram"))
        .limit(limit)
    )


def split_assign(
    df: DataFrame,
    id_col: str = "doc_id",
    weights: tuple[float, float, float] = (0.8, 0.1, 0.1),
    seed: int = 42,
) -> DataFrame:
    """Deterministic train/val/test assignment: bucket = md5-60 of
    (id|seed) mod 1e6, thresholded by the cumulative weights. A pure
    row function of the id — stable across runs, partitionings, and
    engines (the md5 family makes it oracle-replayable), unlike
    randomSplit whose assignment depends on partition layout.

    Adds a `split` column ('train'|'val'|'test') to df."""
    total = sum(weights)
    cut1 = int(1_000_000 * weights[0] / total)
    cut2 = int(1_000_000 * (weights[0] + weights[1]) / total)
    bucket = (
        seeded_id_hash(id_col, seed)
        % 1_000_000
    )
    return df.withColumn(
        "split",
        F.when(bucket < cut1, "train").when(bucket < cut2, "val").otherwise("test"),
    )


def write_corpus(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    partition_by: list[str] | None = None,
    files_per_partition: int = 1,
    max_records_per_file: int | None = None,
) -> None:
    """Size-disciplined corpus sink: zstd parquet, rows range-partitioned
    and sorted by id so readers get splittable, locality-friendly files
    instead of one file per upstream shuffle task.

    `files_per_partition` sets the repartitionByRange width (per
    partition_by value when partitioning); `max_records_per_file` caps
    row count per file on top of that (Spark splits oversized writers
    transparently). At 100 TB the knobs that matter are exactly these
    two: file count ∝ range width, file size capped by the record limit —
    no driver-side size probing, no post-hoc compaction job."""
    out = df.repartitionByRange(files_per_partition, F.col(id_col)).sortWithinPartitions(
        id_col
    )
    w = out.write.mode("overwrite").option("compression", "zstd")
    if max_records_per_file is not None:
        w = w.option("maxRecordsPerFile", int(max_records_per_file))
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
) -> DataFrame:
    """Per-doc repetition signals (the Gopher repetition filter family):

    - `ngram_entropy`  — Shannon entropy (nats) of the doc's n-gram
      distribution, single-pass identity H = ln T − (Σ c·ln c)/T (no
      per-doc totals join, same trick as the graph entropy kernel)
    - `top_ngram_share` — max n-gram count / total n-grams (Gopher's
      top-2-gram fraction rule)
    - `dup_ngram_ratio` — 1 − distinct/total (repeated-n-gram mass)

    Highly repetitive docs (boilerplate, keyword stuffing, generation
    loops) score low entropy / high share / high ratio. One explode and
    one (id, ngram) shuffle; the per-doc reduce is a second aggregate of
    the counts — rows ∝ distinct n-grams per doc, already partial-
    aggregated map-side."""
    toked = df.select(
        F.col(id_col).alias("id"),
        norm_tokens(text_col).alias("_toks"),
    )
    idx = F.when(
        F.size("_toks") >= n, F.sequence(F.lit(1), F.size("_toks") - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(idx, lambda i: F.array_join(F.slice("_toks", i, n), " "))
    counts = (
        toked.select("id", F.explode(grams).alias("ngram"))
        .groupBy("id", "ngram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    t = F.sum("c")
    return counts.groupBy("id").agg(
        F.round(
            F.log(t) - F.sum(F.col("c") * F.log("c")) / t, 6
        ).alias("ngram_entropy"),
        F.round(F.max("c") / t, 6).alias("top_ngram_share"),
        F.round(F.lit(1.0) - F.count(F.lit(1)) / t, 6).alias("dup_ngram_ratio"),
    )


# PII patterns shared by pii_scrub and its oracle twin. Written in the
# common subset of Java regex (Spark) and RE2 (DuckDB): character
# classes, bounded quantifiers, and \b word boundaries only — no
# lookaround, no backreferences.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\+?\d{3}[- ]\d{3}[- ]\d{4}",
}


def pii_scrub(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    patterns: dict[str, str] | None = None,
) -> DataFrame:
    """PII redaction (the C4/Dolma scrub step): each pattern family is
    replaced by its `<NAME>` sentinel, applied sequentially in the
    declared order (email -> ipv4 -> phone by default, so an IP-looking
    substring inside an already-redacted email is not double-counted in
    the output text). Per-family occurrence counts are measured on the
    RAW text independently — they are audit counters for the scrub
    report, not a parse of the redacted string.

    Returns (id, clean_text, n_<family>...). Pure Catalyst regexes in
    one codegen'd projection: a 100 TB corpus is scanned once with no
    shuffle at all — the scrub is embarrassingly parallel and pushes
    column pruning down to the parquet scan.

    NULL text is coalesced to '' up front (like quality_features), so a
    NULL-text doc yields ('', 0, 0, 0) instead of NULL-poisoning every
    downstream count — without this, regexp over NULL returns NULL and
    pipelines keying off n_* = 0 silently misroute NULL docs."""
    pats = patterns or PII_PATTERNS
    text = F.coalesce(F.col(text_col), F.lit(""))
    scrubbed = text
    counts = []
    for name, pat in pats.items():
        counts.append(
            F.size(F.regexp_extract_all(text, F.lit(pat), F.lit(0)))
            .cast("long")
            .alias(f"n_{name}")
        )
        scrubbed = F.regexp_replace(scrubbed, pat, f"<{name.upper()}>")
    return df.select(F.col(id_col).alias("id"), scrubbed.alias("clean_text"), *counts)


def line_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 3,
    require_terminal: bool = True,
) -> DataFrame:
    """C4-style line-level filtering: split each doc on newlines, keep
    lines with >= `min_words` whitespace tokens that end in terminal
    punctuation ([.!?]), and re-join the survivors. Returns
    (id, clean_text, n_lines, n_kept).

    All higher-order array functions (F.filter / F.array_join) — the
    per-line predicate runs inside whole-stage codegen, no explode, no
    shuffle: line filtering at 100 TB is a single scan-and-project, and
    dropped-line accounting (n_lines - n_kept) rides along for free.

    Splits on \\r?\\n, so CRLF text normalizes to LF and no stray \\r
    reaches the terminal-punctuation anchor (Java's `$` matches before
    a final line terminator, RE2's does not — splitting the \\r away
    keeps the rule identical across engines and the output clean).

    NULL text is coalesced to '' up front: split(NULL) would make
    n_lines/n_kept NULL (ANSI) and let NULL docs slip past any
    `n_kept == 0` emptiness gate downstream; with the coalesce a NULL
    doc counts as one empty line, zero kept."""

    def _keep(line):
        t = F.trim(line)
        cond = F.size(F.split(t, r"\s+")) >= min_words
        if require_terminal:
            cond = cond & t.rlike(r"[.!?]$")
        return cond

    lines = F.split(F.coalesce(F.col(text_col), F.lit("")), r"\r?\n")
    kept = F.filter(lines, _keep)
    return df.select(
        F.col(id_col).alias("id"),
        F.array_join(kept, "\n").alias("clean_text"),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept"),
    )


def sequence_pack(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    budget: int = 128,
    n_buckets: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Concat-and-chunk sequence packing (the GPT-style pretraining
    batcher): documents are concatenated in a deterministic order and
    cut every `budget` tokens; each doc is assigned the pack (training
    sequence) where its first token lands.

    Distribution shape: docs hash into `n_buckets` independent streams
    (pack ids are (bucket, pack_in_bucket) pairs), so packing is one
    shuffle on the bucket and the running-sum window parallelizes across
    buckets — at 100 TB set n_buckets ~ cluster cores and no single
    window partition exceeds corpus_tokens/n_buckets. Within a stream
    the order is an md5 shuffle of the doc id: stable across runs,
    partitionings, and engines (unlike zipWithIndex/monotonically_
    increasing_id, which depend on physical layout). The window is a
    running SUM over an unbounded-preceding frame — Spark streams it
    without buffering the partition.

    Returns (id, bucket, n_tok, pack_id, pack_offset) where
    `pack_offset` is the doc's first-token position inside its pack."""
    h = portable_token_hash(F.concat_ws("|", F.col(id_col).cast("string"), F.lit(str(seed))))
    ntok = F.size(norm_tokens(text_col)).cast("long")
    base = df.select(
        F.col(id_col).alias("id"),
        (h % n_buckets).alias("bucket"),
        h.alias("ord"),
        ntok.alias("n_tok"),
    )
    w = (
        W.partitionBy("bucket")
        .orderBy("ord", "id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = F.sum("n_tok").over(w)
    start = cum - F.col("n_tok")
    return base.select(
        "id",
        "bucket",
        "n_tok",
        F.floor(start / budget).alias("pack_id"),
        (start % budget).alias("pack_offset"),
    )


def exact_k_sample(
    df: DataFrame,
    strata_col: str,
    k: int,
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Deterministic EXACT-k per-stratum sample: within each stratum,
    rank rows by md5_60(id|seed) and keep the k smallest — "take exactly
    10k docs per language", the quota-sampling sibling of
    stratified_sample (which keeps a deterministic FRACTION). The md5
    rank is a uniform random permutation and a pure row function:
    identical across runs, partitionings, and engines, and the chosen
    set is NESTED in k (the k=100 sample contains the k=50 sample).

    Two-phase, never a full-stratum sort: the selection is
    stats._smallest_k (the one shared with rarefy_hash), so the
    row_number window ranks only a τ-filtered candidate pool of ~k +
    6·√k + 24 rows per stratum, and an under-filled stratum re-ranks its
    full population in an ~always-empty fallback branch.  Strata sizes
    come from one aggregate over the strata column only (column pruning
    makes that a cheap pruned scan; callers with an expensive computed
    `df` should localCheckpoint it first, as the composed pipelines do).

    Rows with a NULL stratum key form their own stratum (the joins are
    null-safe)."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    sizes = (
        df.groupBy(strata_col)
        .agg(F.count(F.lit(1)).alias("_t"))
        .withColumn("_d", F.least(F.lit(k), F.col("_t")))
    )
    kept = _smallest_k(df, strata_col, sizes, seeded_id_hash(id_col, seed), [id_col])
    # the literal bound is redundant with _rn <= _d, but it lets Spark
    # plan a per-partition WindowGroupLimit below each rank exchange
    return kept.filter(F.col("_rn") <= k).select(*df.columns)


def unigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k_smooth: float = 1.0,
    round_to: int = 6,
    broadcast_counts: bool = True,
) -> DataFrame:
    """CCNet-style language-model quality score without an external LM:
    train an add-k-smoothed unigram model on the corpus itself, then
    score each doc by its mean token negative log-probability (nats).
    Low scores = stereotypical corpus text; high scores = rare-token
    soup (OCR noise, gibberish, wrong-language remnants) — the same
    ranking CCNet gets from its KenLM filter, self-contained.

    p(tok) = (c + k) / (N + k·V) with c = corpus count, N = total
    tokens, V = vocabulary size.

    Returns (id, n_tok, avg_neg_logprob). Two aggregations: token counts
    (one shuffle on token, partial map-side), then the per-doc mean
    (shuffle on id). The global N/V scalars stay IN-PLAN as a 1-row
    crossJoin — no driver collect.

    `broadcast_counts` (default True) hash-joins the token stream
    against a broadcast of the count table, so the exploded tokens are
    never shuffled on token — the per-doc groupBy is then the only wide
    stage over the corpus. The count table is Zipf-bounded (vocab <<
    corpus), but at extreme corpus scale the raw vocabulary (typos,
    URLs, ids) can outgrow the broadcast limit — set False there to fall
    back to a shuffle join (values identical either way)."""
    toks = _doc_tokens(df, id_col, text_col).select(
        "id", F.explode("_t").alias("tok")
    )
    # the Zipf-bounded count table feeds BOTH the N/V totals and the
    # token join; without the checkpoint the tokenize+count shuffle runs
    # twice. toks itself is deliberately NOT checkpointed: materializing
    # the exploded token table costs ~corpus size, while re-running the
    # tokenize projection is one cheap codegen pass.
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c")).localCheckpoint(
        eager=False
    )
    totals = counts.agg(
        F.sum("c").alias("_n"), F.count(F.lit(1)).alias("_v")
    )  # 1 row; crossJoin keeps the scalars in the same Catalyst DAG
    scored = (
        toks.join(F.broadcast(counts) if broadcast_counts else counts, "tok")
        .crossJoin(F.broadcast(totals))
        .select(
            "id",
            (-(F.log(F.col("c") + F.lit(float(k_smooth)))
               - F.log(F.col("_n") + F.lit(float(k_smooth)) * F.col("_v")))).alias("_nlp"),
        )
    )
    return scored.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_tok"),
        F.round(F.avg("_nlp"), round_to).alias("avg_neg_logprob"),
    )


def vocab_growth(
    df: DataFrame,
    fractions: tuple[float, ...] = (0.25, 0.5, 0.75, 1.0),
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 42,
) -> DataFrame:
    """Vocabulary-growth (Heaps' law) curve: distinct-token and total-
    token counts at nested corpus prefixes. Prefixes are md5-hash-
    thresholded doc subsets, so each smaller fraction is CONTAINED in
    every larger one (a genuine growth curve, not independent samples)
    and the curve is a pure function of the data.

    Single pass: tokenize + explode once, then ONE aggregation computes
    every fraction via conditional distinct/sum columns — no per-
    fraction rescan, no driver loop. Returns one row per fraction:
    (fraction, n_docs, n_tokens, vocab_size).

    At 100 TB the count-distincts expand to one Expand + two-stage
    aggregate; swap F.countDistinct for F.approx_count_distinct when a
    1-2% HLL estimate is acceptable and the expand is not."""
    if not fractions:
        raise ValueError("fractions must be non-empty")
    bad = [f for f in fractions if not (0.0 < f <= 1.0)]
    if bad:
        raise ValueError(f"fractions must lie in (0, 1]: {bad}")
    if len(set(fractions)) != len(fractions):
        raise ValueError(f"fractions must be unique: {sorted(fractions)}")
    h = (
        seeded_id_hash(id_col, seed)
    )
    toks = df.select(
        F.col(id_col).alias("id"),
        h.alias("_h"),
        F.explode(norm_tokens(text_col)).alias("tok"),
    )
    aggs = []
    for frac in fractions:
        t = int(frac * (1 << 60))
        cond = F.col("_h") < F.lit(t)
        tag = str(frac).replace(".", "_")
        aggs += [
            F.countDistinct(F.when(cond, F.col("id"))).alias(f"_d_{tag}"),
            F.count(F.when(cond, F.lit(1))).alias(f"_n_{tag}"),
            F.countDistinct(F.when(cond, F.col("tok"))).alias(f"_v_{tag}"),
        ]
    wide = toks.agg(*aggs)
    rows = []
    for frac in fractions:
        tag = str(frac).replace(".", "_")
        rows.append(
            F.struct(
                F.lit(float(frac)).alias("fraction"),
                F.col(f"_d_{tag}").alias("n_docs"),
                F.col(f"_n_{tag}").alias("n_tokens"),
                F.col(f"_v_{tag}").alias("vocab_size"),
            )
        )
    return wide.select(F.explode(F.array(*rows)).alias("s")).select("s.*")


def _doc_tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, _t=token array) — the ONE tokenization used by every LM
    operator here (unigram, bigram counts, bigram pairs), so counts and
    pair extraction can never tokenize differently."""
    return df.select(
        F.col(id_col).alias("id"),
        norm_tokens(text_col).alias("_t"),
    )


def stupid_backoff_logscore(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.4,
    round_to: int = 6,
    lm: dict[str, DataFrame] | None = None,
    broadcast_counts: bool = True,
) -> DataFrame:
    """Bigram LM scoring with Stupid Backoff (Brants et al. 2007 — the
    web-scale scheme that skips normalization): per doc, the mean over
    token positions i >= 2 of -ln s(w_i | w_{i-1}) where

        s(w|v) = c(vw)/c(v)        if the bigram was seen,
                 alpha * c(w)/N    otherwise.

    The richer sibling of unigram_logprob: repeated local patterns
    score well even when their unigrams are rare, so boilerplate and
    fluent text separate more sharply. Deterministic counts — the
    DuckDB oracle replays every score.

    Docs with fewer than 2 tokens have no bigram positions and are
    absent from the output. Shapes: one bigram-count shuffle + one
    unigram-count shuffle over Zipf-bounded tables; with
    `broadcast_counts` (default True) the exploded bigram stream then
    hash-joins BROADCASTS of both count tables — the per-doc groupBy is
    the only corpus-wide shuffle, instead of three shuffles of the
    pairs stream (on (v,w), v, and w). N stays in-plan via a 1-row
    broadcast either way. Set False when the bigram vocabulary itself
    outgrows broadcast limits (values identical; the joins fall back to
    shuffles).

    Pass `lm=bigram_lm(train_corpus)` to score HELD-OUT text against
    stored counts — that is where the backoff branch actually fires
    (self-scoring never backs off: every bigram is in its own counts).
    OOV continuation words take an add-one count floor."""
    lm = lm if lm is not None else bigram_lm(df, id_col, text_col)
    pairs = _doc_bigrams(df, id_col, text_col)
    unis = lm["unigrams"]
    bc = F.broadcast if broadcast_counts else (lambda d: d)
    scored = (
        pairs.join(bc(lm["bigrams"]), ["v", "w"], "left")
        .join(bc(unis.select(F.col("tok").alias("v"), F.col("c").alias("c_v"))), "v", "left")
        .join(bc(unis.select(F.col("tok").alias("w"), F.col("c").alias("c_w"))), "w", "left")
        .crossJoin(F.broadcast(lm["totals"]))
        .select(
            "id",
            (
                -F.when(
                    F.col("c_vw").isNotNull(),
                    F.log(F.col("c_vw") / F.col("c_v")),
                ).otherwise(
                    F.log(
                        F.lit(float(alpha))
                        * F.coalesce(F.col("c_w"), F.lit(1))  # OOV floor
                        / F.col("_n")
                    )
                )
            ).alias("_nls"),
        )
    )
    return scored.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("_nls"), round_to).alias("avg_neg_logscore"),
    )


def _doc_bigrams(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    toked = _doc_tokens(df, id_col, text_col)
    idx = F.when(
        F.size("_t") >= 2, F.sequence(F.lit(1), F.size("_t") - 1)
    ).otherwise(F.array().cast("array<int>"))
    return toked.select(
        "id",
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    F.element_at("_t", i).alias("v"),
                    F.element_at("_t", i + 1).alias("w"),
                ),
            )
        ).alias("p"),
    ).select("id", F.col("p.v").alias("v"), F.col("p.w").alias("w"))


def bigram_lm(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> dict[str, DataFrame]:
    """Count tables for stupid_backoff_logscore: {bigrams(v, w, c_vw),
    unigrams(tok, c), totals(_n)} — persist these (Zipf-bounded, far
    smaller than the corpus) and score any stream of new text against
    them."""
    toked = _doc_tokens(df, id_col, text_col)
    big = _doc_bigrams(df, id_col, text_col).groupBy("v", "w").agg(
        F.count(F.lit(1)).alias("c_vw")
    )
    # the scorer consumes unigrams three ways (v-join, w-join, totals);
    # one materialized pass of the Zipf-bounded table replaces three
    # tokenize+count shuffles
    unis = (
        toked.select(F.explode("_t").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    return {"bigrams": big, "unigrams": unis, "totals": unis.agg(F.sum("c").alias("_n"))}


def mixture_weights(
    df: DataFrame,
    domain_col: str = "source",
    target: dict[str, float] | None = None,
) -> DataFrame:
    """Domain-mixture reweighting (the data-mixing step before
    training): per domain, the observed corpus share and the sampling
    weight that reshapes it to a `target` distribution —
    weight = target_share / observed_share. With no target, uniform
    over the observed domains. Domains absent from an explicit target
    get weight 0 (dropped from the mix); domains REQUESTED by the
    target but absent from the corpus are emitted too, with n_docs = 0
    and weight NULL — the requested mixture mass is unrealizable and
    the caller must see that, not silently lose it.

    Returns (domain, n_docs, observed_share, target_share, weight).
    One aggregation; the domain table is dimension-sized, so the
    shares/weights stay in-plan via a broadcast 1-row total.

    `target={}` is rejected: it is ambiguous between "uniform" (pass
    None) and "drop everything", and the two internal target checks
    would otherwise disagree on it (truthiness vs `is None`), silently
    emitting weight 0 for every domain."""
    if target is not None and not target:
        raise ValueError("target must be a non-empty dict or None (uniform)")
    # the domain-count table feeds both the grand-total aggregate and
    # the weight projection; one materialized pass instead of two
    # corpus scans (the table is domain-sized — tiny)
    counts = df.groupBy(F.col(domain_col).alias("domain")).agg(
        F.count(F.lit(1)).alias("n_docs")
    ).localCheckpoint(eager=False)
    if target:
        # union + max instead of a full-outer join (r12 optimization
        # round): counts is key-unique (it IS a groupBy output), so
        # "add requested domains with n_docs 0" is a union with zero
        # rows + a max per domain — identical rows, no SortMergeJoin
        # sorts over two tiny frames
        requested = df.sparkSession.createDataFrame(
            [(d, 0) for d in sorted(target)], "domain string, n_docs long"
        )
        counts = counts.unionByName(requested).groupBy("domain").agg(
            F.max("n_docs").alias("n_docs")
        )
    total = counts.agg(
        F.sum("n_docs").alias("_t"), F.count(F.lit(1)).alias("_d")
    )
    if target is None:
        tgt = F.lit(1.0) / F.col("_d")
    else:
        tgt = F.lit(0.0)
        for dom, share in sorted(target.items(), reverse=True):
            tgt = F.when(F.col("domain") == dom, F.lit(float(share))).otherwise(tgt)
    obs = F.col("n_docs") / F.col("_t")
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "domain",
            "n_docs",
            F.round(obs, 6).alias("observed_share"),
            F.round(tgt, 6).alias("target_share"),
            # absent-but-requested domains: weight NULL, never a
            # divide-by-zero (ANSI mode errors on x/0)
            F.when(F.col("n_docs") > 0, F.round(tgt / obs, 6)).alias("weight"),
        )
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Deterministic stratified downsampling (corpus rebalancing by
    language/source): keep a row iff md5-60(id|seed) mod 1e6 falls under
    its stratum's fraction. Unlike DataFrame.sampleBy (rand() per row —
    stable only for a fixed partition layout), the decision is a pure
    function of (id, seed): identical across runs, partitionings, and
    engines. Strata missing from `fractions` are dropped (fraction 0)."""
    bucket = (
        seeded_id_hash(id_col, seed)
        % 1_000_000
    )
    # per-stratum threshold as a chained when(); unknown strata -> 0
    thr = F.lit(0)
    for stratum, frac in sorted(fractions.items(), reverse=True):
        thr = F.when(F.col(strata_col) == stratum, F.lit(int(frac * 1_000_000))).otherwise(thr)
    return df.filter(bucket < thr)


def _doc_buckets(
    df: DataFrame, id_col: str, text_col: str, n_buckets: int
) -> DataFrame:
    """(id, bucket) — one row per hashed bigram occurrence: the DSIR
    feature stream. Bucket = md5-60(bigram) % n_buckets (the portable
    hash family, so external engines replay the bucketing exactly)."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.dedup import portable_token_hash

    pairs = _doc_bigrams(df, id_col, text_col)
    return pairs.select(
        "id",
        (
            portable_token_hash(F.concat_ws(" ", F.col("v"), F.col("w")))
            % n_buckets
        ).alias("bucket"),
    )


def dsir_logweights(
    raw: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 4096,
    k_smooth: float = 0.01,
    round_to: int = 6,
) -> DataFrame:
    """DSIR importance log-weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): fit add-k-smoothed
    hashed-bigram bucket models over the TARGET distribution (a small
    curated set) and the RAW corpus, then score every raw doc by
    log p_target(doc)/p_raw(doc) = Σ_features [log p_t(b) − log p_r(b)].
    High log-weight = raw text that looks like the target domain.

    Returns (id, n_feat, log_weight); docs with < 2 tokens carry zero
    features and log_weight 0.

    Scale shape: both bucket models are ≤ n_buckets rows by
    construction (broadcast the log-ratio table no matter how big the
    corpora); scoring is one explode + broadcast join + per-doc sum —
    the unigram_logprob shape, one wide stage over the raw corpus.
    Everything md5-derived → partition-invariant, oracle-replayable."""
    rb = _doc_buckets(raw, id_col, text_col, n_buckets)
    tb = _doc_buckets(target, id_col, text_col, n_buckets)
    # per-corpus bucket counts (≤ n_buckets rows each); buckets missing
    # from one side smooth to k/(N + k·B) via the coalesce(0)
    rc = rb.groupBy("bucket").agg(F.count(F.lit(1)).alias("_cr"))
    tc = tb.groupBy("bucket").agg(F.count(F.lit(1)).alias("_ct"))
    joined = rc.join(tc, "bucket", "full").select(
        "bucket",
        F.coalesce("_cr", F.lit(0)).alias("_cr"),
        F.coalesce("_ct", F.lit(0)).alias("_ct"),
    )
    # the joined count table feeds BOTH the totals and the λ projection,
    # and Catalyst does not share the subtree — without this the two
    # corpus-wide bucket-count shuffles (raw + target scans) run TWICE.
    # ≤ n_buckets rows, so materializing it is free at any corpus scale.
    joined = joined.localCheckpoint(eager=False)
    totals = joined.agg(
        F.sum("_cr").alias("_nr"), F.sum("_ct").alias("_nt")
    )
    k = F.lit(float(k_smooth))
    kb = F.lit(float(k_smooth) * n_buckets)
    lam = joined.crossJoin(F.broadcast(totals)).select(
        "bucket",
        (
            (F.log(F.col("_ct") + k) - F.log(F.col("_nt") + kb))
            - (F.log(F.col("_cr") + k) - F.log(F.col("_nr") + kb))
        ).alias("_lam"),
    )
    per_doc = (
        rb.join(F.broadcast(lam), "bucket")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_feat"),
            F.sum("_lam").alias("_lw"),
        )
    )
    ids = raw.select(F.col(id_col).alias("id"))
    return ids.join(per_doc, "id", "left").select(
        "id",
        F.coalesce("n_feat", F.lit(0)).alias("n_feat"),
        F.round(F.coalesce("_lw", F.lit(0.0)), round_to).alias("log_weight"),
    )


def dsir_sample(
    raw: DataFrame,
    target: DataFrame,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 4096,
    k_smooth: float = 0.01,
    seed: int = 42,
    round_to: int = 6,
) -> DataFrame:
    """DSIR selection: Gumbel-top-k over the importance log-weights —
    samples k raw docs ∝ their importance weights WITHOUT replacement
    (Gumbel-max trick), deterministically: the Gumbel noise derives
    from the md5-60 of (id|seed), so the draw is a pure row function —
    partition-invariant and replayable by the oracle.

    Returns the k selected (id, n_feat, log_weight, gumbel_key) rows.
    orderBy+limit plans as TakeOrderedAndProject — per-partition top-k
    heaps, no global sort, so selection costs one narrow pass at any
    corpus scale."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.dedup import portable_token_hash

    lw = dsir_logweights(
        raw, target, id_col, text_col, n_buckets, k_smooth, round_to=round_to
    )
    u = (
        portable_token_hash(
            F.concat_ws("|", F.col("id").cast("string"), F.lit(str(seed)))
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(float(1 << 60))
    key = F.round(F.col("log_weight") - F.log(-F.log(u)), round_to)
    return (
        lw.withColumn("gumbel_key", key)
        .orderBy(F.desc("gumbel_key"), F.asc("id"))
        .limit(k)
    )


def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    round_to: int = 6,
    broadcast_idf: bool = True,
) -> DataFrame:
    """TF-IDF keyword extraction: the top-k most characteristic terms
    per document, tf·idf-scored with the smooth idf
    ln((1+N)/(1+df)) + 1 (the sklearn TfidfVectorizer form — never
    zero, never divides by zero) over _doc_tokens' shared tokenizer.

    Returns (id, term, tf, score, rank): tf = raw in-doc count, score
    = round(tf·idf, round_to), rank by (score desc, term asc).

    Scale shape mirrors unigram_logprob: one (id, term) shuffle for tf
    (map-side partial), a Zipf-bounded document-frequency table derived
    FROM the tf table (no second pass over the corpus) broadcast back
    onto it, and the corpus-size scalar as a 1-row crossJoin.  The
    per-doc top-k window DOES re-shuffle on id — HashPartitioning(id,
    term) does not satisfy the window's required clustering on id alone
    (the hash-subset rule runs the other way) — but Spark's rank-limit
    pushdown inserts a Partial WindowGroupLimit BELOW that exchange, so
    each task ships at most k rows per (id, partition): the second
    exchange carries O(k · docs) pruned rows, never the tf table.
    Plan guard: test_tfidf_top_terms_single_corpus_exchange_family pins
    exactly three post-tf exchanges (vocab-bounded term agg, 1-row
    scalar, k-pruned id window) and the pre-shuffle WindowGroupLimit.
    `broadcast_idf=False` falls back to a shuffle join when a
    pathological vocabulary outgrows the broadcast limit."""
    from pyspark.sql import Window as W

    toks = _doc_tokens(df, id_col, text_col).select(
        "id", F.explode("_t").alias("term")
    )
    # tf feeds BOTH the df aggregation and the scoring join
    tf = (
        toks.groupBy("id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("_df"))
    totals = df.agg(F.count(F.lit(1)).alias("_n"))  # 1 row, stays in-plan
    idf_tbl = dfreq.crossJoin(F.broadcast(totals)).select(
        "term",
        (
            F.log((F.lit(1.0) + F.col("_n")) / (F.lit(1.0) + F.col("_df")))
            + F.lit(1.0)
        ).alias("_idf"),
    )
    scored = tf.join(
        F.broadcast(idf_tbl) if broadcast_idf else idf_tbl, "term"
    ).select(
        "id", "term", "tf", F.round(F.col("tf") * F.col("_idf"), round_to).alias("score")
    )
    w = W.partitionBy("id").orderBy(F.desc("score"), F.asc("term"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def chunk_windows(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window_tokens: int = 64,
    stride: int = 32,
) -> DataFrame:
    """Sliding-window chunking of the normalized token stream — the
    context-window prep step of a training/RAG pipeline: each doc
    yields overlapping windows of `window_tokens` tokens every `stride`
    tokens.  Requires stride <= window_tokens (ValueError otherwise —
    a larger stride would leave uncovered gaps between windows).
    Window starts run 1, 1+stride, … and the LAST start is
    pulled back to max(1, n−window+1) when the stride grid overshoots
    it (the HF-tokenizer overflow convention): every token is covered,
    every window is full-width — the tail window overlaps its
    predecessor more instead of coming up short — and only a doc
    shorter than the window yields a (single) short window.

    Returns (id, chunk_idx, start_tok, n_tok, chunk_text): chunk_idx
    0-based per doc in start order, start_tok 1-based token offset.
    Pure Catalyst (sequence with step + slice inside one transform) —
    no shuffle at all; at 100 TB this is a map-only expansion of
    ~n/stride rows per doc that downstream operators (dedup, pack,
    embed) consume directly."""
    if window_tokens < 1 or stride < 1:
        raise ValueError("chunk_windows: window_tokens and stride must be >= 1")
    if stride > window_tokens:
        # the start grid 1, 1+stride, ... would leave uncovered gaps of
        # stride - window_tokens tokens between consecutive windows,
        # breaking the every-token-covered contract documented above
        raise ValueError(
            "chunk_windows: stride must be <= window_tokens "
            f"(got stride={stride} > window_tokens={window_tokens}); "
            "a larger stride leaves token gaps between windows"
        )
    toked = _doc_tokens(df, id_col, text_col)
    last_start = F.greatest(F.lit(1), F.size("_t") - F.lit(window_tokens - 1))
    # stride grid + the pulled-back final start; array_distinct keeps
    # first-occurrence order, and last_start >= every grid element, so
    # when new it lands (sorted) at the end
    starts = F.array_distinct(
        F.concat(
            F.sequence(F.lit(1), last_start, F.lit(stride)),
            F.array(last_start),
        )
    )
    wins = F.transform(
        starts,
        lambda s, i: F.struct(
            i.cast("long").alias("chunk_idx"),
            s.cast("long").alias("start_tok"),
            F.size(F.slice("_t", s, window_tokens)).cast("long").alias("n_tok"),
            F.array_join(F.slice("_t", s, window_tokens), " ").alias("chunk_text"),
        ),
    )
    return toked.select("id", F.explode(wins).alias("w")).select(
        "id", "w.chunk_idx", "w.start_tok", "w.n_tok", "w.chunk_text"
    )
