"""Deduplication operators for large-scale training-data pipelines.

Exact (hash groupBy), shingle-Jaccard (exact pairwise over an explode-join),
MinHash+LSH (the 100 TB near-dup path), and SimHash.  All operate on a
(id, text) DataFrame and return either per-doc keep decisions or candidate
duplicate pairs.

Scale design:
- exact: one shuffle on the 128-bit content hash; no text comparison.
- shingle-Jaccard: explode → self-join on shingle → group — exact but
  O(Σ pairs-per-shingle); use only after LSH banding has cut candidates,
  or on bounded corpora.
- MinHash LSH: signature = k independent min-hashes over shingle hashes
  (computed in ONE explode+groupBy, no UDF); banding buckets rows so the
  join only compares same-bucket candidates — the standard web-scale
  near-dup pipeline shape (cf. pyspark.ml.feature.MinHashLSH, same math,
  kept DataFrame-native here so the plan stays in whole-stage codegen).
- SimHash: 64-bit weighted-projection fingerprint; hamming-near pairs via
  band-exact match on 4×16-bit chunks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Mersenne prime 2^31-1 for the affine min-hash family: keeps h*a + b
# within 62 bits so the modular arithmetic stays in native LongType
# (no overflow under ANSI mode, no BigDecimal fallback).
_MERSENNE = (1 << 31) - 1


def normalized(text_col="text"):
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.trim(F.regexp_replace(F.lower(c), r"[^a-z0-9]+", " "))


def norm_tokens(text_col="text"):
    """THE tokenization — split(normalized(c), '\\s+') — consolidated
    from 12 call sites (r13) so the token stream can never silently
    diverge between operators. Deliberately NOT a one-regex-pass form:
    the r13 rewrite splitting lower(text) directly on '[^a-z0-9]+' with
    a boundary-empty fixup measured SLOWER on explode-everything
    consumers (micro-bench on the sf0.1 documents table: 0.334 s vs
    0.237 s per pass; interleaved A/B: tx_unigram_logprob 1.25x) — the
    when(size(toks)=0, [''])/otherwise wrapper re-evaluates the
    filtered split, and the replace pass it saves is mostly single-char
    matches, i.e. cheap. Equivalence of the rejected form was pinned by
    test_norm_tokens_matches_normalized_split, which now pins this
    definition against an inlined copy."""
    return F.split(normalized(text_col), r"\s+")


def validate_banding(total_bits: int, bands: int, what: str) -> int:
    """Shared banding precondition for every LSH family (MinHash,
    SimHash, SRP — batch and streaming): bands must divide the
    signature evenly. bands > bits gives every row an empty/zero band
    (the join silently degenerates to an all-pairs cartesian) and a
    non-dividing bands silently drops trailing bits from banding.
    Returns bits/rows per band."""
    if bands < 1 or bands > total_bits or total_bits % bands != 0:
        raise ValueError(
            f"{what}: bands={bands} must divide {total_bits} evenly "
            f"(1 <= bands <= {total_bits}); other values silently "
            "degenerate the banded join or drop signature bits"
        )
    return total_bits // bands


def fingerprint_expr(text_col="text"):
    """THE document fingerprint: md5 of normalized text, falling back
    to the raw text (sentinel-prefixed) when normalization empties it —
    one definition shared by exact_dedup and functions.text.fingerprint
    so the two can never silently disagree. The [a-z0-9] normalizer
    maps non-Latin text to ''; without the fallback every CJK/Cyrillic
    doc would share md5('') and collapse into one duplicate group."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    norm = F.trim(F.regexp_replace(F.lower(c), r"[^a-z0-9]+", " "))
    return F.md5(
        F.when(norm != "", norm).otherwise(
            F.concat(F.lit("\x00raw\x00"), F.coalesce(c.cast("string"), F.lit("")))
        )
    )


def portable_token_hash(col):
    """60-bit non-negative hash: first 15 hex chars of md5, as a long.

    xxhash64 is Spark-only; md5 is implemented identically everywhere, so
    hash-family-dependent operators (simhash, minhash) become exactly
    reproducible in external engines (the DuckDB oracle) when run with
    this family. 60 bits keeps the value inside a signed long with no
    sign games on either side. Default family for the operators remains
    xxhash64 (one hash vs md5's full digest per token — cheaper at
    corpus scale)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup on the md5 of normalized text: returns
    (id, fingerprint, keeper_id, is_dup) — keeper = min id per group.

    normalized() is [a-z0-9]-centric, so any non-Latin document (CJK,
    Cyrillic, symbols) normalizes to '' — hashing that directly would
    collapse EVERY such doc into one duplicate group and silently
    delete entire languages. Docs whose normalized text is empty
    therefore fingerprint on their RAW text instead (prefixed so the
    two domains can never collide).

    One shuffle on the fingerprint; at 100 TB partition by fingerprint
    prefix and the group sizes stay tiny (hash uniformity).
    """
    # (id, fingerprint) feeds the keeper aggregate AND the join back;
    # without the checkpoint the full-text scan + md5 runs twice
    fp = df.select(
        F.col(id_col).alias("id"), fingerprint_expr(text_col).alias("fingerprint")
    ).localCheckpoint(eager=False)
    keepers = fp.groupBy("fingerprint").agg(F.min("id").alias("keeper_id"))
    return (
        fp.join(keepers, "fingerprint")
        .withColumn("is_dup", (F.col("id") != F.col("keeper_id")).cast("int"))
        .select("id", "fingerprint", "keeper_id", "is_dup")
    )


# below this plan-stat size an item table is broadcast-scale: one encode
# task beats paying an exchange + a stage of latency
_SPREAD_MIN_BYTES = 256 * 1024


def _spread_if_undersplit(df: DataFrame) -> DataFrame:
    """Guide §2.5 'input skew: one huge unsplittable file' fix for the
    encode-heavy item scans (r12 optimization round): the per-row work
    of these operators — n_cells cosine distances for cell assignment,
    m×k subspace L2s for PQ codes, num_planes dots for SRP signatures —
    is orders of magnitude heavier than the scan itself, and it pipelines
    into the scan stage. A single-rowgroup (or gzip'd, or otherwise
    unsplittable) item file therefore runs the whole encode on ONE task
    while the rest of the cluster idles. One round-robin repartition
    spreads the encode; a calibration-gated interleaved A/B measured
    0.70× on the PQ tiers with it (and a net LOSS for the same rebalance
    applied blanket at the table reader — join/aggregate-shaped queries
    lose more to the extra exchange than the scan parallelism returns,
    so it lives HERE, next to the work that justifies it).

    Scale-adaptive by construction: fires only when the frame's physical
    plan yields fewer partitions than half the cluster's
    defaultParallelism — a corpus-scale item table has orders of
    magnitude more splits than cores, making this a no-op there — AND
    the plan-stat size is at least _SPREAD_MIN_BYTES (an item table
    small enough to broadcast encodes fine on one task; this also keeps
    the sf0.001 single-exchange plan pins meaningful). Frames whose
    stats are UNKNOWN skip: the planner reports those at (or, after
    join multiplication, above) the session's
    spark.sql.defaultSizeInBytes, read at call time. The win was only
    ever measured on file-scan inputs, which report real sizes —
    repartitioning a stats-opaque in-memory relation on spec would add
    an exchange nothing justifies (r13, ADVICE). The cheap stats check
    also runs FIRST so the expensive plan-to-RDD partition count (a
    full physical-planning round trip on every call) is only paid by
    frames that could actually fire (r13, guide §7.3 driver-latency
    note)."""
    session = df.sparkSession
    cores = session.sparkContext.defaultParallelism
    try:
        stat_bytes = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        unknown = session._jsparkSession.sessionState().conf().defaultSizeInBytes()
        if not (_SPREAD_MIN_BYTES <= stat_bytes < unknown):
            return df
        parts = df.rdd.getNumPartitions()
    except Exception:
        return df
    if parts * 2 > cores:
        return df
    return df.repartition(cores)


def shingles(df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3) -> DataFrame:
    """(id, shingle) pairs: k-token shingles of the normalized text,
    deduped per doc. Pure Catalyst (sequence + transform), no UDF —
    and no shuffle (r12 optimization round, guide §2.4): the dedup key
    is (id, shingle), i.e. WITHIN one document, so a per-row
    array_distinct before the explode produces the identical row
    multiset that the old frame-level .distinct() did — minus the full
    exchange + two-phase aggregate every consumer (MinHash signatures,
    Jaccard pairs, the contamination screen, k-mer MinHash) was paying
    for it. At corpus scale that exchange carried the whole exploded
    shingle stream.

    CONTRACT (r13): one row per id. The old frame-level .distinct()
    also absorbed duplicate-id input rows; the per-row form does not —
    a caller passing the same id twice gets duplicate (id, shingle)
    pairs, which would inflate the count(1)-based set sizes in
    jaccard_pairs / contamination_pairs. Every caller here feeds a
    one-row-per-document table; the behavior is pinned by
    test_shingles_duplicate_id_contract.

    The token array is materialized ONCE per row before the per-index
    transform — inlining the tokenizer into the lambda re-runs the regex
    per shingle (O(tokens²) regex work; measured 10× slower)."""
    toked = df.select(
        F.col(id_col).alias("id"),
        norm_tokens(text_col).alias("_toks"),
    )
    # guard short docs: sequence(1, 0) would generate a DESCENDING [1, 0]
    idx = F.when(
        F.size("_toks") >= k,
        F.sequence(F.lit(1), F.size("_toks") - (k - 1)),
    ).otherwise(F.array().cast("array<int>"))
    sh = F.transform(idx, lambda i: F.array_join(F.slice("_toks", i, k), " "))
    return toked.select("id", F.explode(F.array_distinct(sh)).alias("shingle"))


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact k-shingle Jaccard similarity for all pairs ≥ threshold:
    |A∩B| / (|A|+|B|−|A∩B|) via explode-join (n-gram Jaccard dedup).

    Returns (id_a, id_b, jaccard) with id_a < id_b.
    """
    # localCheckpoint instead of cache(): shingles are consumed by both
    # `sizes` and the self-join, but cache() would pin executor storage
    # until the session ends (no safe place to unpersist a lazy result);
    # the checkpoint is GC'd with the DataFrame.
    sh = shingles(df, id_col, text_col, k).localCheckpoint(eager=False)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    na = sizes.select(F.col("id").alias("id_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("id").alias("id_b"), F.col("n").alias("n_b"))
    return (
        inter.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _hash_coeffs(num: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic affine coefficients for the min-hash family."""
    import random

    rng = random.Random(seed)
    return [(rng.randrange(1, _MERSENNE), rng.randrange(0, _MERSENNE)) for _ in range(num)]


def _sig_from_shingles(
    sh: DataFrame, num_hashes: int, seed: int, hash_fn=None
) -> DataFrame:
    """(id, shingle) → (id, sig array<long>): num_hashes affine
    min-hashes in one groupBy over the exploded shingles (no per-row
    Python). Shared by token-shingle and k-mer MinHash."""
    base = hash_fn("shingle") if hash_fn is not None else F.xxhash64("shingle")
    # each min-hash is ONE parsed expression, not per-Column-op py4j
    # round trips: building num_hashes affine mins element-by-element
    # cost ~8 JVM calls apiece (~0.5s of plan-build at 32 hashes); the
    # parsed tree — min(pmod(_h * aL + bL, ML)) over the named base
    # hash — is the identical long arithmetic, same values
    coeffs = _hash_coeffs(num_hashes, seed)
    m = _MERSENNE
    hashed = sh.select("id", F.pmod(base, F.lit(m)).alias("_h"))
    mins = [
        F.expr(f"min(pmod(_h * {a}L + {b}L, {m}L)) AS h{i}")
        for i, (a, b) in enumerate(coeffs)
    ]
    sig = hashed.groupBy("id").agg(*mins)
    return sig.select("id", F.array(*[f"h{i}" for i in range(num_hashes)]).alias("sig"))


def _bands(df: DataFrame, bands: int, bucket, *keep) -> DataFrame:
    """The one LSH band explode, shared by every family (MinHash,
    SimHash, SRP — batch and streaming): the `keep` columns plus one
    (band, bucket) row per band, where bucket(i) is the i-th band's key
    expression. Each family supplies only its bucket."""
    bb = F.array(
        *[F.struct(F.lit(i).alias("band"), bucket(i).alias("bucket")) for i in range(bands)]
    )
    return df.select(*keep, F.explode(bb).alias("bb")).select(
        *keep, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def _bit_bands(col: str, total_bits: int, bands: int, what: str):
    """Bucket expression for a packed bit signature (SimHash, SRP): band
    i is the i-th run of total_bits/bands bits of the long `col`."""
    bits = validate_banding(total_bits, bands, what)
    return lambda i: F.shiftright(F.col(col), i * bits).bitwiseAND(
        F.lit((1 << bits) - 1)
    )


def _band_explode(
    sig: DataFrame, num_hashes: int, bands: int, bucket_by_hash: bool
) -> DataFrame:
    """(id, sig) → (id, sig, band, bucket): the MinHash band layout
    shared by the pair self-join, the persisted minhash_store artifact,
    and the ingest gate's delta probes. A band's bucket is its slice of
    the signature; bucket_by_hash=False keys on that raw value array —
    wider key, but collision-free and oracle-replayable."""
    rows_per_band = validate_banding(num_hashes, bands, "MinHash banding")

    def bucket(i: int):
        band_vals = F.slice("sig", i * rows_per_band + 1, rows_per_band)
        return F.xxhash64(band_vals) if bucket_by_hash else band_vals

    return _bands(sig, bands, bucket, "id", "sig")


def _band_pairs(a: DataFrame, b: DataFrame, keep, cols) -> DataFrame:
    """The one banded-candidate pair step: a ⋈ b on (band, bucket), the
    rows passing `keep`, projected to `cols` (two aliased ids, then the
    aliased score), then one row per id pair with its max score.

    r13 optimization (guide §2.3 shuffle metadata, not payloads): the
    score is computed BEFORE the per-pair dedup. A pair colliding in
    several bands scores identically each time (the same two rows), so
    max == the value, and the dedup exchange carries (id, id, score)
    instead of both payloads (signatures, fingerprints or vectors),
    with a codegen HashAggregate replacing the SortAggregate that an
    array first() forced. Measured on the SRP top-k dedup exchange: 2.7
    MiB for 10 k candidates (~276 B/row, all vector bytes) before;
    isolated interleaved noop-sink A/B (best of 6) 1.71 s -> 1.46 s.
    MinHash at sf0.1 was flat (1.45 vs 1.53 s: the per-duplicate
    re-score costs about what the payload cut saves at that size); it
    is kept for the exchange-byte cut, which is what matters when
    candidates are shuffle-bound."""
    out = a.join(b, ["band", "bucket"]).filter(keep).select(*cols)
    *ids, score = out.columns
    return out.groupBy(*ids).agg(F.max(score).alias(score))


def _est_jaccard(sig_a: str, sig_b: str, num_hashes: int):
    """MinHash Jaccard estimate: the share of agreeing signature slots,
    rounded to 6 places (the form the oracles replay)."""
    agree = F.size(
        F.filter(
            F.zip_with(sig_a, sig_b, lambda x, y: (x == y).cast("int")),
            lambda v: v == 1,
        )
    )
    return F.round(agree / F.lit(num_hashes), 6)


def _lsh_pairs_from_sig(
    sig: DataFrame, num_hashes: int, bands: int, bucket_by_hash: bool
) -> DataFrame:
    """(id, sig) → banded LSH candidate pairs (id_a, id_b, est_jaccard).

    Candidates = pairs agreeing on ≥1 whole band; the band-bucket
    equality join is the scale path (candidates ∝ near-dups, never n²).
    bucket_by_hash=False keys the join on the band's raw value array —
    wider shuffle key, but collision-free and oracle-replayable."""
    # the signature build (shingle explode + num_hashes-way min groupBy)
    # is the expensive half, and the band self-join below derives it once
    # PER SIDE (Spark shares no plan subtrees). One materialized pass —
    # the in-engine analog of persisting the bucketed signature table at
    # scale; (id, num_hashes longs) per doc, far smaller than the text.
    sig = sig.localCheckpoint(eager=False)
    banded = _band_explode(sig, num_hashes, bands, bucket_by_hash)
    return _band_pairs(
        banded.alias("a"),
        banded.alias("b"),
        F.col("a.id") < F.col("b.id"),
        [
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            _est_jaccard("a.sig", "b.sig", num_hashes).alias("est_jaccard"),
        ],
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 32,
    seed: int = 42,
    hash_fn=None,
) -> DataFrame:
    """MinHash signature per doc: (id, sig array<long>).

    Shingle → 64-bit hash (xxhash64, or `hash_fn` e.g.
    portable_token_hash for cross-engine reproducibility) → num_hashes
    affine min-hashes, all in one groupBy over the exploded shingles (no
    per-row Python)."""
    # the shingle explode + per-doc affine-min partial aggregation is
    # heavy per ROW and pipelines into the scan stage — spread an
    # undersplit corpus first (r12; same scale-adaptive guard as the
    # ANN encode scans: no-op whenever the file layout already splits)
    sh = shingles(_spread_if_undersplit(df), id_col, text_col, k)
    return _sig_from_shingles(sh, num_hashes, seed, hash_fn)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
    hash_fn=None,
    bucket_by_hash: bool = True,
) -> DataFrame:
    """LSH candidate pairs: band the signature (bands × rows-per-band),
    bucket-join on (band, banded-signature hash), estimate Jaccard from
    full signature agreement. Returns (id_a, id_b, est_jaccard).

    The banding join is the scale path: candidates ∝ true near-dups, not
    n² — same plan shape at 100 TB with signature table bucketed by band
    hash. `bucket_by_hash=False` joins on the band's raw value array
    instead of its xxhash64 (a wider shuffle key, but collision-free and
    — with hash_fn=portable_token_hash — replayable by the DuckDB
    oracle).
    """
    sig = minhash_signatures(df, id_col, text_col, k, num_hashes, seed, hash_fn=hash_fn)
    return _lsh_pairs_from_sig(sig, num_hashes, bands, bucket_by_hash)


def dup_clusters(
    df: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Near-dup clustering — the final step of the corpus dedup
    pipeline: connected components over the candidate-pair graph
    (transitive closure: A≈B≈C collapses to one cluster even when A,C
    never paired), keeper = lexicographic min id per component, docs in
    no pair keep themselves. Returns (id, keeper_id, is_dup) for every
    input doc.

    Scale: the pair graph is ∝ near-dups (tiny vs the corpus); the
    min-label propagation runs O(cluster-diameter) supersteps on it, and
    the corpus only participates in one left join against the component
    map — broadcastable whenever dups are a small fraction."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.kernels import (
        connected_components,
    )

    comp = connected_components(
        pairs.select(
            F.col("id_a").cast("string").alias("src"),
            F.col("id_b").cast("string").alias("dst"),
        )
    )
    return (
        df.select(F.col(id_col).cast("string").alias("id"))
        .join(
            comp.select(F.col("node").alias("id"), F.col("component").alias("_keeper")),
            "id",
            "left",
        )
        .select(
            "id",
            F.coalesce(F.col("_keeper"), F.col("id")).alias("keeper_id"),
            (F.coalesce(F.col("_keeper"), F.col("id")) != F.col("id"))
            .cast("int")
            .alias("is_dup"),
        )
    )


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    hash_fn=None,
) -> DataFrame:
    """SimHash fingerprint: sign-sum of per-token 64-bit hashes → (id,
    simhash long). Near-dups = small hamming distance; pair search via
    16-bit band exact-match (simhash_bands). Pass
    hash_fn=portable_token_hash (with bits<=60) for a fingerprint any
    md5-capable engine reproduces bit-for-bit."""
    tok = df.select(
        F.col(id_col).alias("id"),
        F.explode(norm_tokens(text_col)).alias("token"),
    )
    h = hash_fn("token") if hash_fn is not None else F.xxhash64("token")
    bit_sums = [
        F.sum(
            F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    agg = tok.groupBy("id").agg(*bit_sums)
    fp = None
    for i in range(bits):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = bit * F.lit(1 << i).cast("long") if i < 63 else bit * F.lit(-(1 << 63)).cast("long")
        fp = term if fp is None else fp + term
    return agg.select("id", fp.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 7,
    bands: int = 8,
) -> DataFrame:
    """SimHash near-dup pair search: candidates = pairs agreeing exactly
    on ≥1 of `bands` fingerprint chunks, then exact hamming filter
    ≤ max_hamming.

    Pigeonhole guarantee: a pair at hamming distance h can differ in at
    most h chunks, so with bands ≥ h+1 at least one chunk matches —
    candidate generation is EXACT for h ≤ bands−1 (enforced below);
    larger budgets need more bands.

    Returns (id_a, id_b, hamming). The band join is the scale path —
    candidates come from chunk-equality buckets, never n².
    """
    if max_hamming > bands - 1:
        raise ValueError(
            f"bands={bands} only guarantees recall for hamming ≤ {bands - 1}; "
            f"raise bands to ≥ {max_hamming + 1} for max_hamming={max_hamming}"
        )
    bucket = _bit_bands("simhash", 64, bands, "SimHash banding")
    # the fingerprint build (64-way bit-sum groupBy over exploded
    # tokens) would derive once per self-join side — materialize the
    # (id, simhash) table once
    fp = simhash(df, id_col, text_col).localCheckpoint(eager=False)
    banded = _bands(fp, bands, bucket, "id", "simhash")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return _band_pairs(
        banded.alias("a"),
        banded.alias("b"),
        F.col("a.id") < F.col("b.id"),
        [
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            hamming.cast("int").alias("hamming"),
        ],
    ).filter(F.col("hamming") <= max_hamming)


def char_shingles(
    df: DataFrame, id_col: str = "id", seq_col: str = "seq", k: int = 8
) -> DataFrame:
    """(id, shingle) pairs of character k-mers — the genomic analog of
    token shingles (SURVEY §2.12: the Spark-native replacement for the
    reference's BLAST-based contig similarity is k-mer MinHash LSH).
    Upper-cased; deduped per sequence (per-row array_distinct — the
    dedup key is within one sequence, so no shuffle; see shingles()).
    Same one-row-per-id CONTRACT as shingles(): duplicate-id inputs
    emit duplicate pairs (test_shingles_duplicate_id_contract)."""
    up = F.upper(F.col(seq_col))
    idx = F.when(
        F.length(up) >= k, F.sequence(F.lit(1), F.length(up) - (k - 1))
    ).otherwise(F.array().cast("array<int>"))
    km = F.transform(idx, lambda i: F.substring(up, F.lit(0) + i, k))
    return df.select(
        F.col(id_col).alias("id"), F.explode(F.array_distinct(km)).alias("shingle")
    )


def kmer_minhash_pairs(
    df: DataFrame,
    id_col: str = "id",
    seq_col: str = "seq",
    k: int = 8,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
    hash_fn=None,
    bucket_by_hash: bool = True,
) -> DataFrame:
    """Sequence-similarity candidate pairs via k-mer MinHash + LSH
    banding — in-engine replacement for all-vs-all blastn screening
    (Makefile:538-613 of /root/reference): est_jaccard over k-mer sets
    approximates nucleotide identity for same-length sequences.

    Same banding plan as minhash_lsh_pairs; candidates ∝ near-identical
    sequences, never n² genomes. hash_fn=portable_token_hash +
    bucket_by_hash=False makes the full pipeline oracle-replayable."""
    sh = char_shingles(df, id_col, seq_col, k)
    sig = _sig_from_shingles(sh, num_hashes, seed, hash_fn)
    return _lsh_pairs_from_sig(sig, num_hashes, bands, bucket_by_hash)


def doc_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 16,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, chunk_idx, fingerprint) rows: each normalized doc split into
    consecutive non-overlapping `chunk_tokens`-token chunks, each chunk
    fingerprinted with md5. Pure Catalyst (one tokenize per row, then a
    per-index transform) — no UDF, stays in whole-stage codegen.
    `keep_cols` carries extra columns through (e.g. the event-time column
    a streaming consumer needs for its watermark)."""
    toked = df.select(
        *[F.col(c) for c in keep_cols],
        F.col(id_col).alias("id"),
        norm_tokens(text_col).alias("_toks"),
    )
    n_chunks = F.ceil(F.size("_toks") / F.lit(chunk_tokens)).cast("int")
    idx = F.when(
        F.size("_toks") >= 1, F.sequence(F.lit(1), n_chunks)
    ).otherwise(F.array().cast("array<int>"))
    chunk = lambda i: F.array_join(  # noqa: E731
        F.slice("_toks", (i - 1) * chunk_tokens + 1, chunk_tokens), " "
    )
    return toked.select(
        *keep_cols,
        "id",
        F.explode(
            F.transform(idx, lambda i: F.struct(i.alias("chunk_idx"), F.md5(chunk(i)).alias("fingerprint")))
        ).alias("_c"),
    ).select(*keep_cols, "id", "_c.chunk_idx", "_c.fingerprint")


def chunk_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 16,
) -> DataFrame:
    """Passage-level exact dedup (the substring-dedup shape of
    Lee et al. 2022 "Deduplicating Training Data Makes Language Models
    Better", over fixed token windows): fingerprint every
    `chunk_tokens`-token chunk of every doc and mark each repeat of a
    chunk already seen at a lower (doc, position) as a duplicate.

    Returns (id, chunk_idx, fingerprint, keeper_id, keeper_idx, is_dup).
    A downstream writer drops is_dup=1 chunks to emit the deduped corpus.

    Scale: one shuffle on the chunk fingerprint (same shape as
    exact_dedup — hash-uniform groups, no text comparison, no windows);
    keeper choice is a min(struct) aggregate, not a global sort."""
    # chunk frame feeds the keeper aggregate AND the join back —
    # materialize the tokenize+fingerprint pass once
    ch = doc_chunks(df, id_col, text_col, chunk_tokens).localCheckpoint(eager=False)
    keepers = ch.groupBy("fingerprint").agg(
        F.min(F.struct("id", "chunk_idx")).alias("_k")
    )
    return (
        ch.join(keepers, "fingerprint")
        .select(
            "id",
            "chunk_idx",
            "fingerprint",
            F.col("_k.id").alias("keeper_id"),
            F.col("_k.chunk_idx").alias("keeper_idx"),
            (
                (F.col("id") != F.col("_k.id"))
                | (F.col("chunk_idx") != F.col("_k.chunk_idx"))
            ).cast("int").alias("is_dup"),
        )
    )


def contamination_pairs(
    train: DataFrame,
    test: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.2,
    max_df: int | None = None,
    broadcast_test_shingles: bool = True,
) -> DataFrame:
    """Train/test contamination screen: for every test doc, the train
    docs sharing ≥ threshold of its k-token shingles (containment
    |T∩R| / |T|, the benchmark-decontamination overlap measure — the
    asymmetric cousin of jaccard_pairs).

    Returns (test_id, train_id, shared, containment), containment
    rounded to 6 places.

    `max_df` drops train shingles occurring in more than max_df train
    docs before the join: boilerplate n-grams carry no contamination
    evidence, and pruning them bounds the per-shingle join fan-out — the
    skew guard that keeps the explode-join linear at corpus scale.

    Scale: shuffle on shingle (explode-join), group on (test, train)
    pair; candidates ∝ genuinely-shared rare shingles, never
    |train|×|test|. With `broadcast_test_shingles` (default True) the
    train side is first filtered map-side against a broadcast of the
    DISTINCT test shingles — only shingles the test set actually
    contains can survive the containment join, so the shuffle (and the
    max_df window's sort) see the tiny matched subset of the train
    corpus, not all of it. That's the right bet at scale: the test side
    is an eval benchmark, orders of magnitude smaller than the training
    corpus. Set False if the test side's shingle vocabulary itself
    exceeds broadcast limits (values identical either way)."""
    sh_tr = shingles(train, id_col, text_col, k).withColumnRenamed("id", "train_id")
    sh_te = shingles(test, id_col, text_col, k).withColumnRenamed("id", "test_id")
    sh_te = sh_te.localCheckpoint(eager=False)  # feeds sizes AND the join
    if broadcast_test_shingles:
        # map-side prune BEFORE the df-window and the shuffle: the later
        # inner join drops non-test shingles anyway, and per-shingle
        # doc-frequencies are unchanged by dropping other shingles, so
        # the result is value-identical — the prune only moves the
        # filter ahead of the expensive exchange
        sh_tr = sh_tr.join(
            F.broadcast(sh_te.select("shingle").distinct()), "shingle", "left_semi"
        )
    if max_df is not None:
        # doc-frequency prune as a count-over-window, not agg+self-join:
        # one derivation of the train shingles, and the window's
        # hash-partitioning on shingle is exactly what the containment
        # join needs — the train side never shuffles twice
        from pyspark.sql import Window as W

        sh_tr = sh_tr.withColumn(
            "_df", F.count(F.lit(1)).over(W.partitionBy("shingle"))
        ).filter(F.col("_df") <= max_df).drop("_df")
    sizes = sh_te.groupBy("test_id").agg(F.count(F.lit(1)).alias("_n"))
    return (
        sh_te.join(sh_tr, "shingle")
        .groupBy("test_id", "train_id")
        .agg(F.count(F.lit(1)).alias("shared"))
        .join(sizes, "test_id")
        .withColumn("containment", F.round(F.col("shared") / F.col("_n"), 6))
        .filter(F.col("containment") >= threshold)
        .select("test_id", "train_id", "shared", "containment")
    )


def duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_count: int = 2,
    hash_fn=None,
    broadcast_dup_fps: bool = True,
) -> DataFrame:
    """Exact-substring duplicate SPANS at token granularity — the
    overlapping-window generalization of chunk_dedup, i.e. the actual
    Lee et al. 2022 semantics: a token position is duplicated when it
    lies inside ANY k-token window whose normalized fingerprint occurs
    >= min_count times corpus-wide; maximal runs of duplicated windows
    merge into per-doc spans.  (Lee et al. build a corpus suffix array;
    over k-token windows the same duplicated regions fall out of a
    plain fingerprint count — no suffix array, three Spark stages.)

    Returns (id, span_start, span_end, n_windows): 1-based inclusive
    TOKEN indexes of each maximal duplicated span. Fixed chunking
    (chunk_dedup) misses duplicates straddling chunk boundaries and
    over-flags part-duplicated chunks; spans are exact to ±(k−1)
    tokens at the edges.

    Scale: one fingerprint groupBy over the exploded windows (the only
    corpus-wide shuffle), a semi join against the duplicated-fingerprint
    set (broadcast by default — duplicated fingerprints ∝ duplicated
    text, typically tiny; flip broadcast_dup_fps=False for a
    near-duplicate-saturated corpus), and a per-doc window for the
    interval merge. No UDFs anywhere."""
    from pyspark.sql import Window as W

    base = hash_fn if hash_fn is not None else F.xxhash64
    toked = df.select(
        F.col(id_col).alias("id"),
        norm_tokens(text_col).alias("_t"),
    )
    idx = F.when(
        F.size("_t") >= k, F.sequence(F.lit(1), F.size("_t") - (k - 1))
    ).otherwise(F.array().cast("array<int>"))
    wins = toked.select(
        "id",
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    i.alias("pos"),
                    base(F.array_join(F.slice("_t", i, k), " ")).alias("fp"),
                ),
            )
        ).alias("w"),
    ).select("id", F.col("w.pos").alias("pos"), F.col("w.fp").alias("fp"))
    # the exploded window table feeds BOTH the global count and the
    # flag join; Catalyst shares no subtrees — one materialized pass
    wins = wins.localCheckpoint(eager=False)
    dup_fps = (
        wins.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= min_count)
        .select("fp")
    )
    flagged = wins.join(
        F.broadcast(dup_fps) if broadcast_dup_fps else dup_fps, "fp", "semi"
    )
    # interval merge: windows are fixed-length k, so sorted by pos the
    # running max end is the previous pos + k − 1 — a new span starts
    # when the gap exceeds k (not even token-adjacent)
    wseq = W.partitionBy("id").orderBy("pos")
    spans = (
        flagged.withColumn(
            "_brk",
            F.when(
                F.col("pos") - F.lag("pos").over(wseq) > k, 1
            ).otherwise(0),
        )
        .withColumn("_grp", F.sum("_brk").over(
            wseq.rowsBetween(W.unboundedPreceding, W.currentRow)
        ))
        .groupBy("id", "_grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k - 1)).alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .drop("_grp")
    )
    return spans.select("id", "span_start", "span_end", "n_windows")


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_count: int = 2,
    hash_fn=None,
    broadcast_dup_fps: bool = True,
) -> DataFrame:
    """Apply duplicate_spans to the corpus: rebuild each doc's
    normalized text WITHOUT its duplicated spans — the cut step of the
    Lee et al. pipeline (dedup before packing, so repeated boilerplate
    never reaches the trainer).

    Returns (id, clean_text, n_tokens, n_removed): clean_text is the
    space-joined surviving tokens of the NORMALIZED text (span indexes
    are defined over the normalized token stream, so cutting happens
    there; NULL text coalesces to the empty doc rather than poisoning
    the pipeline).  Shuffle cost = duplicate_spans + one per-doc
    aggregate of its spans; the cut itself is a pure array expression.
    """
    spans = duplicate_spans(
        df, id_col, text_col, k, min_count, hash_fn, broadcast_dup_fps
    )
    sp = spans.groupBy("id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    toked = df.select(
        F.col(id_col).alias("id"),
        norm_tokens(F.coalesce(F.col(text_col), F.lit(""))).alias("_t"),
    )
    joined = toked.join(sp, "id", "left").withColumn(
        "_spans",
        F.coalesce(
            "_spans",
            F.array().cast("array<struct<span_start:int,span_end:int>>"),
        ),
    )
    kept_idx = F.filter(
        F.sequence(F.lit(1), F.size("_t")),
        lambda i: ~F.exists(
            F.col("_spans"),
            lambda s: (i >= s["span_start"]) & (i <= s["span_end"]),
        ),
    )
    return joined.select(
        "id",
        F.array_join(
            F.transform(kept_idx, lambda i: F.get("_t", i - 1)), " "
        ).alias("clean_text"),
        F.size("_t").cast("long").alias("n_tokens"),
        (F.size("_t") - F.size(kept_idx)).cast("long").alias("n_removed"),
    )


def fingerprint_store(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The persisted corpus artifact incremental ingest joins against:
    one row per DISTINCT document fingerprint (fingerprint_expr — the
    same definition exact_dedup and text.fingerprint share, so ingest
    and batch dedup can never disagree about what 'duplicate' means).
    At 100 TB write this bucketed by fingerprint and append each
    accepted delta's new fingerprints to it."""
    return df.select(fingerprint_expr(text_col).alias("fingerprint")).distinct()


def ingest_dedup(
    incoming: DataFrame,
    store_fps: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental (delta-batch) dedup against a persisted fingerprint
    store — the maintenance loop of a production corpus: each new crawl
    batch lands, is deduped against EVERYTHING already accepted without
    recomputing the corpus, and only its 'new' rows (plus their
    fingerprints) append to the store.

    Returns one row per incoming doc: (id, fingerprint, status) with
    status ∈ {'new', 'dup_store', 'dup_batch'} — dup_store: the text
    already exists in the corpus (even if the batch also repeats it);
    dup_batch: first seen inside THIS batch under a smaller id.

    Scale shape — the store NEVER shuffles: the delta's distinct
    fingerprints (small by definition of a delta) broadcast onto ONE
    store scan (left-semi) producing the matched set, which is at most
    delta-sized and broadcasts back onto the delta rows.  Within-batch
    keepers cost one delta-sized fingerprint shuffle.  Total: one pass
    over the store, two broadcast joins, two delta-bounded exchanges
    (the keeper window and the matched-set distinct)."""
    from pyspark.sql import Window as W

    fp = incoming.select(
        F.col(id_col).alias("id"), fingerprint_expr(text_col).alias("fingerprint")
    ).localCheckpoint(eager=False)
    # .distinct() guards the fan-out hazard: fingerprint_store output is
    # already distinct, but a store with repeated fingerprint rows would
    # otherwise duplicate `matched` and the left join below would emit
    # duplicate (id, fingerprint, status) rows per incoming doc.  The
    # dedup runs on the at-most-delta-sized matched set (pre-broadcast),
    # never on the store.
    matched = (
        store_fps.join(
            F.broadcast(fp.select("fingerprint").distinct()), "fingerprint", "semi"
        )
        .select("fingerprint")
        .distinct()
        .select("fingerprint", F.lit(1).alias("_in_store"))
    )
    # within-batch keeper as a window min, NOT a groupBy+self-join: the
    # window's fingerprint exchange is the plan's only shuffle (a
    # keeper join would re-derive fp and sort-merge delta x delta)
    keeper = F.min("id").over(W.partitionBy("fingerprint"))
    return (
        fp.withColumn("_keeper", keeper)
        .join(F.broadcast(matched), "fingerprint", "left")
        .select(
            "id",
            "fingerprint",
            F.when(F.col("_in_store") == 1, F.lit("dup_store"))
            .when(F.col("id") != F.col("_keeper"), F.lit("dup_batch"))
            .otherwise(F.lit("new"))
            .alias("status"),
        )
    )


def minhash_store(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
    hash_fn=None,
    bucket_by_hash: bool = True,
) -> DataFrame:
    """The persisted NEAR-DUP artifact incremental ingest probes — the
    lexical sibling of fingerprint_store (exact) and semantic_store
    (embedding): one row per (band, bucket) per corpus doc, carrying the
    doc's full MinHash signature: (id, sig, band, bucket).  At 100 TB
    write this partitioned by band and bucketed by bucket — that layout
    applies to the default bucket_by_hash=True, where the bucket is a
    single xxhash64 long; with bucket_by_hash=False (the
    oracle-replayable raw layout) the bucket column is the band's raw
    array<bigint> slice, not a valid partitionBy/bucketBy column, so
    derive a partitioning column from it (e.g. xxhash64 of the slice)
    first.  Append each accepted delta's banded signatures to it
    between runs.  The banding
    parameters are the store's SCHEMA — every later
    minhash_ingest_dedup must probe with the identical (k, num_hashes,
    bands, seed, hash family) or buckets would never match."""
    sig = minhash_signatures(df, id_col, text_col, k, num_hashes, seed, hash_fn)
    return _band_explode(sig, num_hashes, bands, bucket_by_hash)


def minhash_ingest_dedup(
    incoming: DataFrame,
    store_banded: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    seed: int = 42,
    hash_fn=None,
    bucket_by_hash: bool = True,
) -> DataFrame:
    """Incremental NEAR-DUP dedup of a delta batch against the persisted
    banded-signature store — the third admission gate, completing the
    trio: exact (ingest_dedup, fingerprints), near-dup lexical (this,
    MinHash/LSH), semantic (semantic_ingest_dedup, embeddings).  Each
    new crawl batch is screened against everything already accepted
    WITHOUT recomputing (or reshuffling) the corpus signatures.

    Returns one row per incoming doc: (id, status ∈ {'dup_near', 'new'},
    match_id, est_jaccard) — match = the store doc with the highest
    signature-agreement estimate among band-bucket collisions (ties:
    smallest store id), reported for sub-threshold rows too; NULL when
    no store bucket collided (including docs too short to shingle).

    Scale shape — the store NEVER shuffles: the delta's banded
    signatures (bands rows per delta doc) broadcast onto ONE store scan
    as a hash join on (band, bucket); per-pair work is one zip_with
    agreement count over num_hashes longs; a pair colliding in several
    bands costs extra candidate rows, never a wrong answer (max/argmax
    absorbs duplicates, so no dropDuplicates exchange is needed); the
    only exchange is the delta-sized signature groupBy + per-doc max
    (both map-side combined).  Plan-guarded in test_plan_shapes."""
    # checkpointing the delta signatures is SAFE here, unlike in
    # semantic_ingest_dedup: the store probe is a plain hash join on
    # (band, bucket) — no partition-pruning to lose — whereas the
    # semantic gate's store scan relies on dynamic partition pruning,
    # which a probe-side localCheckpoint silently kills (it erases the
    # selective predicate DPP needs).  Do NOT copy this checkpoint into
    # the semantic gate for "consistency".
    sig = minhash_signatures(
        incoming, id_col, text_col, k, num_hashes, seed, hash_fn
    ).localCheckpoint(eager=False)
    probes = _band_explode(sig, num_hashes, bands, bucket_by_hash).select(
        F.col("id").alias("q_id"), F.col("sig").alias("q_sig"), "band", "bucket"
    )
    scored = store_banded.join(F.broadcast(probes), ["band", "bucket"]).select(
        "q_id",
        F.col("id").alias("match_id"),
        _est_jaccard("q_sig", "sig", num_hashes).alias("est_jaccard"),
    )
    best = scored.groupBy("q_id").agg(
        F.max("est_jaccard").alias("est_jaccard"),
        F.min_by(
            "match_id",
            F.struct(
                (-F.col("est_jaccard")).alias("ne"), F.col("match_id").alias("mid")
            ),
        ).alias("match_id"),
    )
    return (
        incoming.select(F.col(id_col).alias("q_id"))
        .join(F.broadcast(best), "q_id", "left")
        .select(
            F.col("q_id").alias("id"),
            F.when(F.col("est_jaccard") >= threshold, F.lit("dup_near"))
            .otherwise(F.lit("new"))
            .alias("status"),
            "match_id",
            "est_jaccard",
        )
    )
