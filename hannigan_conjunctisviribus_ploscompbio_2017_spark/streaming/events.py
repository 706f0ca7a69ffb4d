"""Structured Streaming surface (SURVEY §2.13).

The reference is batch-only (the Neo4j graph is dropped and rebuilt per
run, Makefile:461-473); this module adds the incremental path a
continuously-ingesting deployment needs: watermarked windowed aggregation
and sessionization over an event stream, plus an incremental
edge-abundance upsert via foreachBatch.

Batch/stream parity: the aggregations here are the streaming twins of
queries_testdata.ev_hourly_agg / ev_sessionize — same logic, plus
watermark. Tests drive them with a bounded file source +
processAllAvailable() (the documented local-smoke pattern).
"""

from __future__ import annotations

import json
import math
from contextlib import nullcontext

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hannigan_conjunctisviribus_ploscompbio_2017_spark.fslock import (
    _LOG,
    _STORE,
    _check_marker,
    _fs_create_text,
    _fs_read_text,
    _fs_write_text,
    _hadoop_fs,
    _maintenance_pass,
    _sweep_claims,
    _user_claim,
)

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_event_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 8
) -> DataFrame:
    """File-source event stream (swap for kafka in production — same
    downstream plan)."""
    return (
        spark.readStream.format("parquet")
        .schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(path)
    )


def windowed_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling/sliding window counts + value sums per
    event_type. Late rows beyond the watermark are dropped; state is
    bounded by watermark horizon — required for an unbounded 100 TB/day
    stream."""
    w = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(w.alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def session_aggregates(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Native session windows (session_window = the streaming analog of
    the batch lag/cumsum sessionization in queries_testdata.ev_sessionize)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sess"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 4).alias("session_value"))
        .select(
            "user_id",
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


def run_to_memory(stream_df: DataFrame, name: str, output_mode: str = "append"):
    """Drive a bounded stream to completion synchronously into an
    in-memory table (local smoke pattern); returns the query handle —
    caller reads spark.sql(f'SELECT * FROM {name}')."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    return q


def incremental_edge_upsert(
    stream_df: DataFrame,
    target_path: str,
    checkpoint: str,
):
    """foreachBatch upsert: fold each micro-batch of (src, dst, abundance
    delta) into the Sampled-edge parquet store — the incremental
    replacement for the reference's drop-and-rebuild loads.

    Design: append-log of per-epoch partial aggregates (one write per
    micro-batch, no read-modify-write race between batches), compacted on
    read by `read_incremental_edges`. Exactly-once: a retried epoch
    appends identical rows under the same _epoch, deduped at read time.
    """

    def _append(batch: DataFrame, epoch_id: int) -> None:
        agg = (
            batch.groupBy("src", "dst")
            .agg(F.sum("abundance").alias("abundance"))
            .withColumn("_epoch", F.lit(int(epoch_id)))
        )
        agg.write.mode("append").parquet(target_path)

    return (
        stream_df.writeStream.foreachBatch(_append)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def _arm(state, ts, retention_ms: int, *fields) -> None:
    """The one event-time arming rule of the stateful operators here.

    Stores `(*fields, basis)` and arms eviction at basis + retention_ms,
    where basis (the state's last field, ms) is the max of the stored
    basis and this batch's max event time `ts.max()`. Spark resets a
    GroupState timeout on every call, so each call must re-arm; taking
    the max means an out-of-order delivery never moves eviction EARLIER
    (and the timeout never falls below the watermark, which would throw
    and kill the query)."""
    basis = int(ts.max().timestamp() * 1000)
    if state.exists:
        basis = max(basis, int(state.get[-1]))
    state.update((*fields, basis))
    state.setTimeoutTimestamp(basis + retention_ms)


def _first_seen_state(ts_col: str, retention_ms: int, admit):
    """The state function of `_first_seen`: a timed-out key drops its
    state and emits nothing; an already-seen key re-arms and emits
    nothing; a key's first delivery arms and emits the one row
    `admit(key, rows)` (a dict) over all of its rows in the batch."""
    import pandas as pd

    def fn(key, pdfs, state):
        if state.hasTimedOut:
            state.remove()
            return
        seen = state.exists
        # concat BEFORE admit orders the rows: a key spanning several
        # Arrow batches must be judged over all of them
        rows = pd.concat(list(pdfs), ignore_index=True)
        _arm(state, rows[ts_col], retention_ms)
        if not seen:
            yield pd.DataFrame([admit(key, rows)])

    return fn


def _first_seen(
    rows: DataFrame,
    key_cols: list[str],
    ts_col: str,
    watermark: str,
    retention_ms: int,
    out_schema: T.StructType,
    admit,
) -> DataFrame:
    """Cross-batch first-seen state per `key_cols`: each key emits
    `admit(key, rows)` once, on its first delivery; every later delivery
    (same micro-batch or any later one) is suppressed. State per key is
    its arming basis only, evicted `retention_ms` past the key's max
    event time (`_arm`) — bounded state on an unbounded stream."""
    return (
        rows.withWatermark(ts_col, watermark)
        .groupBy(*key_cols)
        .applyInPandasWithState(
            _first_seen_state(ts_col, retention_ms, admit),
            out_schema,
            T.StructType([T.StructField("max_ms", T.LongType())]),
            "append",
            "EventTimeTimeout",
        )
    )


def streaming_first_seen(
    events: DataFrame,
    key_col: str = "props",
    watermark: str = "2 hours",
    retention_ms: int = 24 * 3600 * 1000,
) -> DataFrame:
    """Cross-batch streaming dedup (`_first_seen`): emits each key's
    FIRST event only; every later occurrence — same micro-batch or any
    later one — is dropped. The streaming twin of the batch exact-dedup
    operator (operators/dedup.py), for ingest pipelines that must never
    admit a duplicate document twice.

    Output: (key, first_event_id, first_ts, n_dups) where n_dups counts
    suppressed duplicates in the first-seen batch."""
    out_schema = T.StructType(
        [
            T.StructField("key", T.StringType()),
            T.StructField("first_event_id", T.LongType()),
            T.StructField("first_ts", T.TimestampType()),
            T.StructField("n_dups", T.LongType()),
        ]
    )

    def admit(key, rows):
        first = rows.sort_values(["ts", "event_id"]).iloc[0]
        return {
            "key": key[0],
            "first_event_id": int(first["event_id"]),
            "first_ts": first["ts"],
            "n_dups": len(rows) - 1,
        }

    return _first_seen(
        events.withColumn("key", F.col(key_col)),
        ["key"], "ts", watermark, retention_ms, out_schema, admit,
    )


def minhash_sig_cols(text_col, k: int = 3, num_hashes: int = 16, seed: int = 42):
    """Per-ROW MinHash signature as pure scalar expressions (shingle
    array → array_min of affine hashes) — no explode/groupBy, so the
    signature composes with streaming plans where a pre-aggregation
    before a stateful operator is disallowed. Same hash family as
    operators.dedup.minhash_signatures (xxhash64 + seeded affine
    permutations mod the Mersenne prime)."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.dedup import (
        _MERSENNE,
        _hash_coeffs,
        norm_tokens,
    )

    toks = norm_tokens(text_col)
    idx = F.when(
        F.size(toks) >= k, F.sequence(F.lit(1), F.size(toks) - (k - 1))
    ).otherwise(F.array().cast("array<int>"))
    sh = F.transform(idx, lambda i: F.array_join(F.slice(toks, i, k), " "))
    cols = []
    for j, (a, b) in enumerate(_hash_coeffs(num_hashes, seed)):
        hj = F.transform(
            sh,
            lambda s: F.pmod(
                F.pmod(F.xxhash64(s), F.lit(_MERSENNE)) * F.lit(a) + F.lit(b),
                F.lit(_MERSENNE),
            ),
        )
        cols.append(F.array_min(hj).alias(f"h{j}"))
    return cols


def _bucket_probe(max_ids_per_bucket: int, retention_ms: int):
    """The state function of `streaming_near_dup_candidates`, per
    (band, bucket): each new document pairs with every id the bucket
    already holds, then joins the (bounded) id list; the state is
    (ids, max_ms), armed by `_arm`. A timed-out bucket drops its state."""
    import pandas as pd

    def probe(key, pdfs, state):
        if state.hasTimedOut:
            state.remove()
            return
        ids = list(state.get[0]) if state.exists else []
        out = []
        # concat BEFORE sorting: a bucket spanning multiple Arrow
        # batches must process in global (ts, event_id) order, not
        # per-chunk order (chunk arrival order is nondeterministic) —
        # same discipline as the first-seen operators
        allrows = pd.concat(list(pdfs), ignore_index=True)
        # itertuples, not iterrows: same traversal, no per-row Series
        # construction (the ids-list state evolves row to row, so the
        # loop itself cannot vectorize)
        for r in allrows.sort_values(["ts", "event_id"]).itertuples(index=False):
            doc = int(r.event_id)
            for prior in ids:
                if prior != doc:
                    out.append(
                        {
                            "doc_id": doc,
                            "candidate_id": prior,
                            "band": int(key[0]),
                            "bucket": int(key[1]),
                            "ts": r.ts,
                        }
                    )
            if len(ids) < max_ids_per_bucket and doc not in ids:
                ids.append(doc)
        _arm(state, allrows["ts"], retention_ms, ids)
        if out:
            yield pd.DataFrame(out)

    return probe


def streaming_near_dup_candidates(
    events: DataFrame,
    text_col: str = "props",
    watermark: str = "2 hours",
    k_shingle: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    max_ids_per_bucket: int = 16,
    retention_ms: int = 24 * 3600 * 1000,
) -> DataFrame:
    """Streaming MinHash-LSH near-dup candidate detection — the
    streaming twin of operators.dedup.minhash_lsh_pairs: per-row scalar
    signatures → band buckets → a stateful operator keyed by
    (band, bucket) that emits a candidate pair whenever a new document
    lands in a bucket some earlier document (same OR any earlier
    micro-batch) already claimed.

    State per bucket is a bounded id list (max_ids_per_bucket — hot
    buckets degrade to sampling the earliest ids, never unbounded state)
    plus its arming basis, evicted by the gates' rule (`_arm`): a late
    delivery never pulls a bucket's eviction earlier. Output: (doc_id,
    candidate_id, band, bucket, ts) — pairs may repeat across bands;
    downstream dedup / exact Jaccard verification is a batch join, as
    in the batch pipeline."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.dedup import (
        _bands,
        validate_banding,
    )

    rows_per_band = validate_banding(num_hashes, bands, "MinHash banding")
    sig = events.select(
        "event_id",
        "ts",
        *minhash_sig_cols(text_col, k_shingle, num_hashes),
    ).filter(F.col("h0").isNotNull())  # docs shorter than k tokens: no signature
    banded = _bands(
        sig,
        bands,
        lambda i: F.xxhash64(
            F.array(*[F.col(f"h{i * rows_per_band + j}") for j in range(rows_per_band)])
        ),
        "event_id",
        "ts",
    )

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("candidate_id", T.LongType()),
            T.StructField("band", T.IntegerType()),
            T.StructField("bucket", T.LongType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("ids", T.ArrayType(T.LongType())),
            T.StructField("max_ms", T.LongType()),
        ]
    )

    return (
        banded.withWatermark("ts", watermark)
        .groupBy("band", "bucket")
        .applyInPandasWithState(
            _bucket_probe(max_ids_per_bucket, retention_ms),
            out_schema,
            state_schema,
            "append",
            "EventTimeTimeout",
        )
    )


def read_incremental_edges(spark: SparkSession, target_path: str) -> DataFrame:
    """Compact the epoch append-log into current edge abundances
    (dedup epoch retries, then sum deltas)."""
    log = spark.read.parquet(target_path)
    return (
        log.dropDuplicates(["src", "dst", "_epoch"])
        .groupBy("src", "dst")
        .agg(F.sum("abundance").alias("abundance"))
    )


def streaming_chunk_first_seen(
    docs: DataFrame,
    ts_col: str = "ts",
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 16,
    watermark: str = "2 hours",
    retention_ms: int = 24 * 3600 * 1000,
) -> DataFrame:
    """Streaming passage-level dedup — the streaming twin of
    operators.dedup.chunk_dedup: each incoming doc is split into
    16-token chunks (stateless Catalyst explode, same expression tree as
    the batch operator), then per-fingerprint first-seen state admits
    only the FIRST occurrence of each passage across all
    micro-batches. Ingest pipelines drop every later repeat before it
    reaches the corpus store.

    State and eviction are `_first_seen`'s. Output: (fingerprint,
    first_doc_id, first_chunk_idx, first_ts, n_dups)."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.dedup import doc_chunks

    ch = doc_chunks(
        docs, id_col=id_col, text_col=text_col, chunk_tokens=chunk_tokens,
        keep_cols=(ts_col,),
    )
    out_schema = T.StructType(
        [
            T.StructField("fingerprint", T.StringType()),
            T.StructField("first_doc_id", T.LongType()),
            T.StructField("first_chunk_idx", T.IntegerType()),
            T.StructField("first_ts", T.TimestampType()),
            T.StructField("n_dups", T.LongType()),
        ]
    )

    def admit(key, rows):
        first = rows.sort_values([ts_col, "id", "chunk_idx"]).iloc[0]
        return {
            "fingerprint": key[0],
            "first_doc_id": int(first["id"]),
            "first_chunk_idx": int(first["chunk_idx"]),
            "first_ts": first[ts_col],
            "n_dups": len(rows) - 1,
        }

    return _first_seen(
        ch, ["fingerprint"], ts_col, watermark, retention_ms, out_schema, admit
    )


def streaming_quality_router(
    docs: DataFrame,
    keep_path: str,
    quarantine_path: str,
    checkpoint: str,
    text_col: str = "text",
    lang_col: str = "lang",
    **filter_kwargs,
):
    """Streaming corpus ingest with quality routing: each micro-batch is
    scored with functions.text.reject_reasons (same Catalyst expression
    as the batch tx_quality_filter) and split — clean docs append to the
    corpus store, rejects append to a quarantine store WITH their
    reasons, so nothing is silently dropped and the reject stream is
    auditable. One foreachBatch, two appends; the expression evaluates
    once per row (the batch is tiny relative to state so no cache
    needed — Spark reuses the scan within the batch plan)."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.functions.text import reject_reasons

    r = reject_reasons(text_col, lang_col, **filter_kwargs)

    def _route(batch: DataFrame, epoch_id: int) -> None:
        from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.kernels import (
            _release,
            _tracked_local_checkpoint,
        )

        # eager checkpoint: score once, feed BOTH filtered writes.
        # Released deterministically after the epoch — a long-running
        # ingest runs thousands of epochs, and waiting for the context
        # cleaner's GC-driven unpersist would pin one batch-sized frame
        # per epoch in the block manager in the meantime.
        scored = _tracked_local_checkpoint(batch.withColumn("reject_reasons", r))
        try:
            scored.filter(F.col("reject_reasons") == "").drop(
                "reject_reasons"
            ).write.mode("append").parquet(keep_path)
            scored.filter(F.col("reject_reasons") != "").write.mode("append").parquet(
                quarantine_path
            )
        finally:
            _release(scored)

    return (
        docs.writeStream.foreachBatch(_route)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def streaming_sequence_pack(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    budget: int = 128,
    n_buckets: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Streaming twin of operators.corpus.sequence_pack: concat-and-chunk
    packing over an unbounded document stream. Docs hash into the same
    `n_buckets` independent streams as the batch packer; per bucket, one
    long of state (the cumulative token count) carries the running total
    across micro-batches, so packs keep filling seamlessly batch after
    batch.

    Ordering semantics: within a micro-batch rows are ordered by the
    SAME md5 shuffle as the batch operator, so a single-batch bounded
    run reproduces batch sequence_pack bit-for-bit; across micro-batches
    the order is arrival order (a stream cannot re-order history — the
    documented semantic difference from the batch md5 global order).
    The fixed state/output schema carries ids as long, so `id_col` must
    be integral — rejected up front rather than silently cast to NULL.

    State is exactly n_buckets longs — no timeout needed, the smallest
    possible stateful footprint. Output: (id, bucket, n_tok, pack_id,
    pack_offset)."""
    import pandas as pd

    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.dedup import (
        norm_tokens,
        portable_token_hash,
    )

    id_type = dict(docs.dtypes).get(id_col)
    if id_type not in ("bigint", "int", "smallint", "tinyint"):
        raise TypeError(
            f"streaming_sequence_pack needs an integral {id_col!r} "
            f"(got {id_type}); the fixed output schema carries ids as long"
        )
    h = portable_token_hash(
        F.concat_ws("|", F.col(id_col).cast("string"), F.lit(str(seed)))
    )
    base = docs.select(
        F.col(id_col).cast("long").alias("id"),
        (h % n_buckets).cast("long").alias("bucket"),
        h.alias("ord"),
        F.size(norm_tokens(text_col)).cast("long").alias("n_tok"),
    )
    out_schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("bucket", T.LongType()),
            T.StructField("n_tok", T.LongType()),
            T.StructField("pack_id", T.LongType()),
            T.StructField("pack_offset", T.LongType()),
        ]
    )
    state_schema = T.StructType([T.StructField("cum", T.LongType())])

    def pack(key, pdfs, state):
        rows = pd.concat(list(pdfs), ignore_index=True)
        if rows.empty:
            return
        rows = rows.sort_values(["ord", "id"])
        cum = int(state.get[0]) if state.exists else 0
        # vectorized running sum: each doc's offset is the cross-batch
        # cumulative token count BEFORE it (identical integer math to
        # the scalar loop, ~10x faster per Arrow batch)
        start = cum + rows["n_tok"].cumsum() - rows["n_tok"]
        out = pd.DataFrame(
            {
                "id": rows["id"].astype("int64"),
                "bucket": int(key[0]),
                "n_tok": rows["n_tok"].astype("int64"),
                "pack_id": (start // budget).astype("int64"),
                "pack_offset": (start % budget).astype("int64"),
            }
        )
        state.update((cum + int(rows["n_tok"].sum()),))
        yield out

    return base.groupBy("bucket").applyInPandasWithState(
        pack, out_schema, state_schema, "append", "NoTimeout"
    )


def streaming_ingest_dedup(
    doc_stream: DataFrame,
    store_fps: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "2 hours",
    retention_ms: int = 24 * 3600 * 1000,
) -> DataFrame:
    """Streaming admission gate — the streaming twin of
    operators.dedup.ingest_dedup: documents arrive as a stream, each
    micro-batch anti-joins against the PERSISTED fingerprint store
    (stream-static left anti; the static side broadcasts, so the store
    never shuffles the stream), and the survivors pass through
    cross-batch first-seen state keyed on the fingerprint.  Every
    genuinely new document is admitted exactly once; store duplicates
    are never emitted; within-stream repeats are suppressed by state
    (same or any later micro-batch) with the first batch's siblings
    counted in n_dups.  Appending the admitted fingerprints back to the
    store between runs closes the corpus-maintenance loop.

    State cost is one arming basis per ADMITTED fingerprint, evicted
    `retention_ms` past its event time — bounded on an unbounded
    stream.  Output: (key=fingerprint, first_event_id,
    first_ts, n_dups), as streaming_first_seen."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.dedup import fingerprint_expr

    fp = doc_stream.select(
        F.col(id_col).cast("long").alias("event_id"),
        F.col(ts_col).alias("ts"),
        fingerprint_expr(text_col).alias("fingerprint"),
    )
    fresh = fp.join(F.broadcast(store_fps), "fingerprint", "left_anti")
    return streaming_first_seen(
        fresh, key_col="fingerprint", watermark=watermark, retention_ms=retention_ms
    )


def streaming_semantic_ingest(
    emb_stream: DataFrame,
    store: DataFrame,
    centroids: list[list[float]],
    dim: int,
    tau: float = 0.9,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ts_col: str = "ts",
    watermark: str = "2 hours",
    retention_ms: int = 24 * 3600 * 1000,
    round_to: int = 6,
) -> DataFrame:
    """Streaming semantic admission gate — the streaming twin of
    operators.similarity.semantic_ingest_dedup: embedded documents
    arrive as a stream, each row probes its n_probe nearest IVF cells
    and LEFT-joins the persisted semantic_store stream-static on cell
    (static side broadcast, so the store never shuffles the stream —
    but note the store IS the broadcast build side here, scanned and
    broadcast once per micro-batch: right for a store that fits the
    broadcast budget; for a corpus-scale store, apply the BATCH
    semantic_ingest_dedup per micro-batch via foreachBatch instead —
    there the store is the probe side and dynamic partition pruning
    bounds its scan to the probed cells),
    probed candidates score by exact cosine (both norms precomputed),
    and per-doc first-seen state (`_first_seen`) emits the best match +
    tau admission status EXACTLY ONCE per doc id — a duplicate delivery
    in the same or any later micro-batch is suppressed.

    The LEFT join is load-bearing: a doc whose probed cells hold no
    store rows must still reach the reduce (status 'new', NULL match),
    not vanish from the output.  NULL-cosine candidates (zero-norm on
    either side) are ignored by the reduce, mirroring the batch
    operator's isNotNull filter.  Docs whose embedding fails the
    usability predicate ride through with a NULL probe cell
    (explode_outer) and emit status 'unusable' — the batch twin's
    one-row-per-incoming-doc contract, not a silent drop.  The group
    key keeps the stream's NATIVE id type (long ids stay long, string
    ids stay string — a cast would NULL out non-numeric ids and
    collapse every such doc into one state group).

    Output: (id, status ∈ {'dup_semantic', 'new', 'unusable'},
    match_id, cosine, first_ts) — id typed as the input id column,
    match_id as the store's id column."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.similarity import (
        _cell_exprs,
        _explode_probes,
        _norm,
        _rcos,
        _usable,
    )

    _, probe_cells = _cell_exprs(list(enumerate(centroids)), round_to)
    usable = _usable(vec_col, dim)
    probes = emb_stream.select(
        F.col(id_col).alias("q_id"),
        F.col(ts_col).alias("ts"),
        usable.alias("_usable"),
        F.col(vec_col).alias("q_vec"),
        F.when(usable, _norm(F.col(vec_col))).alias("q_norm"),
        F.when(usable, probe_cells(F.col(vec_col), n_probe)).alias("_cells"),
    )
    # outer: an unusable doc has NULL probes and must keep exactly one
    # (NULL-cell) row so it reaches the reduce — a plain explode would
    # drop it from the stream
    probes = _explode_probes(probes, outer=True)
    pairs = probes.join(F.broadcast(store), "cell", "left").select(
        "q_id",
        "ts",
        "_usable",
        F.col("id").alias("match_id"),
        _rcos("q_vec", "vec", "q_norm", "norm", round_to).alias("cosine"),
    )

    id_type = emb_stream.schema[id_col].dataType
    match_type = store.schema["id"].dataType
    int_types = (T.LongType, T.IntegerType, T.ShortType, T.ByteType)
    out_schema = T.StructType(
        [
            T.StructField("id", id_type),
            T.StructField("status", T.StringType()),
            T.StructField("match_id", match_type),
            T.StructField("cosine", T.DoubleType()),
            T.StructField("first_ts", T.TimestampType()),
        ]
    )

    def admit(key, rows):
        out = {
            "id": key[0],
            "status": "new",
            "match_id": None,
            "cosine": None,
            "first_ts": rows["ts"].min(),
        }
        if not bool(rows["_usable"].iloc[0]):
            out["status"] = "unusable"
            return out
        cand = rows.dropna(subset=["cosine"])
        if len(cand):
            best = cand.sort_values(
                ["cosine", "match_id"], ascending=[False, True]
            ).iloc[0]
            cos = float(best["cosine"])
            out["status"] = "dup_semantic" if cos >= tau else "new"
            out["cosine"] = cos
            # the left join floats integer store ids (NULL padding) —
            # restore the declared integral type
            out["match_id"] = (
                int(best["match_id"])
                if isinstance(match_type, int_types)
                else best["match_id"]
            )
        return out

    return _first_seen(
        pairs, ["q_id"], "ts", watermark, retention_ms, out_schema, admit
    )


def _admission_gate_foreach(
    stream: DataFrame,
    decisions_path: str,
    checkpoint: str,
    id_col: str,
    ts_col: str,
    payload_col: str,
    gate_fn,
    plan_probe: list | None = None,
    store_path: str | None = None,
):
    """The shared CORPUS-SCALE foreachBatch admission harness behind all
    three streaming gates' scalable variants (exact / near-dup /
    semantic): per micro-batch, collapse to one row per id (first
    event-time delivery wins — re-deliveries of an id carry the same
    payload), suppress ids the DECISIONS LOG already decided (batch ids
    broadcast onto ONE log scan as a semi probe — the log never
    shuffles, the fingerprint-store discipline), run the BATCH gate on
    the survivors, and write the decisions (+ first_ts) to the log.
    The gates' persisted stores stay each batch plan's PROBE side —
    scanned, never broadcast, never shuffled — so nothing about the
    batch operators' scale story degrades in streaming mode.

    `gate_fn(fresh) -> DataFrame` must emit one row per incoming doc
    with an `id` column (every batch gate's contract).

    Exactly-once, for ALL three gates including the batch-keyed exact
    one: each epoch lands in its own `_epoch=<n>` partition directory
    with mode("overwrite") — never appended — and the suppression probe
    reads only STRICTLY PRIOR epochs (`_epoch < n`, partition-pruned).
    A retried epoch therefore (a) recomputes its decisions from exactly
    the immutable pre-epoch log state (every gate is a deterministic
    function of (survivors, store), so the recomputed rows are
    identical — including per-epoch dup_batch keepers), and (b)
    atomically REPLACES whatever a partially committed first attempt
    left in the epoch directory instead of appending divergent rows
    next to it.  A plain parquet append could not give this: a partial
    job commit leaks some task files, the retry's probe then sees its
    own partial output, and a doc first decided 'dup_batch' could
    re-land as 'new' (r07 ADVICE).  The streaming checkpoint commits
    the batch only after the overwrite job commits, so a log whose
    stream has advanced past epoch n holds epoch n complete and final.

    `plan_probe`, if given a list, receives each epoch's formatted
    physical plan of the gate query — the hook the plan guards use; one
    explainString per micro-batch, nothing executor-side.

    `store_path`, if given, is the persisted store's root: each epoch
    then runs under a SHARED store-user claim
    (gate_maintenance.store_user_claim — `<store>.claims/<uuid>` held
    for the whole epoch, not a boundary-only check), so a gate racing a
    maintenance pass resolves deterministically: a rewrite that claimed
    the `<store>.maintenance` marker first makes the epoch die at its
    boundary with the protocol's guidance error, and an epoch whose
    claim landed first makes the rewrite refuse until the epoch
    finishes — the store scan can never lose the path mid-plan.  Pass
    it whenever the gate's store frame was read from a path."""

    def _gate(batch: DataFrame, epoch_id: int) -> None:
        # every epoch holds a LOG-user claim (the fold's mutual
        # exclusion), plus a STORE-user claim when the persisted store's
        # root is known — both two-phase, both released at epoch end
        spark_b, what = batch.sparkSession, f"gate epoch {int(epoch_id)}"
        with log_user_claim(spark_b, decisions_path, what), (
            nullcontext()
            if store_path is None
            else _user_claim(spark_b, _STORE, store_path, what)
        ):
            _gate_epoch(batch, epoch_id)

    def _gate_epoch(batch: DataFrame, epoch_id: int) -> None:
        spark_b = batch.sparkSession
        # one row per id: first delivery by event time; a delta-sized
        # exchange, like every ingest gate
        first = batch.groupBy(F.col(id_col)).agg(
            F.min(ts_col).alias("first_ts"),
            F.min_by(payload_col, F.col(ts_col)).alias(payload_col),
        )
        # existence probe through the Hadoop FS API (works on any DFS,
        # no exception-as-control-flow noise): glob for COMMITTED epoch
        # data files, not the bare root — a crashed first epoch leaves
        # `_temporary` task dirs that read.parquet cannot infer a
        # schema from, and `_epoch=*` dirs survive Spark's hidden-path
        # filter (leading `_` is only skipped when the name has no `=`)
        jvm = spark_b._jvm
        glob = jvm.org.apache.hadoop.fs.Path(f"{decisions_path}/_epoch=*/part-*")
        fs = glob.getFileSystem(spark_b._jsc.hadoopConfiguration())
        committed = fs.globStatus(glob)
        # fail FAST on the two layouts this protocol cannot read,
        # instead of silently treating them as an empty log (which
        # would re-admit every previously decided doc):
        # (a) a pre-epoch-dir log (root-level part files with _epoch as
        #     a data column) — one-shot migrate it into epoch dirs;
        # (b) a log from a DIFFERENT stream run: epoch counters come
        #     from the streaming checkpoint, so a fresh checkpoint
        #     restarts at 0 and mode(overwrite) would DESTROY the old
        #     run's epoch dirs while the `_epoch < n` probe ignores
        #     them.  The decisions log is a per-run artifact — fold a
        #     finished run into the persisted store between runs
        #     (gate_maintenance.append_admitted_*) and give the next
        #     run a fresh decisions_path + checkpoint pair.
        # the compacted marker is checked UNCONDITIONALLY (not only when
        # root part files exist): an interrupted fold can momentarily
        # hold neither epoch dirs nor root files — without this check
        # that state would read as an EMPTY log and re-admit everything.
        # (The maintenance-marker guard against a LIVE fold lives in the
        # log_user_claim every epoch holds around this whole body — a
        # two-phase claim the fold's maintenance pass refuses on, so the
        # pre-commit silent-decision-loss window is closed, not merely
        # narrowed to the boundary check that used to sit here.)
        if _fs_read_text(spark_b, f"{decisions_path}/{_COMPACTED_MARKER}") is not None:
            raise RuntimeError(
                f"decisions log at {decisions_path} was COMPACTED "
                "(compact_gate_decisions) — its run is finished and a "
                "finished run cannot be resumed. Fold it into the "
                "persisted store (gate_maintenance.append_admitted_*) "
                "and start this run with a fresh decisions_path + "
                "checkpoint pair"
            )
        legacy = fs.globStatus(jvm.org.apache.hadoop.fs.Path(f"{decisions_path}/part-*"))
        if legacy is not None and len(legacy) > 0:
            raise RuntimeError(
                f"decisions log at {decisions_path} uses the pre-epoch-dir "
                "append layout (root-level part files); migrate it first "
                "with migrate_gate_decisions_log(spark, decisions_path, "
                "checkpoint=...) — it rewrites each _epoch group into "
                f"{decisions_path}/_epoch=<n>/, removes the root files and "
                "stamps the run marker"
            )
        # epoch-dir names must parse as integers for the exactly-once
        # protocol (the suppression probe and the stale-run guard both
        # compare epoch NUMBERS); fold unparseable dirs into the
        # fail-fast guidance instead of leaking a bare ValueError
        parsed: list[int] = []
        unreadable: set[str] = set()
        for s in committed if committed is not None else []:
            name = s.getPath().getParent().getName()
            try:
                parsed.append(int(name.split("=", 1)[1]))
            except ValueError:
                unreadable.add(name)
        if unreadable:
            raise RuntimeError(
                f"decisions log at {decisions_path} holds non-integer epoch "
                f"director(y/ies) {sorted(unreadable)} — an unreadable layout "
                "for the exactly-once protocol (hand-migrated data or stray "
                "tooling output?). Remove or rename them, or migrate a "
                "legacy log with migrate_gate_decisions_log, before "
                "resuming this stream"
            )
        # run-identity guard: the epoch counter comes from the streaming
        # checkpoint, so TWO different runs sharing one decisions_path
        # collide — and when the old log holds only epochs <= this
        # stream's first epoch (e.g. a lone _epoch=0 against a fresh
        # checkpoint restarting at 0) the stale-epoch probe below sees
        # nothing and mode('overwrite') would silently destroy the old
        # run's decisions.  The _run_id marker (the checkpoint's
        # persisted query id — stable across restarts from the SAME
        # checkpoint, fresh for a new one) distinguishes a same-run
        # retry from a foreign run at ANY epoch, including 0.
        qid = streaming_query_id(spark_b, checkpoint)
        marked = _fs_read_text(spark_b, f"{decisions_path}/{_RUN_MARKER}")
        if marked is not None:
            if marked.strip() != qid:
                raise RuntimeError(
                    f"decisions log at {decisions_path} is stamped for "
                    f"stream run {marked.strip()} but this query is {qid} "
                    "— it belongs to a different stream run and resuming "
                    "would overwrite its epochs. Resume from the original "
                    "checkpoint, or fold the finished run into the store "
                    "(gate_maintenance.append_admitted_*) and start this "
                    "run with a fresh decisions_path + checkpoint pair"
                )
        elif committed is not None and len(committed) > 0:
            raise RuntimeError(
                f"decisions log at {decisions_path} holds committed epoch "
                "director(y/ies) but no _run_id marker — a pre-marker (r08) "
                "log or a different stream run. If it IS this query's own "
                "log, adopt it explicitly with stamp_gate_decisions_run("
                "spark, decisions_path, checkpoint=...); otherwise fold "
                "the finished run into the store (gate_maintenance."
                "append_admitted_*) and start this run with a fresh "
                "decisions_path + checkpoint pair"
            )
        else:
            # compare-and-set, not overwrite: two fresh streams racing
            # to claim one decisions_path must not BOTH pass — the
            # loser re-reads and hits the foreign-run error (the exact
            # collision the marker exists to prevent)
            if not _fs_create_text(spark_b, f"{decisions_path}/{_RUN_MARKER}", qid):
                raced = _fs_read_text(spark_b, f"{decisions_path}/{_RUN_MARKER}")
                if raced is None or raced.strip() != qid:
                    raise RuntimeError(
                        f"decisions log at {decisions_path} was claimed by "
                        f"stream run {raced} while this query ({qid}) was "
                        "starting — two streams share one decisions_path. "
                        "Give each run its own decisions_path + checkpoint "
                        "pair"
                    )
        if parsed:
            # strictly greater only: the CURRENT epoch's dir may
            # legitimately exist fully committed (stream died between
            # the overwrite job and the checkpoint commit) — that is
            # the retry the atomic overwrite is designed to replace.
            # Defense-in-depth behind the marker (a deleted marker
            # must not silently re-enable the collision).
            stale = [n for n in parsed if n > int(epoch_id)]
            if stale:
                raise RuntimeError(
                    f"decisions log at {decisions_path} already holds "
                    f"epoch(s) {sorted(set(stale))} beyond this stream's "
                    f"epoch {int(epoch_id)} — it belongs to a different "
                    "stream run (a fresh checkpoint restarts the epoch "
                    "counter at 0, so the probe would ignore those rows "
                    "and the overwrite would destroy them). Resume from "
                    "the original checkpoint, or fold the finished run "
                    "into the store (gate_maintenance.append_admitted_*) "
                    "and start this run with a fresh decisions_path + "
                    "checkpoint pair"
                )
            # strictly-prior epochs only (partition-pruned): a retry
            # must not see its own partial first attempt, or a doc
            # decided 'dup_batch' would re-enter as 'new'
            decided = (
                spark_b.read.parquet(decisions_path)
                .filter(F.col("_epoch") < int(epoch_id))
                .select("id")
            )
            # the log never shuffles: batch ids broadcast onto ONE log
            # scan (semi), the at-most-batch-sized matched set
            # broadcasts back as the anti filter
            matched = decided.join(
                F.broadcast(first.select(F.col(id_col).alias("id")).distinct()),
                "id",
                "semi",
            ).distinct()
            fresh = first.join(
                F.broadcast(matched.withColumnRenamed("id", id_col)),
                id_col,
                "left_anti",
            )
        else:
            fresh = first
        out = gate_fn(fresh).join(
            F.broadcast(fresh.select(F.col(id_col).alias("id"), "first_ts")),
            "id",
        )
        if plan_probe is not None:
            plan_probe.append(
                out._jdf.queryExecution().explainString(
                    spark_b._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                        "formatted"
                    )
                )
            )
        # atomic epoch replacement: the _epoch value is the DIRECTORY,
        # not a data column (a same-named data column would collide with
        # the discovered partition column on read)
        out.write.mode("overwrite").parquet(f"{decisions_path}/_epoch={int(epoch_id)}")

    return (
        stream.writeStream.foreachBatch(_gate)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def streaming_semantic_ingest_foreach(
    emb_stream: DataFrame,
    store: DataFrame,
    centroids: list[list[float]],
    dim: int,
    decisions_path: str,
    checkpoint: str,
    tau: float = 0.9,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ts_col: str = "ts",
    round_to: int = 6,
    plan_probe: list | None = None,
    store_path: str | None = None,
):
    """CORPUS-SCALE streaming semantic admission gate — the foreachBatch
    variant streaming_semantic_ingest's docstring points at: each
    micro-batch runs the BATCH semantic_ingest_dedup against the
    persisted semantic_store, so the store is the join's PROBE side and
    dynamic partition pruning bounds its scan to the probed cells
    (plan-guarded).  The stream-static stateful twin instead broadcasts
    the store per micro-batch — right only while the store fits the
    broadcast budget; this variant is the shape for a store that does
    not (the reference analog: the Makefile's drop-and-rebuild graph
    loads, Makefile:461-473 in /root/reference, done incrementally).

    Cross-batch duplicate-delivery suppression uses the DECISIONS LOG
    itself (parquet at `decisions_path`, the gate's output artifact)
    instead of operator state: each batch's ids semi-probe the log with
    the batch side broadcast — the log never shuffles, exactly the
    fingerprint-store discipline — and already-decided ids are dropped
    before the gate runs.  A doc id keeps its FIRST decision forever
    ('unusable' included), matching the stateful twin's id-keyed state.

    Exactly-once: each epoch atomically overwrites its own `_epoch=<n>`
    log directory and a retry recomputes from the immutable prior
    epochs only (see _admission_gate_foreach).  Within a batch, one row
    per id (first event-time delivery wins; re-deliveries share the
    embedding).

    `plan_probe`, if given a list, receives each epoch's formatted
    physical plan of the gate query — the hook the DPP plan guard uses;
    it costs one explainString per micro-batch, nothing at executor
    side.

    Output to `decisions_path`: (id, status ∈ {'dup_semantic', 'new',
    'unusable'}, match_id, cosine, first_ts, _epoch).  Returns the
    started StreamingQuery."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.similarity import (
        semantic_ingest_dedup,
    )

    return _admission_gate_foreach(
        emb_stream,
        decisions_path,
        checkpoint,
        id_col,
        ts_col,
        vec_col,
        lambda fresh: semantic_ingest_dedup(
            fresh, store, centroids, dim, tau, n_probe, id_col, vec_col, round_to
        ),
        plan_probe,
        store_path,
    )


def streaming_ingest_dedup_foreach(
    doc_stream: DataFrame,
    store_fps: DataFrame,
    decisions_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ts",
    plan_probe: list | None = None,
    store_path: str | None = None,
):
    """CORPUS-SCALE streaming EXACT admission gate — the foreachBatch
    variant of streaming_ingest_dedup for fingerprint stores too big to
    broadcast: the stateful twin broadcasts the store per micro-batch
    (stream-static anti join, build side = store), right only within
    the broadcast budget; here each micro-batch runs the BATCH
    ingest_dedup, so the store is scanned ONCE per epoch with the
    batch's distinct fingerprints broadcast onto it as a LeftSemi probe
    — never broadcast, never shuffled (the batch operator's
    plan-guarded shape, now inside every epoch).

    Semantics per epoch are the batch gate's: status ∈ {'new',
    'dup_store', 'dup_batch'} with dup_batch keyed per EPOCH (the
    keeper is the epoch's min id per fingerprint).  Cross-batch
    re-deliveries of an already-decided doc ID are suppressed by the
    decisions log (see _admission_gate_foreach).  NOTE the store is
    static across epochs, as in the batch loop: appending admitted
    fingerprints back to the store between RUNS is the caller's
    maintenance step, so a different-id clone of an epoch-0 admit is
    'new' again in epoch 1 — exactly what the batch gate would answer
    before the store append.

    Output to `decisions_path`: (id, fingerprint, status, first_ts,
    _epoch).  Returns the started StreamingQuery."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.dedup import ingest_dedup

    return _admission_gate_foreach(
        doc_stream,
        decisions_path,
        checkpoint,
        id_col,
        ts_col,
        text_col,
        lambda fresh: ingest_dedup(fresh, store_fps, id_col, text_col),
        plan_probe,
        store_path,
    )


def streaming_minhash_ingest_foreach(
    doc_stream: DataFrame,
    store_banded: DataFrame,
    decisions_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ts",
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    seed: int = 42,
    hash_fn=None,
    bucket_by_hash: bool = True,
    plan_probe: list | None = None,
    store_path: str | None = None,
):
    """CORPUS-SCALE streaming NEAR-DUP admission gate — the foreachBatch
    variant completing the trio (exact / near-dup / semantic each have
    a stateful fits-in-broadcast twin AND a corpus-scale foreachBatch
    twin): each micro-batch runs the BATCH minhash_ingest_dedup, so the
    banded-signature store is scanned once per epoch with the batch's
    banded signatures broadcast onto it as a (band, bucket) hash join —
    never broadcast as a whole, never shuffled.  Banding parameters
    must match the store's (they are its schema).

    A doc's decision depends only on (doc, store) — no within-batch
    interaction — so each doc's answer equals the batch operator's
    regardless of which epoch delivers it first; re-deliveries are
    suppressed by the decisions log.

    Output to `decisions_path`: (id, status ∈ {'dup_near', 'new'},
    match_id, est_jaccard, first_ts, _epoch).  Returns the started
    StreamingQuery."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.dedup import (
        minhash_ingest_dedup,
    )

    return _admission_gate_foreach(
        doc_stream,
        decisions_path,
        checkpoint,
        id_col,
        ts_col,
        text_col,
        lambda fresh: minhash_ingest_dedup(
            fresh,
            store_banded,
            id_col,
            text_col,
            k,
            num_hashes,
            bands,
            threshold,
            seed,
            hash_fn,
            bucket_by_hash,
        ),
        plan_probe,
        store_path,
    )


def read_gate_decisions(spark: SparkSession, decisions_path: str) -> DataFrame:
    """Compact a foreachBatch gate decisions log — the shared reader
    for ALL THREE admission gates (exact / near-dup / semantic): one
    row per doc id, its first decision (smallest _epoch).

    The r08 write protocol already makes the log exactly-once (each
    epoch atomically overwrites its own `_epoch=<n>` directory and a
    retry recomputes from strictly-prior epochs, so one id cannot carry
    two divergent rows); the min_by here is defense-in-depth for logs
    written by the pre-r08 append protocol, and its tie-break is a
    DETERMINISTIC total order over (_epoch, payload columns) instead of
    the old _epoch-only ordering, which picked arbitrarily between
    divergent same-epoch rows.  For the exact gate — the one family
    where a partially committed epoch could historically diverge — the
    first payload column that can differ is `status`, and 'dup_batch' /
    'dup_store' sort before 'new', so a legacy divergence resolves to
    the conservative decision (never a double admit).

    Fails fast while compact_gate_decisions holds the log's
    `_maintenance` marker: mid-fold the epoch dirs are being deleted
    and the resolved copy still sits in the hidden `_compact_tmp`, so
    a raw read would SILENTLY return a partial (or empty) log — the
    one wrong-answer mode worse than an error.  The returned frame is
    LAZY; in a loop where a fold could start concurrently, materialize
    it (`.localCheckpoint()`) inside a `log_user_claim` — the same
    frame the append step wants materialized anyway."""
    _check_marker(spark, _LOG, decisions_path)
    return _resolve_gate_decisions(spark, decisions_path)


def _resolve_gate_decisions(spark: SparkSession, decisions_path: str) -> DataFrame:
    """The resolution body of read_gate_decisions, without the
    maintenance fail-fast — the fold calls this directly (it HOLDS the
    marker while resolving)."""
    log = spark.read.parquet(decisions_path)
    cols = [c for c in log.columns if c not in ("id", "_epoch")]
    order = F.struct(F.col("_epoch"), *[F.col(c) for c in cols])
    return (
        log.groupBy("id")
        .agg(
            F.min_by(F.struct(*cols), order).alias("_r"),
            F.min("_epoch").alias("_epoch"),
        )
        .select("id", *[F.col(f"_r.{c}").alias(c) for c in cols], "_epoch")
    )


# --------------------------------------------------------------------------
# decisions-log lifecycle: run markers, legacy migration, compaction.
# The fold-vs-epoch lock (`<log>/_maintenance` marker, `<log>/_claims/`)
# is the log family of the one maintenance lock in fslock.py.
# --------------------------------------------------------------------------

_RUN_MARKER = "_run_id"
_COMPACTED_MARKER = "_compacted"


def log_user_claim(spark: SparkSession, decisions_path: str, what: str):
    """Context manager holding a shared LOG-user claim for one gate
    epoch — the log family (`<log>/_maintenance`, `<log>/_claims/`) of
    the one maintenance lock in fslock.py, the same two-phase protocol
    as gate_maintenance.store_user_claim: check the log's `_maintenance`
    marker, create `<log>/_claims/<uuid>`, RE-CHECK the marker (a fold
    that claimed in between wins — back out, deleting the claim), run
    the epoch, delete.  The fold refuses while any claim exists, so an
    epoch mid-flight can never have its freshly committed `_epoch=<n>`
    directory deleted-without-folding — the pre-commit window the bare
    marker check only narrowed.  `_claims` has no `=` in its name, so
    parquet reads keep hiding it like the other markers.  A CRASHED
    epoch leaves its claim file; it blocks only maintenance — delete
    the stale file by hand, or let `sweep_stale_log_claims` age it out
    (the claim payload carries its creation stamp + pid/host since
    r12)."""
    return _user_claim(spark, _LOG, decisions_path, what)


def sweep_stale_log_claims(
    spark: SparkSession, decisions_path: str, max_age_s: float
) -> list[dict]:
    """Delete gate-epoch claims on a DECISIONS LOG older than
    `max_age_s` seconds — the log-side twin of
    gate_maintenance.sweep_stale_claims, for the unattended loop where
    a crashed stream's leftover `_claims/<uuid>` would otherwise block
    compact_gate_decisions forever.  Refuses while the log's
    `_maintenance` marker is held (a crashed fold needs its own
    adjudication first).  A LIVE epoch's claim is only as old as the
    epoch itself, so any threshold comfortably above the longest epoch
    (hours, not seconds — payload stamps come from the writer's clock)
    never sweeps a live claim.  Returns the swept claim records."""
    return _sweep_claims(spark, _LOG, decisions_path, max_age_s)


def streaming_query_id(spark: SparkSession, checkpoint: str) -> str:
    """The structured-streaming QUERY id persisted at
    `<checkpoint>/metadata` — stable across every restart from that
    checkpoint, fresh for a new one: exactly the run identity the
    decisions-log `_run_id` marker needs (runId, by contrast, changes
    on every start and would flag a legitimate resume as foreign)."""
    raw = _fs_read_text(spark, f"{checkpoint.rstrip('/')}/metadata")
    if raw is None:
        raise RuntimeError(
            f"no streaming-query metadata at {checkpoint}/metadata — the "
            "checkpoint location has not been initialized by a started "
            "query (or is not a structured-streaming checkpoint)"
        )
    qid = json.loads(raw).get("id")
    if not qid:
        raise RuntimeError(f"streaming-query metadata at {checkpoint} has no id")
    return str(qid)


def stamp_gate_decisions_run(
    spark: SparkSession,
    decisions_path: str,
    checkpoint: str | None = None,
    run_id: str | None = None,
) -> str:
    """Write the decisions log's `_run_id` marker — the explicit
    adoption step for a PRE-MARKER (r08) epoch-dir log that should
    resume under its original checkpoint: derive the id from the
    checkpoint's persisted query metadata (the normal case) or pass it
    verbatim.  Overwrites any existing marker (adoption is a deliberate
    operator action, so the helper does not second-guess it).  Returns
    the stamped id."""
    if run_id is None:
        if checkpoint is None:
            raise ValueError("pass checkpoint= or run_id=")
        run_id = streaming_query_id(spark, checkpoint)
    _fs_write_text(spark, f"{decisions_path.rstrip('/')}/{_RUN_MARKER}", run_id)
    return run_id


def migrate_gate_decisions_log(
    spark: SparkSession,
    decisions_path: str,
    checkpoint: str | None = None,
    run_id: str | None = None,
) -> int:
    """One-shot migration of a PRE-r08 append-layout decisions log
    (root-level part files carrying `_epoch` as a data column) into the
    exactly-once epoch-directory layout the foreachBatch gates require —
    the rewrite the gate's fail-fast error names.  Each `_epoch` group
    lands in its own `_epoch=<n>/` directory (one file per epoch — the
    repartition below co-locates each epoch in one task), the root part
    files are removed, and when `checkpoint` (or `run_id`) is given the
    `_run_id` marker is stamped so the original stream resumes cleanly.

    IDEMPOTENT under interruption, in two guarded phases: (1) rewrite —
    every epoch dir is written from ALL root files, then a
    `_migrate_dirs_done` marker commits the phase; (2) cleanup — root
    part files are deleted only AFTER the marker exists, and the marker
    is removed last.  A crash in phase 1 leaves every root file intact
    (re-run rewrites from scratch); a crash in phase 2 leaves the
    marker, so a re-run SKIPS the rewrite — it must not rebuild the
    complete epoch dirs from the surviving subset of root files — and
    just finishes the deletion.  No `_maintenance` claim is needed here
    (unlike compact_gate_decisions): a legacy log cannot have a live
    stream by definition — the gate fails fast on root part files in
    every phase where any remain, and once none do the log is already
    the finished, resumable epoch-dir layout.  Returns the number of
    epoch directories written (0 when there are no root part files —
    nothing to migrate)."""
    path = decisions_path.rstrip("/")
    fs, _, jvm = _hadoop_fs(spark, path)
    done_marker = f"{path}/_migrate_dirs_done"
    legacy = fs.globStatus(jvm.org.apache.hadoop.fs.Path(f"{path}/part-*"))
    if legacy is None or len(legacy) == 0:
        # nothing left to migrate; clear a phase-2 marker left by a
        # crash between the last root-file delete and the marker delete
        fs.delete(jvm.org.apache.hadoop.fs.Path(done_marker), False)
        return 0
    root_files = [s.getPath().toString() for s in legacy]
    n_epochs = 0
    if _fs_read_text(spark, done_marker) is None:
        log = spark.read.parquet(*root_files)
        if "_epoch" not in log.columns:
            raise RuntimeError(
                f"decisions log at {path} has no _epoch column — not a "
                "pre-epoch-dir gate decisions log"
            )
        # validate _epoch BEFORE the partitionBy rewrite: a null (or a
        # non-integer-typed column — a DOUBLE writes `_epoch=3.0` dirs
        # the integer rename below would never find) would otherwise
        # first land as an _epoch=__HIVE_DEFAULT_PARTITION__ or
        # stringly-named dir the gate then permanently refuses, and only
        # THEN fail at int()/rename — fail with the guided error first
        etype = log.schema["_epoch"].dataType.typeName()
        if etype not in ("byte", "short", "integer", "long"):
            raise RuntimeError(
                f"decisions log at {path} has a non-integer-typed _epoch "
                f"column ({etype}) — the exactly-once protocol needs "
                "integer epochs for its directory names. Cast the column "
                "(e.g. CAST(_epoch AS BIGINT), values must be exact) and "
                "re-run the migration; no epoch directory has been written"
            )
        epochs = [r[0] for r in log.select("_epoch").distinct().collect()]
        if any(n is None for n in epochs):
            raise RuntimeError(
                f"decisions log at {path} holds rows with NULL _epoch — "
                "not a valid pre-epoch-dir gate decisions log (the "
                "exactly-once protocol needs integer epochs for its "
                "directory names). Repair or drop those rows, then re-run "
                "the migration; no epoch directory has been written"
            )
        # one shuffle, one file per epoch dir: partitionBy writes the
        # protocol's exact layout (_epoch value in the DIRECTORY name,
        # not the data files)
        tmp = f"{path}/_migrate_tmp"
        fs.delete(jvm.org.apache.hadoop.fs.Path(tmp), True)
        log.repartition("_epoch").write.partitionBy("_epoch").parquet(tmp)
        for n in epochs:
            src = jvm.org.apache.hadoop.fs.Path(f"{tmp}/_epoch={int(n)}")
            dst = jvm.org.apache.hadoop.fs.Path(f"{path}/_epoch={int(n)}")
            fs.delete(dst, True)
            if not fs.rename(src, dst):
                raise RuntimeError(f"could not move migrated epoch dir into {dst}")
        fs.delete(jvm.org.apache.hadoop.fs.Path(tmp), True)
        n_epochs = len(epochs)
        _fs_write_text(spark, done_marker, "1")
    # phase 2: the epoch dirs are complete and committed — retire the
    # root files, marker last
    if checkpoint is not None or run_id is not None:
        stamp_gate_decisions_run(spark, path, checkpoint, run_id)
    for f in root_files:
        fs.delete(jvm.org.apache.hadoop.fs.Path(f), False)
    fs.delete(jvm.org.apache.hadoop.fs.Path(done_marker), False)
    return n_epochs


def compact_gate_decisions(
    spark: SparkSession,
    decisions_path: str,
    target_file_bytes: int = 128 << 20,
) -> tuple[int, int]:
    """Fold a FINISHED run's `_epoch=<n>` directory tree into a compacted
    resolved log — the operational closer for the append-only epoch-dir
    protocol: a year-long crawl loop leaves tens of thousands of tiny
    epoch directories whose file listing eventually dominates every
    consumer's scan.  Compaction rewrites the log as read_gate_decisions'
    RESOLUTION — one row per doc id, its first decision, `_epoch` kept as
    a data column — in a few large root-level files sized to
    `target_file_bytes`, plus a `_compacted` marker.

    Every consumer is preserved: read_gate_decisions returns identical
    rows on both layouts (the resolution is idempotent), and
    gate_maintenance.append_admitted_* take either form.  The one
    consumer deliberately BROKEN is the gate itself: a compacted log is
    a finished run, so the foreachBatch guard fails fast on it with a
    compaction-specific message instead of resuming into a layout whose
    epoch dirs are gone.

    Crash-safe in the no-data-loss AND no-silent-empty sense: the
    resolved copy is fully written to the hidden `_compact_tmp`
    subdirectory and the `_compacted` marker is committed BEFORE any
    epoch dir is deleted — so an interruption leaves either (a) the
    original epoch dirs intact and no marker (re-run restarts from
    scratch), or (b) the marker + the complete resolved copy, from
    which a re-run FINISHES the fold (delete remaining epoch dirs, move
    the tmp files up).  The gate checks the marker unconditionally, so
    even the mid-fold state — marker present, epoch dirs gone, root
    files not yet moved — fails fast as a finished run instead of
    reading as an EMPTY log and silently re-admitting every previously
    decided doc.

    Run it only after the stream is stopped — a rule that is a
    two-sided LOCK since r11 (the log family of fslock.py's maintenance
    lock): the fold claims the log's `_maintenance`
    marker (compare-and-set) for its whole duration and then REFUSES
    while any gate epoch holds a `_claims/<uuid>` file; every epoch
    holds such a claim around its whole body (check marker → create →
    re-check → run → delete), so the PRE-commit window the
    `_compacted` marker cannot cover (epoch dirs still look live while
    the resolved copy is being written; an epoch committed there would
    be deleted by the fold without being folded) is closed for every
    interleaving, not just at the epoch boundary.  The marker is
    released on every non-crash exit; a CRASHED fold leaves it, and
    the documented adjudication is: verify no fold is running, delete
    the marker, re-run this helper to completion (the `_compacted`
    marker — not the lock — is what makes the resume data-safe); a
    CRASHED epoch leaves only its claim file — delete it and re-run.

    Returns (files_before, files_after) — the test-visible proof the
    listing shrank ((0, n) when resuming an interrupted fold: the
    original epoch-file count is no longer known)."""
    path = decisions_path.rstrip("/")
    with _maintenance_pass(spark, _LOG, path, "compact_gate_decisions"):
        return _compact_gate_decisions_locked(spark, path, target_file_bytes)


def _compact_gate_decisions_locked(
    spark: SparkSession,
    path: str,
    target_file_bytes: int,
) -> tuple[int, int]:
    fs, jpath, jvm = _hadoop_fs(spark, path)
    epoch_glob = jvm.org.apache.hadoop.fs.Path(f"{path}/_epoch=*/part-*")
    tmp = f"{path}/_compact_tmp"
    before = fs.globStatus(epoch_glob)
    files_before = 0 if before is None else len(before)
    already_marked = _fs_read_text(spark, f"{path}/{_COMPACTED_MARKER}") is not None
    if not already_marked:
        if files_before == 0:
            return (0, 0)
        total_bytes = sum(s.getLen() for s in before)
        n_files = max(1, math.ceil(total_bytes / target_file_bytes))
        resolved = _resolve_gate_decisions(spark, path)
        fs.delete(jvm.org.apache.hadoop.fs.Path(tmp), True)
        resolved.coalesce(n_files).write.parquet(tmp)
        # the resolved copy is durable — COMMIT the fold before deleting
        # anything, so a crash below can never present an empty log
        _fs_write_text(spark, f"{path}/{_COMPACTED_MARKER}", "1")
    elif fs.globStatus(jvm.org.apache.hadoop.fs.Path(f"{tmp}/part-*")) is None:
        # marker present, no tmp data: a COMPLETED compaction
        # (idempotent re-call) — nothing to fold
        fs.delete(jvm.org.apache.hadoop.fs.Path(tmp), True)
        return (0, 0)
    # else: resuming an interrupted fold — files_before already counts
    # whatever epoch files survive (0 if the deletion had finished)
    # retire the epoch dirs and move the compacted files up (dedup dirs
    # by STRING path — py4j proxies don't hash by Java equality)
    dirs = {s.getPath().getParent().toString() for s in (before or [])}
    for d in dirs:
        fs.delete(jvm.org.apache.hadoop.fs.Path(d), True)
    moved = 0
    for s in fs.globStatus(jvm.org.apache.hadoop.fs.Path(f"{tmp}/part-*")) or []:
        src = s.getPath()
        if not fs.rename(src, jvm.org.apache.hadoop.fs.Path(f"{path}/{src.getName()}")):
            raise RuntimeError(f"could not move compacted file {src} into {path}")
        moved += 1
    fs.delete(jvm.org.apache.hadoop.fs.Path(tmp), True)
    return (files_before, moved)
