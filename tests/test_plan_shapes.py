"""Physical-plan guards: the scale properties we rely on must survive
refactors — filters reach the parquet scan, dimension joins broadcast,
blob columns prune. These assert on .explain output, the same checks done
interactively while tuning (README '100 TB design notes')."""

import pytest
from pyspark.sql import functions as F

from hannigan_conjunctisviribus_ploscompbio_2017_spark.queries_testdata import QUERIES
from hannigan_conjunctisviribus_ploscompbio_2017_spark.schemas import load_table
from tests.conftest import SF0001


def plan_of(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_predicate_pushdown_to_parquet(spark):
    df = load_table(spark, SF0001, "lineitem").filter(F.col("l_quantity") > 30).select(
        "l_orderkey"
    )
    plan = plan_of(df)
    assert "PushedFilters" in plan
    assert "GreaterThan(l_quantity,30.0)" in plan


def test_column_pruning_reaches_scan(spark):
    df = load_table(spark, SF0001, "lineitem").select("l_orderkey", "l_quantity")
    plan = plan_of(df)
    # ReadSchema must contain only the projected columns
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema


def test_flagship_join_strategies(spark):
    plan = plan_of(QUERIES["gq5_sample_network"](spark, SF0001))
    # dims broadcast; fact-fact joins shuffle (SMJ or shuffled hash)
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    # the study-membership filter reaches the nation scan
    assert "EqualTo(n_regionkey,0)" in plan


def test_dim_join_broadcasts(spark):
    plan = plan_of(QUERIES["j1_equi_join"](spark, SF0001))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # lineitem must NOT shuffle for dims


def test_whole_stage_codegen_spans(spark):
    df = QUERIES["a1_pricing_summary"](spark, SF0001)
    df.collect()  # AQE finalizes codegen stages only on THIS plan's execution
    executed = df._jdf.queryExecution().executedPlan().toString()
    # '*(n)' prefixes mark WholeStageCodegen spans in the final plan
    assert "*(" in executed  # agg stays JVM-side/codegen'd


def test_limit_does_not_global_sort(spark):
    plan = plan_of(QUERIES["w3_global_sort_limit"](spark, SF0001))
    assert "TakeOrderedAndProject" in plan  # bounded heap, not full sort


def test_rarefy_depth_stays_in_plan(spark):
    # A7→M1: a DataFrame depth must be broadcast INTO the rarefaction
    # plan (one Catalyst DAG), not collected driver-side — the 1-row
    # min-depth aggregate appears as a broadcast subtree of the SAME plan
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.stats import rarefy_hash

    ab = load_table(spark, SF0001, "lineitem").groupBy(
        F.col("l_orderkey").cast("string").alias("s"),
        F.col("l_partkey").cast("string").alias("i"),
    ).agg(F.sum("l_quantity").cast("long").alias("c"))
    depth_df = ab.groupBy("s").agg(F.sum("c").alias("t")).agg(F.min("t").alias("d"))
    plan = plan_of(rarefy_hash(ab, "s", "i", "c", depth=depth_df))
    assert "min(" in plan  # depth aggregate is a subtree of this one plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_column_subsample_prunes_scan(spark):
    # R7's driver-side column choice must turn into parquet-level pruning:
    # every lineitem scan in the plan reads only the 3 chosen columns.
    plan = plan_of(QUERIES["r7_column_subsample"](spark, SF0001))
    read_schemas = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schemas
    for rs in read_schemas:
        assert "l_extendedprice" not in rs and "l_quantity" not in rs


def test_gq4_factored_no_quadratic_expansion(spark):
    # the study-network aggregates must be computed by pre-aggregating
    # each side and joining per-node dims — the (s1, phage, host, s2)
    # cross expansion must NOT appear as a join below the final project.
    # Signature of the factored plan: the products n_p*n_h / sum_ab*n_h
    # exist as Project expressions, and no HashAggregate sits ABOVE the
    # phage-host joins (aggregation happens before the join, not after).
    plan = plan_of(QUERIES["gq4_study_network"](spark, SF0001))
    assert "n_sample_pairs" in plan and "total_phage_abundance" in plan
    # formatted explain prints the operator tree top-down before the
    # per-operator details: everything ABOVE the first Join must be
    # projection/exchange only — the old quadratic plan had the final
    # HashAggregate up there, consuming the (s1, phage, host, s2) blowup
    tree = plan.split("\n\n")[0].splitlines()
    above_first_join = []
    for line in tree:
        if "Join" in line:
            break
        above_first_join.append(line)
    assert not any("HashAggregate" in l for l in above_first_join), above_first_join


def test_rarefy_hash_two_phase_filters_before_rank(spark, monkeypatch):
    # the rank window must consume the tau-FILTERED candidate set, not
    # the full exploded community: a Filter on _tau sits below the Sort
    # feeding the Window, and the full-community fallback joins before
    # its explode (Generate above the join in that branch).
    # localCheckpoint is made transparent for the assertion: since r13
    # the candidate frame is projected to its contract columns (no
    # _tau) before the checkpoint, so the filter is only visible in the
    # un-truncated plan.
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.stats import rarefy_hash

    # patch the RUNTIME DataFrame class (pyspark.sql.DataFrame is the
    # abstract base in Spark 4; instances are the classic subclass)
    cls = type(spark.range(1))
    monkeypatch.setattr(cls, "localCheckpoint", lambda self, eager=True: self)
    ab = load_table(spark, SF0001, "lineitem").groupBy(
        F.col("l_orderkey").cast("string").alias("s"),
        F.col("l_partkey").cast("string").alias("i"),
    ).agg(F.sum("l_quantity").cast("long").alias("c"))
    plan = plan_of(rarefy_hash(ab, "s", "i", "c", depth=5))
    assert "_tau" in plan  # threshold filter present in-plan
    assert "Window" in plan and "Generate" in plan


def test_top_ngrams_bounded_heap_not_global_sort(spark):
    # the corpus top-k must compile to TakeOrderedAndProject (bounded
    # per-partition heaps) — a global Sort over every distinct ngram
    # would shuffle the whole vocabulary at corpus scale
    plan = plan_of(QUERIES["tx_top_ngrams"](spark, SF0001))
    assert "TakeOrderedAndProject" in plan


def test_chunk_dedup_no_window_no_cross(spark):
    # keeper selection is a min(struct) hash aggregate on the
    # fingerprint, never a Window (per-fingerprint sort) or any
    # nested-loop join — the exact_dedup scale shape
    plan = plan_of(QUERIES["dd_chunk_dedup"](spark, SF0001))
    assert "Window" not in plan
    assert "NestedLoop" not in plan
    # min(struct) keeper: SortAggregate (struct keys aren't hashable by
    # the vectorized hash agg) — any Aggregate is fine, Window is not
    assert "Aggregate" in plan


def test_contamination_joins_on_shingle_not_cross(spark):
    # the containment join must shuffle on the shingle key; a cartesian
    # train x test expansion must never appear
    plan = plan_of(QUERIES["dd_contamination"](spark, SF0001))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_stratified_sample_and_split_no_shuffle(spark):
    # deterministic sampling/splitting are pure row functions: the plan
    # must contain no Exchange at all — a scan plus filter/project only
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.corpus import (
        split_assign,
        stratified_sample,
    )
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.schemas import load_table

    docs = load_table(spark, SF0001, "documents")
    p1 = plan_of(stratified_sample(docs, "lang", {"en": 0.5}))
    p2 = plan_of(split_assign(docs))
    assert "Exchange" not in p1 and "Exchange" not in p2


def test_exact_and_chunk_dedup_single_fingerprint_shuffle(spark):
    # both dedup shapes reduce to aggregate + join keyed on the
    # fingerprint: no Window, no nested-loop, no extra exchanges beyond
    # the fingerprint groupBy and the (broadcastable) keeper join
    plan = plan_of(QUERIES["dd_exact_dedup"](spark, SF0001))
    assert "Window" not in plan and "NestedLoop" not in plan


def test_pii_scrub_and_line_filter_no_shuffle(spark):
    # both are pure row functions (regex chains / higher-order array
    # funcs): the plan must be scan + project only — no Exchange, no
    # Generate (explode), no Window, no Python UDF
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.corpus import (
        line_filter,
        pii_scrub,
    )
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.schemas import load_table

    docs = load_table(spark, SF0001, "documents")
    for p in (plan_of(pii_scrub(docs)), plan_of(line_filter(docs))):
        assert "Exchange" not in p
        assert "Generate" not in p
        assert "Window" not in p
        assert "Python" not in p


def test_sequence_pack_single_bucket_exchange(spark):
    # packing = one hash exchange on the bucket feeding a running-sum
    # window; no global (single-partition) window, no extra shuffles
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.corpus import sequence_pack
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.schemas import load_table

    p = plan_of(sequence_pack(load_table(spark, SF0001, "documents")))
    assert p.count("+- Exchange") == 1
    assert "hashpartitioning" in p
    assert "SinglePartition" not in p
    assert "Window" in p


def test_semantic_dedup_cell_join_not_cross(spark):
    # the candidate stage must join on the cell id — never a cartesian
    # nested-loop over the full item table
    plan = plan_of(QUERIES["dd_semantic_dedup"](spark, SF0001))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_unigram_logprob_totals_stay_in_plan(spark):
    # the N/V scalars ride a broadcast nested-loop of a 1-row aggregate —
    # no driver collect; the token join is the only hash join
    plan = plan_of(QUERIES["tx_unigram_logprob"](spark, SF0001))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_unigram_counts_join_is_broadcast(spark):
    # broadcast_counts=True (default): the exploded token stream hash-
    # joins a broadcast of the Zipf-bounded count table — the tokens are
    # never shuffled on token, so the per-doc groupBy is the only wide
    # stage. The opt-out flag must restore the shuffle join.
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.corpus import unigram_logprob
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.schemas import load_table

    docs = load_table(spark, SF0001, "documents")
    p_bc = plan_of(unigram_logprob(docs))
    assert "BroadcastHashJoin" in p_bc
    assert "SortMergeJoin" not in p_bc
    # the opt-out must actually remove the count-table broadcast HINT
    # (the physical join is then the planner's choice — at test scale
    # auto-broadcast may still pick the small materialized table), so
    # assert on the logical plan where hints are visible: the 1-row
    # totals crossJoin always carries one hint; broadcast_counts adds a
    # second on the count table
    def hints(df):
        return df._jdf.queryExecution().logical().toString().count("ResolvedHint")

    assert hints(unigram_logprob(docs)) == 2
    assert hints(unigram_logprob(docs, broadcast_counts=False)) == 1


def test_contamination_prunes_train_to_test_vocab(spark):
    # broadcast_test_shingles=True (default): train shingles are
    # filtered map-side by a broadcast LeftSemi against the distinct
    # test shingles BEFORE the max_df window and the containment join —
    # the shuffle sees only the matched subset of the training corpus.
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.dedup import (
        contamination_pairs,
    )
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.schemas import load_table

    docs = load_table(spark, SF0001, "documents")
    train = docs.filter(F.col("doc_id") % 5 != 0)
    test = docs.filter(F.col("doc_id") % 5 == 0)
    p = plan_of(contamination_pairs(train, test, max_df=20))
    assert "LeftSemi" in p and "BroadcastExchange" in p
    p_off = plan_of(
        contamination_pairs(train, test, max_df=20, broadcast_test_shingles=False)
    )
    assert "LeftSemi" not in p_off


def test_asof_join_single_shuffle_no_join_node(spark):
    # the as-of join must be a union + per-key window: ONE hash
    # exchange on the key, no join operator, no range-join pair
    # explosion (CartesianProduct / BroadcastNestedLoopJoin)
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.relational import asof_join

    left = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("ts"), F.lit("x").alias("v")
    )
    right = spark.range(5).select(
        F.col("id").alias("k"), (F.col("id") * 7).alias("ts"), F.lit(1.0).alias("px")
    )
    p = plan_of(asof_join(left, right, on=["k"], ts_col="ts"))
    assert "Join" not in p or "join" not in p.lower().replace("asof_join", "")
    assert "CartesianProduct" not in p and "NestedLoop" not in p
    assert p.count("hashpartitioning") >= 1
    assert "Window" in p


def test_pq_topk_plan_lookup_only_pairs(spark):
    # the whole point of ADC: per-pair work is table LOOKUPS — the pair
    # stage must be a single broadcast nested-loop over (codes, dtable)
    # columns with NO per-pair zip_with/aggregate (those run once per
    # ROW upstream, in the encode and table projections), and no
    # shuffle before the final top-k window
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.similarity import pq_topk
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.schemas import load_table

    emb = load_table(spark, SF0001, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    df = pq_topk(emb, q, dim=64, k=5)
    p = plan_of(df)
    assert "BroadcastNestedLoopJoin" in p  # queries broadcast, items streamed
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p
    # exactly one wide exchange: the per-query top-k window (formatted
    # mode names each node once in the details as "(N) Exchange";
    # BroadcastExchange doesn't match the word boundary)
    import re

    assert len(re.findall(r"\(\d+\) Exchange\b", p)) == 1


def test_dsir_plans(spark):
    # weights: the log-ratio table broadcasts (bounded by n_buckets) —
    # the corpus-side feature stream must never shuffle on bucket for
    # scoring; sample: top-k is TakeOrderedAndProject, not a global sort
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.corpus import dsir_logweights, dsir_sample
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.schemas import load_table

    docs = load_table(spark, SF0001, "documents")
    target = docs.filter(F.col("doc_id") % 7 == 0)
    pw = plan_of(dsir_logweights(docs, target))
    assert "BroadcastHashJoin" in pw  # feature stream x broadcast λ
    ps = plan_of(dsir_sample(docs, target, k=10))
    assert "TakeOrderedAndProject" in ps
    assert ps.count("Scan parquet") <= 4  # λ subtree materialized once


def test_pq_rerank_plan_shape(spark):
    """pq_topk(rerank=N) keeps the ADC pair stage's shape (broadcast
    nested loop, no sort-merge/cartesian) and adds at most ONE more
    wide exchange beyond the base plan: the shortlist window and the
    final top-k window both hash-partition on the query id, so
    Catalyst must reuse the partitioning rather than reshuffle."""
    import re

    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.similarity import pq_topk
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.schemas import load_table

    emb = load_table(spark, SF0001, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    p = plan_of(pq_topk(emb, q, dim=64, k=5, rerank=20))
    assert "BroadcastNestedLoopJoin" in p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) <= 2


@pytest.mark.parametrize("tier", ["ivf_topk", "ivf_pq_topk", "ivf_sq8_topk"])
def test_ivf_plan_cell_join_not_cross(spark, tier):
    """Every IVF tier's pair stage must be a hash join ON THE CELL
    (broadcast query probes), never a cross/nested-loop over all items
    — cells bounding the scan is the composition's entire point — and
    the per-pair work stays the codec's score over columns computed once
    per ROW upstream (vectors and norms, PQ codes and ADC tables, SQ8
    reconstructions)."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators import similarity
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.schemas import load_table

    emb = load_table(spark, SF0001, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    p = plan_of(getattr(similarity, tier)(emb, q, dim=64, k=5))
    assert "BroadcastHashJoin" in p  # probe join keyed on cell
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p


def test_sq8_topk_plan_flat_broadcast_scan(spark):
    """SQ8's flat scan mirrors pq_topk's documented shape: queries
    broadcast over the reconstructed-code stream (BNLJ by design — the
    sublinear composition is IVF cells, as for PQ), no sort-merge, and
    exactly one wide exchange (the final top-k window)."""
    import re

    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.similarity import sq8_topk
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.schemas import load_table

    emb = load_table(spark, SF0001, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    p = plan_of(sq8_topk(emb, q, dim=64, k=5))
    assert "BroadcastNestedLoopJoin" in p
    assert "SortMergeJoin" not in p
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) == 1


def test_tfidf_top_terms_single_corpus_exchange_family(spark):
    """TF-IDF's per-doc top-k window re-shuffles on id, but the shuffle
    must be k-pruned: Spark's rank-limit pushdown places a Partial
    WindowGroupLimit BELOW the id exchange, so each task ships at most
    k rows per (id, partition) — O(k·docs), never the tf table.  The
    idf table joins broadcast; beyond the tf shuffle (inside the lazy
    localCheckpoint) the plan has exactly three exchanges: the
    vocab-bounded term aggregation, the 1-row corpus-size scalar, and
    the k-pruned id window shuffle."""
    import re

    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.corpus import tfidf_top_terms
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.schemas import load_table

    docs = load_table(spark, SF0001, "documents")
    p = plan_of(tfidf_top_terms(docs, k=5))
    assert "BroadcastHashJoin" in p  # idf table onto tf
    assert "SortMergeJoin" not in p
    # exactly three shuffle exchanges downstream of the tf checkpoint
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) == 3
    # the id-window shuffle is preceded by a Partial WindowGroupLimit
    # (rank-limit pushdown): the exchange ships pruned top-k candidates
    partial_limit = p.find("WindowGroupLimit")
    id_exchange = p.find("hashpartitioning(id")
    assert partial_limit != -1 and id_exchange != -1
    assert ", Partial" in p  # the pre-shuffle partial limit node
    assert "row_number(), 5" in p  # pruned to exactly k=5 per id


def test_ingest_dedup_store_scan_never_shuffles(spark, tmp_path):
    """r06 guard for ingest_dedup's core 100 TB claim (dedup.py): when
    the delta is small, the persisted fingerprint STORE contributes one
    parquet scan and ZERO exchanges — the delta's distinct fingerprints
    broadcast onto it as a LeftSemi probe.  A regression to a
    sort-merge (store-shuffling) semi join must fail here."""
    import re

    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.dedup import (
        fingerprint_store,
        ingest_dedup,
    )
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.schemas import load_table

    docs = load_table(spark, SF0001, "documents")
    store_path = str(tmp_path / "fp_store.parquet")
    # the persisted artifact: construction-time distinct is NOT an
    # ingest cost — ingest reads the already-distinct parquet
    fingerprint_store(docs).write.parquet(store_path)
    store = spark.read.parquet(store_path)
    delta = docs.filter(F.col("doc_id") % 50 == 0)

    p = plan_of(ingest_dedup(delta, store))
    # the store's one pass: a single parquet scan of the store path
    store_scans = [
        line for line in p.splitlines() if "Scan parquet" in line or "Location" in line
    ]
    assert sum("fp_store.parquet" in line for line in store_scans) == 1
    # the semi probe is broadcast (delta build side), never sort-merge
    assert "BroadcastHashJoin LeftSemi BuildRight" in p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p
    # every wide exchange is delta-bounded: the distinct feeding the
    # broadcast build, the matched-set distinct, the keeper window
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) == 3


def test_semantic_ingest_store_dpp_and_single_exchange(spark, tmp_path):
    """semantic_ingest_dedup's 100 TB contract: with the store persisted
    partitionBy(cell), the broadcast cell-probe join must trigger
    DYNAMIC PARTITION PRUNING on the store scan (only the probed cells
    are read), no sort-merge join anywhere, and exactly ONE exchange
    (the delta-sized per-doc max aggregation).  A regression that hides
    the delta's selective predicate from the optimizer (e.g. a
    checkpoint on the probe side) kills DPP silently — this pins it."""
    import re

    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.similarity import (
        sampled_centroids,
        semantic_ingest_dedup,
        semantic_store,
    )
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.schemas import load_table

    emb = load_table(spark, SF0001, "embeddings")
    delta = emb.filter(F.col("vec_id") < 10)
    store_docs = emb.filter(F.col("vec_id") >= 10)
    cents = sampled_centroids(store_docs, n_cells=8)
    path = str(tmp_path / "sem_store.parquet")
    semantic_store(store_docs, dim=64, n_cells=8, centroids=cents).write.partitionBy(
        "cell"
    ).parquet(path)
    store = spark.read.parquet(path)

    out = semantic_ingest_dedup(delta, store, cents, dim=64, tau=0.38, n_probe=2)
    p = plan_of(out)
    assert "dynamicpruning" in p.lower()  # store scan pruned to probed cells
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p
    assert p.count("BroadcastHashJoin") >= 2  # probe join + final rejoin
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) == 1  # per-doc max agg
    assert out.count() == delta.count()


def _tree_ancestors(plan: str, node_line_pred):
    """Lines on the path from the first tree node matching
    `node_line_pred` up to the root of the formatted-explain operator
    tree (parents = the nearest preceding lines at strictly shallower
    branch-art indentation)."""
    tree = plan.split("\n\n")[0].splitlines()

    def depth(line: str) -> int:
        return len(line) - len(line.lstrip(" :+-"))

    idx = next(i for i, l in enumerate(tree) if node_line_pred(l))
    chain, d = [], depth(tree[idx])
    for l in reversed(tree[:idx]):
        if depth(l) < d:
            chain.append(l)
            d = depth(l)
    return chain


def test_minhash_ingest_store_scan_never_shuffles(spark, tmp_path):
    """minhash_ingest_dedup's store contract (the lexical sibling of the
    fingerprint and semantic gate guards): the persisted banded-
    signature store contributes one parquet scan and ZERO exchanges —
    the delta's banded signatures broadcast onto it as a hash join on
    (band, bucket); the plan's SINGLE exchange is the delta-bounded
    per-doc max aggregation (the delta signature groupBy lives inside
    the lazy localCheckpoint), pinned exactly, and the path from the
    store scan to its join is exchange-free (r06 ADVICE: the ≤2 bound
    could hide a store-side exchange)."""
    import re

    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.dedup import (
        minhash_ingest_dedup,
        minhash_store,
    )
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.schemas import load_table

    docs = load_table(spark, SF0001, "documents").select("doc_id", "text")
    store_path = str(tmp_path / "mh_store.parquet")
    minhash_store(docs.filter(F.col("doc_id") % 10 < 8)).write.parquet(store_path)
    store = spark.read.parquet(store_path)
    delta = docs.filter(F.col("doc_id") % 10 >= 8)

    p = plan_of(minhash_ingest_dedup(delta, store))
    store_scans = [
        line for line in p.splitlines() if "Scan parquet" in line or "Location" in line
    ]
    assert sum("mh_store.parquet" in line for line in store_scans) == 1
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p
    assert "CartesianProduct" not in p
    # exactly ONE wide exchange: the per-doc max aggregation
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) == 1
    # and it sits on the delta (post-join aggregate) side: walking up
    # from the store's parquet scan to its consuming join crosses no
    # Exchange — the store is the join's streamed side, never shuffled
    m = re.search(r"\((\d+)\) Scan parquet[^\n]*\n(?:(?!\(\d+\) )[^\n]*\n){0,8}?"
                  r"[^\n]*mh_store\.parquet", p)
    assert m, "store scan node not found in plan details"
    node = f"Scan parquet  ({m.group(1)})"
    chain = _tree_ancestors(p, lambda l: node in l)
    to_join = []
    for line in chain:
        to_join.append(line)
        if "Join" in line:
            break
    assert any("Join" in l for l in to_join), to_join
    assert not any("Exchange" in l for l in to_join), to_join


def test_symmetrize_scans_input_once(spark):
    # both directions come from one pass: a forward/reversed union would
    # plan the whole upstream (here a parquet scan) twice
    import re

    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.kernels import symmetrize

    edges = load_table(spark, SF0001, "lineitem").select(
        F.col("l_partkey").alias("src"),
        F.col("l_suppkey").alias("dst"),
        F.col("l_quantity").alias("weight"),
    )
    for df in (symmetrize(edges), symmetrize(edges.drop("weight"))):
        scans = re.findall(r"^\(\d+\) Scan parquet", plan_of(df), re.M)
        assert len(scans) == 1, scans
