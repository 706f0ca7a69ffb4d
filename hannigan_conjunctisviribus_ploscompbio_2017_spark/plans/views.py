"""SQL surface: register the engine's tables and graph as temp views so
the whole suite is reachable via spark.sql (SURVEY §7 step 4 — Catalyst
produces the same plans either way). The pattern queries themselves
have one definition, in plans/queries.py.

Usage:
    register_testdata_views(spark, sf_dir)   # raw tables
    register_graph_views(spark, sf_dir)      # nodes / edges property graph
    spark.sql("SELECT * FROM infects_edges WHERE interaction = 1")
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from hannigan_conjunctisviribus_ploscompbio_2017_spark.schemas import TESTDATA_TABLES, load_table


def register_testdata_views(spark: SparkSession, sf_dir: str) -> None:
    """One temp view per driver testdata table."""
    for t in TESTDATA_TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


def register_graph_views(spark: SparkSession, sf_dir: str) -> None:
    """Property-graph views over the testdata mapping: `graph_nodes`,
    `infects_edges`, `sampled_edges` — the §2.9 tables as SQL-queryable
    relations."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.plans import testdata_graph as TG

    TG.nodes(spark, sf_dir).createOrReplaceTempView("graph_nodes")
    TG.infects_edges(spark, sf_dir).createOrReplaceTempView("infects_edges")
    TG.sampled_edges(spark, sf_dir).createOrReplaceTempView("sampled_edges")


def register_corpus_views(spark: SparkSession, sf_dir: str) -> None:
    """Training-data-pipeline views over the documents/embeddings tables:

    - `doc_stats`       — per-doc token counts + quality + lang-ID
    - `doc_chunks`      — 16-token passage fingerprints (chunk_dedup input)
    - `doc_dups`        — exact-dedup keep decisions
    - `corpus_ngrams`   — global bigram occurrence/doc-frequency counts
    - `doc_splits`      — deterministic 80/10/10 train/val/test assignment
    - `doc_repetition`  — Gopher repetition signals (entropy/top-share/dup mass)
    - `doc_scrubbed`    — PII-redacted text + per-family audit counts
    - `doc_lm_score`    — self-trained unigram LM negative log-prob per doc
    - `doc_packing`     — sequence-packing assignment (bucket/pack/offset)
    - `corpus_mixture`  — per-source observed share + uniform-target weight

    All are lazy views over the same Catalyst plans as the operator API:
    `spark.sql("SELECT * FROM doc_dups WHERE is_dup = 1")` prunes and
    pushes down exactly like the DataFrame call."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.functions import text as TX
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators import corpus, dedup

    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    docs.select(
        "doc_id",
        "source",
        TX.token_count("text").alias("n_tokens"),
        TX.quality_score("text").alias("quality"),
        TX.lang_id("text").alias("lang_pred"),
    ).createOrReplaceTempView("doc_stats")
    dedup.doc_chunks(docs).createOrReplaceTempView("doc_chunks")
    dedup.exact_dedup(docs).createOrReplaceTempView("doc_dups")
    corpus.ngram_counts(docs, n=2).createOrReplaceTempView("corpus_ngrams")
    corpus.split_assign(docs).select("doc_id", "source", "split").createOrReplaceTempView(
        "doc_splits"
    )
    corpus.repetition_stats(docs, n=2).createOrReplaceTempView("doc_repetition")
    corpus.pii_scrub(docs).createOrReplaceTempView("doc_scrubbed")
    corpus.unigram_logprob(docs).createOrReplaceTempView("doc_lm_score")
    corpus.sequence_pack(docs).createOrReplaceTempView("doc_packing")
    corpus.mixture_weights(docs).createOrReplaceTempView("corpus_mixture")
