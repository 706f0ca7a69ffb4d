"""Dedup + similarity-search operators on crafted fixtures."""

import pytest
from pyspark.sql import functions as F

from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators import dedup, similarity

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy dog"),          # exact dup of 0
    (2, "The quick brown fox JUMPS over the lazy dog!!"),        # normalized dup of 0
    (3, "the quick brown fox leaps over the lazy dog"),          # near dup (1 token)
    (4, "completely different content about spark engines here"),
    (5, "spark engines here are completely different content about"),  # same tokens, diff order
]


def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup_groups(spark):
    out = {r.id: r for r in dedup.exact_dedup(docs_df(spark)).collect()}
    assert out[1].keeper_id == 0 and out[1].is_dup == 1
    assert out[2].keeper_id == 0 and out[2].is_dup == 1  # normalization folds case/punct
    assert out[3].is_dup == 0
    assert out[0].is_dup == 0


def test_shingles(spark):
    sh = dedup.shingles(docs_df(spark).filter(F.col("doc_id") == 0), k=3).collect()
    shingle_set = {r.shingle for r in sh}
    assert "the quick brown" in shingle_set
    assert "lazy dog" not in shingle_set  # only full 3-grams
    assert len(shingle_set) == 7  # 9 tokens → 7 shingles


def test_jaccard_near_dup(spark):
    pairs = {(r.id_a, r.id_b): r.jaccard
             for r in dedup.jaccard_pairs(docs_df(spark), threshold=0.3).collect()}
    assert pairs[(0, 1)] == pytest.approx(1.0)
    assert pairs[(0, 2)] == pytest.approx(1.0)
    # one token changed: 3 of 7 shingles touch it → J = 4/(7+7-4) = 0.4
    assert pairs[(0, 3)] == pytest.approx(0.4)
    assert (0, 4) not in pairs
    # rotated word order still shares 3 shingles → J = 3/(5+6-3) = 0.375
    assert pairs[(4, 5)] == pytest.approx(0.375)


def test_minhash_lsh_finds_exact_and_near(spark):
    pairs = {(r.id_a, r.id_b): r.est_jaccard
             for r in dedup.minhash_lsh_pairs(docs_df(spark)).collect()}
    assert pairs[(0, 1)] == pytest.approx(1.0)
    assert pairs[(0, 2)] == pytest.approx(1.0)
    assert (0, 4) not in pairs


def test_simhash_hamming(spark):
    fps = {r.id: r.simhash for r in dedup.simhash(docs_df(spark)).collect()}
    assert fps[0] == fps[1]  # identical text → identical fingerprint

    def hamming(a, b):
        return bin((a & 0xFFFFFFFFFFFFFFFF) ^ (b & 0xFFFFFFFFFFFFFFFF)).count("1")

    # near-dup (one token changed) is closer than unrelated text
    assert hamming(fps[0], fps[3]) < hamming(fps[0], fps[4])
    # doc5 = doc4 + one extra token, reordered: simhash is order-insensitive
    # so only the extra token moves bits → very close
    assert hamming(fps[4], fps[5]) < hamming(fps[4], fps[0])


def test_portable_hash_family(spark):
    """The md5-based portable family preserves operator semantics (same
    dup structure as the xxhash64 default) and is reference-computable:
    the token hash equals int(md5_hex[:15], 16)."""
    df = docs_df(spark)
    got = (
        df.select(F.col("text"))
        .limit(1)
        .select(
            dedup.portable_token_hash(F.lit("hello")).alias("h"),
        )
        .collect()[0]
        .h
    )
    import hashlib

    assert got == int(hashlib.md5(b"hello").hexdigest()[:15], 16)

    fps = {
        r.id: r.simhash
        for r in dedup.simhash(df, bits=60, hash_fn=dedup.portable_token_hash).collect()
    }
    assert fps[0] == fps[1] == fps[2]
    assert 0 <= fps[0] < (1 << 60)

    def hamming(a, b):
        return bin(a ^ b).count("1")

    assert hamming(fps[0], fps[3]) < hamming(fps[0], fps[4])

    sig = {
        r.id: r.sig
        for r in dedup.minhash_signatures(
            df, num_hashes=16, hash_fn=dedup.portable_token_hash
        ).collect()
    }
    assert sig[0] == sig[1] == sig[2]
    assert sig[0] != sig[4]


def _embeddings(spark, n=100, dim=8):
    import numpy as np

    rng = np.random.default_rng(42)
    rows = []
    for i in range(n):
        v = rng.normal(size=dim)
        rows.append((i, [float(x) for x in v]))
    # make 1 a near-copy of 0
    rows[1] = (1, [x + 0.01 for x in rows[0][1]])
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_force_topk(spark):
    emb = _embeddings(spark)
    q = emb.filter(F.col("vec_id") == 0)
    out = similarity.brute_force_topk(emb, q, k=3).collect()
    assert len(out) == 3
    assert out[0].neighbor_id == 1  # the near-copy ranks first
    assert out[0].cosine_sim > 0.999
    ranks = [r.rank for r in out]
    assert ranks == [1, 2, 3]


def test_srp_lsh_recall_vs_brute_force(spark):
    emb = _embeddings(spark, n=200)
    q = emb.filter(F.col("vec_id") < 10)
    exact = similarity.brute_force_topk(emb, q, k=1).collect()
    approx = similarity.srp_lsh_topk(emb, q, dim=8, k=1, num_planes=16, bands=8).collect()
    exact_top = {r.query_id: r.neighbor_id for r in exact}
    approx_top = {r.query_id: r.neighbor_id for r in approx}
    hits = sum(1 for k, v in exact_top.items() if approx_top.get(k) == v)
    assert hits >= 6  # recall@1 ≥ 0.6 with 8 bands of 2 bits on random data
    # wrong-dim vectors are unusable on both sides: they would hash to
    # bucket 0 of every band (every projection dot NULL) and score NULL
    bad = _wrong_dim(spark)
    assert similarity.srp_lsh_topk(emb, bad, dim=8, k=3, num_planes=16, bands=8).count() == 0
    rows = similarity.srp_lsh_topk(
        emb.unionByName(bad), q, dim=8, k=300, num_planes=16, bands=8
    ).collect()
    assert rows and all(r.cosine_sim is not None for r in rows)
    assert 999 not in {r.neighbor_id for r in rows}


def _wrong_dim(spark):
    """One 2-element vector (id 999) for the 8-d fixtures."""
    return spark.createDataFrame([(999, [1.0, 0.0])], "vec_id long, embedding array<float>")


def test_ivf_topk_recall_and_determinism(spark):
    emb = _embeddings(spark, n=200)
    q = emb.filter(F.col("vec_id") < 10)
    exact = {r.query_id: r.neighbor_id
             for r in similarity.brute_force_topk(emb, q, k=1).collect()}
    approx = similarity.ivf_topk(emb, q, dim=8, k=1, n_cells=8, n_probe=4)
    a = sorted(map(tuple, approx.collect()))
    hits = sum(1 for qq, nn in exact.items()
               if dict((r[0], r[1]) for r in a).get(qq) == nn)
    assert hits >= 6  # recall@1 ≥ 0.6 probing half the cells
    # the near-copy pair shares a cell: query 0 must find neighbor 1
    assert dict((r[0], r[1]) for r in a)[0] == 1
    # deterministic: same result regardless of partitioning
    b = sorted(map(tuple,
                   similarity.ivf_topk(emb.repartition(7), q, dim=8, k=1,
                                       n_cells=8, n_probe=4).collect()))
    assert a == b
    # ivf_topk honours dim: a wrong-dim query gets no rows rather than
    # k neighbors scored NULL, and a wrong-dim item is never a candidate
    # (full probe, so every usable item is one)
    bad = _wrong_dim(spark)
    assert similarity.ivf_topk(emb, bad, dim=8, k=3, n_cells=4, n_probe=1).count() == 0
    rows = similarity.ivf_topk(
        emb.unionByName(bad), q, dim=8, k=300, n_cells=8, n_probe=8
    ).collect()
    assert rows and all(r.cosine_sim is not None for r in rows)
    assert 999 not in {r.neighbor_id for r in rows}


def test_ivf_trained_centroids_recall(spark):
    emb = _embeddings(spark, n=200)
    q = emb.filter(F.col("vec_id") < 10)
    exact = {r.query_id: r.neighbor_id
             for r in similarity.brute_force_topk(emb, q, k=1).collect()}
    cents = similarity.ivf_train_centroids(emb, n_cells=8, seed=42)
    assert len(cents) == 8 and all(len(c) == 8 for c in cents)
    approx = similarity.ivf_topk(emb, q, dim=8, k=1, n_probe=4, centroids=cents)
    top = {r.query_id: r.neighbor_id for r in approx.collect()}
    hits = sum(1 for qq, nn in exact.items() if top.get(qq) == nn)
    assert hits >= 6  # kmeans cells at least match the md5-sample recall bar
    assert top[0] == 1  # the near-copy pair still shares a cell
    # seeded: retraining reproduces the same centroids
    again = similarity.ivf_train_centroids(emb, n_cells=8, seed=42)
    assert cents == again
    # hash-bounded training subset also yields valid centroids
    sub = similarity.ivf_train_centroids(emb, n_cells=4, seed=42, sample_frac=0.5)
    assert len(sub) == 4


def test_embedding_near_dup_pairs(spark):
    emb = _embeddings(spark)  # vec 1 = near-copy of vec 0
    exact = {
        (r.id_a, r.id_b): r.cosine_sim
        for r in similarity.embedding_near_dup_pairs(
            emb, threshold=0.99, exact=True
        ).collect()
    }
    assert (0, 1) in exact and exact[(0, 1)] > 0.999
    # banded path: candidates via SRP buckets, same exact rerank — the
    # planted near-copy must collide in at least one band
    banded = {
        (r.id_a, r.id_b): r.cosine_sim
        for r in similarity.embedding_near_dup_pairs(
            emb, threshold=0.99, exact=False, dim=8, num_planes=16, bands=8
        ).collect()
    }
    assert (0, 1) in banded
    # banded results are a subset of exact with identical scores
    assert set(banded) <= set(exact)
    assert all(banded[k] == exact[k] for k in banded)


def test_simhash_pairs_finds_near_dups(spark):
    pairs = {(r.id_a, r.id_b): r.hamming
             for r in dedup.simhash_pairs(docs_df(spark), max_hamming=15, bands=16).collect()}
    assert pairs[(0, 1)] == 0       # identical
    assert pairs[(0, 2)] == 0       # normalization-identical
    assert (0, 3) in pairs          # one-token near dup within budget
    assert (0, 4) not in pairs      # unrelated text


def test_salted_join_matches_plain_join(spark):
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.relational import salted_join

    left = spark.createDataFrame(
        [("hot", i) for i in range(500)] + [("cold", i) for i in range(5)],
        "k string, v int",
    )
    right = spark.createDataFrame([("hot", "H"), ("cold", "C")], "k string, tag string")
    plain = sorted(map(tuple, left.join(right, "k").select("k", "v", "tag").collect()))
    salted = sorted(map(tuple, salted_join(left, right, "k", buckets=8).select("k", "v", "tag").collect()))
    assert plain == salted


def test_kmer_minhash_contig_similarity(spark):
    import random

    rng = random.Random(3)
    base = "".join(rng.choice("ACGT") for _ in range(500))
    mutated = list(base)
    for i in rng.sample(range(500), 10):  # 2% point mutations
        mutated[i] = rng.choice("ACGT")
    seqs = [
        ("contig_a", base),
        ("contig_b", "".join(mutated)),       # near-identical to a
        ("contig_c", "".join(rng.choice("ACGT") for _ in range(500))),  # unrelated
    ]
    df = spark.createDataFrame(seqs, "id string, seq string")
    pairs = {(r.id_a, r.id_b): r.est_jaccard
             for r in dedup.kmer_minhash_pairs(df, k=8).collect()}
    assert ("contig_a", "contig_b") in pairs
    assert pairs[("contig_a", "contig_b")] > 0.3
    assert ("contig_a", "contig_c") not in pairs


def test_char_shingles(spark):
    df = spark.createDataFrame([("x", "ACGTACGT")], "id string, seq string")
    km = {r.shingle for r in dedup.char_shingles(df, k=4).collect()}
    assert "ACGT" in km and "CGTA" in km
    assert len(km) == 4  # 5 positions, 'ACGT' repeats → 4 distinct


def test_dup_clusters_transitive_and_singletons(spark):
    docs = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "x"), (9, "solo")], "doc_id long, text string"
    )
    # pair graph: 1-2, 2-3 (transitive: 3 joins 1's cluster without a 1-3 pair)
    pairs = spark.createDataFrame(
        [("1", "2", 1.0), ("2", "3", 1.0)], "id_a string, id_b string, est_jaccard double"
    )
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.dedup import dup_clusters

    rows = {r.id: (r.keeper_id, r.is_dup) for r in dup_clusters(docs, pairs).collect()}
    assert rows == {"1": ("1", 0), "2": ("1", 1), "3": ("1", 1), "9": ("9", 0)}


def test_chunk_dedup_flags_repeated_passages(spark):
    # 4-token chunks: doc 10 = [A B], doc 11 repeats chunk A at position
    # 2 and introduces C; doc 12 is all-fresh.
    rows = [
        (10, "a b c d e f g h"),            # chunks: "a b c d", "e f g h"
        (11, "x y z w a b c d"),            # chunk 2 repeats doc 10 chunk 1
        (12, "p q r s"),                    # fresh single chunk
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r.id, r.chunk_idx): r for r in dedup.chunk_dedup(df, chunk_tokens=4).collect()}
    assert len(out) == 5
    assert out[(11, 2)].is_dup == 1
    assert out[(11, 2)].keeper_id == 10 and out[(11, 2)].keeper_idx == 1
    assert out[(10, 1)].is_dup == 0 and out[(10, 2)].is_dup == 0
    assert out[(11, 1)].is_dup == 0 and out[(12, 1)].is_dup == 0


def test_chunk_dedup_short_and_ragged_docs(spark):
    # docs shorter than one chunk still produce exactly one chunk; the
    # ragged tail chunk (len < chunk_tokens) is fingerprinted as-is
    rows = [(1, "only three words"), (2, "only three words"), (3, "a b c d e")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.chunk_dedup(df, chunk_tokens=4).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.id, []).append(r)
    assert len(by_doc[1]) == 1 and len(by_doc[2]) == 1
    assert len(by_doc[3]) == 2  # "a b c d" + tail "e"
    assert by_doc[2][0].is_dup == 1 and by_doc[2][0].keeper_id == 1


def test_contamination_containment_and_max_df(spark):
    train = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "zeta eta theta iota kappa"),
            (3, "common one two common one two common one two"),
        ],
        "doc_id long, text string",
    )
    test = spark.createDataFrame(
        # doc 9: 3 shingles, 2 of which ("alpha beta gamma", "beta gamma
        # delta") appear in train doc 1 → containment 2/3
        [(9, "alpha beta gamma delta unseen")],
        "doc_id long, text string",
    )
    out = dedup.contamination_pairs(train, test, k=3, threshold=0.5).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.test_id, r.train_id, r.shared) == (9, 1, 2)
    assert abs(r.containment - round(2 / 3, 6)) < 1e-9
    # max_df=0 prunes every train shingle → no pairs survive
    assert (
        dedup.contamination_pairs(train, test, k=3, threshold=0.0, max_df=0).count()
        == 0
    )


def test_corpus_top_ngrams_and_counts(spark):
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators import corpus

    df = spark.createDataFrame(
        [(1, "a b a b c"), (2, "a b x")], "doc_id long, text string"
    )
    # bigrams: doc1 → "a b","b a","a b","b c"; doc2 → "a b","b x"
    counts = {r.ngram: r for r in corpus.ngram_counts(df, n=2).collect()}
    assert counts["a b"].n_occurrences == 3 and counts["a b"].n_docs == 2
    assert counts["b a"].n_occurrences == 1 and counts["b a"].n_docs == 1
    top = corpus.top_ngrams(df, n=2, limit=2).collect()
    assert [r.ngram for r in top] == ["a b", "b a"]  # ties broken by text


def test_split_assign_deterministic_and_complete(spark):
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators import corpus

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    a = corpus.split_assign(df).groupBy("split").count().collect()
    b = corpus.split_assign(df.repartition(7)).groupBy("split").count().collect()
    assert {r.split: r["count"] for r in a} == {r.split: r["count"] for r in b}
    frac = {r.split: r["count"] / 2000 for r in a}
    assert set(frac) == {"train", "val", "test"}
    assert abs(frac["train"] - 0.8) < 0.05
    assert abs(frac["val"] - 0.1) < 0.03 and abs(frac["test"] - 0.1) < 0.03


def test_reject_reasons_rules_and_routing(spark):
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.functions import text as TX

    rows = [
        (1, "the cat sat on the mat with a hat and a bat for fun", "en"),   # keep
        (2, "tiny", "en"),                                                   # too_short (+low_quality)
        (3, " ".join(["w"] * 30), "zh"),                                     # lang (+no stopwords)
        (4, "", "en"),                                                       # empty
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    r = TX.reject_reasons(
        "text", "lang", min_tokens=5, max_tokens=100, min_quality=0.2,
        allowed_langs=["en"],
    )
    out = {x.doc_id: x.reject_reasons for x in
           df.select("doc_id", r.alias("reject_reasons")).collect()}
    assert out[1] == ""
    assert "too_short" in out[2]
    assert "lang" in out[3] and "too_short" not in out[3]
    assert "empty" in out[4]


def test_write_corpus_file_discipline(spark, tmp_path):
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators import corpus
    import glob

    df = spark.range(0, 1000).withColumnRenamed("id", "doc_id").withColumn(
        "text", F.concat(F.lit("doc "), F.col("doc_id"))
    )
    p = str(tmp_path / "corpus")
    corpus.write_corpus(df, p, files_per_partition=4, max_records_per_file=100)
    files = glob.glob(f"{p}/*.parquet")
    # 4 range partitions x (250 rows / 100-record cap -> 3 files) = 12
    assert len(files) == 12
    back = spark.read.parquet(p)
    assert back.count() == 1000
    assert back.select(F.countDistinct("doc_id")).collect()[0][0] == 1000


def test_repetition_stats_detects_boilerplate(spark):
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators import corpus
    import math

    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam"),          # one bigram repeated 5x
            (2, "a b c d e f"),                            # all 5 bigrams distinct
        ],
        "doc_id long, text string",
    )
    out = {r.id: r for r in corpus.repetition_stats(df, n=2).collect()}
    assert out[1].ngram_entropy == 0.0
    assert out[1].top_ngram_share == 1.0
    assert out[1].dup_ngram_ratio == 0.8  # 1 distinct / 5 total
    assert abs(out[2].ngram_entropy - round(math.log(5), 6)) < 1e-9
    assert out[2].top_ngram_share == 0.2 and out[2].dup_ngram_ratio == 0.0


def test_stratified_sample_deterministic_fractions(spark):
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators import corpus

    df = spark.range(0, 3000).withColumnRenamed("id", "doc_id").withColumn(
        "lang", F.when(F.col("doc_id") % 3 == 0, "en").when(F.col("doc_id") % 3 == 1, "de").otherwise("zh")
    )
    out = corpus.stratified_sample(df, "lang", {"en": 0.3, "de": 1.0})
    a = {r.doc_id for r in out.collect()}
    b = {r.doc_id for r in corpus.stratified_sample(df.repartition(7), "lang", {"en": 0.3, "de": 1.0}).collect()}
    assert a == b  # pure row function, partition-invariant
    by_lang = {r.lang: r.n for r in out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert by_lang.get("de") == 1000          # fraction 1.0 keeps all
    assert "zh" not in by_lang                # absent stratum dropped
    assert abs(by_lang["en"] / 1000 - 0.3) < 0.05


def test_embedding_health_flags_degenerates(spark):
    rows = [
        (1, [3.0, 4.0], 0),       # norm 5
        (2, [0.0, 0.0], 0),       # zero vector
        (3, None, 0),             # null
        (4, [1.0, 0.0, 0.0], 0),  # wrong dim
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    r = similarity.embedding_health(df, expected_dim=2).collect()[0]
    assert (r.n_vecs, r.n_null, r.n_zero, r.n_bad_dim) == (4, 1, 1, 1)
    assert r.max_norm == 5.0 and r.min_norm == 0.0


def test_pii_scrub_redaction_and_counts(spark):
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators import corpus

    df = spark.createDataFrame(
        [
            (1, "mail me at jo.doe+x@my-site.org or 10.0.0.1 thanks"),
            (2, "call 555-123 4567 and also 555-555-0000"),
            (3, "clean text with no pii at all"),
        ],
        "doc_id long, text string",
    )
    out = {r.id: r for r in corpus.pii_scrub(df).collect()}
    assert out[1].clean_text == "mail me at <EMAIL> or <IPV4> thanks"
    assert (out[1].n_email, out[1].n_ipv4, out[1].n_phone) == (1, 1, 0)
    assert out[2].n_phone == 2 and "<PHONE>" in out[2].clean_text
    assert out[3].clean_text == "clean text with no pii at all"
    assert (out[3].n_email, out[3].n_ipv4, out[3].n_phone) == (0, 0, 0)


def test_line_filter_c4_rules(spark):
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators import corpus

    text = "A good long sentence here.\nshort.\nno terminal punctuation line\nAnother keeper stays!\n"
    df = spark.createDataFrame([(1, text), (2, "")], "doc_id long, text string")
    out = {r.id: r for r in corpus.line_filter(df, min_words=3).collect()}
    assert out[1].clean_text == "A good long sentence here.\nAnother keeper stays!"
    assert (out[1].n_lines, out[1].n_kept) == (5, 2)  # trailing \n -> empty 5th line
    assert out[2].clean_text == "" and out[2].n_kept == 0
    # CRLF text: the \r is split away with the line terminator, so the
    # terminal-punctuation rule behaves identically to LF text and no
    # stray \r pollutes the kept output (Java `$` matches before a final
    # \r; the oracle's RE2 does not — normalizing keeps engines aligned)
    crlf = spark.createDataFrame(
        [(9, "Alpha beta gamma delta keeps.\r\nshort.\r\nAnother line stays here!\r\n")],
        "doc_id long, text string",
    )
    r = corpus.line_filter(crlf, min_words=3).collect()[0]
    assert r.clean_text == "Alpha beta gamma delta keeps.\nAnother line stays here!"
    assert "\r" not in r.clean_text and (r.n_lines, r.n_kept) == (4, 2)


def test_sequence_pack_invariants(spark):
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators import corpus

    df = spark.createDataFrame(
        [(i, "tok " * (5 + i % 7)) for i in range(200)], "doc_id long, text string"
    )
    out = corpus.sequence_pack(df, budget=32, n_buckets=4).collect()
    # partition-invariant: identical assignment after a repartition
    out2 = corpus.sequence_pack(df.repartition(13), budget=32, n_buckets=4).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))
    # every doc assigned; offsets inside the budget; pack ids contiguous-ish
    assert len(out) == 200
    for r in out:
        assert 0 <= r.pack_offset < 32
        assert r.pack_id is not None and r.pack_id >= 0
    # within a bucket, cumulative packing is consistent: first-token
    # positions reconstruct the running sum exactly
    by_bucket = {}
    for r in sorted(out, key=lambda r: (r.bucket, r.pack_id * 32 + r.pack_offset)):
        start = by_bucket.get(r.bucket, 0)
        assert r.pack_id * 32 + r.pack_offset == start
        by_bucket[r.bucket] = start + r.n_tok


def test_semantic_dedup_empty_table_raises_cleanly(spark):
    """A table with no usable centroid rows (empty, or all-degenerate)
    must raise a clear ValueError at build, not an AnalysisException
    from an untyped empty-array literal deep in the cell expression."""
    import pytest

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="no usable centroids"):
        similarity.semantic_dedup(empty, n_cells=4)
    degenerate = spark.createDataFrame(
        [(1, None), (2, [0.0, 0.0]), (3, [1.0, None])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="no usable centroids"):
        similarity.ivf_topk(degenerate, degenerate, dim=2)


def test_wrong_dim_row_never_becomes_a_centroid(spark):
    """A 2-element row whose md5 ranks first among 100 8-d items: the
    operators that take `dim` sample only 8-d centroids and spread the
    items over several cells (a wrong-dim centroid gives every item a
    NULL distance, which sorts first, so all would fall into one
    cell); those without `dim` refuse the mixed-length sample."""
    import hashlib
    import random

    md5 = lambda i: hashlib.md5(str(i).encode()).hexdigest()  # noqa: E731
    rng = random.Random(7)
    rows = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(100)]
    bad = next(i for i in range(1000, 10**6) if md5(i) < min(md5(r[0]) for r in rows))
    df = spark.createDataFrame(rows + [(bad, [1.0, 0.5])], "vec_id long, embedding array<double>")
    store = similarity.semantic_store(df, dim=8, n_cells=4).collect()
    assert sorted(r.id for r in store) == list(range(100))
    assert len({r.cell for r in store}) > 1
    with pytest.raises(ValueError, match="unequal lengths"):
        similarity.semantic_dedup(df, n_cells=4)
    with pytest.raises(ValueError, match="unequal lengths"):
        similarity.sampled_centroids(df, n_cells=4)


def test_semantic_dedup_flags_clumps(spark):
    import math

    # two tight clumps + one isolated point; centroids are md5-sampled
    # from the data so the clumps land in whatever cell contains them —
    # the invariant is: within a clump, only the smallest id survives.
    def vec(angle, eps=0.0):
        return [math.cos(angle) + eps, math.sin(angle) + eps]

    rows = [
        (10, vec(0.00)), (11, vec(0.001)), (12, vec(0.002)),   # clump A
        (20, vec(1.5)), (21, vec(1.501)),                      # clump B
        (30, vec(3.0)),                                        # isolated
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.id: r for r in similarity.semantic_dedup(df, tau=0.999, n_cells=3).collect()}
    assert out[10].is_dup == 0 and out[10].dup_of == -1
    assert out[11].is_dup == 1 and out[11].dup_of == 10
    assert out[12].is_dup == 1 and out[12].dup_of in (10, 11)
    assert out[20].is_dup == 0 and out[21].is_dup == 1 and out[21].dup_of == 20
    assert out[30].is_dup == 0


def test_unigram_logprob_ranks_rare_token_docs(spark):
    import math

    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators import corpus

    # "common common" doc vs a doc of hapax tokens: the rare-token doc
    # must score strictly higher (more surprising under the corpus LM)
    df = spark.createDataFrame(
        [(1, "common common common common"), (2, "common zyx qwv plk")],
        "doc_id long, text string",
    )
    out = {r.id: r for r in corpus.unigram_logprob(df, k_smooth=1.0).collect()}
    assert out[1].n_tok == 4 and out[2].n_tok == 4
    assert out[2].avg_neg_logprob > out[1].avg_neg_logprob
    # closed form: N=8 tokens, V=4 vocab, denom=N+kV=12; common c=5
    exp1 = -math.log(6.0 / 12.0)
    assert abs(out[1].avg_neg_logprob - round(exp1, 6)) < 1e-9


def test_mixture_weights_reshape_and_uniform(spark):
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators import corpus

    df = spark.createDataFrame(
        [(i, "a" if i < 60 else ("b" if i < 90 else "c")) for i in range(100)],
        "doc_id long, source string",
    )
    out = {r.domain: r for r in corpus.mixture_weights(df, target={"a": 0.5, "b": 0.5}).collect()}
    assert out["a"].observed_share == 0.6 and out["a"].weight == round(0.5 / 0.6, 6)
    assert out["b"].weight == round(0.5 / 0.3, 6)
    assert out["c"].target_share == 0.0 and out["c"].weight == 0.0
    # a domain the target requests but the corpus lacks must surface
    # with zero docs and a NULL weight, not silently vanish
    gap = {r.domain: r for r in corpus.mixture_weights(
        df, target={"a": 0.5, "zz": 0.5}).collect()}
    assert gap["zz"].n_docs == 0 and gap["zz"].target_share == 0.5
    assert gap["zz"].weight is None and gap["zz"].observed_share == 0.0
    # no target -> uniform over observed domains
    uni = {r.domain: r for r in corpus.mixture_weights(df).collect()}
    assert all(abs(r.target_share - round(1 / 3, 6)) < 1e-9 for r in uni.values())


def test_exact_k_sample_fallback_matches_main_path(spark, monkeypatch):
    """Forcing margin=0 starves the candidate pool, so every stratum
    routes through the full-sort fallback — which must select exactly
    the same rows as the two-phase main path (exactness is
    unconditional, not probabilistic)."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators import corpus, stats

    df = spark.range(0, 600).withColumnRenamed("id", "doc_id").withColumn(
        "lang", (F.col("doc_id") % 3).cast("string")
    )
    main = {r.doc_id for r in corpus.exact_k_sample(df, "lang", 12).collect()}
    monkeypatch.setattr(stats, "_MARGIN", (0, 0, 0))
    fb = {r.doc_id for r in corpus.exact_k_sample(df, "lang", 12).collect()}
    assert fb == main and len(main) == 36


def test_exact_k_sample_null_stratum_and_validation(spark):
    import pytest

    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators import corpus

    df = spark.createDataFrame(
        [(i, None if i % 2 == 0 else "a") for i in range(40)],
        "doc_id long, lang string",
    )
    out = corpus.exact_k_sample(df, "lang", 5).collect()
    # NULL strata form their own stratum (null-safe joins): 5 + 5
    assert len(out) == 10
    assert sum(1 for r in out if r.lang is None) == 5
    with pytest.raises(ValueError, match="positive"):
        corpus.exact_k_sample(df, "lang", 0)


def test_exact_k_sample_window_input_is_bounded_pool(spark, monkeypatch):
    """Plan shape: the row_number window must rank the τ-filtered
    candidate pool, not the full stratum — the optimized plan has the
    _k <= _tau filter below the Window, and the pool it admits is ~m
    rows per stratum, far smaller than the stratum.  localCheckpoint is
    made transparent for the plan assertion: the shared selection
    projects `_tau` away before checkpointing the pool (as
    test_rarefy_hash_two_phase_filters_before_rank does for rarefy_hash)."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators import corpus

    df = spark.range(0, 20000).withColumnRenamed("id", "doc_id").withColumn(
        "lang", (F.col("doc_id") % 2).cast("string")
    )
    with monkeypatch.context() as m:
        m.setattr(type(df), "localCheckpoint", lambda self, eager=True: self)
        out = corpus.exact_k_sample(df, "lang", 10)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "_tau" in plan and "row_number" in plan
    # the main-path filter keeps ~(k + 6√k + 24) per stratum: with
    # k=10 and n=10000 the pool is tens of rows, not 20000
    import math

    k = 10
    m = k + math.ceil(6 * math.sqrt(k)) + 24
    pool_rows = df.withColumn(
        "_h", corpus.seeded_id_hash("doc_id", 42)
    ).filter(
        F.col("_h") <= int((2**60) * (m / 10000.0)) + 512
    ).count()
    assert pool_rows < 2000  # bounded pool, not the corpus
    assert out.count() == 20


def test_exact_k_sample_nested_and_partition_invariant(spark):
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators import corpus

    df = spark.range(0, 500).withColumnRenamed("id", "doc_id").withColumn(
        "lang", (F.col("doc_id") % 3).cast("string")
    )
    k10 = {r.doc_id for r in corpus.exact_k_sample(df, "lang", 10).collect()}
    k25 = {r.doc_id for r in corpus.exact_k_sample(df, "lang", 25).collect()}
    assert len(k10) == 30 and len(k25) == 75  # exactly k per stratum
    assert k10 <= k25                          # nested in k
    again = {r.doc_id for r in corpus.exact_k_sample(df.repartition(7), "lang", 10).collect()}
    assert again == k10                        # partition-invariant
    # stratum smaller than k: keeps everything, no padding
    tiny = df.filter(F.col("doc_id") < 4)
    assert corpus.exact_k_sample(tiny, "lang", 10).count() == 4


def test_vocab_growth_monotone_and_exact(spark):
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators import corpus

    df = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(i % 7 + 1))) for i in range(100)],
        "doc_id long, text string",
    )
    rows = {r.fraction: r for r in corpus.vocab_growth(df).collect()}
    assert set(rows) == {0.25, 0.5, 0.75, 1.0}
    # nested prefixes: all three measures monotone non-decreasing
    fs = sorted(rows)
    for a, b in zip(fs, fs[1:]):
        assert rows[a].n_docs <= rows[b].n_docs
        assert rows[a].n_tokens <= rows[b].n_tokens
        assert rows[a].vocab_size <= rows[b].vocab_size
    # full fraction covers everything exactly
    assert rows[1.0].n_docs == 100
    assert rows[1.0].vocab_size == 7  # w0..w6
    assert rows[1.0].n_tokens == sum(i % 7 + 1 for i in range(100))


def test_vocab_growth_rejects_bad_fractions(spark):
    import pytest

    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators import corpus

    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="unique"):
        corpus.vocab_growth(df, fractions=(0.5, 0.5))
    with pytest.raises(ValueError, match=r"\(0, 1\]"):
        corpus.vocab_growth(df, fractions=(0.5, 1.5))
    with pytest.raises(ValueError, match=r"\(0, 1\]"):
        corpus.vocab_growth(df, fractions=(0.0,))
    with pytest.raises(ValueError, match="non-empty"):
        corpus.vocab_growth(df, fractions=())


def test_mixture_weights_rejects_empty_target(spark):
    import pytest

    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators import corpus

    df = spark.createDataFrame([(1, "a")], "doc_id long, source string")
    with pytest.raises(ValueError, match="non-empty"):
        corpus.mixture_weights(df, target={})


def test_scrub_and_line_filter_null_text_safe(spark):
    """NULL text must behave like empty text: zero counts and zero
    kept lines, never NULL-poisoned counters (the ANSI split(NULL)
    trap that would let NULL docs slip past n_kept == 0 gates)."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators import corpus

    df = spark.createDataFrame(
        [(1, None), (2, "mail me at a@b.com please.")],
        "doc_id long, text string",
    )
    sc = {r.id: r for r in corpus.pii_scrub(df).collect()}
    assert sc[1].clean_text == "" and sc[1].n_email == 0
    assert sc[2].n_email == 1 and "<EMAIL>" in sc[2].clean_text
    lf = {r.id: r for r in corpus.line_filter(df).collect()}
    assert lf[1].n_kept == 0 and lf[1].n_lines == 1 and lf[1].clean_text == ""
    assert lf[2].n_kept == 1


def test_cosine_zero_vector_is_null_not_crash(spark):
    """ANSI mode turns naive x/0 into a job-killing exception; cosine
    must yield NULL for zero-norm vectors so degenerate rows drop out
    of rankings instead of failing the job."""
    rows = [(0, [1.0, 0.0]), (1, [0.0, 0.0]), (2, [0.9, 0.1])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter("vec_id = 0")
    out = similarity.brute_force_topk(df, q, k=2).collect()
    ids = [r.neighbor_id for r in out]
    assert ids[0] == 2                # real neighbor ranks first
    assert ids[-1] == 1               # zero vector ranks last (NULL sim)
    assert out[-1].cosine_sim is None


def test_banding_validation_rejects_degenerate_configs(spark):
    """bands that exceed or fail to divide the signature would silently
    degenerate the LSH join to all-pairs — must raise instead."""
    df = docs_df(spark)
    emb = _embeddings(spark, n=10, dim=8)
    with pytest.raises(ValueError, match="divide"):
        dedup.minhash_lsh_pairs(df, num_hashes=32, bands=64).collect()
    with pytest.raises(ValueError, match="divide"):
        dedup.minhash_lsh_pairs(df, num_hashes=32, bands=6).collect()
    with pytest.raises(ValueError, match="divide"):
        dedup.simhash_pairs(df, max_hamming=3, bands=66)
    with pytest.raises(ValueError, match="banding"):
        similarity.srp_lsh_topk(emb, emb, dim=8, num_planes=16, bands=32)
    with pytest.raises(ValueError, match="dim="):
        similarity.embedding_near_dup_pairs(emb, exact=False)


def test_exact_dedup_does_not_collapse_non_latin_docs(spark):
    """normalized() maps non-Latin text to '': those docs must
    fingerprint on their raw text, not collapse into one dup group."""
    rows = [
        (1, "латинский текст один"),
        (2, "другой текст совсем"),
        (3, "第三个文档"),
        (4, "第三个文档"),          # true duplicate of 3
        (5, "plain latin text"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.id: r for r in dedup.exact_dedup(df).collect()}
    assert out[1].is_dup == 0 and out[2].is_dup == 0  # distinct docs survive
    assert out[3].is_dup == 0 and out[4].is_dup == 1  # real dups still caught
    assert out[4].keeper_id == 3
    assert out[5].is_dup == 0


def test_text_functions_null_and_unicode_edges(spark):
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.functions import text as TX

    df = spark.createDataFrame(
        [
            (1, "héllo wörld élan très", "fr"),
            (2, None, "en"),
            (3, "plain english text here", None),
            (4, "статья на русском языке", "ru"),
        ],
        "doc_id long, text string, lang string",
    )
    rows = {r.doc_id: r for r in df.select(
        "doc_id",
        TX.token_count("text").alias("n_tok"),
        F.round(TX.punct_ratio("text"), 6).alias("punct"),
        TX.fingerprint("text").alias("fp"),
        TX.reject_reasons("text", "lang", min_tokens=2, allowed_langs=["en", "fr"]).alias("rej"),
    ).collect()}
    # NULL text: token count NULL (size(null) would be -1 and corrupt sums)
    assert rows[2].n_tok is None
    # accented letters are NOT punctuation (unicode \p{L}, not ascii \w)
    assert rows[1].punct == 0.0
    # non-latin docs fingerprint on raw text -> distinct from other docs
    assert rows[4].fp != rows[1].fp and rows[4].fp is not None
    # NULL lang fails the language gate instead of slipping through
    assert "lang" in rows[3].rej.split(",")
    assert "lang" not in rows[1].rej.split(",")


def test_stupid_backoff_closed_forms(spark):
    import math

    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators import corpus

    # corpus: doc1 = "a b a b", doc2 = "a c"
    # unigrams: a=3, b=2, c=1, N=6
    # bigrams:  (a,b)=2, (b,a)=1, (a,c)=1
    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a c"), (3, "x")], "doc_id long, text string"
    )
    out = {r.id: r for r in corpus.stupid_backoff_logscore(df, alpha=0.4).collect()}
    # doc1 positions: (a,b) s=2/3, (b,a) s=1/2, (a,b) s=2/3
    exp1 = -(math.log(2 / 3) + math.log(1 / 2) + math.log(2 / 3)) / 3
    assert out[1].n_bigrams == 3
    assert abs(out[1].avg_neg_logscore - round(exp1, 6)) < 1e-9
    # doc2: (a,c) seen once: s = 1/3
    assert abs(out[2].avg_neg_logscore - round(-math.log(1 / 3), 6)) < 1e-9
    # single-token doc: no bigram positions -> absent
    assert 3 not in out
    # HELD-OUT scoring is where backoff actually fires: train the LM on
    # the corpus, then score new text with an unseen bigram and an OOV
    lm = corpus.bigram_lm(df)
    held = spark.createDataFrame(
        [(10, "b c"), (11, "a zzz")], "doc_id long, text string"
    )
    out2 = {r.id: r for r in corpus.stupid_backoff_logscore(
        held, alpha=0.4, lm=lm).collect()}
    # (b,c) unseen in training bigrams -> backoff 0.4 * c(c)/N = 0.4*1/7
    # (training unigrams: a=3, b=2, c=1, x=1 -> N=7)
    assert abs(out2[10].avg_neg_logscore - round(-math.log(0.4 * 1 / 7), 6)) < 1e-9
    # (a,zzz): zzz is OOV -> add-one floor: 0.4 * 1/7
    assert abs(out2[11].avg_neg_logscore - round(-math.log(0.4 * 1 / 7), 6)) < 1e-9


def test_cosine_hot_paths_precompute_norms(spark):
    """Plan-shape guard for the norm-precompute optimization: the pair
    expression must reference precomputed norm COLUMNS, never re-derive
    a norm per pair. Higher-order array functions are interpreted (no
    codegen, no common-subexpression elimination), so an inline
    cosine() silently quintuples the per-pair array work — this test
    fails if a refactor reintroduces it."""
    emb = _embeddings(spark)
    q = emb.filter(F.col("vec_id") == 0)

    def agg_count(df):
        return df._jdf.queryExecution().optimizedPlan().toString().count("aggregate(")

    # brute-force: 1 dot (pair) + 2 norms (one per side) = 3
    assert agg_count(similarity.brute_force_topk(emb, q, k=3)) == 3
    # SRP top-k: per side, ONE sig fold + ONE projection dot inside its
    # transform lambda + 1 norm = 3 (the per-plane dots share a single
    # lambda over the 2-D plane literal), + 1 rerank dot = 7. A jump
    # back toward 2*(planes+1)+1 means the signature reverted to
    # per-plane dot expressions.
    planes = 8
    assert (
        agg_count(similarity.srp_lsh_topk(emb, q, dim=8, k=1, num_planes=planes, bands=4))
        == 7
    )
    # semantic dedup: the assignment table is lazily checkpointed (it
    # feeds three consumers and Spark shares no plan subtrees), so the
    # downstream plan carries exactly ONE aggregate — the rerank dot.
    assert agg_count(similarity.semantic_dedup(emb, n_cells=4)) == 1
    # and the checkpointed assignment expression itself is 1 lambda-
    # bound row norm + ONE cell-distance dot inside the 2-D-centroid
    # transform lambda (centroid norms are literals — 0 aggregates): a
    # jump back toward ~5*n_cells means CollapseProject is re-inlining
    # the norm per cell (or the per-cell dot expressions returned)
    cents = [(i, [float(j == i) for j in range(8)]) for i in range(4)]
    rc = similarity._ranked_cells_expr(cents, 6)
    cell_df = emb.select(rc(F.col("embedding"))[0]["i"].alias("cell"))
    assert agg_count(cell_df) == 1 + 1


def test_cosine_pre_matches_inline_cosine(spark):
    """cosine_pre must be bit-identical to the inline form (the DuckDB
    oracles replay the inline math)."""
    emb = _embeddings(spark)
    pairs = (
        emb.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("va"))
        .crossJoin(
            emb.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("vb"))
        )
        .filter(F.col("ia") < F.col("ib"))
    )
    both = pairs.select(
        "ia",
        "ib",
        similarity.cosine(F.col("va"), F.col("vb")).alias("inline"),
        similarity.cosine_pre(
            similarity._dot(F.col("va"), F.col("vb")),
            similarity._norm(F.col("va")),
            similarity._norm(F.col("vb")),
        ).alias("pre"),
    ).collect()
    assert both, "no pairs"
    for r in both:
        assert r.inline == r.pre  # bitwise, not approx


def test_asof_join_semantics(spark):
    """Backward as-of semantics: greatest right.ts <= left.ts per key;
    equal instants match; missing priors are NULL; tolerance voids
    stale matches; multi-column keys work."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.relational import asof_join

    left = spark.createDataFrame(
        [("u", 1, 5, "a"), ("u", 1, 10, "b"), ("u", 1, 20, "c"), ("v", 2, 7, "d")],
        "g string, k long, ts long, tag string",
    )
    right = spark.createDataFrame(
        [("u", 1, 10, 100.0), ("u", 1, 15, 150.0), ("v", 2, 99, 999.0)],
        "g string, k long, ts long, px double",
    )
    out = {
        (r.g, r.k, r.ts): (r.asof_px, r.asof_ts)
        for r in asof_join(left, right, on=["g", "k"], ts_col="ts").collect()
    }
    assert out[("u", 1, 5)] == (None, None)     # no prior
    assert out[("u", 1, 10)] == (100.0, 10)     # equal instant matches
    assert out[("u", 1, 20)] == (150.0, 15)     # latest prior wins
    assert out[("v", 2, 7)] == (None, None)     # right row is in the future
    tol = {
        r.ts: r.asof_px
        for r in asof_join(
            left.filter(F.col("g") == "u"),
            right.filter(F.col("g") == "u"),
            on=["g", "k"], ts_col="ts", tolerance=4,
        ).collect()
    }
    assert tol[10] == 100.0 and tol[20] is None  # 20-15=5 > 4 → voided
    # left columns and row count are preserved exactly (left join)
    res = asof_join(left, right, on=["g", "k"], ts_col="ts")
    assert res.count() == left.count()
    assert [c for c in res.columns[: len(left.columns)]] == ["g", "k", "ts", "tag"]


def test_pq_topk_recall_on_clustered_data(spark):
    """PQ's contract is preserving COARSE distance structure — on iid
    random vectors all pairwise distances concentrate and no quantizer
    can rank them (measured recall ≈ chance on the synthetic embeddings
    table; the ADC still correlates ~0.5 with true L2², i.e. the math
    is right and the data is unrankable).  So recall is pinned on a
    CLUSTERED fixture, where cluster membership dominates distance: 30
    centers × 5 members, small noise — each point's exact-L2 top-4 are
    its cluster siblings, and a broken ADC (e.g. swapped lookup index)
    would score ~0."""
    import random

    import numpy as np

    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.similarity import pq_topk

    rng = random.Random(7)
    centers = [[rng.uniform(-1, 1) for _ in range(64)] for _ in range(30)]
    rows, vecs = [], {}
    for ci, c in enumerate(centers):
        for j in range(5):
            vid = ci * 5 + j
            v = [x + rng.gauss(0, 0.02) for x in c]
            rows.append((vid, [float(x) for x in v]))
            vecs[vid] = np.array(v)
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # float32 storage (as in the parquet table): recompute truth from
    # the stored values
    vecs = {vid: np.array(v, dtype=np.float32).astype(np.float64) for vid, v in rows}
    q = emb.filter(F.col("vec_id") < 25)  # 5 clusters' worth of queries
    approx: dict[int, set] = {}
    for r in pq_topk(emb, q, dim=64, k=4, m=8, n_codes=32).collect():
        approx.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = total = 0
    for qid in range(25):
        exact = {
            nid
            for _, nid in sorted(
                (float(((vecs[qid] - v) ** 2).sum()), nid)
                for nid, v in vecs.items()
                if nid != qid
            )[:4]
        }
        hits += len(exact & approx[qid])
        total += 4
    assert hits / total >= 0.9, hits / total


def test_pq_topk_determinism_and_zero_quantization_error(spark):
    """Two sharp properties on the real embeddings table: (1) the ADC
    ranking is partition-invariant (codebook sample and every distance
    are pure row functions); (2) for the md5-sampled codebook vectors
    THEMSELVES quantization error is zero — their codes reproduce their
    own subvectors, so ADC(q, item) must equal the true 6dp-rounded
    subspace-sum L2² exactly.  And dim % m must validate."""
    import numpy as np
    import pytest as _pytest

    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.similarity import pq_topk
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.schemas import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    base = {
        (r.query_id, r.neighbor_id, r.adc_dist, r.rank)
        for r in pq_topk(emb, q, dim=64, k=5).collect()
    }
    again = {
        (r.query_id, r.neighbor_id, r.adc_dist, r.rank)
        for r in pq_topk(emb.repartition(13), q, dim=64, k=5).collect()
    }
    assert again == base

    # codebook vectors: md5-first 16 ids — replicate the sample and
    # check zero quantization error through the full ADC path
    import hashlib

    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in emb.collect()}
    cb_ids = sorted(vecs, key=lambda i: hashlib.md5(str(i).encode()).hexdigest())[:16]
    all_pairs = {
        (r.query_id, r.neighbor_id): r.adc_dist
        for r in pq_topk(emb, q, dim=64, k=10**6).collect()
    }
    from decimal import ROUND_HALF_UP, Decimal

    def r6(x):
        return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))

    checked = 0
    for qid in range(10):
        if qid not in vecs:
            continue
        for nid in cb_ids:
            if nid == qid:
                continue
            truth = r6(
                sum(
                    r6(float(((vecs[qid][s * 8 : s * 8 + 8] - vecs[nid][s * 8 : s * 8 + 8]) ** 2).sum()))
                    for s in range(8)
                )
            )
            assert all_pairs[(qid, nid)] == truth, (qid, nid)
            checked += 1
    assert checked >= 100

    with _pytest.raises(ValueError, match="divisible"):
        pq_topk(emb, q, dim=64, m=7)


def test_pq_topk_rerank_exact_cosine(spark):
    """rerank=N re-scores the ADC shortlist with exact cosine: the
    reranked top-k must be the EXACT top-k whenever the shortlist
    contains it (here N is the whole corpus, so recall is 1 by
    construction and the output must equal brute force exactly)."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.similarity import (
        brute_force_topk,
        pq_topk,
    )
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.schemas import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    n_items = emb.count()
    exact = {
        (r.query_id, r.neighbor_id, r.cosine_sim, r.rank)
        for r in brute_force_topk(emb, q, k=5).collect()
    }
    reranked = {
        (r.query_id, r.neighbor_id, r.cosine_sim, r.rank)
        for r in pq_topk(emb, q, dim=64, k=5, rerank=n_items).collect()
    }
    assert reranked == exact


def test_dsir_logweights_separate_target_domain(spark):
    """DSIR's defining behavior: raw docs written in the target domain's
    n-gram distribution must out-weigh off-domain docs.  Target = cooking
    text; raw = cooking docs + code-flavored docs.  Also pins the
    short-doc contract (< 2 tokens → 0 features, log_weight 0) and
    partition invariance (md5 buckets are pure row functions)."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.corpus import dsir_logweights

    cook = "stir the onions in butter then add salt and pepper to taste"
    code = "def main args return int x plus y else raise error value"
    target = spark.createDataFrame(
        [(100 + i, cook) for i in range(10)], "doc_id long, text string"
    )
    raw = spark.createDataFrame(
        [(i, cook) for i in range(5)]
        + [(10 + i, code) for i in range(5)]
        + [(99, "one")],  # single token: no bigram features
        "doc_id long, text string",
    )
    lw = {r.id: (r.n_feat, r.log_weight) for r in dsir_logweights(raw, target).collect()}
    assert lw[99] == (0, 0.0)
    assert all(lw[i][1] > 0 for i in range(5))        # on-domain: weight up
    assert all(lw[10 + i][1] < 0 for i in range(5))   # off-domain: weight down
    assert min(lw[i][1] for i in range(5)) > max(lw[10 + i][1] for i in range(5))

    again = {
        r.id: (r.n_feat, r.log_weight)
        for r in dsir_logweights(raw.repartition(7), target.repartition(3)).collect()
    }
    assert again == lw


def test_dsir_sample_prefers_heavy_docs(spark):
    """Gumbel-top-k: with a large weight gap the on-domain docs must
    dominate the selection, and the draw is deterministic."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.corpus import dsir_sample

    cook = "stir the onions in butter then add salt and pepper to taste"
    code = "def main args return int x plus y else raise error value"
    target = spark.createDataFrame(
        [(100 + i, cook) for i in range(10)], "doc_id long, text string"
    )
    raw = spark.createDataFrame(
        [(i, cook) for i in range(20)] + [(50 + i, code) for i in range(20)],
        "doc_id long, text string",
    )
    sel = dsir_sample(raw, target, k=10, seed=42)
    ids = [r.id for r in sel.collect()]
    assert len(ids) == 10
    on_domain = sum(1 for i in ids if i < 20)
    assert on_domain >= 9  # weight gap >> Gumbel noise scale
    assert [r.id for r in dsir_sample(raw, target, k=10, seed=42).collect()] == ids


def test_ivf_pq_topk_clustered_recall_and_invariance(spark):
    """Composed IVF-PQ on the clustered fixture: cluster siblings share
    a coarse cell AND quantize nearby, so recall@4 vs exact L2 stays
    high even with both approximations stacked; and the whole path is
    partition-invariant (md5 cells + md5 codebooks are row functions)."""
    import random

    import numpy as np

    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.similarity import ivf_pq_topk

    rng = random.Random(11)
    centers = [[rng.uniform(-1, 1) for _ in range(64)] for _ in range(20)]
    rows = []
    for ci, c in enumerate(centers):
        for j in range(5):
            rows.append((ci * 5 + j, [float(x + rng.gauss(0, 0.02)) for x in c]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    vecs = {vid: np.array(v, dtype=np.float32).astype(np.float64) for vid, v in rows}
    q = emb.filter(F.col("vec_id") < 20)
    got: dict[int, set] = {}
    res = ivf_pq_topk(emb, q, dim=64, k=4, n_cells=20, n_probe=4, m=8, n_codes=32)
    for r in res.collect():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = total = 0
    for qid in range(20):
        exact = {
            nid
            for _, nid in sorted(
                (float(((vecs[qid] - v) ** 2).sum()), nid)
                for nid, v in vecs.items()
                if nid != qid
            )[:4]
        }
        hits += len(exact & got.get(qid, set()))
        total += 4
    assert hits / total >= 0.75, hits / total  # two stacked approximations

    again: dict[int, set] = {}
    for r in ivf_pq_topk(
        emb.repartition(9), q, dim=64, k=4, n_cells=20, n_probe=4, m=8, n_codes=32
    ).collect():
        again.setdefault(r.query_id, set()).add(r.neighbor_id)
    assert again == got


def test_duplicate_spans_exact_boundaries(spark):
    """Closed-form span semantics: two docs share a 12-token run buried
    at different offsets; with k=8 the duplicated windows are exactly
    the ones fully inside the shared run, so each doc's span is the
    full 12-token run (positions known in advance).  Unique docs yield
    no spans; a doc shorter than k yields no windows at all."""
    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    a_prefix = "one two three"
    b_prefix = "uno dos tres cuatro cinco"
    rows = [
        (1, f"{a_prefix} {shared} tail1 tail2"),
        (2, f"{b_prefix} {shared} other end words here"),
        (3, "totally unrelated text with enough tokens to window over fine"),
        (4, "short doc"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.id: (r.span_start, r.span_end, r.n_windows)
           for r in dedup.duplicate_spans(df, k=8).collect()}
    # doc 1: shared run occupies tokens 4..15 → windows 4..8 (5 windows)
    assert out[1] == (4, 15, 5)
    # doc 2: shared run occupies tokens 6..17 → windows 6..10
    assert out[2] == (6, 17, 5)
    assert 3 not in out and 4 not in out

    # two separated duplicated runs in one doc stay two spans
    df2 = spark.createDataFrame(
        [
            (1, f"{shared} x1 x2 x3 x4 x5 x6 x7 x8 x9 {shared}"),
            (2, shared),
        ],
        "doc_id long, text string",
    )
    spans = sorted(
        (r.span_start, r.span_end)
        for r in dedup.duplicate_spans(df2, k=8).collect()
        if r.id == 1
    )
    assert spans == [(1, 12), (22, 33)]


def test_remove_duplicate_spans_cuts_exactly(spark):
    """The cut step: surviving text is the normalized tokens minus the
    duplicated spans; a fully-duplicated doc collapses to the empty
    string (not NULL), and NULL text behaves as an empty doc."""
    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    rows = [
        (1, f"one two three {shared} tail1 tail2"),
        (2, shared),               # fully duplicated → everything cut
        (3, "unique filler text with enough tokens to stay intact here"),
        (4, None),                 # NULL text → empty doc, never crashes
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.id: r for r in dedup.remove_duplicate_spans(df, k=8).collect()}
    assert out[1].clean_text == "one two three tail1 tail2"
    assert out[1].n_tokens == 17 and out[1].n_removed == 12
    assert out[2].clean_text == "" and out[2].n_removed == 12
    assert out[3].clean_text.startswith("unique filler") and out[3].n_removed == 0
    assert out[4].n_removed == 0


def test_pq_codebooks_bounded_collect_guard(spark):
    """_pq_codebooks' driver collect is bounded by contract: a
    16-bit-codebook request (n_codes·dim > 2^18 doubles of plan
    literal) must raise instead of OOMing the driver — same spirit as
    _resolve_centroids' bounded-collect contract."""
    import pytest as _pytest

    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.similarity import pq_topk
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.schemas import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    with _pytest.raises(ValueError, match="codebook literal"):
        pq_topk(emb, q, dim=64, k=5, m=8, n_codes=65536)


def test_sq8_topk_grid_exact_and_invariance(spark):
    """Two sharp SQ8 properties: (1) vectors whose coordinates lie
    exactly on the 256-point grid reconstruct with ZERO quantization
    error, so sq_dist equals the true 6dp-rounded L2² — the whole
    fit→encode→reconstruct→score path is exact there; (2) the ranking
    is partition-invariant (min/step are plan literals, everything else
    is a pure row function)."""
    import itertools

    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.similarity import sq8_topk

    # integer coords with anchor rows pinning EVERY dim to [0, 255]:
    # min=0, max=255, step=1 -> every integer coordinate is a grid
    # point and reconstructs exactly
    rows = [
        (0, [0.0] * 8),
        (1, [255.0] * 8),
        (2, [100.0, 100.0, 10.0, 20.0, 30.0, 40.0, 50.0, 60.0]),
        (3, [101.0, 99.0, 11.0, 21.0, 31.0, 41.0, 51.0, 61.0]),
        (4, [5.0, 250.0, 15.0, 25.0, 35.0, 45.0, 55.0, 65.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id") < 2)
    got = {
        (r.query_id, r.neighbor_id): (r.sq_dist, r.rank)
        for r in sq8_topk(df, q, dim=8, k=4).collect()
    }
    vecs = dict(rows)
    for (qi, ni), (d, _rk) in got.items():
        true = round(sum((a - b) ** 2 for a, b in zip(vecs[qi], vecs[ni])), 6)
        assert d == true, (qi, ni, d, true)
    again = {
        (r.query_id, r.neighbor_id): (r.sq_dist, r.rank)
        for r in sq8_topk(df.repartition(7), q, dim=8, k=4).collect()
    }
    assert again == got


def test_sq8_topk_near_exact_on_real_embeddings(spark):
    """On the real embeddings table SQ8's top-1 must match the exact
    L2 top-1 for (nearly) every query — step/2 per-dim error is tiny
    against real neighbor gaps — and degenerate vectors are filtered,
    not scored."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.similarity import (
        _usable,
        sq8_topk,
    )
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.schemas import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    sq = {r.query_id: r.neighbor_id for r in sq8_topk(emb, q, dim=64, k=1).collect()}
    # exact L2 top-1 via the same pair construction at full precision
    n = emb.filter(_usable("embedding", 64)).select(
        F.col("vec_id").alias("n_id"), F.col("embedding").alias("nv")
    )
    qq = q.filter(_usable("embedding", 64)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
    )
    l2 = F.aggregate(
        F.zip_with("nv", "qv", lambda x, y: (x.cast("double") - y.cast("double")) ** 2),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    from pyspark.sql import Window as W

    pairs = (
        n.crossJoin(F.broadcast(qq))
        .filter(F.col("q_id") != F.col("n_id"))
        .select("q_id", "n_id", l2.alias("d"))
    )
    w = W.partitionBy("q_id").orderBy(F.asc("d"), F.asc("n_id"))
    exact = {
        r.q_id: r.n_id
        for r in pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .collect()
    }
    assert sq.keys() == exact.keys()
    agree = sum(sq[k] == exact[k] for k in sq)
    assert agree >= len(sq) - 1, (agree, len(sq))


@pytest.mark.parametrize(
    "ivf_name, flat_name, flat_kw",
    [
        ("ivf_topk", "brute_force_topk", {}),
        ("ivf_pq_topk", "pq_topk", {"dim": 64}),
        ("ivf_sq8_topk", "sq8_topk", {"dim": 64}),
    ],
    ids=["ivf_topk", "ivf_pq_topk", "ivf_sq8_topk"],
)
def test_ivf_full_probe_equals_flat_scan(spark, ivf_name, flat_name, flat_kw):
    """Probing ALL cells (n_probe == n_cells) makes an IVF tier's
    candidate set the whole corpus, so its result must equal its flat
    tier's scan row for row: the composition adds cells, never changes
    the distance math or the ranking."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.schemas import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    flat = getattr(similarity, flat_name)(emb, q, k=3, **flat_kw).collect()
    full_probe = getattr(similarity, ivf_name)(
        emb, q, dim=64, k=3, n_cells=16, n_probe=16
    ).collect()
    assert len(flat) == 30
    assert sorted(map(tuple, full_probe)) == sorted(map(tuple, flat))


def test_ivf_sq8_topk_probed_recall_and_invariance(spark):
    """IVF-SQ8 at the default n_probe=4/16: (1) the probed top-1 agrees
    with the flat SQ8 top-1 for most queries (cells are md5-sampled,
    not trained, so the bar is recall, not equality); (2) the ranking is
    partition-invariant (centroids and the SQ8 grid are plan literals).
    Full-probe parity is test_ivf_full_probe_equals_flat_scan."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.similarity import (
        ivf_sq8_topk,
        sq8_topk,
    )
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.schemas import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 10)

    flat1 = {
        r.query_id: r.neighbor_id
        for r in sq8_topk(emb, q, dim=64, k=1).collect()
    }
    probed = {
        r.query_id: r.neighbor_id
        for r in ivf_sq8_topk(emb, q, dim=64, k=1).collect()
    }
    assert probed.keys() == flat1.keys()
    agree = sum(probed[k] == flat1[k] for k in probed)
    assert agree >= len(probed) * 0.5, (agree, len(probed))

    again = {
        r.query_id: r.neighbor_id
        for r in ivf_sq8_topk(emb.repartition(7), q, dim=64, k=1).collect()
    }
    assert again == probed


def test_ingest_dedup_statuses_and_store_never_shuffles(spark):
    """Incremental ingest semantics: a batch doc whose text already
    exists in the store is dup_store (even if the batch repeats it
    too); a batch-internal repeat keeps its min-id row as 'new' and
    marks the rest dup_batch; NULL/non-Latin texts ride the same
    fingerprint fallback as exact_dedup.  Plan: the store side joins
    via broadcast (one scan, no store shuffle) — every exchange is
    delta-bounded (the distinct feeding the broadcast build, the
    matched-set distinct, the keeper window)."""
    import re

    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.dedup import (
        fingerprint_store,
        ingest_dedup,
    )
    from tests.test_plan_shapes import plan_of

    store_docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon zeta"), (3, None)],
        "doc_id long, text string",
    )
    incoming = spark.createDataFrame(
        [
            (10, "alpha beta gamma"),   # in store -> dup_store
            (11, "ALPHA, beta GAMMA!"), # normalizes to the same -> dup_store
            (12, "brand new text here"),
            (13, "brand new text here"),  # batch repeat -> dup_batch
            (14, None),                  # raw-fallback fp, matches store NULL
            (15, "another fresh doc"),
        ],
        "doc_id long, text string",
    )
    # materialize the store, as the persisted artifact would be — its
    # construction-time distinct() is not a per-ingest cost
    store = fingerprint_store(store_docs).localCheckpoint()
    out = {r.id: r.status for r in ingest_dedup(incoming, store).collect()}
    assert out == {
        10: "dup_store",
        11: "dup_store",
        12: "new",
        13: "dup_batch",
        14: "dup_store",
        15: "new",
    }
    p = plan_of(ingest_dedup(incoming, store))
    assert p.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in p
    # all three wide exchanges are DELTA-bounded (the distinct feeding
    # the broadcast build, the matched-set distinct, and the keeper
    # window); the store contributes one scan and zero shuffles
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) == 3

    # fan-out regression (r06): a store with REPEATED fingerprint rows
    # (anything other than fingerprint_store's distinct output) must not
    # duplicate result rows through the matched-set left join
    dirty_store = store.unionAll(store).unionAll(store).localCheckpoint()
    rows = ingest_dedup(incoming, dirty_store).collect()
    assert len(rows) == 6
    assert {r.id: r.status for r in rows} == out


def test_tfidf_top_terms_closed_form(spark):
    """TF-IDF on a 3-doc fixture where every value is hand-computable:
    smooth idf ln((1+N)/(1+df))+1, raw tf, rounded-score ranking with
    term tie-break; a corpus-ubiquitous term ranks below a distinctive
    repeated one."""
    import math

    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.corpus import tfidf_top_terms

    rows = [
        (1, "common rare rare"),
        (2, "common solo"),
        (3, "common common other"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r.id, r.term): (r.tf, r.score, r.rank) for r in tfidf_top_terms(df, k=3).collect()}

    def idf(dfreq):
        return math.log((1 + 3) / (1 + dfreq)) + 1

    # doc 1: rare tf=2 df=1 -> 2*idf(1); common tf=1 df=3 -> idf(3)
    assert out[(1, "rare")] == (2, round(2 * idf(1), 6), 1)
    assert out[(1, "common")] == (1, round(idf(3), 6), 2)
    # doc 3: common tf=2 beats other tf=1 (2*idf(3) > idf(1))
    assert out[(3, "common")][2] == 1 and out[(3, "other")][2] == 2
    # doc 2: solo (distinctive) outranks common
    assert out[(2, "solo")][2] == 1 and out[(2, "common")][2] == 2


def test_chunk_windows_coverage_and_overlap(spark):
    """Sliding-window contract: starts run 1, 1+stride, ... with the
    final start pulled back to n-w+1 (full-width tail, HF overflow
    convention); every token is covered; short docs yield exactly one
    window; invalid params raise."""
    import pytest as _pytest

    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.corpus import chunk_windows

    toks = [f"t{i}" for i in range(10)]
    df = spark.createDataFrame(
        [(1, " ".join(toks)), (2, "a b"), (3, None)],
        "doc_id long, text string",
    )
    out = [
        (r.id, r.chunk_idx, r.start_tok, r.n_tok, r.chunk_text)
        for r in chunk_windows(df, window_tokens=4, stride=2)
        .orderBy("id", "chunk_idx")
        .collect()
    ]
    d1 = [r for r in out if r[0] == 1]
    # n=10, w=4: starts 1,3,5,7 (max start = 10-4+1=7), all full
    assert [(r[2], r[3]) for r in d1] == [(1, 4), (3, 4), (5, 4), (7, 4)]
    assert d1[0][4] == "t0 t1 t2 t3" and d1[-1][4] == "t6 t7 t8 t9"
    # every token covered
    covered = set()
    for _id, _ci, s, n, _tx in d1:
        covered.update(range(s, s + n))
    assert covered == set(range(1, 11))
    # short doc -> one (short) window; NULL text -> one degenerate row
    d2 = [r for r in out if r[0] == 2]
    assert len(d2) == 1 and d2[0][3] == 2 and d2[0][4] == "a b"
    assert len([r for r in out if r[0] == 3]) == 1
    # stride == window, n=10: grid gives 1,5; the tail start pulls back
    # to n-w+1=7 -> a full-width overlapping final window, tokens 9/10
    # covered (the naive grid would silently drop them)
    dis = [
        (r.start_tok, r.n_tok)
        for r in chunk_windows(df.filter("doc_id = 1"), window_tokens=4, stride=4)
        .orderBy("chunk_idx")
        .collect()
    ]
    assert dis == [(1, 4), (5, 4), (7, 4)]
    with _pytest.raises(ValueError):
        chunk_windows(df, window_tokens=0)
    # stride > window would leave uncovered token gaps between windows
    # (e.g. w=4, stride=6 never emits tokens 5-6) -> explicit rejection
    with _pytest.raises(ValueError, match="stride"):
        chunk_windows(df, window_tokens=4, stride=6)


def test_semantic_ingest_dedup_semantics(spark):
    """Planted-fixture contract for the semantic admission gate: a
    delta doc nearly colinear with a store doc flags dup_semantic with
    that match; an orthogonal doc stays 'new' but still reports its
    best (sub-tau) candidate; a zero-norm STORE row must never hijack
    match_id (NULL-cosine pairs are filtered before the min_by — the
    struct-ordering hazard documented in the operator); a zero-norm
    DELTA doc gets status 'new' with NULL match; a MALFORMED delta
    embedding (NULL vector / wrong dim / NULL element) is never
    silently dropped — it emits status 'unusable' with NULL
    match/cosine (r06 ADVICE: the gates' one-row-per-incoming-doc
    contract).  Results are partition-invariant."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.similarity import (
        semantic_ingest_dedup,
        semantic_store,
    )

    dim = 4
    store_rows = [
        (100, [1.0, 0.0, 0.0, 0.0]),
        (101, [0.0, 1.0, 0.0, 0.0]),
        (102, [0.0, 0.0, 0.0, 0.0]),  # zero-norm: cosine undefined
        (103, [1.0, 0.1, 0.0, 0.0]),  # close to 100 (store-internal, fine)
    ]
    delta_rows = [
        (1, [0.99, 0.05, 0.0, 0.0]),  # near 100/103 -> dup_semantic
        (2, [0.0, 0.0, 0.7, 0.7]),    # orthogonal to all -> new
        (3, [0.0, 0.0, 0.0, 0.0]),    # zero-norm delta -> new, NULL match
        (4, None),                    # NULL vector -> unusable
        (5, [1.0, 0.0]),              # wrong dim -> unusable
        (6, [1.0, None, 0.0, 0.0]),   # NULL element -> unusable
    ]
    store_df = spark.createDataFrame(store_rows, "vec_id long, embedding array<double>")
    delta_df = spark.createDataFrame(delta_rows, "vec_id long, embedding array<double>")
    # one cell -> every probe sees the whole store: semantics, not cells,
    # under test here (cell behavior is pinned by the driver oracle)
    cents = [[1.0, 1.0, 1.0, 1.0]]
    store = semantic_store(store_df, dim=dim, n_cells=1, centroids=cents)
    out = {
        r.id: (r.status, r.match_id, r.cosine)
        for r in semantic_ingest_dedup(
            delta_df, store, cents, dim=dim, tau=0.9, n_probe=1
        ).collect()
    }
    assert len(out) == 6
    st1, m1, c1 = out[1]
    assert st1 == "dup_semantic" and m1 in (100, 103) and c1 >= 0.9
    st2, m2, c2 = out[2]
    assert st2 == "new" and m2 is not None and c2 < 0.9  # best candidate reported
    assert m2 != 102  # the zero-norm store row never matches
    st3, m3, c3 = out[3]
    assert st3 == "new" and m3 is None and c3 is None
    for bad in (4, 5, 6):
        assert out[bad] == ("unusable", None, None), (bad, out[bad])

    again = {
        r.id: (r.status, r.match_id, r.cosine)
        for r in semantic_ingest_dedup(
            delta_df.repartition(5), store.repartition(3), cents, dim=dim,
            tau=0.9, n_probe=1,
        ).collect()
    }
    assert again == out


def test_minhash_ingest_dedup_semantics(spark):
    """Near-dup admission gate contract: a verbatim clone of a store doc
    flags dup_near at est 1.0 against that doc; a lightly-edited
    near-copy flags dup_near sub-1.0; disjoint text stays 'new' (NULL
    match when no band collides); a doc too short to shingle still
    emits ('new', NULL).  Partition-invariant."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.dedup import (
        minhash_ingest_dedup,
        minhash_store,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill every single afternoon"
    )
    near = base.replace("warm windowsill", "cold doorstep")
    store_docs = spark.createDataFrame(
        [(100, base), (101, "completely different content about spark plans " * 3)],
        "doc_id long, text string",
    )
    store = minhash_store(store_docs).localCheckpoint()
    incoming = spark.createDataFrame(
        [
            (1, base),          # verbatim clone -> dup_near est 1.0
            (2, near),          # near-copy -> dup_near < 1.0
            (3, "entirely unrelated words nothing shared here at all "
                "with zebras and quasars and tubas in a marching band"),
            (4, "too short"),   # < k tokens -> no shingles -> new, NULL
        ],
        "doc_id long, text string",
    )
    out = {
        r.id: (r.status, r.match_id, r.est_jaccard)
        for r in minhash_ingest_dedup(incoming, store, threshold=0.5).collect()
    }
    assert len(out) == 4
    assert out[1] == ("dup_near", 100, 1.0)
    st2, m2, e2 = out[2]
    assert st2 == "dup_near" and m2 == 100 and 0.5 <= e2 < 1.0
    st3, m3, _e3 = out[3]
    assert st3 == "new" and m3 != 100  # may bucket-collide with 101 only by chance
    assert out[4][0] == "new" and out[4][1] is None and out[4][2] is None

    again = {
        r.id: (r.status, r.match_id, r.est_jaccard)
        for r in minhash_ingest_dedup(
            incoming.repartition(5), store.repartition(3), threshold=0.5
        ).collect()
    }
    assert again == out


def test_pq_exprs_match_per_subspace_form(spark):
    """r12 optimization pin: the single-3D-literal PQ expression factory
    (one sequence-transform, codebook literal appearing once) is
    bit-identical to the original per-subspace construction — same
    slice bounds, same zip_with/aggregate fold, same round + index
    tie-break. The reference below IS that original construction."""
    from pyspark.sql import functions as F

    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.similarity import (
        _lit_mat,
        _pq_exprs,
    )

    dim, m, dsub = 8, 4, 2
    cbs = [
        [[0.5 * s + 0.25 * c, -1.0 + 0.125 * c] for c in range(3)]
        for s in range(m)
    ]

    def ref_l2sq(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double")) ** 2),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    cb_lits = [_lit_mat(cb) for cb in cbs]

    def ref_code(v):
        def one(s):
            def entry(c, i):
                return F.struct(
                    F.round(ref_l2sq(F.slice(v, s * dsub + 1, dsub), c), 6).alias("d"),
                    i.alias("i"),
                )

            return F.array_sort(F.transform(cb_lits[s], entry))[0]["i"].cast("int")

        return F.array(*[one(s) for s in range(m)])

    def ref_dtable(v):
        def one(s):
            return F.transform(
                cb_lits[s],
                lambda c: F.round(ref_l2sq(F.slice(v, s * dsub + 1, dsub), c), 6),
            )

        return F.array(*[one(s) for s in range(m)])

    code_expr, dtable_expr, _adc = _pq_exprs(cbs, dsub, 6)
    vecs = [
        (1, [0.1, -0.9, 0.6, -0.8, 1.1, -1.0, 0.74, -0.88]),
        (2, [0.49, -0.99, 0.51, 0.0, 0.0, 0.125, 1.5, -0.875]),
        (3, [0.0] * 8),
    ]
    df = spark.createDataFrame(vecs, "id long, v array<double>")
    got = df.select(
        code_expr(F.col("v")).alias("codes"), dtable_expr(F.col("v")).alias("dt")
    ).collect()
    want = df.select(
        ref_code(F.col("v")).alias("codes"), ref_dtable(F.col("v")).alias("dt")
    ).collect()
    assert [r["codes"] for r in got] == [r["codes"] for r in want]
    assert [r["dt"] for r in got] == [r["dt"] for r in want]


def test_spread_if_undersplit_is_scale_adaptive(spark):
    """r12 optimization pin for the encode-scan spread: fires only on
    (undersplit AND fact-sized) frames; a well-split frame and a
    broadcast-sized frame pass through untouched."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.similarity import (
        _spread_if_undersplit,
    )

    cores = spark.sparkContext.defaultParallelism
    # undersplit + fact-sized (range stats = 8 bytes/row → 8 MB) → spreads
    big_narrow = spark.range(1_000_000).coalesce(1)
    assert _spread_if_undersplit(big_narrow).rdd.getNumPartitions() == cores
    # well-split → untouched (identical object, no repartition node)
    split = spark.range(1_000_000, numPartitions=cores)
    assert _spread_if_undersplit(split) is split
    # broadcast-sized → untouched even when undersplit
    small = spark.range(1_000).coalesce(1)
    assert _spread_if_undersplit(small) is small
    # huge real stats (2^48 rows x 8 bytes = 2^51 bytes) still spread:
    # only the session's defaultSizeInBytes means "unknown". Checked on
    # the logical plan — reading the partition count of the repartitioned
    # frame would run its shuffle.
    huge = spark.range(1 << 48).coalesce(1)
    stats = huge._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    assert int(stats) == 1 << 51
    spread = _spread_if_undersplit(huge)._jdf.queryExecution().logical()
    assert spread.nodeName() == "Repartition" and spread.numPartitions() == cores


def test_shingles_duplicate_id_contract(spark):
    """r13 contract pin (ADVICE): shingles()/char_shingles() dedupe
    WITHIN a row (array_distinct), so a duplicate-id input emits
    duplicate (id, shingle) pairs — the documented one-row-per-id
    contract. The pre-r12 frame-level .distinct() absorbed these; any
    count(1)-based consumer (jaccard_pairs, contamination) must feed
    one row per id."""
    dup_docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (1, "alpha beta gamma delta")],
        "doc_id int, text string",
    )
    rows = dedup.shingles(dup_docs, k=3).collect()
    # 2 shingles per row × 2 identical rows → duplicates preserved
    assert len(rows) == 4
    assert len({(r.id, r.shingle) for r in rows}) == 2

    dup_seqs = spark.createDataFrame(
        [(1, "ACGTACGTAC"), (1, "ACGTACGTAC")], "id int, seq string"
    )
    krows = dedup.char_shingles(dup_seqs, k=8).collect()
    assert len(krows) == 6  # 3 per row × 2 rows
    assert len({(r.id, r.shingle) for r in krows}) == 3


def test_spread_if_undersplit_skips_unknown_stats(spark):
    """r13 pin (ADVICE): frames whose plan stats are the planner's
    'unknown' default (defaultSizeInBytes max) must NOT be spread — the
    win was only measured on file-scan inputs, which report real sizes."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.dedup import (
        _spread_if_undersplit,
    )

    rdd = spark.sparkContext.parallelize([(i,) for i in range(1000)], 1)
    opaque = spark.createDataFrame(rdd, "v long")  # LogicalRDD: unknown stats
    assert _spread_if_undersplit(opaque) is opaque


def test_norm_tokens_matches_normalized_split(spark):
    """r13 optimization pin: norm_tokens (one regex pass) must produce
    exactly split(normalized(c), '\\s+') for every boundary case —
    leading/trailing/internal separator runs, all-separator text, empty
    text, NULL text, and non-Latin text that normalizes away."""
    rows = [
        (0, "The quick  brown fox!"),
        (1, "  leading and trailing  "),
        (2, "...!!..."),
        (3, ""),
        (4, None),
        (5, "ünïcode 北京 mixed42text"),
        (6, "a"),
        (7, "42 7x9"),
        (8, "tab\tand\nnewline  mix"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = df.select(
        "doc_id", dedup.norm_tokens("text").alias("t")
    ).collect()
    want = df.select(
        "doc_id",
        F.split(dedup.normalized("text"), r"\s+").alias("t"),
    ).collect()
    assert {r.doc_id: r.t for r in got} == {r.doc_id: r.t for r in want}
