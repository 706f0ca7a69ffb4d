"""Seeded input generator for the benchmark.

Everything the program reads is made here from the workload seed with
numpy and written as parquet under the run's work directory; the same
seed gives byte-identical tables (see ``digest``).

Graph inputs use the TPC-H-shaped layout that
``plans.testdata_graph`` maps onto the phage-host property graph
(part = phage, supplier = bacterial host, customer = sample,
region = study, nation = patient, c_mktsegment = disease,
o_orderpriority = time point), at the reference's scale: 780 samples
across 4 studies of unequal size. The Infects edges come, as in the
paper, from four per-score tables and a labeled subset that
``graph_build.build_infects_edges`` merges.

Degrees are those of the sf0.1 TPC-H-shaped tables mapped the same way
(15,000 samples, 20,000 phages, 1,000 hosts, 600,000 lineitems):

- 6-14 orders per sample (p10-p90, mean 10) of 1-7 lines (mean 4.1):
  40 lineitems and 79 Sampled edges per sample;
- 30 lineitems per phage, each with a uniformly drawn host: 29.5 hosts
  per phage (p10-p90 23-36), so the (phage, host) pairs, the Infects
  candidates, number about as many as the lineitems (590,973);
- each host in 3.9% of the samples; 5 diseases and 5 time points,
  uniform; 25 patients.

At 780 samples the phage pool scales with the samples (20,000 x
780/15,000 = 1,040) to keep 30 lineitems and ~29.5 hosts per phage; the
host pool keeps its 1,000, which keeps each host in ~4% of the samples.
That gives ~31k lineitems, ~30k Infects and ~61k Sampled edges.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_SAMPLES = 780
# unequal by design, so per-study work varies: 312, 234, 140 and 94 samples
STUDY_SHARES = (0.40, 0.30, 0.18, 0.12)
N_PATIENTS = 25
N_PHAGES = 1040
N_HOSTS = 1000
ORDERS_PER_SAMPLE = (6, 14)  # inclusive range
LINES_PER_ORDER = (1, 7)  # inclusive range
DISEASES = ("HEALTHY", "CROHNS", "COLITIS", "OBESE", "TWIN")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
# per score: weight of the pair's shared signal; the noise has sd 1
SCORES = {"crispr": 1.0, "blast": 1.5, "blastx": 0.75, "pfam": 2.0}
SCORE_MISSING = 0.2  # share of pairs each score table lacks
N_LABELED = 400  # validated pairs with a gold Interaction label
N_DOCS = 5000
N_SOURCES = 20
N_VECS = 2000
DIM = 64
VOCAB = (
    "phage host contig sample study virus bacteria genome read cluster "
    "crispr spacer blast pfam protein gene skin gut stool saliva twin "
    "diet disease healthy network edge node abundance depth rarefy "
    "centrality distance diversity infect lysogen prophage tail capsid"
).split()
LANGS = ("en", "de", "fr", "es", "zh")


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="zstd", use_dictionary=True)


def _between(rng: np.random.Generator, lo_hi: tuple[int, int], n: int) -> np.ndarray:
    return rng.integers(lo_hi[0], lo_hi[1] + 1, n)


def graph_tables(rng: np.random.Generator, out: str) -> dict:
    """TPC-H-shaped graph source tables, IncludedInStudy / Diseased
    metadata edges, and the Infects inputs (``score_tables``). Returns a
    summary of what was generated."""
    sizes = np.floor(np.array(STUDY_SHARES) * N_SAMPLES).astype(int)
    sizes[0] += N_SAMPLES - sizes.sum()
    sizes = rng.permutation(sizes)
    study = np.repeat(np.arange(len(sizes)), sizes)
    custkey = np.arange(1, N_SAMPLES + 1)
    disease = rng.integers(0, len(DISEASES), N_SAMPLES)
    # patients nest inside studies: nation k belongs to region k % 4
    patient = np.array(
        [rng.choice(np.arange(s, N_PATIENTS, len(sizes))) for s in study]
    )

    _write(pa.table({
        "r_regionkey": pa.array(np.arange(len(sizes)), pa.int32()),
        "r_name": [f"STUDY{k}" for k in range(len(sizes))],
    }), f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(np.arange(N_PATIENTS), pa.int32()),
        "n_name": [f"PATIENT{k}" for k in range(N_PATIENTS)],
        "n_regionkey": pa.array(np.arange(N_PATIENTS) % len(sizes), pa.int32()),
    }), f"{out}/nation.parquet")
    _write(pa.table({
        "c_custkey": pa.array(custkey, pa.int64()),
        "c_name": [f"Sample#{k:06d}" for k in custkey],
        "c_nationkey": pa.array(patient, pa.int32()),
        "c_acctbal": rng.uniform(0, 1000, N_SAMPLES).round(2),
        "c_mktsegment": [DISEASES[d] for d in disease],
    }), f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(1, N_HOSTS + 1), pa.int64()),
        "s_name": [f"Host#{k:05d}" for k in range(1, N_HOSTS + 1)],
        "s_nationkey": pa.array(rng.integers(0, N_PATIENTS, N_HOSTS), pa.int32()),
        "s_acctbal": rng.uniform(0, 1000, N_HOSTS).round(2),
    }), f"{out}/supplier.parquet")
    _write(pa.table({
        "p_partkey": pa.array(np.arange(1, N_PHAGES + 1), pa.int64()),
        "p_name": [f"Phage#{k:05d}" for k in range(1, N_PHAGES + 1)],
        "p_brand": [f"Brand#{k % 5}" for k in range(N_PHAGES)],
        "p_type": [f"T{k % 7}" for k in range(N_PHAGES)],
        # genome length in bp, the length-normalization divisor
        "p_size": pa.array(rng.integers(5_000, 60_000, N_PHAGES), pa.int32()),
        "p_retailprice": rng.uniform(900, 2000, N_PHAGES).round(2),
    }), f"{out}/part.parquet")

    n_orders = _between(rng, ORDERS_PER_SAMPLE, N_SAMPLES)
    o_custkey = np.repeat(custkey, n_orders)
    n_o = len(o_custkey)
    o_orderkey = np.arange(1, n_o + 1)
    _write(pa.table({
        "o_orderkey": pa.array(o_orderkey, pa.int64()),
        "o_custkey": pa.array(o_custkey, pa.int64()),
        "o_orderstatus": ["O"] * n_o,
        "o_totalprice": rng.uniform(100, 5000, n_o).round(2),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, len(PRIORITIES), n_o)],
    }), f"{out}/orders.parquet")

    n_lines = _between(rng, LINES_PER_ORDER, n_o)
    l_orderkey = np.repeat(o_orderkey, n_lines)
    n_l = len(l_orderkey)
    l_part = rng.integers(1, N_PHAGES + 1, n_l)
    l_supp = rng.integers(1, N_HOSTS + 1, n_l)
    _write(pa.table({
        "l_orderkey": pa.array(l_orderkey, pa.int64()),
        "l_partkey": pa.array(l_part, pa.int64()),
        "l_suppkey": pa.array(l_supp, pa.int64()),
        "l_linenumber": pa.array(
            np.concatenate([np.arange(1, k + 1) for k in n_lines]), pa.int32()
        ),
        "l_quantity": rng.integers(1, 51, n_l).astype(float),
        "l_extendedprice": rng.uniform(900, 90000, n_l).round(2),
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
    }), f"{out}/lineitem.parquet")

    meta_src = [f"R{s}" for s in study] + [f"D{DISEASES[d]}" for d in disease]
    meta_dst = [f"C{c}" for c in custkey] * 2
    meta_type = ["IncludedInStudy"] * N_SAMPLES + ["Diseased"] * N_SAMPLES
    _write(pa.table({"src": meta_src, "dst": meta_dst, "type": meta_type}),
           f"{out}/meta_edges.parquet")

    pairs = np.unique(np.stack([l_part, l_supp], axis=1), axis=0)
    score_tables(rng, out, pairs)
    return {
        "studies": {f"R{k}": int((study == k).sum()) for k in range(len(sizes))},
        "diseases": {f"D{DISEASES[k]}": int((disease == k).sum()) for k in range(len(DISEASES))},
        "lineitems": n_l,
        "infects_candidates": len(pairs),
        "samples": N_SAMPLES,
    }


def score_tables(rng: np.random.Generator, out: str, pairs: np.ndarray) -> None:
    """Four per-score tables over the candidate (phage, host) pairs, each
    missing a seeded ``SCORE_MISSING`` share of the pairs, and the
    ``N_LABELED`` validated pairs with their 0/1 label. Scores share a
    per-pair signal that also drives the label, so a model can learn it."""
    n = len(pairs)
    src = np.array([f"P{p}" for p in pairs[:, 0]], dtype=object)
    dst = np.array([f"S{h}" for h in pairs[:, 1]], dtype=object)
    signal = rng.normal(0, 1, n)
    for name, weight in SCORES.items():
        idx = np.flatnonzero(rng.random(n) >= SCORE_MISSING)
        val = np.round(weight * signal + rng.normal(0, 1, n) + 50, 4)
        _write(pa.table({"src": src[idx], "dst": dst[idx], "score": val[idx]}),
               f"{out}/score_{name}.parquet")
    lab = np.sort(rng.choice(n, N_LABELED, replace=False))
    label = (signal[lab] + rng.normal(0, 0.5, N_LABELED) > 0.5).astype(np.int32)
    _write(pa.table({"src": src[lab], "dst": dst[lab], "interaction": pa.array(label, pa.int32())}),
           f"{out}/interactions.parquet")


def documents(rng: np.random.Generator) -> pa.Table:
    """5,000 token-soup documents over 20 sources with seeded exact
    duplicates (case/punctuation variants) and near duplicates."""
    vocab = np.array(VOCAB)
    zipf = 1.0 / np.arange(1, len(vocab) + 1) ** 0.7
    zipf /= zipf.sum()
    texts = []
    for _ in range(N_DOCS):
        k = int(rng.integers(8, 80))
        texts.append(" ".join(vocab[rng.choice(len(vocab), k, p=zipf)]))
    n_dup = N_DOCS // 20
    for i in rng.choice(N_DOCS, n_dup, replace=False):
        j = int(rng.integers(0, N_DOCS))
        if rng.random() < 0.5:
            texts[i] = texts[j].upper() + " !"
        else:
            toks = texts[j].split()
            for t in rng.choice(len(toks), max(1, len(toks) // 10), replace=True):
                toks[t] = str(vocab[rng.integers(0, len(vocab))])
            texts[i] = " ".join(toks)
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": texts,
        "lang": [LANGS[k] for k in rng.integers(0, len(LANGS), N_DOCS)],
        "source": [f"src{k % N_SOURCES}" for k in range(N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng: np.random.Generator) -> pa.Table:
    """2,000 64-d float vectors from a 10-component Gaussian mixture."""
    centers = rng.normal(0, 1, (10, DIM))
    label = rng.integers(0, 10, N_VECS)
    vecs = (centers[label] + rng.normal(0, 0.6, (N_VECS, DIM))).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def corpus_variant(rng: np.random.Generator, docs: pa.Table, emb: pa.Table,
                   out: str, tag: str) -> None:
    """One op's input: a seeded quarter of the documents, and the vectors
    with ids permuted so that ids 0-19 (the query set) are a seeded
    draw."""
    keep = np.flatnonzero(rng.random(docs.num_rows) < 0.25)
    _write(docs.take(pa.array(keep)), f"{out}/documents_{tag}.parquet")
    perm = rng.permutation(emb.num_rows)
    _write(emb.set_column(0, "vec_id", pa.array(perm, pa.int64())),
           f"{out}/embeddings_{tag}.parquet")


def digest(out: str) -> str:
    """sha256 over the names and bytes of every generated parquet file."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(out)):
        if name.endswith(".parquet"):
            h.update(name.encode())
            with open(f"{out}/{name}", "rb") as f:
                h.update(f.read())
    return h.hexdigest()
