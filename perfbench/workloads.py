"""The two workloads. Each drives the library's public API only
(``plans.queries``, ``plans.pipelines``, ``operators.*``, ``ml.model``,
``client.stats``), always through the module attribute so that the
traced run's wrappers see every call.

A workload has ``generate`` (input generation, no Spark; it runs while
the JVM starts), ``prepare`` (graph build, before timing), ``once``
(set-up ops that run a single time, such as the store write), ``ops``
(the seed's fixed op list, the same in every pass; a workload with
``WARMUP`` runs one untimed pass in set-up) and ``check`` (run after each op, outside any timing).
"""

from __future__ import annotations

import glob
import hashlib
import os
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
import verify

PKG = "hannigan_conjunctisviribus_ploscompbio_2017_spark"
LAYERS = {
    "session": "session",
    "schemas": "schemas",
    "testdata_graph": "plans.testdata_graph",
    "graph_build": "operators.graph_build",
    "relational": "operators.relational",
    "graph_store": "operators.graph_store",
    "queries": "plans.queries",
    "pipelines": "plans.pipelines",
    "stats": "operators.stats",
    "kernels": "operators.kernels",
    "client_stats": "client.stats",
    "model": "ml.model",
    "dedup": "operators.dedup",
    "similarity": "operators.similarity",
    "corpus": "operators.corpus",
}


class Lib:
    """The layer modules, imported once the environment is set."""

    def __init__(self):
        import importlib

        self.modules = {k: importlib.import_module(f"{PKG}.{v}") for k, v in LAYERS.items()}
        for k, m in self.modules.items():
            setattr(self, k, m)


@dataclass
class Op:
    label: str
    fn: Callable[[], Any]
    key: tuple  # identifies the op's input; equal keys must give equal output


class Ctx:
    def __init__(self, lib: Lib, spark, work: str, seed: int, tracer=None):
        self.L, self.spark, self.seed, self.tracer = lib, spark, seed, tracer
        self.src = f"{work}/src"
        self.store = f"{work}/store"
        os.makedirs(self.src, exist_ok=True)

    def rng(self, *salt: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, *salt])

    def collect(self, df, of=None) -> pa.Table:
        """The op's action: an Arrow collect to the driver, as an analyst
        waiting for the result does (the checks convert it to pandas,
        outside the timing). In the traced run it is timed as the
        ``exec`` span of the function that built ``of`` (default ``df``)."""
        name = self.tracer.producer(df if of is None else of) if self.tracer else None
        if name is None:
            return df.toArrow()
        with self.tracer.span(name, "exec") as sp:
            out = df.toArrow()
        sp.extra["rows"] = out.num_rows
        return out

    def checkpoint(self, df):
        """An executor-local checkpoint of ``df``, made now. In the traced
        run it is timed as the ``exec`` span of the function that built
        ``df``."""
        name = self.tracer.producer(df) if self.tracer else None
        if name is None:
            return df.localCheckpoint()
        with self.tracer.span(name, "exec"):
            return df.localCheckpoint()


def store_size(root: str) -> tuple[int, int]:
    """(parquet files, bytes) under ``root``."""
    files = glob.glob(f"{root}/**/*.parquet", recursive=True)
    return len(files), sum(os.path.getsize(f) for f in files)


def store_info(store: str) -> dict:
    files, size = store_size(f"{store}/edges")
    n_edges = pq.ParquetDataset(f"{store}/edges").read(columns=["src"]).num_rows
    return {"store_bytes_per_edge": size / n_edges, "store_files": files,
            "store_bytes": size, "edges": n_edges}


def build_graph(L, spark, src: str):
    """The property graph from the generated tables, built as the paper
    builds it: Infects edges merged from the four score tables and the
    labeled pairs (``graph_build.build_infects_edges``, which runs
    ``relational.feature_merge``), Sampled edges and nodes from the
    TPC-H-shaped tables, then the study and disease edges."""
    load, gb = L.schemas.load_table, L.graph_build
    scores = {n: load(spark, src, f"score_{n}") for n in gen.SCORES}
    infects = gb.build_infects_edges(load(spark, src, "interactions"), scores)
    edges = gb.add_metadata_edges(infects, L.testdata_graph.sampled_edges(spark, src))
    edges = gb.add_metadata_edges(edges, load(spark, src, "meta_edges"))
    # node ids are unique by construction (pattern_queries' set-up check
    # confirms it), so the build skips its die-on-duplicate job
    return gb.build_nodes([L.testdata_graph.nodes(spark, src)], assert_unique=False), edges


class Workload:
    name = ""
    WARMUP = True  # run one untimed pass in set-up

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.L = ctx.L
        self.seen: dict[tuple, str] = {}  # op key -> digest of the checked output
        self.con = None

    def once(self) -> list[Op]:
        """Set-up ops run a single time after ``prepare``."""
        return []

    @property
    def spark(self):
        return self.ctx.spark

    def check(self, op: Op, out) -> None:
        """Full check the first time a key is seen; afterwards the output
        must equal the checked one exactly."""
        if isinstance(out, pa.Table):
            out = out.to_pandas()
        d = self.fingerprint(out)
        if op.key in self.seen:
            if d != self.seen[op.key]:
                raise verify.CheckFailed(f"{op.label}{op.key}: output differs from its checked first run")
            return
        self.full_check(op, out)
        self.seen[op.key] = d

    def fingerprint(self, out) -> str:
        if isinstance(out, pd.DataFrame):
            return verify.digest(out)
        return repr(out)

    def full_check(self, op: Op, out) -> None:
        raise NotImplementedError

    def info(self) -> dict:
        return {}


# --- pattern_queries ----------------------------------------------------------


class GraphWorkload(Workload):
    """Inputs and output checks shared by the two graph workloads."""

    def generate(self) -> None:
        self.meta = gen.graph_tables(self.ctx.rng(0), self.ctx.src)
        meta = pd.read_parquet(f"{self.ctx.src}/meta_edges.parquet")
        d = meta[meta.type == "Diseased"]
        self.cls = dict(zip(d.dst, d.src))  # sample -> disease

    def _anchors(self):
        """Studies and diseases, largest first."""
        studies = sorted(self.meta["studies"], key=lambda s: (-self.meta["studies"][s], s))
        diseases = sorted(self.meta["diseases"], key=lambda d: (-self.meta["diseases"][d], d))
        return studies, diseases

    def graph_con(self):
        if self.con is None:
            self.con = verify.graph_con(self.ctx.src)
        return self.con

    def full_check(self, op: Op, out) -> None:
        q, arg = op.key
        want = self.graph_con().execute(verify.graph_sql(q, arg)).df()
        verify.same_rows(out, want, f"{q}({arg})")


class PatternQueries(GraphWorkload):
    """The graph store, read side. Set-up builds the graph, writes it,
    then runs the paper's loop once: train the random forest on the
    stored validated pairs, classify every candidate pair and write the
    predicted edges back with a dynamic partition overwrite. After a
    warm-up pass, timed passes of Q1/Q2/Q4/Q5/Q6/Q7 read the stored
    graph. Kernels, stats and the corpus layers stay idle."""

    name = "pattern_queries"
    N_TREES = 10

    def prepare(self) -> None:
        """Build the graph and hold it as executor-local checkpoints."""
        self.graph = tuple(self.ctx.checkpoint(df) for df in build_graph(self.L, self.spark, self.ctx.src))
        self.mix = self.plan(self.ctx.rng(1))

    def build_write(self) -> None:
        self.L.graph_store.write_graph(*self.graph, self.ctx.store)

    def once(self) -> list[Op]:
        return [Op("build_write", self.build_write, ("build_write",)),
                Op("predict_write", self.predict_write, ("predict_write",))]

    def predict_write(self) -> int:
        L, ctx = self.L, self.ctx
        nodes, edges = self.graph
        _, stored = L.graph_store.read_graph(self.spark, ctx.store)
        data = L.model.prepare_training(
            stored.filter((F.col("type") == "Infects") & F.col("interaction").isNotNull()))
        pipe = L.model.build_pipeline(num_trees=self.N_TREES, seed=42)
        if ctx.tracer is None:
            model = pipe.fit(data)
        else:
            with ctx.tracer.span("model.train") as sp:
                model = pipe.fit(data)
            sp.extra["rows"] = gen.N_LABELED
        infects = edges.filter(F.col("type") == "Infects")
        preds = L.model.predict_interactions(model, infects.select("src", "dst", *L.model.FEATURES))
        new = L.graph_build.add_predicted_edges(edges, preds)
        # dynamic partition overwrite: only the predicted-edge partition
        L.graph_store.write_graph(nodes, new.filter(F.col("type") == "PredictedInteraction"), ctx.store)
        return store_size(ctx.store)[0]

    def plan(self, rng) -> list[tuple]:
        """Every pass: a fixed mix by anchor size rank (so every seed does
        comparable work), with a seeded order and node-label draw. Study
        and disease anchors are the smallest ones: Q4's rows grow with the
        square of the study size (386k rows at 93 samples, 938k at 140)."""
        studies, diseases = self._anchors()
        labels = ["Phage", "Bacterial_Host", "SampleID", "Disease", "StudyID", "PatientID", "TimePoint"]
        w = 1.0 / np.arange(1, len(labels) + 1) ** 1.2
        mix = [("q1", None), ("q1", 1), ("q2", None), ("q4", studies[-1]), ("q5", studies[-1]),
               ("q6", str(rng.choice(labels, p=w / w.sum()))), ("q7", diseases[-1])]
        return [mix[i] for i in rng.permutation(len(mix))]

    def run_query(self, q: str, arg):
        L = self.L
        nodes, edges = L.graph_store.read_graph(self.spark, self.ctx.store)
        if q == "q1":
            df = L.queries.q1_interaction_scores(edges, nodes, arg)
        elif q == "q2":
            df = L.queries.q2_predicted_links(edges, nodes)
        elif q == "q4":
            df = L.queries.q4_study_network(edges, arg)
        elif q == "q5":
            df = L.queries.q5_sample_network(edges, nodes, arg)
        elif q == "q6":
            df = L.queries.q6_label_scan(nodes, arg)
        else:
            df = L.queries.q7_disease_scope(edges, arg)
        return self.ctx.collect(df)

    def ops(self) -> list[Op]:
        """The seed's query mix."""
        return [Op(q, (lambda q=q, a=a: self.run_query(q, a)), (q, a)) for q, a in self.mix]

    def stored_con(self):
        con = self.graph_con()
        con.execute("CREATE OR REPLACE VIEW stored AS SELECT * FROM read_parquet("
                    f"'{self.ctx.store}/edges/*/*.parquet', hive_partitioning = true)")
        return con

    def full_check(self, op: Op, out) -> None:
        what = op.label
        if what not in ("build_write", "predict_write", "q2"):
            return super().full_check(op, out)
        con = self.stored_con()
        if what == "build_write":
            got = con.execute("SELECT src, dst, interaction, crispr, blast, blastx, pfam "
                              "FROM stored WHERE type = 'Infects'").df()
            verify.same_rows(got, con.execute("SELECT * FROM infects").df(), "stored Infects edges")
            got = con.execute("SELECT type, COUNT(*) AS n FROM stored WHERE type NOT IN "
                              "('Infects', 'PredictedInteraction') GROUP BY 1").df()
            want = con.execute("SELECT 'Sampled' AS type, COUNT(*) AS n FROM sampled "
                               "UNION ALL SELECT type, COUNT(*) FROM meta_edges GROUP BY 1").df()
            verify.same_rows(got, want, "stored metadata edge counts")
            got = con.execute(f"SELECT id, label, name, length FROM read_parquet('{self.ctx.store}"
                              "/nodes/*/*.parquet', hive_partitioning = true)").df()
            verify.same_rows(got, con.execute("SELECT * FROM nodes").df(), "stored nodes")
            if got["id"].duplicated().any():
                raise verify.CheckFailed("stored node ids are not unique")
        elif what == "predict_write":
            pred = con.execute("SELECT src, dst, prediction FROM stored "
                               "WHERE type = 'PredictedInteraction'").df()
            verify.same_rows(pred[["src", "dst"]], con.execute("SELECT src, dst FROM infects").df(),
                             "predicted edges cover the candidate pairs")
            if not set(pred.prediction) <= {"Interacts", "NotInteracts"}:
                raise verify.CheckFailed(f"predictions {set(pred.prediction)}")
            lab = con.execute("SELECT p.prediction, i.interaction FROM stored p JOIN interactions i "
                              "USING (src, dst) WHERE p.type = 'PredictedInteraction'").df()
            acc = ((lab.prediction == "Interacts") == (lab.interaction > 0)).mean()
            if acc < 0.7:
                raise verify.CheckFailed(f"model reproduces only {acc:.2f} of its training labels")
        else:
            want = con.execute("""
                SELECT n.name AS from_name, CAST(NULL AS VARCHAR) AS to_species
                FROM stored p JOIN nodes n ON p.src = n.id JOIN nodes h ON p.dst = h.id
                WHERE p.type = 'PredictedInteraction' AND p.prediction = 'Interacts'""").df()
            verify.same_rows(out, want, "q2")

    def info(self) -> dict:
        return {**store_info(self.ctx.store), "studies": self.meta["studies"]}


# --- diversity_analysis -------------------------------------------------------


class DiversityAnalysis(GraphWorkload):
    """Per-study network statistics on per-sample subgraphs, where the
    superstep kernels and stats do the work. Set-up also runs one
    curation op on each LLM-data layer (dedup, corpus, similarity), each
    on its own seeded input. A pass costs ~100 Spark jobs, so the run's
    time budget holds no warm-up pass: the timed pass is the analysis'
    first run, on a JVM that the graph build and the curation ops
    warmed."""

    name = "diversity_analysis"
    WARMUP = False
    PR_ITER = 2
    EIGEN_ITER = 2
    Q3_MIN_CRISPR = 52.0  # keeps ~12% of the Infects edges
    N_CHECKED = 4  # samples per study whose kernel and stats results are replayed
    # one op per LLM-data layer, each with its registry oracle
    CORPUS = [("contamination_pairs", "dd_contamination"), ("tfidf_top_terms", "tx_tfidf_top_terms"),
              ("srp_lsh_topk", "ss_srp_lsh_topk")]

    def generate(self) -> None:
        super().generate()
        rng = self.ctx.rng(4)
        docs, emb = gen.documents(rng), gen.embeddings(rng)
        for i in range(len(self.CORPUS)):
            gen.corpus_variant(self.ctx.rng(5, i), docs, emb, self.ctx.src, str(i))

    def prepare(self) -> None:
        """The graph is built in set-up and held as executor-local
        checkpoints; the store's read path is pattern_queries' job."""
        self.graph = tuple(self.ctx.checkpoint(df) for df in build_graph(self.L, self.spark, self.ctx.src))
        self.state: dict[str, dict] = {}
        self.checked: dict[str, dict] = {}

    def study(self) -> str:
        """The smallest study. A per-study analysis costs ~10 s of
        superstep overhead on 4 cores whatever the study size, so one
        study is what fits the run's time budget."""
        return self._anchors()[0][-1]

    def study_ops(self, study: str) -> list[Op]:
        L, ctx = self.L, self.ctx
        st = self.state[study] = {}
        nodes, edges = self.graph

        def q5():
            st["q5"] = L.queries.q5_sample_network(edges, nodes, study)
            return ctx.collect(st["q5"])

        def diversity():
            cls = edges.filter(F.col("type") == "Diseased").select(
                F.col("dst").alias("sample"), F.col("src").alias("cls"))
            st["res"] = L.pipelines.interpersonal_diversity(
                st["q5"].select("sample", "phage", "host", "phage_abundance", "host_abundance"),
                node_lengths=nodes.select("id", "length"), sample_class=cls,
                eigen_iter=self.EIGEN_ITER)
            st["rarefied"] = ctx.collect(st["res"]["rarefied"])
            return ctx.collect(st["res"]["stats"])

        def distances():
            st["dm"] = L.client_stats.collect_distance_matrix(st["res"]["distances"])
            return st["dm"]

        def anosim():
            labels, m = st["dm"]
            return L.client_stats.anosim(m, [self.cls[s] for s in labels])

        def weighted():
            return st["q5"].select("sample", F.col("phage").alias("src"),
                                   F.col("host").alias("dst"), "weight")

        def pagerank():
            return ctx.collect(L.kernels.pagerank(
                weighted(), group_cols=["sample"], weight_col="weight", max_iter=self.PR_ITER))

        def components():
            return ctx.collect(L.kernels.connected_components(weighted(), group_cols=["sample"]))

        return [Op("q5", q5, ("q5", study)),
                Op("interpersonal_diversity", diversity, ("diversity", study)),
                Op("collect_distance_matrix", distances, ("distances", study)),
                Op("anosim", anosim, ("anosim", study)),
                Op("pagerank", pagerank, ("pagerank", study)),
                Op("connected_components", components, ("components", study))]

    def corpus_op(self, i: int):
        L, spark, src, collect = self.L, self.spark, self.ctx.src, self.ctx.collect
        name = self.CORPUS[i][0]
        docs = L.schemas.load_table(spark, src, f"documents_{i}")
        if name == "contamination_pairs":
            srcnum = F.regexp_extract("source", r"src(\d+)", 1).cast("int")
            return collect(L.dedup.contamination_pairs(
                docs.filter(srcnum < 10), docs.filter(srcnum >= 10), k=3, threshold=0.1, max_df=20))
        if name == "tfidf_top_terms":
            return collect(L.corpus.tfidf_top_terms(docs, k=5))
        emb = L.schemas.load_table(spark, src, f"embeddings_{i}")
        top = L.similarity.srp_lsh_topk(emb, emb.filter(F.col("vec_id") < 20), dim=gen.DIM, k=5)
        return collect(top.withColumn("rank", F.col("rank").cast("long")), of=top)

    def once(self) -> list[Op]:
        return [Op(name, (lambda i=i: self.corpus_op(i)), (name, i))
                for i, (name, _) in enumerate(self.CORPUS)]

    def ops(self) -> list[Op]:
        """The smallest study's analysis, then one network-wide Q3."""
        edges = self.graph[1]

        def q3():
            e = edges.filter(F.col("crispr") > self.Q3_MIN_CRISPR)
            return self.ctx.collect(self.L.queries.q3_triadic_closure(e))

        return [*self.study_ops(self.study()), Op("q3", q3, ("q3", self.Q3_MIN_CRISPR))]

    def fingerprint(self, out) -> str:
        if isinstance(out, tuple):  # (labels, matrix)
            return repr(out[0]) + hashlib.sha256(out[1].tobytes()).hexdigest()
        return super().fingerprint(out)

    def corpus_check(self, op: Op, out) -> None:
        import duckdb

        from hannigan_conjunctisviribus_ploscompbio_2017_spark.queries_testdata import ORACLES

        i = op.key[1]
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.ctx.src}/{t}_{i}.parquet')")
        want = con.execute(ORACLES[self.CORPUS[i][1]]).df()
        con.close()
        verify.same_rows(out, want, f"{op.label}[{i}]")

    def full_check(self, op: Op, out) -> None:
        import independent_impl as impl

        what, study = op.label, op.key[1]
        if what in dict(self.CORPUS):
            return self.corpus_check(op, out)
        if what in ("q5", "q3"):
            super().full_check(op, out)
            if what == "q5":
                samples = sorted(out["sample"].unique())
                pick = self.ctx.rng(2).choice(len(samples), self.N_CHECKED, replace=False)
                sub = [samples[i] for i in sorted(pick)]
                self.checked[study] = {
                    "subset": sub, "n_samples": len(samples),
                    "replay": verify.diversity_replay(impl, out, sub, self.EIGEN_ITER, self.PR_ITER)}
            return
        st, ck = self.state[study], self.checked[study]
        sub, replay = ck["subset"], ck["replay"]
        if what == "interpersonal_diversity":
            r = st["rarefied"].to_pandas()
            r = r[r["sample"].isin(sub)]
            got = {(s, p): float(a) for s, p, a in zip(r["sample"], r["phage"], r["phage_abundance"]) if a > 0}
            verify.close_maps(got, replay["rarefied"], "rarefy", 0.0)
            cent = st["res"]["centrality"].filter(F.col("sample").isin(sub)).toPandas()
            got = {(s, n): c for s, n, c in zip(cent["sample"], cent["node"], cent["centrality"])}
            verify.close_maps(got, replay["centrality"], "eigenvector_centrality", 2e-6)
            pairs = ck["n_samples"] * (ck["n_samples"] - 1) // 2
            if int(out["n_pairs"].sum()) != pairs:
                raise verify.CheckFailed(f"stats cover {out['n_pairs'].sum()} pairs, expected {pairs}")
            ck["stats"] = out
        elif what == "collect_distance_matrix":
            labels, m = out
            idx = {s: i for i, s in enumerate(labels)}
            got = {(a, b): m[idx[a], idx[b]] for (a, b) in replay["bray_curtis"]}
            verify.close_maps(got, replay["bray_curtis"], "bray_curtis", 2e-6)
            for k, (mean, sd, n) in verify.class_stats(labels, m, self.cls).items():
                row = ck["stats"][ck["stats"]["pair_class"] == k].iloc[0]
                if int(row["n_pairs"]) != n or abs(row["mean_distance"] - mean) > 2e-6 \
                        or abs(row["sd_distance"] - sd) > 2e-6:
                    raise verify.CheckFailed(f"stats[{k}] = {row.to_dict()}, expected {(mean, sd, n)}")
        elif what == "anosim":
            if not (-1.0 <= out["statistic"] <= 1.0 and 0.0 < out["p_value"] <= 1.0):
                raise verify.CheckFailed(f"anosim out of range: {out}")
        elif what == "pagerank":
            o = out[out["sample"].isin(sub)]
            got = {(s, n): r for s, n, r in zip(o["sample"], o["node"], o["pagerank"])}
            verify.close_maps(got, replay["pagerank"], "pagerank", 2e-7)
        elif what == "connected_components":
            o = out[out["sample"].isin(sub)]
            got = {(s, n): c for s, n, c in zip(o["sample"], o["node"], o["component"])}
            if got != replay["components"]:
                raise verify.CheckFailed("connected_components: labels differ from union-find")

    def info(self) -> dict:
        return {"study_analysed": self.study(), "studies": self.meta["studies"]}


WORKLOADS = {w.name: w for w in (PatternQueries, DiversityAnalysis)}
