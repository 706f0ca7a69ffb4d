"""Per-layer metric names and their aggregation from a traced run.

Each metric is ``<module>.<function>.<metric>``:

- ``s``: wall seconds of the function's calls plus the actions on the
  frames it returned (lazy frames run when the benchmark collects them);
  ``plan_s`` is the call alone, ``exec_s`` the actions alone.
  ``stats.bray_curtis`` reports ``plan_s`` only: the pipeline joins its
  frame to the sample classes before anything collects it, so its
  execution is part of ``pipelines.interpersonal_diversity`` and
  ``client_stats.collect_distance_matrix``;
- ``self_s``: ``s`` minus the time covered by traced child spans;
- ``parallelism``: CPU seconds of the JVM process tree over those spans
  divided by their wall seconds (``nproc`` is the ceiling);
- ``jobs``/``tasks``: Spark jobs and tasks run under the spans' job
  groups (children included); ``s_per_job`` = ``s`` / ``jobs``;
- ``rows``: rows collected from, or counted in, the function's output;
- ``splits``/``files``/``bytes``: input partitions read, parquet files
  and bytes written.

Values are per timed pass: a function's totals over the timed section
divided by the number of passes. Functions the timed section does not
call are reported from set-up, where they run once (graph build,
feature merge, store write and the model on ``pattern_queries``; the
curation ops on ``diversity_analysis``); a function the workload never
calls reads 0.
"""

from __future__ import annotations

from spans import Tracer, self_times

QUERY = ["plan_s", "exec_s", "rows", "tasks", "parallelism"]
LLM_DATA = ["s", "rows", "parallelism"]
KERNEL = ["s", "self_s", "jobs", "s_per_job", "parallelism"]

FUNCTIONS = {
    "session.get_spark": ["s"],
    "schemas.load_table": ["s"],
    "testdata_graph.sampled_edges": ["s"],
    "testdata_graph.nodes": ["s"],
    "graph_build.build_nodes": ["s"],
    "graph_build.build_infects_edges": ["s"],
    "graph_build.add_metadata_edges": ["s"],
    "graph_build.add_predicted_edges": ["s"],
    "relational.feature_merge": ["s"],
    "graph_store.write_graph": ["s", "self_s", "parallelism", "files", "bytes"],
    "graph_store.read_graph": ["s", "splits"],
    **{f"queries.{q}": QUERY for q in (
        "q1_interaction_scores", "q2_predicted_links", "q3_triadic_closure",
        "q4_study_network", "q5_sample_network", "q6_label_scan", "q7_disease_scope")},
    "pipelines.interpersonal_diversity": ["s", "self_s"],
    "stats.rarefy": ["s", "parallelism"],
    "stats.bray_curtis": ["plan_s"],
    **{f"kernels.{k}": KERNEL for k in ("eigenvector_centrality", "pagerank", "connected_components")},
    "client_stats.collect_distance_matrix": ["s"],
    "client_stats.anosim": ["s"],
    "model.prepare_training": ["s", "rows"],
    "model.train": ["s", "rows"],
    "model.predict_interactions": ["s", "rows"],
    "dedup.contamination_pairs": LLM_DATA,
    "corpus.tfidf_top_terms": LLM_DATA,
    "similarity.srp_lsh_topk": LLM_DATA,
}
GLOBAL = {"jvm.gc_s": "s", "jvm.cpu_s": "s", "trace.overhead_s": "s"}

UNITS = {"s": "s", "self_s": "s", "plan_s": "s", "exec_s": "s", "s_per_job": "s",
         "parallelism": "cpu_s/s", "jobs": "count", "tasks": "count", "rows": "count",
         "splits": "count", "files": "count", "bytes": "bytes"}


def metric_units() -> dict[str, str]:
    out = {f"{fn}.{m}": UNITS[m] for fn, ms in FUNCTIONS.items() for m in ms}
    out.update(GLOBAL)
    return out


def aggregate(tracer: Tracer, timed: range, setup: list[range], passes: int = 1) -> dict[str, float]:
    """Per-function totals per pass over the ``timed`` span indices; a
    function that ran only during set-up is reported from the ``setup``
    spans (session start and the rest of set-up), once."""
    spans = tracer.spans
    in_timed = {spans[i].name for i in timed}
    chosen = list(timed) + [i for r in setup for i in r if spans[i].name not in in_timed]
    weight = {i: 1.0 / passes for i in timed}
    selfs = self_times(spans)
    jobs, tasks = tracer.inclusive("jobs"), tracer.inclusive("tasks")
    acc: dict[str, dict[str, float]] = {}
    for i in chosen:
        sp = spans[i]
        if sp.name not in FUNCTIONS:
            continue
        a = acc.setdefault(sp.name, dict.fromkeys(
            ("s", "self_s", "plan_s", "exec_s", "cpu", "jobs", "tasks", "rows", "splits", "files", "bytes"), 0.0))
        w = weight.get(i, 1.0)
        a["s"] += w * sp.dur
        a["self_s"] += w * selfs[i]
        a["exec_s" if sp.kind == "exec" else "plan_s"] += w * sp.dur
        a["cpu"] += w * (sp.cpu1 - sp.cpu0)
        a["jobs"] += w * jobs[i]
        a["tasks"] += w * tasks[i]
        for k in ("rows", "splits", "files", "bytes"):
            a[k] += w * sp.extra.get(k, 0)
    out = {}
    for fn, ms in FUNCTIONS.items():
        a = acc.get(fn)
        for m in ms:
            if a is None:
                v = 0.0
            elif m == "parallelism":
                v = a["cpu"] / a["s"] if a["s"] > 0 else 0.0
            elif m == "s_per_job":
                v = a["s"] / a["jobs"] if a["jobs"] else 0.0
            else:
                v = a[m]
            out[f"{fn}.{m}"] = v
    return out
