"""Output checks, run outside the timed section.

Pattern-query results are recomputed by DuckDB from the generated
parquet (the TPC-H-shaped source tables, not the program's graph store),
kernel and stats results on a seeded subset of groups by the pure-Python
functions in ``tests/independent_impl.py``, and corpus results by the
registry's DuckDB oracle SQL. Every check raises ``CheckFailed``.
"""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pandas as pd


class CheckFailed(AssertionError):
    pass


def canon(df: pd.DataFrame, round_to: int = 6) -> pd.DataFrame:
    """Comparable form: columns sorted by name, floats rounded, ints
    widened, everything else as strings with NaN for null."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        col = df[c]
        if pd.api.types.is_float_dtype(col):
            df[c] = col.astype("float64").round(round_to)
        elif pd.api.types.is_integer_dtype(col) or pd.api.types.is_bool_dtype(col):
            df[c] = col.astype("int64")
        else:
            df[c] = col.astype(str).where(col.notna(), np.nan)
    return df.reset_index(drop=True)


def _row_hash(df: pd.DataFrame) -> np.ndarray:
    return pd.util.hash_pandas_object(df, index=False).to_numpy(np.uint64)


def digest(df: pd.DataFrame) -> str:
    """Order-free digest of a result table: its columns, its row count and
    the sum (mod 2**64) of its row hashes, floats rounded to 6 places. No
    sort, so it stays cheap on the large results that repeat every pass."""
    c = df[sorted(df.columns)].copy()
    for col in c.columns:
        if pd.api.types.is_float_dtype(c[col]):
            c[col] = c[col].astype("float64").round(6)
    rows = _row_hash(c)
    return f"{','.join(c.columns)}|{len(c)}|{int(rows.sum(dtype=np.uint64)):016x}"


def same_rows(got: pd.DataFrame, want: pd.DataFrame, what: str, tol: float = 2e-6) -> None:
    """Multiset equality of two result tables; float columns compare with
    an absolute/relative tolerance of ``tol`` (the two engines round
    doubles independently)."""
    if sorted(got.columns) != sorted(want.columns):
        raise CheckFailed(f"{what}: columns {sorted(got.columns)} != {sorted(want.columns)}")
    if len(got) != len(want):
        raise CheckFailed(f"{what}: {len(got)} rows, expected {len(want)}")
    g, w = canon(got), canon(want)
    floats = [c for c in g.columns if pd.api.types.is_float_dtype(g[c]) or pd.api.types.is_float_dtype(w[c])]
    keys = [c for c in g.columns if c not in floats]

    def ordered(df):
        # rows by a hash of the exact columns, then by the floats, so
        # tolerance-equal floats line up without a sort on strings
        sort_keys = [df[c].to_numpy(float) for c in reversed(floats)]
        h = _row_hash(df[keys]) if keys else None
        order = np.lexsort(sort_keys + ([h] if keys else [])) if sort_keys or keys else []
        return df.iloc[order].reset_index(drop=True), (None if h is None else h[order])

    (g, hg), (w, hw) = ordered(g), ordered(w)
    if keys and not np.array_equal(hg, hw):
        bad = int(np.argmax(hg != hw))
        raise CheckFailed(f"{what}: rows differ in {keys}, e.g. row {bad}: "
                          f"{g.iloc[bad].to_dict()} vs {w.iloc[bad].to_dict()}")
    for c in floats:
        a, b = g[c].to_numpy(float), w[c].to_numpy(float)
        if not np.allclose(a, b, rtol=tol, atol=tol, equal_nan=True):
            bad = int(np.nanargmax(np.abs(a - b)))
            raise CheckFailed(f"{what}: column {c} differs at row {bad}: {a[bad]} vs {b[bad]}")


def close_maps(got: dict, want: dict, what: str, tol: float) -> None:
    if set(got) != set(want):
        raise CheckFailed(f"{what}: keys differ ({len(got)} vs {len(want)}): {sorted(set(got) ^ set(want))[:5]}")
    for k, v in want.items():
        if abs(got[k] - v) > tol:
            raise CheckFailed(f"{what}: {k} = {got[k]}, expected {v}")


# --- DuckDB replays of the graph pattern queries ---------------------------

GRAPH_VIEWS = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "meta_edges",
               "score_crispr", "score_blast", "score_blastx", "score_pfam", "interactions")

# the graph the program builds, recomputed from the generated tables
BASE = {
    "infects": """
  WITH k AS (SELECT src, dst FROM score_crispr UNION SELECT src, dst FROM score_blast
             UNION SELECT src, dst FROM score_blastx UNION SELECT src, dst FROM score_pfam
             UNION SELECT src, dst FROM interactions)
  SELECT k.src, k.dst, c.score AS crispr, b.score AS blast, x.score AS blastx,
         p.score AS pfam, i.interaction
  FROM k LEFT JOIN score_crispr c USING (src, dst) LEFT JOIN score_blast b USING (src, dst)
  LEFT JOIN score_blastx x USING (src, dst) LEFT JOIN score_pfam p USING (src, dst)
  LEFT JOIN interactions i USING (src, dst)""",
    "sampled": """
  WITH fact AS (
    SELECT o_custkey, l_partkey, l_suppkey, l_quantity
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
  SELECT src, dst, CAST(SUM(q) AS BIGINT) AS abundance FROM (
    SELECT 'C' || o_custkey AS src, 'P' || l_partkey AS dst, l_quantity AS q FROM fact
    UNION ALL
    SELECT 'C' || o_custkey, 'S' || l_suppkey, l_quantity FROM fact
  ) GROUP BY 1, 2""",
    "nodes": """
  SELECT 'P' || p_partkey AS id, 'Phage' AS label, p_name AS name, CAST(p_size AS BIGINT) AS length FROM part
  UNION ALL SELECT 'S' || s_suppkey, 'Bacterial_Host', s_name, NULL FROM supplier
  UNION ALL SELECT 'C' || c_custkey, 'SampleID', c_name, NULL FROM customer
  UNION ALL SELECT 'R' || r_regionkey, 'StudyID', r_name, NULL FROM region
  UNION ALL SELECT 'N' || n_nationkey, 'PatientID', n_name, NULL FROM nation
  UNION ALL SELECT DISTINCT 'D' || c_mktsegment, 'Disease', c_mktsegment, NULL FROM customer
  UNION ALL SELECT DISTINCT 'T' || o_orderpriority, 'TimePoint', o_orderpriority, NULL FROM orders""",
}


def graph_con(src_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB over the generated tables, with the graph's ``infects``,
    ``sampled`` and ``nodes`` tables built once."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in GRAPH_VIEWS:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src_dir}/{t}.parquet')")
    for t, sql in BASE.items():
        con.execute(f"CREATE TABLE {t} AS {sql}")
    return con


def _q(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def graph_sql(query: str, arg) -> str:
    """DuckDB text of one pattern query with its anchor."""
    if query == "q1":
        where = "" if arg is None else f"WHERE e.interaction = {int(arg)}"
        body = f"""
        SELECT a.name AS from_name, b.name AS to_name, e.interaction, e.crispr, e.blast, e.blastx, e.pfam
        FROM infects e JOIN nodes a ON e.src = a.id JOIN nodes b ON e.dst = b.id {where}"""
    elif query == "q4":
        body = f"""
        , member AS (SELECT dst AS sample FROM meta_edges WHERE type = 'IncludedInStudy' AND src = {_q(arg)})
        , s AS (SELECT m.sample, e.dst, e.abundance FROM sampled e JOIN member m ON e.src = m.sample WHERE e.abundance > 0)
        SELECT s1.sample AS sample1, s1.dst AS phage, s1.abundance AS phage_abundance,
               i.dst AS host, s2.sample AS sample2, s2.abundance AS host_abundance
        FROM s s1 JOIN infects i ON s1.dst = i.src JOIN s s2 ON s2.dst = i.dst"""
    elif query == "q5":
        body = f"""
        , member AS (SELECT dst AS sample FROM meta_edges WHERE type = 'IncludedInStudy' AND src = {_q(arg)})
        , s AS (SELECT e.src AS sample, e.dst, e.abundance FROM sampled e JOIN member m ON e.src = m.sample WHERE e.abundance > 0)
        , base AS (
          SELECT DISTINCT pa.sample, pa.dst AS phage, pa.abundance AS phage_abundance,
                 i.dst AS host, ha.abundance AS host_abundance,
                 lp.length AS phage_length, lh.length AS host_length
          FROM s pa JOIN infects i ON pa.dst = i.src
          JOIN s ha ON ha.sample = pa.sample AND ha.dst = i.dst
          LEFT JOIN nodes lp ON lp.id = pa.dst LEFT JOIN nodes lh ON lh.id = i.dst)
        SELECT *, ROUND(LOG10(phage_norm * host_norm), 6) AS weight FROM (
          SELECT *, ROUND(1e7 * phage_abundance / COALESCE(phage_length, 1000), 0) AS phage_norm,
                    ROUND(1e7 * host_abundance / COALESCE(host_length, 1000), 0) AS host_norm
          FROM base)"""
    elif query == "q6":
        body = f"SELECT name FROM nodes WHERE label = {_q(arg)}"
    elif query == "q7":
        body = f"""
        , d AS (SELECT dst AS sample FROM meta_edges WHERE type = 'Diseased' AND src = {_q(arg)})
        SELECT e.src AS sample, e.dst AS n, i.dst AS m
        FROM sampled e JOIN d ON e.src = d.sample JOIN infects i ON e.dst = i.src
        WHERE e.abundance > 0"""
    elif query == "q3":
        body = f"""
        , e AS (SELECT src, dst FROM infects WHERE crispr > {float(arg)})
        SELECT DISTINCT a.src AS n, b.src AS k FROM e a JOIN e b ON a.dst = b.dst
        WHERE a.src <> b.src ORDER BY n, k LIMIT 50000"""
    else:
        raise ValueError(query)
    body = body.strip()
    return "WITH " + body[1:] if body.startswith(",") else body


# --- pure-Python replay of the per-study analysis --------------------------


def _round_half_up(x: float, digits: int = 0) -> float:
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-digits), rounding=ROUND_HALF_UP))


def diversity_replay(impl, q5: pd.DataFrame, subset: list[str], eigen_iter: int,
                     pr_iter: int, seed: int = 42) -> dict:
    """Expected rarefied abundances, centrality, Bray-Curtis, PageRank and
    components for the ``subset`` samples, from the collected Q5 rows
    alone."""
    q5 = q5.copy()
    q5["pab"] = [int(_round_half_up(1e7 * a / (l if l == l and l is not None else 1000)))
                 for a, l in zip(q5.phage_abundance, q5.phage_length)]
    q5["hab"] = [int(_round_half_up(1e7 * a / (l if l == l and l is not None else 1000)))
                 for a, l in zip(q5.host_abundance, q5.host_length)]
    ab = q5.groupby(["sample", "phage"]).pab.max()
    depth = int(ab.groupby(level=0).sum().min())
    rare, cent, pr, comp = {}, {}, {}, {}
    for s in subset:
        items = [(p, int(v)) for p, v in ab.loc[s].items()]
        kept = impl.rarefy_py(items, depth, s, seed)
        rare.update({(s, p): float(k) for p, k in kept.items()})
        rows = q5[q5["sample"] == s]
        edges = [(p, h, math.log10((kept[p] + 1) * (hb + 1)))
                 for p, h, hb in zip(rows.phage, rows.host, rows.hab) if p in kept]
        for node, c in impl.eigenvector_centrality_py(edges, max_iter=eigen_iter).items():
            cent[(s, node)] = c
        wedges = list(zip(rows.phage, rows.host, rows.weight))
        for node, r in impl.pagerank_py(wedges, max_iter=pr_iter).items():
            pr[(s, node)] = r
        comp.update({(s, n): c for n, c in components(wedges).items()})
    bc_rows = [(s, n, c) for (s, n), c in cent.items()]
    return {"rarefied": rare, "centrality": cent, "bray_curtis": impl.bray_curtis_py(bc_rows),
            "pagerank": pr, "components": comp}


def components(edges) -> dict[str, str]:
    """Weak components by union-find; label = lexicographically least
    node id of the component."""
    parent: dict[str, str] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d, *_ in edges:
        a, b = find(str(s)), find(str(d))
        if a != b:
            parent[max(a, b)] = min(a, b)
    return {n: find(n) for n in list(parent)}


def class_stats(labels: list[str], m: np.ndarray, cls: dict[str, str]) -> dict:
    """Mean/sd/count of Bray-Curtis distances by intra/inter class."""
    out: dict[str, list[float]] = {}
    for i in range(len(labels)):
        for j in range(i + 1, len(labels)):
            k = "intra" if cls[labels[i]] == cls[labels[j]] else "inter"
            out.setdefault(k, []).append(m[i, j])
    return {k: (float(np.mean(v)), float(np.std(v)), len(v)) for k, v in out.items()}
