"""Value-check every queries() entry against its DuckDB oracle.

Each entry's Spark frame and its oracle SQL run over the same testdata
parquet and must agree on row count, sorted column names and
order-insensitive values. Floats must match exactly: a FLOAT-CLOSE
difference (equal to 1e-9 but not bit-exact) fails too, because it means
the two sides round differently.

Scale: the entries whose oracle is a frozen fixture table
(tools/gen_fixture_oracles.FIXTURES) run at sf0.01, the scale their
values were frozen at; every other entry runs at sf0.001.

Check a subset with `python -m pytest tests/test_entry_sweep.py -k <name>`.
"""

import duckdb
import numpy as np
import pandas as pd
import pytest

from tests.conftest import SF001, SF0001
from tools.gen_fixture_oracles import FIXTURES

from __spark_entry__ import entry, oracle_sql, queries
from hannigan_conjunctisviribus_ploscompbio_2017_spark.schemas import TESTDATA_TABLES

ALL = sorted(queries())
FROZEN = {name for name, _ in FIXTURES} & set(ALL)


def duck_con(sf_dir: str):
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype(np.float64)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("Int64")
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    """Problems found comparing a Spark result with its oracle; empty
    when they agree."""
    if len(spark_pdf) != len(duck_pdf):
        return [f"rowcount spark={len(spark_pdf)} duck={len(duck_pdf)}"]
    sc, dc = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if sc != dc:
        return [f"columns spark={sc} duck={dc}"]
    problems = []
    s, d = normalize(spark_pdf), normalize(duck_pdf)
    for c in s.columns:
        sv, dv = s[c], d[c]
        if pd.api.types.is_float_dtype(sv) and pd.api.types.is_float_dtype(dv):
            both_nan = sv.isna() & dv.isna()
            exact = ((sv == dv) | both_nan).all()
            if not exact:
                close = bool(
                    np.allclose(
                        sv.fillna(0).to_numpy(),
                        dv.fillna(0).to_numpy(),
                        rtol=1e-9,
                        atol=1e-12,
                    )
                    and (sv.isna() == dv.isna()).all()
                )
                diffs = (sv - dv).abs().max()
                tag = "FLOAT-CLOSE (not bit-exact)" if close else "VALUES DIFFER"
                problems.append(f"col {c}: {tag} maxdiff={diffs}")
        else:
            sv2 = sv.astype(str).where(~sv.isna(), "<NA>")
            dv2 = dv.astype(str).where(~dv.isna(), "<NA>")
            if not (sv2 == dv2).all():
                bad = sv2 != dv2
                i = int(bad.idxmax())
                problems.append(
                    f"col {c}: VALUES DIFFER e.g. row {i}: spark={sv2[i]!r} "
                    f"duck={dv2[i]!r} ({int(bad.sum())} rows)"
                )
    return problems


@pytest.fixture(scope="module")
def duck():
    cons = {sf: duck_con(sf) for sf in (SF0001, SF001)}
    yield cons
    for con in cons.values():
        con.close()


@pytest.mark.parametrize("name", ALL)
def test_query_runs_on_testdata(spark, duck, name):
    """The oracle gate: the entry's rows equal its oracle's."""
    sf_dir = SF001 if name in FROZEN else SF0001
    got = queries()[name](spark, sf_dir).toPandas()
    want = duck[sf_dir].execute(oracle_sql()[name]).fetchdf()
    problems = compare(got, want)
    assert not problems, f"{name} at {sf_dir}: " + "; ".join(problems)


def test_entry_runs(spark):
    df = entry(spark)
    assert df.columns
    assert df.count() >= 0


def test_oracle_keys_subset_of_queries():
    """Oracle keys and query keys are the same set: no oracle without a
    query, and no query that the sweep could not value-check."""
    qs, orc = set(queries()), set(oracle_sql())
    assert orc <= qs, f"oracles without queries: {sorted(orc - qs)}"
    assert qs <= orc, f"queries without oracles: {sorted(qs - orc)}"


def test_bench_labels_frozen():
    """BENCH_r{N}.json history is keyed by q-labels: a label that has
    appeared in any recorded round must keep its query name forever
    (append with fresh labels, never renumber). Pins the full r01/r02
    map; extend this dict when adding q17+."""
    from bench import HEADLINE

    frozen = {
        "q1": "a1_pricing_summary",
        "q2": "gq5_sample_network",
        "q3": "j3_feature_merge",
        "q4": "gq3_triadic_closure",
        "q5": "m2_bray_curtis",
        "q6": "g10_node_entropy",
        "q7": "ev_sessionize",
        "q8": "dd_minhash_lsh",
        "q9": "ss_cosine_topk",
        "q10": "w1_top_per_group",
        "q11": "gq4_study_network",
        "q12": "m1_rarefaction_portable",
        "q13": "dd_chunk_dedup",
        "q14": "dd_contamination",
        "q15": "tx_unigram_logprob",
        "q16": "tx_sequence_pack",
        "q17": "ss_ivf_topk",
        "q18": "ss_srp_lsh_topk",
        "q19": "ss_pq_topk",
        "q20": "ss_ivf_pq_topk",
        "q21": "tx_tfidf_top_terms",
        "q22": "ss_semantic_ingest",
        "q23": "m1_rarefaction",
    }
    got = dict(HEADLINE)
    labels = [label for label, _ in HEADLINE]
    assert len(labels) == len(set(labels)), "duplicate bench labels"
    for label, name in frozen.items():
        assert got.get(label) == name, (
            f"{label} re-keyed: history says {name}, bench.py says {got.get(label)}"
        )
    # every headline name must be a registered query
    assert set(got.values()) <= set(queries())


@pytest.mark.parametrize("name", ALL)
def test_oracle_sql_executes_in_duckdb(duck, name):
    """Every oracle runs in DuckDB without Spark: a fast first signal
    for SQL syntax drift, CTE-inlining blowups and file-handle
    exhaustion, ahead of the full comparison above."""
    cur = duck[SF0001].execute(oracle_sql()[name])
    assert cur.description, f"{name}: no result schema"
    cur.fetchall()
