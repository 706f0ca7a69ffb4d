"""SQL surface: views + spark.sql produce the same results as the
DataFrame builders (Catalyst parity)."""

from hannigan_conjunctisviribus_ploscompbio_2017_spark.plans import views as V
from hannigan_conjunctisviribus_ploscompbio_2017_spark.plans.testdata_graph import infects_edges
from tests.conftest import SF0001


def test_testdata_views(spark):
    V.register_testdata_views(spark, SF0001)
    n = spark.sql("SELECT COUNT(*) AS n FROM lineitem").collect()[0].n
    assert n == 6000


def test_graph_views_match_dataframe_builders(spark):
    V.register_graph_views(spark, SF0001)
    sql_n = spark.sql("SELECT COUNT(*) AS n FROM infects_edges").collect()[0].n
    df_n = infects_edges(spark, SF0001).count()
    assert sql_n == df_n


def test_graph_views_study_label_scan(spark):
    V.register_graph_views(spark, SF0001)
    names = {
        r.name
        for r in spark.sql("SELECT name FROM graph_nodes WHERE label = 'StudyID'").collect()
    }
    assert len(names) == 5


def test_corpus_views_sql_surface(spark):
    V.register_corpus_views(spark, SF0001)
    # keep-side of the exact dedup via plain SQL == the operator call
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators import dedup
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.schemas import load_table

    sql_kept = spark.sql("SELECT COUNT(*) AS n FROM doc_dups WHERE is_dup = 0").collect()[0].n
    api_kept = (
        dedup.exact_dedup(load_table(spark, SF0001, "documents"))
        .filter("is_dup = 0")
        .count()
    )
    assert sql_kept == api_kept
    # the split view is complete and keyed by doc_id
    n_docs = spark.sql("SELECT COUNT(*) AS n FROM doc_splits").collect()[0].n
    assert n_docs == load_table(spark, SF0001, "documents").count()
    assert spark.sql(
        "SELECT COUNT(DISTINCT split) AS k FROM doc_splits"
    ).collect()[0].k <= 3
    # joins across pipeline views work as plain SQL
    joined = spark.sql(
        """
        SELECT s.split, COUNT(*) AS n, ROUND(AVG(st.quality), 4) AS avg_q
        FROM doc_splits s JOIN doc_stats st USING (doc_id)
        GROUP BY s.split
        """
    ).collect()
    assert sum(r.n for r in joined) == n_docs
    # chunk view exposes fingerprints queryable for dup passages
    assert spark.sql(
        "SELECT COUNT(*) AS n FROM (SELECT fingerprint FROM doc_chunks GROUP BY fingerprint HAVING COUNT(*) > 1)"
    ).collect()[0].n >= 0


def test_round2_corpus_views_sql_surface(spark):
    V.register_corpus_views(spark, SF0001)
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.schemas import load_table

    n_docs = load_table(spark, SF0001, "documents").count()
    # scrub view: one audit row per doc, counts never negative
    r = spark.sql(
        "SELECT COUNT(*) AS n, MIN(n_email) AS me, MIN(n_ipv4) AS mi FROM doc_scrubbed"
    ).collect()[0]
    assert r.n == n_docs and r.me >= 0 and r.mi >= 0
    # LM-score view joins to packing view by id; packed offsets stay in budget
    j = spark.sql(
        """
        SELECT COUNT(*) AS n, MAX(p.pack_offset) AS mo
        FROM doc_lm_score l JOIN doc_packing p USING (id)
        """
    ).collect()[0]
    assert j.n == n_docs and 0 <= j.mo < 128
    # mixture view shares sum to 1
    s = spark.sql("SELECT ROUND(SUM(observed_share), 2) AS s FROM corpus_mixture").collect()[0].s
    assert abs(s - 1.0) < 0.02
