"""The driver-facing query inventory: every SURVEY §2 operator instantiated
against the driver testdata tables, each with a DuckDB oracle SQL twin.

Registry pattern: `@query(name, oracle=...)` adds a (spark, sf_dir) →
DataFrame builder to QUERIES and its oracle to ORACLES.  Every builder
has an oracle, and tests/test_entry_sweep.py compares each one with it.
Fixed-iteration power-iteration kernels (PageRank, eigenvector
centrality) unroll into chained CTEs; solvers that are not
SQL-expressible compare against frozen fixture tables
(oracle_fixtures.py, frozen at sf0.01).

Parity rules (values compare order-insensitively, columns sorted by
name):
- alias every computed column identically on both sides;
- round float aggregates identically (4-6 dp) on both sides;
- cast counts to BIGINT on both sides;
- deterministic LIMIT only after a total ORDER BY.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from hannigan_conjunctisviribus_ploscompbio_2017_spark import oracle_fixtures as _fx
from hannigan_conjunctisviribus_ploscompbio_2017_spark.schemas import load_table

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _t(spark, sf_dir, name):
    """Cached per-(session, dir, table) reader. spark.read.parquet
    resolves footers/schema EAGERLY (~0.1s of JVM round trips per
    table), and the gate builds >100 query plans over the same ten
    tables — reusing the immutable DataFrame handle pays that once per
    table instead of once per query build. The cache lives as an
    attribute ON the session object (not a module global), so it is
    garbage-collected with its session — a restarted session starts
    empty and a dead one pins nothing."""
    cache = getattr(spark, "_sg_table_cache", None)
    if cache is None:
        cache = {}
        spark._sg_table_cache = cache
    key = (sf_dir, name)
    df = cache.get(key)
    if df is None:
        df = cache.setdefault(key, load_table(spark, sf_dir, name))
    return df


# =========================================================================
# Aggregations (SURVEY §2.4)
# =========================================================================


@query(
    "a1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           ROUND(AVG(l_quantity), 4) AS avg_qty,
           ROUND(AVG(l_discount), 4) AS avg_disc,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def a1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2/A6 — multi-agg group-by (the reference's per-cluster collapse
    family, bin/CollapseContigCounts.R:29 / bin/ClusterStats.R:19-21),
    TPC-H-Q1-shaped. Partial aggregation is map-side; one shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "sum_disc_price"
        ),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.round(F.avg("l_discount"), 4).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@query(
    "a2_mean_score_per_pair",
    oracle="""
    SELECT l_partkey, l_suppkey, ROUND(AVG(l_extendedprice), 4) AS mean_score
    FROM lineitem GROUP BY l_partkey, l_suppkey
    """,
)
def a2_mean_score_per_pair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 — collapse scores to pair mean (bin/CollapseGeneScores.R:38)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_partkey", "l_suppkey").agg(
        F.round(F.avg("l_extendedprice"), 4).alias("mean_score")
    )


@query(
    "a3_min_score_per_pair",
    oracle="""
    SELECT l_partkey, l_suppkey, ROUND(MIN(l_extendedprice), 2) AS min_score
    FROM lineitem GROUP BY l_partkey, l_suppkey
    """,
)
def a3_min_score_per_pair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 — group-by min 'low bitscore as feature'
    (bin/iteratePredictedRelationships.R:30-33)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_partkey", "l_suppkey").agg(
        F.round(F.min("l_extendedprice"), 2).alias("min_score")
    )


@query(
    "a4_degree_count",
    oracle="""
    SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS degree
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
    GROUP BY l_suppkey
    """,
)
def a4_degree_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/G1 — edges-per-node degree histogram source
    (bin/GetNetworkLinkCounts.R:80,101)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.select("l_partkey", "l_suppkey")
        .distinct()
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("degree"))
    )


@query(
    "a5_count_distinct",
    oracle="""
    SELECT o_custkey, CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_custkey
    """,
)
def a5_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 — group-by count distinct (bin/interpersonaldiversity.R:406-407)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_custkey")
        .agg(F.countDistinct("l_partkey").alias("n_parts"))
    )


@query(
    "a7_rarefaction_depth",
    oracle="""
    SELECT CAST(MIN(total) AS BIGINT) AS min_depth,
           CAST(COUNT(*) AS BIGINT) AS n_samples
    FROM (
      SELECT o_custkey, SUM(l_quantity) AS total
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY o_custkey
    )
    """,
)
def a7_rarefaction_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 — rarefaction depth = min of per-sample totals
    (bin/interpersonaldiversity.R:56-57)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    sums = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_custkey")
        .agg(F.sum("l_quantity").alias("total"))
    )
    return sums.agg(
        F.min("total").cast("long").alias("min_depth"),
        F.count(F.lit(1)).alias("n_samples"),
    )


@query(
    "a9_best_hit_dedup",
    oracle="""
    SELECT l_orderkey, l_partkey, l_extendedprice AS best_price
    FROM (
      SELECT l_orderkey, l_partkey, l_extendedprice,
             ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                ORDER BY l_extendedprice DESC, l_linenumber ASC) AS rn
      FROM lineitem
    ) WHERE rn = 1
    """,
)
def a9_best_hit_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9/W2 — keep best hit per query (awk '!seen[$1$2]' on rank-sorted
    BLAST output, bin/AssembleBlastDistances.sh:42-46)."""
    li = _t(spark, sf_dir, "lineitem")
    w = W.partitionBy("l_orderkey").orderBy(
        F.desc("l_extendedprice"), F.asc("l_linenumber")
    )
    return (
        li.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l_orderkey", "l_partkey", F.col("l_extendedprice").alias("best_price"))
    )


@query(
    "a12_row_votes",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND(l_quantity + l_extendedprice + l_discount + l_tax, 4) AS votes
    FROM lineitem WHERE l_returnflag = 'A'
    """,
)
def a12_row_votes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12 — horizontal row sum (rowSums, bin/CalculateModelSpecSens.R:32)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_returnflag") == "A").select(
        "l_orderkey",
        "l_linenumber",
        F.round(
            F.col("l_quantity") + F.col("l_extendedprice") + F.col("l_discount") + F.col("l_tax"),
            4,
        ).alias("votes"),
    )


# =========================================================================
# Filters / projections (SURVEY §2.2)
# =========================================================================


@query(
    "p3_p4_predicate_filters",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
    FROM lineitem
    WHERE l_quantity > 30 AND l_returnflag = 'R' AND l_linestatus LIKE 'F%'
    """,
)
def p3_p4_predicate_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3/P4 — numeric + equality + pattern predicates, pushed to the
    parquet scan (reference: toInt casts defeat Neo4j's index,
    bin/GetSkinGraphs.R:62-63 — typed schema makes pushdown automatic)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_quantity") > 30)
        & (F.col("l_returnflag") == "R")
        & F.col("l_linestatus").startswith("F")
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")


@query(
    "p6_any_positive",
    oracle="""
    SELECT l_orderkey, l_linenumber
    FROM lineitem
    WHERE GREATEST(l_discount, l_tax) > 0.07
    """,
)
def p6_any_positive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 — row-anyhit filter (bin/PredictRelationships.R:68)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(F.greatest("l_discount", "l_tax") > 0.07).select(
        "l_orderkey", "l_linenumber"
    )


@query(
    "p7_length_range",
    oracle="""
    SELECT p_partkey, p_name FROM part
    WHERE LENGTH(p_name) BETWEEN 10 AND 20
    """,
)
def p7_length_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 — length-window filter on sequences (bin/LengthFilterSeqs.pl:44-61)."""
    part = _t(spark, sf_dir, "part")
    return part.filter(F.length("p_name").between(10, 20)).select("p_partkey", "p_name")


@query(
    "p8_anti_filter",
    oracle="""
    SELECT p_partkey, p_name FROM part
    WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem WHERE l_quantity > 40)
    """,
)
def p8_anti_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8 — anti-filter by key list (bin/interpersonaldiversity.R:49-53)."""
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    removal = li.filter(F.col("l_quantity") > 40).select(
        F.col("l_partkey").alias("p_partkey")
    )
    return part.join(removal, "p_partkey", "left_anti").select("p_partkey", "p_name")


@query(
    "p9_semi_filter",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_partkey
    FROM lineitem
    WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'O')
      AND l_partkey IN (SELECT p_partkey FROM part WHERE p_size < 25)
    """,
)
def p9_semi_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9 — semi-filter by two keep-lists (bin/ApplySepAbund.R:38-39)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    part = _t(spark, sf_dir, "part").filter(F.col("p_size") < 25)
    return (
        li.join(orders.select(F.col("o_orderkey").alias("l_orderkey")), "l_orderkey", "left_semi")
        .join(part.select(F.col("p_partkey").alias("l_partkey")), "l_partkey", "left_semi")
        .select("l_orderkey", "l_linenumber", "l_partkey")
    )


# =========================================================================
# Joins (SURVEY §2.3)
# =========================================================================


@query(
    "j1_equi_join",
    oracle="""
    SELECT l_orderkey, l_linenumber, p_name, s_name,
           ROUND(l_extendedprice * (1 - l_discount), 4) AS revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
                  JOIN supplier ON l_suppkey = s_suppkey
    WHERE p_size > 30
    """,
)
def j1_equi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 — fact-dim equi-joins; dims broadcast (no shuffle of lineitem)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_size") > 30)
    supp = _t(spark, sf_dir, "supplier")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .select(
            "l_orderkey",
            "l_linenumber",
            "p_name",
            "s_name",
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("revenue"),
        )
    )


@query(
    "j2_broadcast_annotate",
    oracle="""
    SELECT c_custkey, COALESCE(n_name, 'NoClusterPhage') AS cluster
    FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey AND n_regionkey < 4
    """,
)
def j2_broadcast_annotate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 — broadcast annotation with miss-default (awk map join +
    NoClusterPhage fallback, bin/ClusterContigScores.sh:29-35)."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation").filter(F.col("n_regionkey") < 4)
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey, "left")
        .select(
            "c_custkey",
            F.coalesce(F.col("n_name"), F.lit("NoClusterPhage")).alias("cluster"),
        )
    )


@query(
    "j3_feature_merge",
    oracle="""
    WITH crispr AS (
      SELECT l_partkey AS src, l_suppkey AS dst, ROUND(AVG(l_quantity), 4) AS crispr
      FROM lineitem WHERE l_linenumber = 1 GROUP BY 1, 2
    ), blast AS (
      SELECT l_partkey AS src, l_suppkey AS dst, ROUND(AVG(l_extendedprice), 4) AS blast
      FROM lineitem WHERE l_linenumber = 2 GROUP BY 1, 2
    ), blastx AS (
      SELECT l_partkey AS src, l_suppkey AS dst, ROUND(AVG(l_discount), 4) AS blastx
      FROM lineitem WHERE l_linenumber = 3 GROUP BY 1, 2
    ), pfam AS (
      SELECT l_partkey AS src, l_suppkey AS dst, ROUND(AVG(l_tax), 4) AS pfam
      FROM lineitem WHERE l_linenumber = 4 GROUP BY 1, 2
    )
    SELECT COALESCE(crispr.src, blast.src, blastx.src, pfam.src) AS src,
           COALESCE(crispr.dst, blast.dst, blastx.dst, pfam.dst) AS dst,
           COALESCE(crispr.crispr, 0.0) AS crispr,
           COALESCE(blast.blast, 0.0) AS blast,
           COALESCE(blastx.blastx, 0.0) AS blastx,
           COALESCE(pfam.pfam, 0.0) AS pfam
    FROM crispr
    FULL OUTER JOIN blast  ON crispr.src = blast.src AND crispr.dst = blast.dst
    FULL OUTER JOIN blastx ON COALESCE(crispr.src, blast.src) = blastx.src
                          AND COALESCE(crispr.dst, blast.dst) = blastx.dst
    FULL OUTER JOIN pfam   ON COALESCE(crispr.src, blast.src, blastx.src) = pfam.src
                          AND COALESCE(crispr.dst, blast.dst, blastx.dst) = pfam.dst
    """,
)
def j3_feature_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 — the §2.9 edge build: full-outer merge of 4 per-feature score
    tables on (src, dst) + fillna(0)
    (bin/iteratePredictedRelationships.R:50-52). Uses the engine's
    feature_merge operator."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.relational import feature_merge

    li = _t(spark, sf_dir, "lineitem")

    def score(line: int, col: str) -> DataFrame:
        return (
            li.filter(F.col("l_linenumber") == line)
            .groupBy(F.col("l_partkey").alias("src"), F.col("l_suppkey").alias("dst"))
            .agg(F.round(F.avg(col), 4).alias("score"))
        )

    tables = {
        "crispr": score(1, "l_quantity"),
        "blast": score(2, "l_extendedprice"),
        "blastx": score(3, "l_discount"),
        "pfam": score(4, "l_tax"),
    }
    return feature_merge(tables, keys=["src", "dst"], value_col="score", fill=0.0)


@query(
    "j7_cross_join",
    oracle="""
    SELECT r_name, o_orderstatus
    FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders)
    """,
)
def j7_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 — tiny cross join (bin/ProteinNetworkCreation.pl:122-127)."""
    region = _t(spark, sf_dir, "region").select("r_name")
    status = _t(spark, sf_dir, "orders").select("o_orderstatus").distinct()
    return region.crossJoin(status)


@query(
    "j11_asof_join",
    oracle="""
    WITH l AS (
      SELECT event_id, user_id, ts, value FROM events
      WHERE event_type = 'purchase'
    ), r AS (
      SELECT user_id, ts, MAX(event_id) AS signup_event FROM events
      WHERE event_type = 'signup' GROUP BY user_id, ts
    )
    SELECT l.event_id, l.user_id AS ukey,
           strftime(l.ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
           l.value,
           CAST(r.signup_event AS BIGINT) AS signup_event,
           strftime(r.ts, '%Y-%m-%d %H:%M:%S') AS signup_ts
    FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
)
def j11_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of backward join (relational.asof_join): every purchase event
    picks up the user's most recent signup at-or-before it — the
    training-pipeline feature-join primitive Spark lacks natively,
    expressed as a union + per-key window (one shuffle, no range-join
    pair explosion). The oracle is DuckDB's NATIVE `ASOF LEFT JOIN`, an
    independent implementation of the same semantics."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.relational import asof_join

    ev = _t(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    right = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("signup_event"))
    )
    res = asof_join(left, right, on=["user_id"], ts_col="ts", value_cols=["signup_event"])
    return res.select(
        "event_id",
        F.col("user_id").alias("ukey"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        "value",
        F.col("asof_signup_event").cast("long").alias("signup_event"),
        F.date_format("asof_ts", "yyyy-MM-dd HH:mm:ss").alias("signup_ts"),
    )


# =========================================================================
# Windows / sorts / set ops (SURVEY §2.5, §2.6)
# =========================================================================


@query(
    "w1_top_per_group",
    oracle="""
    SELECT p_brand, p_partkey, p_retailprice
    FROM (
      SELECT p_brand, p_partkey, p_retailprice,
             ROW_NUMBER() OVER (PARTITION BY p_brand
                                ORDER BY p_retailprice DESC, p_partkey ASC) AS rn
      FROM part
    ) WHERE rn <= 2
    """,
)
def w1_top_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 — per-group top-N (longest contig per cluster,
    bin/GetLongestContig.R:46). Uses the engine's best_hit operator."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.relational import best_hit

    part = _t(spark, sf_dir, "part")
    return best_hit(
        part,
        keys=["p_brand"],
        order=[F.desc("p_retailprice"), F.asc("p_partkey")],
        n=2,
    ).select("p_brand", "p_partkey", "p_retailprice")


@query(
    "o1_distinct_sorted",
    oracle="SELECT DISTINCT l_partkey FROM lineitem",
)
def o1_distinct_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 — sort|uniq ID list (Makefile:37-41)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select("l_partkey").distinct()


@query(
    "o4_union_all",
    oracle="""
    SELECT o_orderkey, o_totalprice, 'high' AS bucket FROM orders WHERE o_totalprice > 200000
    UNION ALL
    SELECT o_orderkey, o_totalprice, 'low' AS bucket FROM orders WHERE o_totalprice < 50000
    """,
)
def o4_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 — UNION ALL of per-slice tables (rbind,
    bin/interpersonaldiversity.R:205-225)."""
    orders = _t(spark, sf_dir, "orders")
    hi = orders.filter(F.col("o_totalprice") > 200000).select(
        "o_orderkey", "o_totalprice", F.lit("high").alias("bucket")
    )
    lo = orders.filter(F.col("o_totalprice") < 50000).select(
        "o_orderkey", "o_totalprice", F.lit("low").alias("bucket")
    )
    return hi.unionByName(lo)


@query(
    "o5_intersect",
    oracle="""
    SELECT c_custkey FROM customer WHERE c_acctbal > 5000
    INTERSECT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def o5_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5 — INTERSECT (paired-read reconciliation, bin/get_trimmed_pairs.py:10-11)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    a = cust.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    b = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return a.intersect(b)


@query(
    "o6_except",
    oracle="""
    SELECT c_custkey FROM customer
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)
def o6_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O6 — EXCEPT / anti list (prophage exclusion, Makefile:628-634)."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    open_orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return cust.exceptAll(open_orders.distinct()).distinct()


# =========================================================================
# Reshape (SURVEY §2.8)
# =========================================================================


@query(
    "r1_pivot_matrix",
    oracle="""
    SELECT p_brand,
           ROUND(COALESCE(SUM(CASE WHEN l_returnflag = 'A' THEN l_quantity END), 0), 2) AS A,
           ROUND(COALESCE(SUM(CASE WHEN l_returnflag = 'N' THEN l_quantity END), 0), 2) AS N,
           ROUND(COALESCE(SUM(CASE WHEN l_returnflag = 'R' THEN l_quantity END), 0), 2) AS R
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    """,
)
def r1_pivot_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1 — long→wide abundance matrix (bin/ReshapeAlignedAbundance.R:36-39).
    Pivot values passed explicitly (skips the distinct-discovery job)."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.relational import pivot_matrix

    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    piv = pivot_matrix(
        joined, "p_brand", "l_returnflag", "l_quantity", values=["A", "N", "R"]
    )
    return piv.select(
        "p_brand",
        F.round("A", 2).alias("A"),
        F.round("N", 2).alias("N"),
        F.round("R", 2).alias("R"),
    )


@query(
    "r4_melt",
    oracle="""
    WITH piv AS (
      SELECT p_brand,
             ROUND(COALESCE(SUM(CASE WHEN l_returnflag = 'A' THEN l_quantity END), 0), 2) AS A,
             ROUND(COALESCE(SUM(CASE WHEN l_returnflag = 'R' THEN l_quantity END), 0), 2) AS R
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY p_brand
    )
    SELECT p_brand, 'A' AS flag, A AS qty FROM piv
    UNION ALL
    SELECT p_brand, 'R' AS flag, R AS qty FROM piv
    """,
)
def r4_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R4 — wide→long melt via native stack() (bin/interpersonaldiversity.R:123-128)."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.relational import melt, pivot_matrix

    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    piv = pivot_matrix(joined, "p_brand", "l_returnflag", "l_quantity", values=["A", "R"])
    piv = piv.select("p_brand", F.round("A", 2).alias("A"), F.round("R", 2).alias("R"))
    return melt(piv, id_cols=["p_brand"], value_cols=["A", "R"], var_name="flag", value_name="qty")


# =========================================================================
# Scalar function chain (SURVEY §2.7)
# =========================================================================


@query(
    "f_scalar_chain",
    oracle="""
    SELECT p_partkey,
           REGEXP_REPLACE(p_name, '[^A-Za-z0-9]+', '_', 'g') AS sanitized,
           STRING_SPLIT(REGEXP_REPLACE(p_name, '[^A-Za-z0-9]+', '_', 'g'), '_')[1] AS genus,
           CONCAT(p_brand, '__', p_type) AS combo_key,
           ROUND(1e7 * p_retailprice / p_size, 0) AS norm,
           ROUND(LOG10(p_retailprice * p_size), 6) AS weight,
           CASE WHEN p_size > 25 THEN 'Interacts' ELSE 'NotInteracts' END AS verdict,
           CAST(p_size AS DOUBLE) AS size_d
    FROM part
    """,
)
def f_scalar_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1-F10 — the scalar surface in one projection: key sanitizer
    (bin/BenchmarkDatabaseCreation.pl:99-101), genus extraction, composite
    key, length-normalize round(1e7*a/l), log10 edge weight, threshold
    recode, cast."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.functions.scalar import (
        composite_key,
        edge_weight,
        extract_genus,
        length_normalize,
        recode_threshold,
        sanitize_key,
    )

    part = _t(spark, sf_dir, "part")
    sanitized = sanitize_key("p_name")
    return part.select(
        "p_partkey",
        sanitized.alias("sanitized"),
        extract_genus(sanitized).alias("genus"),
        composite_key("p_brand", "p_type").alias("combo_key"),
        length_normalize("p_retailprice", "p_size").alias("norm"),
        F.round(edge_weight("p_retailprice", "p_size"), 6).alias("weight"),
        recode_threshold(F.col("p_size").cast("double"), 25.0).alias("verdict"),
        F.col("p_size").cast("double").alias("size_d"),
    )


# =========================================================================
# Flagship (graph Q5) — also the entry() smoke query
# =========================================================================

FLAGSHIP_ORACLE = """
    WITH sampled_part AS (
      SELECT 'C' || o_custkey AS sample, 'P' || l_partkey AS phage,
             CAST(SUM(l_quantity) AS BIGINT) AS phage_abundance
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1, 2 HAVING SUM(l_quantity) > 0
    ), sampled_supp AS (
      SELECT 'C' || o_custkey AS sample, 'S' || l_suppkey AS host,
             CAST(SUM(l_quantity) AS BIGINT) AS host_abundance
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1, 2 HAVING SUM(l_quantity) > 0
    ), infects AS (
      SELECT DISTINCT 'P' || l_partkey AS phage, 'S' || l_suppkey AS host
      FROM lineitem
    ), members AS (
      SELECT 'C' || c_custkey AS sample
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      WHERE n_regionkey = 0
    ), lengths AS (
      SELECT 'P' || p_partkey AS phage, CAST(p_size AS BIGINT) AS phage_length
      FROM part
    )
    SELECT DISTINCT sp.sample, sp.phage, sp.phage_abundance, i.host,
           ss.host_abundance, l.phage_length,
           ROUND(1e7 * sp.phage_abundance / COALESCE(l.phage_length, 1000), 0) AS phage_norm,
           ROUND(LOG10(sp.phage_abundance * ss.host_abundance), 6) AS weight
    FROM sampled_part sp
    JOIN members m ON sp.sample = m.sample
    JOIN infects i ON sp.phage = i.phage
    JOIN sampled_supp ss ON ss.sample = sp.sample AND ss.host = i.host
    LEFT JOIN lengths l ON sp.phage = l.phage
"""


@query("gq5_sample_network", oracle=FLAGSHIP_ORACLE)
def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 flagship — per-sample enriched interaction network scoped to one
    study (bin/GetSkinGraphs.R:55-98): 7-way join producing, per (sample,
    phage, host): both abundances, phage length, length-normalized phage
    abundance (F6) and log10 co-abundance edge weight (F7), DISTINCT.

    Plan shape at scale: Sampled/Infects both derive from the lineitem
    fact; the study-membership list and the length dim are broadcast; the
    three fact-fact joins co-partition on (sample, host)/(phage) and AQE
    handles hub-phage skew.
    """
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.functions.scalar import edge_weight, length_normalize

    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation").filter(F.col("n_regionkey") == 0)
    # r13 optimization (guide §2.3 narrower types): every join and
    # aggregation below runs on the RAW BIGINT keys — the 'C'/'P'/'S'
    # node-name prefixes are injective decorations, so grouping/joining
    # on (custkey, partkey, suppkey) produces the identical row set, and
    # the concat to strings happens ONCE, in the final projection. The
    # SQL-tab profile showed the string form's cost concentrated in the
    # infects distinct (7.3 s task time) and the final join/count stage
    # (28.7 s): UTF8String hashing + comparison over ~600 k-row streams,
    # paid per probe. Long keys also halve the exchange/broadcast bytes.
    members = cust.join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    ).select(F.col("c_custkey").alias("custkey"))

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    # one fact join, pre-filtered to study members so the two abundance
    # aggregations and everything downstream only touch member rows
    fact = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("o_custkey").alias("custkey"),
            "l_partkey",
            "l_suppkey",
            "l_quantity",
        )
        .join(F.broadcast(members), "custkey")
    )
    # Two separate groupBys deliberately, NOT one grouping-sets pass:
    # measured at sf0.1, groupingSets([[sample,phage],[sample,host]]) is
    # 3x slower here because Catalyst pushes each consumer's
    # grouping-id filter below the aggregate into its own Expand copy —
    # the branches' exchanges end up non-identical (no reuse), each still
    # pays the 2x expand, and the shuffle key widens to all grouping
    # columns + id. The fact subtree is all broadcast joins over one
    # columnar scan, so recomputing it per branch is the cheaper plan.
    phage_ab = (
        fact.groupBy("custkey", "l_partkey")
        .agg(F.sum("l_quantity").cast("long").alias("phage_abundance"))
        .filter(F.col("phage_abundance") > 0)
    )
    host_ab = (
        fact.groupBy("custkey", "l_suppkey")
        .agg(F.sum("l_quantity").cast("long").alias("host_abundance"))
        .filter(F.col("host_abundance") > 0)
    )
    infects = li.select("l_partkey", "l_suppkey").distinct()
    lengths = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"),
        F.col("p_size").cast("long").alias("phage_length"),
    )

    return (
        phage_ab.join(infects, "l_partkey")
        .join(host_ab, ["custkey", "l_suppkey"])
        .join(F.broadcast(lengths), "l_partkey", "left")
        .select(
            F.concat(F.lit("C"), F.col("custkey")).alias("sample"),
            F.concat(F.lit("P"), F.col("l_partkey")).alias("phage"),
            "phage_abundance",
            F.concat(F.lit("S"), F.col("l_suppkey")).alias("host"),
            "host_abundance",
            "phage_length",
            length_normalize(
                "phage_abundance", F.coalesce("phage_length", F.lit(1000))
            ).alias("phage_norm"),
            F.round(edge_weight("phage_abundance", "host_abundance"), 6).alias("weight"),
        )
        # the Cypher template ends in DISTINCT, but every join input here
        # is already unique on its join key (grouped aggregates + distinct
        # infects + unique length dim), so the result is row-unique by
        # construction — the dedup shuffle would be a pure no-op.
    )


# =========================================================================
# Graph pattern queries Q1-Q7 on the testdata bipartite mapping (§2.9)
# =========================================================================


@query(
    "gq1_interaction_scores",
    oracle="""
    SELECT 'P' || l_partkey AS from_name, 'S' || l_suppkey AS to_name,
           ROUND(AVG(l_quantity), 4) AS crispr,
           ROUND(AVG(l_extendedprice), 4) AS blast,
           ROUND(AVG(l_discount), 4) AS blastx,
           ROUND(AVG(l_tax), 4) AS pfam,
           CASE WHEN MAX(l_quantity) > 45 THEN 1 ELSE 0 END AS interaction
    FROM lineitem GROUP BY 1, 2
    """,
)
def gq1_interaction_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 — full Infects-edge scan with all score properties + gold label
    (Cypher at bin/CalculatePredModel.R:181-205). The model-training
    input query."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.plans.testdata_graph import infects_edges

    e = infects_edges(spark, sf_dir)
    return e.select(
        F.col("src").alias("from_name"),
        F.col("dst").alias("to_name"),
        "crispr",
        "blast",
        "blastx",
        "pfam",
        "interaction",
    )


@query(
    "gq3_triadic_closure",
    oracle="""
    WITH e AS (
      SELECT DISTINCT l_partkey AS src, l_suppkey AS dst
      FROM lineitem WHERE l_quantity > 40
    )
    SELECT a.src AS n, b.src AS k, CAST(COUNT(*) AS BIGINT) AS shared
    FROM e a JOIN e b ON a.dst = b.dst AND a.src < b.src
    GROUP BY 1, 2 HAVING COUNT(*) >= 2
    """,
)
def gq3_triadic_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 — 2-hop co-target closure (n)-->(m)<--(k), n<k, with shared-
    target count ≥2 (bin/TriadicClosures.R:88-89; aggregated instead of
    LIMIT 50000 so the result is deterministic)."""
    li = _t(spark, sf_dir, "lineitem")
    # the deduped edge set feeds BOTH sides of the self-join and Catalyst
    # shares no subtrees — one materialized pass (r12 optimization round:
    # gated A/B 1.78 s → 1.34 s; the edge set is tiny next to the pair
    # explosion, so pinning it is the right call at any scale)
    e = (
        li.filter(F.col("l_quantity") > 40)
        .select(F.col("l_partkey").alias("src"), F.col("l_suppkey").alias("dst"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    a, b = e.alias("a"), e.alias("b")
    return (
        a.join(b, (F.col("a.dst") == F.col("b.dst")) & (F.col("a.src") < F.col("b.src")))
        .groupBy(F.col("a.src").alias("n"), F.col("b.src").alias("k"))
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= 2)
    )


@query(
    "gq6_label_scan",
    oracle="SELECT r_name AS name FROM region",
)
def gq6_label_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 — node-label scan MATCH (x:StudyID) RETURN x.Name
    (bin/VisGraphByGroup.R:45-47)."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.plans.testdata_graph import nodes

    return nodes(spark, sf_dir).filter(F.col("label") == "StudyID").select("name")


@query(
    "gq7_disease_scope",
    oracle="""
    WITH diseased_samples AS (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    ), sampled AS (
      SELECT o_custkey, l_partkey, SUM(l_quantity) AS ab
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE o_custkey IN (SELECT c_custkey FROM diseased_samples)
      GROUP BY 1, 2 HAVING SUM(l_quantity) > 50
    ), infects AS (
      SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
    )
    SELECT i.l_suppkey AS host, CAST(COUNT(*) AS BIGINT) AS n_paths
    FROM sampled s JOIN infects i ON s.l_partkey = i.l_partkey
    GROUP BY 1
    """,
)
def gq7_disease_scope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 — disease-scoped 3-hop expansion with abundance predicate
    (bin/CompareNetworkGroups.R:147-201): Disease→Sample→Phage→Host path
    counts."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    sampled = (
        orders.join(F.broadcast(cust.select("c_custkey")), orders.o_custkey == cust.c_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_custkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("ab"))
        .filter(F.col("ab") > 50)
    )
    infects = li.select("l_partkey", "l_suppkey").distinct()
    return (
        sampled.join(infects, "l_partkey")
        .groupBy(F.col("l_suppkey").alias("host"))
        .agg(F.count(F.lit(1)).alias("n_paths"))
    )


# =========================================================================
# Graph kernels on the testdata graph (§2.10)
# =========================================================================


@query(
    "g1_degree_per_node",
    oracle="""
    WITH e AS (SELECT DISTINCT 'P' || l_partkey AS src, 'S' || l_suppkey AS dst
               FROM lineitem)
    SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
      SELECT src AS node, dst AS peer FROM e
      UNION ALL
      SELECT dst AS node, src AS peer FROM e
    ) GROUP BY node
    """,
)
def g1_degree_per_node(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1 — undirected degree per node over the Infects graph, via the
    kernels.degrees grouped aggregation."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.kernels import degrees
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.plans.testdata_graph import infects_edges

    e = infects_edges(spark, sf_dir).select("src", "dst")
    return degrees(e)


@query(
    "g5_degree_distribution",
    oracle="""
    WITH e AS (SELECT DISTINCT 'P' || l_partkey AS src, 'S' || l_suppkey AS dst
               FROM lineitem),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
        SELECT src AS node FROM e UNION ALL SELECT dst AS node FROM e
      ) GROUP BY node
    )
    SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM deg GROUP BY degree
    """,
)
def g5_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G5 — degree distribution (host-range histogram family,
    bin/CompareNetworkGroups.R:121-122): degrees kernel → one further
    groupBy. Two shuffles total, both map-side-combined."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.kernels import degrees
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.plans.testdata_graph import infects_edges

    e = infects_edges(spark, sf_dir).select("src", "dst")
    return degrees(e).groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))


@query(
    "g10_node_entropy",
    oracle="""
    WITH ab AS (
      SELECT 'C' || o_custkey AS node, l_partkey, SUM(l_quantity) AS w
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY 1, 2
    ), tot AS (
      SELECT node, SUM(w) AS total FROM ab GROUP BY node
    )
    SELECT ab.node, ROUND(-SUM((w / total) * LN(w / total)), 6) AS entropy
    FROM ab JOIN tot ON ab.node = tot.node
    GROUP BY ab.node
    """,
)
def g10_node_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G10 — Shannon edge-weight diversity per sample node
    (bin/compareTwins.R:101-104), via kernels.node_entropy."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.kernels import node_entropy

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    edges = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy(
            F.concat(F.lit("C"), F.col("o_custkey")).alias("src"),
            F.col("l_partkey").alias("dst"),
        )
        .agg(F.sum("l_quantity").alias("weight"))
    )
    return node_entropy(edges, weight_col="weight", node_col="src")


@query(
    "g12_simplify",
    oracle="""
    SELECT DISTINCT 'P' || l_partkey AS src, 'S' || l_suppkey AS dst,
           'Infects' AS type
    FROM lineitem
    """,
)
def g12_simplify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G12 — simplify: drop loops + multi-edges (igraph::simplify,
    bin/TriadicClosures.R:45)."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.graph_build import simplify

    li = _t(spark, sf_dir, "lineitem")
    raw = li.select(
        F.concat(F.lit("P"), F.col("l_partkey")).alias("src"),
        F.concat(F.lit("S"), F.col("l_suppkey")).alias("dst"),
        F.lit("Infects").alias("type"),
    )
    return simplify(raw)


@query(
    "gk_connected_components",
    oracle="""
    WITH RECURSIVE base AS (
      SELECT DISTINCT 'P' || l_partkey AS src, 'S' || l_suppkey AS dst
      FROM lineitem WHERE l_quantity = 50 AND l_suppkey % 7 = 0
    ), und AS (
      SELECT src, dst FROM base UNION SELECT dst AS src, src AS dst FROM base
    ), reach(node, root) AS (
      SELECT src AS node, src AS root FROM und
      UNION
      SELECT e.dst AS node, r.root FROM reach r JOIN und e ON e.src = r.node
    ), comp AS (
      SELECT node, MIN(root) AS component FROM reach GROUP BY node
    )
    SELECT component, CAST(COUNT(*) AS BIGINT) AS size
    FROM comp GROUP BY component
    """,
)
def gk_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G3 — weak connectivity per sub-network (igraph components,
    bin/GeneralNetworkProperties.R:68-84; the reference scopes components
    to diet/twin/skin sub-networks the same way this scopes to a supplier
    subset). Oracle: DuckDB recursive-CTE transitive closure + MIN(root)
    — exactly the fixpoint the iterative min-label kernel converges to.
    The sub-network predicate keeps the oracle's closure quadratic-in-
    component-size cost bounded (the full Infects graph is one giant
    component; closure there is |V|² while the Spark kernel stays
    O(E·diameter))."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.kernels import connected_components

    li = _t(spark, sf_dir, "lineitem")
    e = (
        li.filter((F.col("l_quantity") == 50) & (F.col("l_suppkey") % 7 == 0))
        .select(
            F.concat(F.lit("P"), F.col("l_partkey")).alias("src"),
            F.concat(F.lit("S"), F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
    )
    comp = connected_components(e)
    return comp.groupBy("component").agg(F.count(F.lit(1)).alias("size"))


@query(
    "gk_diameter_radius",
    oracle="""
    WITH RECURSIVE base AS (
      SELECT DISTINCT 'P' || l_partkey AS src, 'S' || l_suppkey AS dst
      FROM lineitem
    ), und AS (
      SELECT src, dst FROM base UNION SELECT dst AS src, src AS dst FROM base
    ), roots AS (
      SELECT src AS root FROM und GROUP BY src ORDER BY MD5(src) LIMIT 64
    ), reach(root, node, dist) AS (
      SELECT root, root AS node, 0 AS dist FROM roots
      UNION
      SELECT r.root, e.dst AS node, r.dist + 1 AS dist
      FROM reach r JOIN und e ON e.src = r.node
      WHERE r.dist < 8
    ), mindist AS (
      SELECT root, node, MIN(dist) AS dist FROM reach GROUP BY root, node
    ), ecc AS (
      SELECT root, MAX(dist) AS eccentricity FROM mindist GROUP BY root
    )
    SELECT CAST(MAX(eccentricity) AS INT) AS diameter,
           CAST(MIN(eccentricity) AS INT) AS radius
    FROM ecc
    """,
)
def gk_diameter_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2 — diameter/radius of the Infects graph via landmark-sampled
    multi-source BFS (golden shape: master graph diameter 4 / radius 2,
    rtables/genfigurestats.tsv).

    Landmarks: 64 nodes in deterministic md5 order (portable to the
    DuckDB oracle, which replays the BFS as a depth-capped recursive-CTE
    transitive closure + MIN(dist) — integer distances, so the match is
    exact). Exact all-pairs BFS (sources=None) is the right call at
    reference scale (≤~10³ nodes); fixed-landmark sampling is the 100 TB
    path — diameter is a lower bound, radius an upper bound, and BFS cost
    stays O(64·V) at any sf."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.kernels import (
        bfs_distances,
        diameter_radius,
        symmetrize,
    )
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.plans.testdata_graph import infects_edges

    e = infects_edges(spark, sf_dir).select("src", "dst")
    landmarks = (
        symmetrize(e)
        .select(F.col("src").alias("root"))
        .distinct()
        .orderBy(F.md5(F.col("root")))
        .limit(64)
    )
    # allow_truncated: the depth-8 cap IS the semantics here — the
    # oracle replays an identically capped recursive CTE
    return diameter_radius(
        bfs_distances(e, sources=landmarks, max_depth=8, allow_truncated=True)
    )


@query(
    "gk_eccentricity_closeness",
    oracle="""
    WITH RECURSIVE base AS (
      SELECT DISTINCT 'P' || l_partkey AS src, 'S' || l_suppkey AS dst
      FROM lineitem
    ), und AS (
      SELECT src, dst FROM base UNION SELECT dst AS src, src AS dst FROM base
    ), roots AS (
      SELECT src AS root FROM und GROUP BY src ORDER BY MD5(src) LIMIT 64
    ), reach(root, node, dist) AS (
      SELECT root, root AS node, 0 AS dist FROM roots
      UNION
      SELECT r.root, e.dst AS node, r.dist + 1 AS dist
      FROM reach r JOIN und e ON e.src = r.node
      WHERE r.dist < 8
    ), mindist AS (
      SELECT root, node, MIN(dist) AS dist FROM reach GROUP BY root, node
    )
    SELECT root AS node,
           CAST(MAX(dist) AS INT) AS eccentricity,
           ROUND(CAST(COUNT(*) - 1 AS DOUBLE) / SUM(dist), 6) AS closeness
    FROM mindist GROUP BY root
    """,
)
def gk_eccentricity_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G4/G5/G7 — per-node eccentricity (integer, exact) and closeness
    centrality ((reachable−1)/Σdist, rounded 6dp on both sides) for the 64
    md5-ordered landmark roots (igraph eccentricity/closeness,
    bin/CompareNetworkGroups.R:108-114, doc/manuscript.md:199-215). Shares
    the landmark-BFS pattern with gk_diameter_radius; the oracle replays
    it as the same depth-capped recursive CTE."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.kernels import (
        bfs_distances,
        closeness_centrality,
        eccentricity,
        symmetrize,
    )
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.plans.testdata_graph import infects_edges

    e = infects_edges(spark, sf_dir).select("src", "dst")
    landmarks = (
        symmetrize(e)
        .select(F.col("src").alias("root"))
        .distinct()
        .orderBy(F.md5(F.col("root")))
        .limit(64)
    )
    d = bfs_distances(e, sources=landmarks, max_depth=8, allow_truncated=True)
    return eccentricity(d).join(closeness_centrality(d), "node")


@query(
    "gk_connectivity",
    oracle="""
    WITH RECURSIVE base AS (
      SELECT DISTINCT 'P' || l_partkey AS src, 'S' || l_suppkey AS dst
      FROM lineitem
    ), nodes AS (
      SELECT src AS node FROM base UNION SELECT dst AS node FROM base
    ), pv AS (
      SELECT MIN(node) AS root FROM nodes
    ), fwd(node, dist) AS (
      SELECT root AS node, 0 AS dist FROM pv
      UNION
      SELECT e.dst AS node, f.dist + 1 AS dist
      FROM fwd f JOIN base e ON e.src = f.node WHERE f.dist < 30
    ), bwd(node, dist) AS (
      SELECT root AS node, 0 AS dist FROM pv
      UNION
      SELECT e.src AS node, b.dist + 1 AS dist
      FROM bwd b JOIN base e ON e.dst = b.node WHERE b.dist < 30
    ), und AS (
      SELECT src, dst FROM base UNION SELECT dst AS src, src AS dst FROM base
    ), wk(node, dist) AS (
      SELECT root AS node, 0 AS dist FROM pv
      UNION
      SELECT e.dst AS node, w.dist + 1 AS dist
      FROM wk w JOIN und e ON e.src = w.node WHERE w.dist < 30
    ), c AS (
      SELECT (SELECT CAST(COUNT(DISTINCT node) AS BIGINT) FROM nodes) AS n_nodes,
             (SELECT CAST(COUNT(DISTINCT node) AS BIGINT) FROM fwd) AS forward_reach,
             (SELECT CAST(COUNT(DISTINCT node) AS BIGINT) FROM bwd) AS backward_reach,
             (SELECT CAST(COUNT(DISTINCT node) AS BIGINT) FROM wk) AS weak_reach
    )
    SELECT n_nodes, forward_reach, backward_reach, weak_reach,
           CAST(CASE WHEN forward_reach = n_nodes AND backward_reach = n_nodes
                THEN 1 ELSE 0 END AS INT) AS strongly_connected,
           CAST(CASE WHEN weak_reach = n_nodes THEN 1 ELSE 0 END AS INT)
             AS weakly_connected
    FROM c
    """,
)
def gk_connectivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G3 — strong/weak connectivity of the directed Infects graph
    (igraph is.connected(mode="strong"|"weak"),
    bin/GeneralNetworkProperties.R:68-84). Two directed BFS sweeps + one
    undirected from the deterministic min-id pivot — a whole-graph
    connectivity CHECK never needs SCC decomposition. Oracle: the same
    three sweeps as depth-capped recursive CTEs (integer counts → exact
    match). The bipartite phage→host graph is never strongly connected
    (no cycles) but its weak connectivity is the reference's actual
    published check."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.kernels import connectivity_summary
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.plans.testdata_graph import infects_edges

    e = infects_edges(spark, sf_dir).select("src", "dst")
    return connectivity_summary(e, max_depth=30)


# Fixed-iteration kernels ARE SQL-expressible: a power-iteration loop with
# a known iteration count unrolls into chained CTEs (one pair per
# superstep), so DuckDB replays the exact arithmetic and the driver gets a
# full value-hash check instead of rows-only. FP summation order still
# differs between engines (~1e-14 relative); both sides round to 6 dp,
# far above the noise floor.


def _eigencent_oracle(iters: int) -> str:
    parts = [
        """
    WITH base AS (
      SELECT 'P' || l_partkey AS src, 'S' || l_suppkey AS dst,
             CAST(ROUND(AVG(l_extendedprice), 4) AS DOUBLE) AS w
      FROM lineitem GROUP BY 1, 2
    ), und AS MATERIALIZED (
      SELECT src, dst, MAX(w) AS w FROM (
        SELECT src, dst, w FROM base
        UNION ALL
        SELECT dst AS src, src AS dst, w FROM base
      ) GROUP BY src, dst
    ), shift AS MATERIALIZED (
      SELECT MAX(wd) AS s FROM (SELECT src, SUM(w) AS wd FROM und GROUP BY src)
    ), s0 AS MATERIALIZED (
      SELECT DISTINCT src AS node, CAST(1.0 AS DOUBLE) AS score FROM und
    )"""
    ]
    for k in range(1, iters + 1):
        parts.append(
            f""", m{k} AS (
      SELECT e.dst AS node, SUM(e.w * s.score) AS ax
      FROM s{k - 1} s JOIN und e ON e.src = s.node GROUP BY e.dst
    ), r{k} AS MATERIALIZED (
      SELECT m.node, m.ax + shift.s * s.score AS raw
      FROM m{k} m CROSS JOIN shift JOIN s{k - 1} s ON s.node = m.node
    ), n{k} AS (
      SELECT SQRT(SUM(raw * raw)) AS nrm FROM r{k}
    ), s{k} AS MATERIALIZED (
      SELECT node, raw / nrm AS score FROM r{k} CROSS JOIN n{k}
    )"""
        )
    parts.append(
        f""", mx AS (SELECT MAX(score) AS mx FROM s{iters})
    SELECT node, ROUND(score / mx.mx, 6) AS centrality
    FROM s{iters} CROSS JOIN mx"""
    )
    return "".join(parts)


@query("gk_eigenvector_centrality", oracle=_eigencent_oracle(15))
def gk_eigenvector_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G6 — weighted eigenvector centrality on the Infects graph
    (bin/interpersonaldiversity.R:98-114), blast-score weights. The
    oracle unrolls the 15 shifted power-iteration supersteps (A + sI,
    s = max weighted degree, L2-normalized per step, scaled to max=1)
    into chained CTEs — full value-hash parity for an iterative kernel."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.kernels import eigenvector_centrality
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.plans.testdata_graph import infects_edges

    e = infects_edges(spark, sf_dir).select("src", "dst", F.col("blast").alias("weight"))
    return eigenvector_centrality(e, weight_col="weight", max_iter=15)


def _pagerank_oracle(iters: int, damping: float) -> str:
    # inject the exact doubles Spark computes with (1-0.85 is not 0.15 in
    # binary; repr round-trips the bit pattern)
    d, base = repr(damping), repr(1 - damping)
    parts = [
        """
    WITH base AS (
      SELECT DISTINCT 'P' || l_partkey AS src, 'S' || l_suppkey AS dst
      FROM lineitem
    ), und AS MATERIALIZED (
      SELECT src, dst FROM base UNION SELECT dst AS src, src AS dst FROM base
    ), outd AS MATERIALIZED (
      SELECT src, CAST(COUNT(*) AS DOUBLE) AS od FROM und GROUP BY src
    ), nodes AS MATERIALIZED (
      SELECT DISTINCT src AS node FROM und
    ), nn AS MATERIALIZED (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes
    ), r0 AS (
      SELECT node, CAST(1.0 AS DOUBLE) / n AS rank FROM nodes CROSS JOIN nn
    )"""
    ]
    for k in range(1, iters + 1):
        parts.append(
            f""", r{k} AS MATERIALIZED (
      SELECT nodes.node,
             CAST({base} AS DOUBLE) / nn.n
               + CAST({d} AS DOUBLE) * COALESCE(c.m, 0) AS rank
      FROM nodes CROSS JOIN nn
      LEFT JOIN (
        SELECT e.dst AS node, SUM((e.w / o.od) * r.rank) AS m
        FROM r{k - 1} r
        JOIN (SELECT src, dst, CAST(1.0 AS DOUBLE) AS w FROM und) e
          ON e.src = r.node
        JOIN outd o ON o.src = r.node
        GROUP BY e.dst
      ) c ON c.node = nodes.node
    )"""
        )
    parts.append(
        f"""
    SELECT node, ROUND(ROUND(rank, 8), 6) AS pagerank FROM r{iters}"""
    )
    return "".join(parts)


def _katz_oracle(iters: int) -> str:
    parts = [
        """
    WITH base AS MATERIALIZED (
      SELECT DISTINCT 'P' || l_partkey AS src, 'S' || l_suppkey AS dst
      FROM lineitem
    ), und AS MATERIALIZED (
      SELECT src, dst FROM base UNION SELECT dst AS src, src AS dst FROM base
    ), nodes AS MATERIALIZED (
      SELECT DISTINCT src AS node FROM und
    ), a AS MATERIALIZED (
      SELECT CAST(0.5 AS DOUBLE) / MAX(deg) AS alpha
      FROM (SELECT src, COUNT(*) AS deg FROM und GROUP BY src)
    ), x0 AS (
      SELECT node, CAST(1.0 AS DOUBLE) AS katz FROM nodes
    )"""
    ]
    for k in range(1, iters + 1):
        parts.append(
            f""", x{k} AS MATERIALIZED (
      SELECT nodes.node,
             CAST(1.0 AS DOUBLE)
               + a.alpha * COALESCE(m.s, 0) AS katz
      FROM nodes CROSS JOIN a
      LEFT JOIN (
        SELECT e.dst AS node, SUM(1.0 * x.katz) AS s
        FROM x{k - 1} x JOIN und e ON e.src = x.node
        GROUP BY e.dst
      ) m ON m.node = nodes.node
    )"""
        )
    parts.append(f"""
    SELECT node, ROUND(katz, 6) AS katz FROM x{iters}""")
    return "".join(parts)


@query("gk_katz_centrality", oracle=_katz_oracle(15))
def gk_katz_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G8 — Katz-Bonacich centrality on the Infects graph by truncated
    Neumann series (the fixed-iteration, shuffle-decomposable twin of
    gk_alpha_centrality's exact solve; bin/compareTwins.R:95-97).
    α = 0.5/max-degree (Gershgorin-safe, data-derived on BOTH sides so
    the oracle replays the exact same series)."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.kernels import (
        degrees,
        katz_centrality,
    )
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.plans.testdata_graph import infects_edges

    e = infects_edges(spark, sf_dir).select("src", "dst")
    alpha_df = degrees(e).agg((0.5 / F.max("degree")).alias("a"))
    return katz_centrality(e, alpha=alpha_df, max_iter=15)


@query("gk_pagerank", oracle=_pagerank_oracle(10, 0.85))
def gk_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G9 — PageRank on the Infects graph (bin/compareTwins.R:98-100).
    The oracle unrolls the 10 damped supersteps into chained CTEs (the
    kernel rounds to 8 dp; both sides re-round to 6 for the value hash)."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.kernels import pagerank
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.plans.testdata_graph import infects_edges

    e = infects_edges(spark, sf_dir).select("src", "dst")
    return pagerank(e, max_iter=10).select(
        "node", F.round("pagerank", 6).alias("pagerank")
    )


def _lpa_modularity_oracle(iters: int) -> str:
    parts = [
        """
    WITH base AS MATERIALIZED (
      SELECT DISTINCT 'P' || l_partkey AS src, 'S' || l_suppkey AS dst
      FROM lineitem
    ), und AS MATERIALIZED (
      SELECT src, dst FROM base UNION SELECT dst AS src, src AS dst FROM base
    ), l0 AS MATERIALIZED (
      SELECT DISTINCT src AS node, src AS community FROM und
    )"""
    ]
    for k in range(1, iters + 1):
        parts.append(
            f""", v{k} AS (
      SELECT e.dst AS node, l.community, COUNT(*) AS votes
      FROM l{k - 1} l JOIN und e ON e.src = l.node
      GROUP BY e.dst, l.community
    ), l{k} AS MATERIALIZED (
      SELECT node, community FROM (
        SELECT node, community,
               ROW_NUMBER() OVER (
                 PARTITION BY node ORDER BY votes DESC, community ASC
               ) AS rn
        FROM v{k}
      ) WHERE rn = 1
    )"""
        )
    parts.append(
        f""", ej AS MATERIALIZED (
      SELECT a.community AS cs, b.community AS cd
      FROM und u
      JOIN l{iters} a ON a.node = u.src
      JOIN l{iters} b ON b.node = u.dst
    ), m2 AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS m2 FROM ej
    ), deg AS (
      SELECT cs AS community,
             CAST(COUNT(*) AS BIGINT) AS d_c,
             CAST(COUNT(*) FILTER (WHERE cs = cd) AS BIGINT) AS e_c2
      FROM ej GROUP BY cs
    )
    SELECT ROUND(SUM(e_c2 / m2.m2 - POWER(d_c / m2.m2, 2)), 6) AS modularity
    FROM deg CROSS JOIN m2"""
    )
    return "".join(parts)


@query("gk_communities_modularity", oracle=_lpa_modularity_oracle(5))
def gk_communities_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G11 — label-propagation communities + Newman modularity
    (bin/CompareNetworkGroups.R:66-69). Synchronous LPA with
    (votes desc, label asc) tie-breaks is fully deterministic, so the 5
    supersteps unroll into chained CTEs like the power-iteration kernels
    and the modularity reduction gets the full value-hash check."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.kernels import (
        label_propagation,
        modularity,
    )
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.plans.testdata_graph import infects_edges

    e = infects_edges(spark, sf_dir).select("src", "dst")
    comm = label_propagation(e, max_iter=5)
    return modularity(e, comm)


def _fixture_values_sql(rows, schema) -> str:
    """Literal-expected-table oracle for deterministic non-SQL solvers
    (CNM agglomeration, dense centrality solves): the frozen sf0.01
    output of the query itself, regenerated by
    tools/gen_fixture_oracles.py — the same literal-injection technique
    ss_srp_lsh_topk uses for its hyperplanes.  Valid at the driver's
    sf0.01 gate only (the driver never runs oracles at other scales)."""

    import math

    def lit(v):
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        if isinstance(v, float):
            if math.isinf(v):
                return ("CAST('infinity' AS DOUBLE)" if v > 0
                        else "CAST('-infinity' AS DOUBLE)")
            # string→double cast is correctly rounded; a bare numeric
            # literal goes through DECIMAL first (double rounding, off
            # by 1 ulp on long mantissas)
            return f"CAST('{v!r}' AS DOUBLE)"
        return repr(v)

    vals = ",\n      ".join("(" + ", ".join(lit(v) for v in r) + ")" for r in rows)
    cols = ", ".join(f"CAST({n} AS {t}) AS {n}" for n, t in schema)
    names = ", ".join(n for n, _ in schema)
    return f"SELECT {cols} FROM (VALUES\n      {vals}) AS t({names})"


@query(
    "gk_greedy_modularity",
    oracle=_fixture_values_sql(
        _fx.GK_GREEDY_MODULARITY_SF001,
        [("grp", "VARCHAR"), ("node", "VARCHAR"),
         ("community", "VARCHAR"), ("modularity", "DOUBLE")],
    ),
)
def gk_greedy_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G11 exact fallback — CNM greedy modularity agglomeration on
    per-disease Infects subgraphs (the reference's walktrap/fastgreedy
    path, bin/CompareNetworkGroups.R:66-69; SURVEY §7 risk register:
    'LPA + a driver-side exact fallback for small graphs').  Grouped —
    all disease subgraphs merge in one applyInPandas job.  The greedy
    agglomeration sequence isn't SQL-expressible but IS exactly
    deterministic (ordered tie-breaks), so the oracle is the frozen
    sf0.01 expected table (tools/gen_fixture_oracles.py); the algorithm
    itself is pinned by test_kernels closed-form igraph fixtures."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.kernels import greedy_modularity
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.schemas import load_table

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_partkey") <= 120)
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    seg = (
        orders.join(F.broadcast(cust.select("c_custkey", "c_mktsegment")),
                    orders.o_custkey == F.col("c_custkey"))
        .select("o_orderkey", "c_mktsegment")
    )
    e = (
        li.join(seg, li.l_orderkey == F.col("o_orderkey"))
        .select(
            F.col("c_mktsegment").alias("grp"),
            F.concat(F.lit("P"), F.col("l_partkey")).alias("src"),
            F.concat(F.lit("S"), F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
    )
    return greedy_modularity(e, group_cols=["grp"]).orderBy("grp", "node")


# =========================================================================
# Training-data pipeline: dedup / similarity / text analysis (north star)
# =========================================================================


@query(
    "dd_exact_dedup",
    oracle="""
    WITH fp AS (
      SELECT doc_id AS id,
             MD5(CASE WHEN TRIM(REGEXP_REPLACE(LOWER(text), '[^a-z0-9]+', ' ', 'g')) <> '' THEN TRIM(REGEXP_REPLACE(LOWER(text), '[^a-z0-9]+', ' ', 'g')) ELSE chr(0) || 'raw' || chr(0) || COALESCE(text, '') END) AS fingerprint
      FROM documents
    ), keep AS (
      SELECT fingerprint, MIN(id) AS keeper_id FROM fp GROUP BY fingerprint
    )
    SELECT fp.id, fp.fingerprint, keep.keeper_id,
           CAST(CASE WHEN fp.id <> keep.keeper_id THEN 1 ELSE 0 END AS INT) AS is_dup
    FROM fp JOIN keep ON fp.fingerprint = keep.fingerprint
    """,
)
def dd_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via normalized-text md5 (hash groupBy + min-id keeper)."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.dedup import exact_dedup

    return exact_dedup(_t(spark, sf_dir, "documents"))


_INGEST_FP = (
    "MD5(CASE WHEN TRIM(REGEXP_REPLACE(LOWER(text), '[^a-z0-9]+', ' ', 'g')) <> '' "
    "THEN TRIM(REGEXP_REPLACE(LOWER(text), '[^a-z0-9]+', ' ', 'g')) "
    "ELSE chr(0) || 'raw' || chr(0) || COALESCE(text, '') END)"
)


@query(
    "dd_ingest_dedup",
    oracle=f"""
    WITH store AS (
      SELECT DISTINCT {_INGEST_FP} AS fingerprint
      FROM documents WHERE doc_id % 10 < 8
    ), inc AS (
      SELECT doc_id AS id, text FROM documents WHERE doc_id % 10 >= 8
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents
      WHERE doc_id % 10 < 8 AND doc_id % 37 = 0
      UNION ALL
      SELECT doc_id + 2000000, text FROM documents
      WHERE doc_id % 10 >= 8 AND doc_id % 23 = 0
    ), fp AS (
      SELECT id, {_INGEST_FP} AS fingerprint FROM inc
    ), keep AS (
      SELECT fingerprint, MIN(id) AS k FROM fp GROUP BY fingerprint
    )
    SELECT fp.id, fp.fingerprint,
           CASE WHEN fp.fingerprint IN (SELECT fingerprint FROM store)
                THEN 'dup_store'
                WHEN fp.id <> keep.k THEN 'dup_batch'
                ELSE 'new' END AS status
    FROM fp JOIN keep USING (fingerprint)
    """,
)
def dd_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (delta-batch) dedup against a persisted fingerprint
    store — the corpus maintenance loop: 80% of documents form the
    store, the remaining 20% arrive as a batch salted with re-idded
    clones of store docs (→ dup_store) and of in-batch docs
    (→ dup_batch).  The store never shuffles: delta fingerprints
    broadcast onto one store scan, the matched set broadcasts back."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.dedup import (
        fingerprint_store,
        ingest_dedup,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    d = F.col("doc_id")
    store_docs = docs.filter(d % 10 < 8)
    fresh = docs.filter(d % 10 >= 8)
    incoming = (
        fresh.unionByName(
            store_docs.filter(d % 37 == 0).select(
                (d + 1000000).alias("doc_id"), "text"
            )
        )
        .unionByName(
            fresh.filter(d % 23 == 0).select((d + 2000000).alias("doc_id"), "text")
        )
    )
    return ingest_dedup(incoming, fingerprint_store(store_docs))


# The gate → append → gate statistic in pure SQL: the store layout
# never appears in it, so the versioned layout being query-invisible
# IS the assertion.
_STORE_APPEND_ORACLE = f"""
    WITH store0 AS (
      SELECT DISTINCT {_INGEST_FP} AS fingerprint
      FROM documents WHERE doc_id % 10 < 6
    ), r1 AS (
      SELECT doc_id AS id, text FROM documents
      WHERE doc_id % 10 IN (6, 7)
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents
      WHERE doc_id % 10 < 6 AND doc_id % 37 = 0
    ), fp1 AS (
      SELECT id, {_INGEST_FP} AS fingerprint FROM r1
    ), store1 AS (
      -- run 1's admits are exactly the delta fingerprints absent from
      -- the store (each has one 'new' keeper row); append = set union
      SELECT fingerprint FROM store0
      UNION
      SELECT fingerprint FROM fp1
    ), r2 AS (
      SELECT doc_id AS id, text FROM documents WHERE doc_id % 10 >= 8
      UNION ALL
      SELECT doc_id + 2000000, text FROM documents
      WHERE doc_id % 10 IN (6, 7) AND doc_id % 23 = 0
      UNION ALL
      SELECT doc_id + 3000000, text FROM documents
      WHERE doc_id % 10 >= 8 AND doc_id % 31 = 0
    ), fp2 AS (
      SELECT id, {_INGEST_FP} AS fingerprint FROM r2
    ), keep2 AS (
      SELECT fingerprint, MIN(id) AS k FROM fp2 GROUP BY fingerprint
    )
    SELECT fp2.id, fp2.fingerprint,
           CASE WHEN fp2.fingerprint IN (SELECT fingerprint FROM store1)
                THEN 'dup_store'
                WHEN fp2.id <> keep2.k THEN 'dup_batch'
                ELSE 'new' END AS status
    FROM fp2 JOIN keep2 USING (fingerprint)
    """


@query("dd_ingest_versioned_store", oracle=_STORE_APPEND_ORACLE)
def dd_ingest_versioned_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The admission-gate store maintenance loop end-to-end through a
    VERSIONED (object-store-safe) store root — the evidence that the
    manifest/pointer-swap layout is QUERY-INVISIBLE: the oracle
    replays the plain gate → append → gate statistic, so any layout
    effect on the decisions would mismatch it.

    Flow (gate_maintenance.py): `convert_store_to_versioned` on the
    empty path creates the root versioned from day one (no rename,
    ever); the initial store and every gate read go through
    `resolve_store` (root → live `v<N>/`); run 1 gates docs with
    doc_id%10 in {6,7} (plus re-idded store clones) and
    append_admitted_fingerprints persists its admits (resolving the
    layout internally); `compact_store` then runs the MANIFEST-FLIP
    rewrite between the runs — v1 written to v2, one atomic
    `_MANIFEST-v2` create, v1 GC'd — and run 2 (doc_id%10 >= 8, salted
    with clones of run-1 docs and itself) gates against the flipped
    store.  Returned: run 2's decisions — the run-1 clones flag
    dup_store THROUGH the append AND the flip, so a rewrite that
    dropped or duplicated rows would hash-mismatch the oracle.  The
    oracle replays both runs in pure SQL (append = set union); the
    layout never appears in it — that invisibility is the assertion.
    Ad-hoc reads of such a root outside a driver entry use the
    `read_store` facade (claim + resolve + read; r12)."""
    import atexit
    import shutil
    import tempfile

    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.dedup import (
        fingerprint_store,
        ingest_dedup,
    )
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.gate_maintenance import (
        append_admitted_fingerprints,
        compact_store,
        convert_store_to_versioned,
        resolve_store,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    d = F.col("doc_id")
    t = tempfile.mkdtemp(prefix="sg_verstore_")
    atexit.register(shutil.rmtree, t, ignore_errors=True)
    root = f"{t}/fp_store"
    convert_store_to_versioned(spark, root)  # versioned from day one
    fingerprint_store(docs.filter(d % 10 < 6)).write.mode("append").parquet(
        resolve_store(spark, root)
    )

    run1_fresh = docs.filter((d % 10 >= 6) & (d % 10 < 8))
    run1 = run1_fresh.unionByName(
        docs.filter((d % 10 < 6) & (d % 37 == 0)).select(
            (d + 1000000).alias("doc_id"), "text"
        )
    )
    dec1 = ingest_dedup(
        run1, spark.read.parquet(resolve_store(spark, root))
    ).localCheckpoint(eager=False)
    append_admitted_fingerprints(dec1, root)

    # the between-runs maintenance rewrite: v1 → v2 via the atomic
    # manifest flip (zero renames of the live tree)
    compact_store(spark, root)

    run2_fresh = docs.filter(d % 10 >= 8)
    run2 = run2_fresh.unionByName(
        run1_fresh.filter(d % 23 == 0).select((d + 2000000).alias("doc_id"), "text")
    ).unionByName(
        run2_fresh.filter(d % 31 == 0).select((d + 3000000).alias("doc_id"), "text")
    )
    return ingest_dedup(run2, spark.read.parquet(resolve_store(spark, root)))


@query(
    "dd_retire_readmit",
    oracle=f"""
    WITH store0 AS (
      SELECT DISTINCT {_INGEST_FP} AS fingerprint
      FROM documents WHERE doc_id % 10 < 6
    ), r1 AS (
      SELECT doc_id AS id, text FROM documents WHERE doc_id % 10 IN (6, 7)
    ), fp1 AS (
      SELECT id, {_INGEST_FP} AS fingerprint FROM r1
    ), store1 AS (
      -- run 1's admits are the delta fingerprints absent from store0,
      -- so the post-append store collapses to a set union
      SELECT fingerprint FROM store0
      UNION
      SELECT fingerprint FROM fp1
    ), retired AS (
      -- the takedown set: every fingerprint carried by a doc_id%5=0 doc
      SELECT DISTINCT {_INGEST_FP} AS fingerprint
      FROM documents WHERE doc_id % 10 < 8 AND doc_id % 5 = 0
    ), store2 AS (
      -- retire_from_store is an anti-join on the store key
      SELECT fingerprint FROM store1
      EXCEPT
      SELECT fingerprint FROM retired
    ), r2 AS (
      SELECT doc_id + 1000000 AS id, text FROM documents
      WHERE doc_id % 10 < 8 AND doc_id % 5 = 0
      UNION ALL
      SELECT doc_id + 2000000, text FROM documents
      WHERE doc_id % 10 < 8 AND doc_id % 5 <> 0 AND doc_id % 11 = 0
      UNION ALL
      SELECT doc_id, text FROM documents WHERE doc_id % 10 >= 8
    ), fp2 AS (
      SELECT id, {_INGEST_FP} AS fingerprint FROM r2
    ), keep2 AS (
      SELECT fingerprint, MIN(id) AS k FROM fp2 GROUP BY fingerprint
    )
    SELECT fp2.id, fp2.fingerprint,
           CASE WHEN fp2.fingerprint IN (SELECT fingerprint FROM store2)
                THEN 'dup_store'
                WHEN fp2.id <> keep2.k THEN 'dup_batch'
                ELSE 'new' END AS status
    FROM fp2 JOIN keep2 USING (fingerprint)
    """,
)
def dd_retire_readmit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TAKEDOWN half of the admission-gate store lifecycle, as a
    driver row (r11 — the r10 verdict's missing #2; gate_maintenance.py
    retire_from_store, the targeted replacement for the reference's
    drop-and-rebuild loads, Makefile:461-473): gate → append → RETIRE →
    gate.  Run 1 gates docs with doc_id%10 in {6,7} against the
    persisted store (doc_id%10 < 6) and append_admitted_fingerprints
    persists its admits; retire_from_store then anti-joins out every
    fingerprint carried by a doc_id%5=0 doc (the takedown batch); run 2
    feeds re-idded clones of the RETIRED docs (must flag 'new' again —
    readmission is the documented query-visible semantic of a store
    retirement), clones of SURVIVING docs (must still flag dup_store —
    the retirement touched only its keys), and fresh doc_id%10 >= 8
    docs.  Returned: run 2's decisions.  The oracle replays both runs
    and the retirement in pure SQL (append = set union, retirement =
    EXCEPT on the store key)."""
    import atexit
    import shutil
    import tempfile

    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.dedup import (
        fingerprint_store,
        ingest_dedup,
    )
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.gate_maintenance import (
        append_admitted_fingerprints,
        retire_from_store,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    d = F.col("doc_id")
    t = tempfile.mkdtemp(prefix="sg_retire_")
    atexit.register(shutil.rmtree, t, ignore_errors=True)
    store_path = f"{t}/fp_store"
    fingerprint_store(docs.filter(d % 10 < 6)).write.parquet(store_path)

    run1 = docs.filter((d % 10 >= 6) & (d % 10 < 8))
    dec1 = ingest_dedup(run1, spark.read.parquet(store_path)).localCheckpoint(
        eager=False
    )
    append_admitted_fingerprints(dec1, store_path)

    # the takedown between runs: retire every fingerprint carried by a
    # doc_id%5=0 doc (fingerprint_store derives the key set with the
    # gate's own fingerprint definition — key parity by construction)
    retired_src = docs.filter((d % 10 < 8) & (d % 5 == 0))
    retire_from_store(
        spark, store_path, fingerprint_store(retired_src), "fingerprint"
    )

    surviving_src = docs.filter((d % 10 < 8) & (d % 5 != 0) & (d % 11 == 0))
    run2 = (
        retired_src.select((d + 1000000).alias("doc_id"), "text")
        .unionByName(surviving_src.select((d + 2000000).alias("doc_id"), "text"))
        .unionByName(docs.filter(d % 10 >= 8))
    )
    return ingest_dedup(run2, spark.read.parquet(store_path))


@query(
    "dd_jaccard_pairs",
    oracle="""
    WITH norm AS (
      SELECT doc_id AS id,
             string_split(TRIM(REGEXP_REPLACE(LOWER(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS toks
      FROM documents
    ), idx AS (
      SELECT unnest(generate_series(1, 4096)) AS i
    ), sh AS (
      SELECT DISTINCT id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
      FROM norm CROSS JOIN idx
      WHERE i <= len(toks) - 2
    ), sizes AS (
      SELECT id, COUNT(*) AS n FROM sh GROUP BY id
    ), inter AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, ROUND(i / (na.n + nb.n - i), 6) AS jaccard
    FROM inter JOIN sizes na ON inter.id_a = na.id
               JOIN sizes nb ON inter.id_b = nb.id
    WHERE i / (na.n + nb.n - i) >= 0.12
    """,
)
def dd_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-shingle Jaccard near-dup pairs ≥ 0.12 (n-gram Jaccard
    dedup; explode-join plan)."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.dedup import jaccard_pairs

    return jaccard_pairs(_t(spark, sf_dir, "documents"), threshold=0.12)


# Cross-engine building blocks for the hash-family oracles: normalized
# text and the md5-based 60-bit token hash (see dedup.portable_token_hash
# — DuckDB computes the same value from the md5 hex digits).
_NORM_SQL = "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"
_MD5_60 = (
    "list_sum(list_transform(generate_series(1, 15), "
    "j -> (CAST(strpos('0123456789abcdef', substr(md5({c}), j, 1)) AS BIGINT) - 1) "
    "* (CAST(1 AS BIGINT) << (4 * (15 - j)))))"
)

# Synthetic event-time the streaming-gate entries stamp on each doc
# (epoch 1700000000 + id seconds) — the oracle replays first_ts as a
# pure function of the id, so re-deliveries don't perturb it.
_GATE_TS = """,
           strftime(TIMESTAMP '2023-11-14 22:13:20'
                    + to_seconds(CAST({id} AS BIGINT)),
                    '%Y-%m-%d %H:%M:%S') AS first_ts"""


@query(
    "dd_simhash",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id AS id,
             unnest(string_split({_NORM_SQL}, ' ')) AS token
      FROM documents
    ), th AS (
      SELECT id, {_MD5_60.format(c="token")} AS h FROM tok
    ), bitsums AS (
      SELECT id, j,
             SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM th CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS j)
      GROUP BY id, j
    )
    SELECT id,
           CAST(SUM(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << j ELSE 0 END)
                AS BIGINT) AS simhash
    FROM bitsums GROUP BY id
    """,
)
def dd_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints with the portable md5 hash family (60 bits),
    so the DuckDB oracle reproduces every fingerprint bit-for-bit from
    the md5 hex digits. The engine default family is xxhash64/64-bit
    (cheaper per token); near-dup recall of the banded pair search is
    covered by test_dedup_similarity either way."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.dedup import (
        portable_token_hash,
        simhash,
    )

    return simhash(
        _t(spark, sf_dir, "documents"), bits=60, hash_fn=portable_token_hash
    )


# No standalone signature entry: the 16-perm portable signature math
# needs none, because dd_minhash_lsh's oracle recomputes the SAME affine
# signatures (identical seeded coefficients, Mersenne modulus, md5-60
# base hash) as the first CTEs of its banding+estimation replay, so the
# signature check is strictly contained in that entry.  See
# _lsh_oracle_tail below.


def _lsh_oracle_tail(
    shingle_ctes: str, num_hashes: int, bands: int, threshold: float
) -> str:
    """Shared DuckDB twin of the banded LSH pair search, parameterized by
    the CTE chain that produces (id, shingle) rows as `sh`: same affine
    signatures as the engine, candidates = pairs agreeing on at least one
    whole band, est_jaccard = signature agreement fraction. The n² join
    is oracle-side only — the engine side shuffles on band keys."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.dedup import (
        _MERSENNE,
        _hash_coeffs,
    )

    rpb = num_hashes // bands
    mins = ",\n           ".join(
        f"CAST(MIN((h * {a} + {b}) % {_MERSENNE}) AS BIGINT) AS h{i}"
        for i, (a, b) in enumerate(_hash_coeffs(num_hashes, seed=42))
    )
    band_conds = "\n        OR ".join(
        "("
        + " AND ".join(f"a.h{b * rpb + j} = s.h{b * rpb + j}" for j in range(rpb))
        + ")"
        for b in range(bands)
    )
    agree = " + ".join(
        f"(CASE WHEN a.h{i} = s.h{i} THEN 1 ELSE 0 END)" for i in range(num_hashes)
    )
    return f"""
    WITH {shingle_ctes}, th AS (
      SELECT id, {_MD5_60.format(c="shingle")} % {_MERSENNE} AS h FROM sh
    ), sig AS MATERIALIZED (
      SELECT id,
           {mins}
      FROM th GROUP BY id
    )
    SELECT a.id AS id_a, s.id AS id_b,
           ROUND(({agree}) / {num_hashes}.0, 6) AS est_jaccard
    FROM sig a JOIN sig s
      ON a.id < s.id
     AND ({band_conds})
    WHERE ROUND(({agree}) / {num_hashes}.0, 6) >= {threshold}
    """


_TOKEN_SHINGLE_CTES = f"""toks AS (
      SELECT doc_id AS id,
             string_split({_NORM_SQL}, ' ') AS t
      FROM documents
    ), pos AS (
      SELECT id, t,
             unnest(CASE WHEN len(t) >= 3 THEN generate_series(1, len(t) - 2)
                         ELSE CAST([] AS BIGINT[]) END) AS i
      FROM toks
    ), sh AS (
      SELECT DISTINCT id, array_to_string(list_slice(t, i, i + 2), ' ') AS shingle
      FROM pos
    )"""


def _minhash_lsh_oracle(num_hashes: int = 32, bands: int = 8) -> str:
    """Token-shingle LSH oracle: 3-token shingles of normalized text."""
    return _lsh_oracle_tail(_TOKEN_SHINGLE_CTES, num_hashes, bands, 0.25)


def _kmer_minhash_oracle(k: int = 8, num_hashes: int = 32, bands: int = 8) -> str:
    """Character-k-mer LSH oracle: k-char shingles of the upper-cased
    sequence (documents.text standing in for contig sequences)."""
    shingle_ctes = f"""pos AS (
      SELECT doc_id AS id, upper(text) AS s,
             unnest(CASE WHEN length(upper(text)) >= {k}
                         THEN generate_series(1, length(upper(text)) - {k - 1})
                         ELSE CAST([] AS BIGINT[]) END) AS i
      FROM documents
    ), sh AS (
      SELECT DISTINCT id, substr(s, i, {k}) AS shingle FROM pos
    )"""
    return _lsh_oracle_tail(shingle_ctes, num_hashes, bands, 0.25)


@query("dd_minhash_lsh", oracle=_minhash_lsh_oracle())
def dd_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH banded near-dup pair search, portable md5 family +
    band-content bucket keys: the oracle replays shingling → 32-perm
    signatures → 8-band candidate join → Jaccard estimation end-to-end.
    The operator's default (xxhash64 family, hashed band buckets) is the
    cheaper corpus-scale configuration — identical plan shape, covered by
    test_dedup_similarity recall/precision fixtures — but its engine-
    internal hash isn't SQL-replayable, so the registered entry pins the
    portable family for the oracle gate."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.dedup import (
        minhash_lsh_pairs,
        portable_token_hash,
    )

    return minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"),
        hash_fn=portable_token_hash,
        bucket_by_hash=False,
    ).filter(F.col("est_jaccard") >= 0.25)


def _minhash_ingest_oracle(
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.25,
    with_ts: bool = False,
) -> str:
    """DuckDB twin of minhash_ingest_dedup over minhash_store: store =
    doc_id % 10 < 8; delta = the rest PLUS re-idded store clones (which
    must flag dup_near at est 1.0).  Same affine md5-family signatures
    as dd_minhash_lsh; candidates = delta×store pairs agreeing on ≥1
    whole band; per delta doc the best match (max estimate, ties
    smallest store id) and the threshold status; docs with no bucket
    collision (or too short to shingle) stay 'new' with NULL match.
    with_ts adds the synthetic event-time the foreachBatch streaming
    twin (ev_minhash_ingest_foreach) emits — a doc's decision depends
    only on (doc, store), so the streamed answer collapses to this
    batch one whichever micro-batch delivers the doc first."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.dedup import (
        _MERSENNE,
        _hash_coeffs,
    )

    rpb = num_hashes // bands
    mins = ",\n           ".join(
        f"CAST(MIN((h * {a} + {b}) % {_MERSENNE}) AS BIGINT) AS h{i}"
        for i, (a, b) in enumerate(_hash_coeffs(num_hashes, seed=42))
    )
    band_conds = "\n        OR ".join(
        "("
        + " AND ".join(f"a.h{b * rpb + j} = s.h{b * rpb + j}" for j in range(rpb))
        + ")"
        for b in range(bands)
    )
    agree = " + ".join(
        f"(CASE WHEN a.h{i} = s.h{i} THEN 1 ELSE 0 END)" for i in range(num_hashes)
    )
    return f"""
    WITH alltx AS (
      SELECT doc_id AS id, text, 0 AS side FROM documents WHERE doc_id % 10 < 8
      UNION ALL
      SELECT doc_id AS id, text, 1 AS side FROM documents WHERE doc_id % 10 >= 8
      UNION ALL
      SELECT doc_id + 1000000 AS id, text, 1 AS side FROM documents
      WHERE doc_id % 10 < 8 AND doc_id % 37 = 0
    ), toks AS (
      SELECT id, side, string_split({_NORM_SQL}, ' ') AS t FROM alltx
    ), pos AS (
      SELECT id, side, t,
             unnest(CASE WHEN len(t) >= 3 THEN generate_series(1, len(t) - 2)
                         ELSE CAST([] AS BIGINT[]) END) AS i
      FROM toks
    ), sh AS (
      SELECT DISTINCT id, side,
             array_to_string(list_slice(t, i, i + 2), ' ') AS shingle
      FROM pos
    ), th AS (
      SELECT id, side, {_MD5_60.format(c="shingle")} % {_MERSENNE} AS h FROM sh
    ), sig AS MATERIALIZED (
      SELECT id, side,
           {mins}
      FROM th GROUP BY id, side
    ), cand AS (
      SELECT a.id AS qid, s.id AS mid,
             ROUND(({agree}) / {num_hashes}.0, 6) AS est
      FROM (SELECT * FROM sig WHERE side = 1) a
      JOIN (SELECT * FROM sig WHERE side = 0) s
        ON ({band_conds})
    ), best AS (
      SELECT qid, mid, est FROM (
        SELECT qid, mid, est,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY est DESC, mid ASC) AS rn
        FROM cand
      ) WHERE rn = 1
    )
    SELECT d.id AS id,
           CASE WHEN b.est >= {threshold} THEN 'dup_near' ELSE 'new' END AS status,
           b.mid AS match_id,
           b.est AS est_jaccard{_GATE_TS.format(id="d.id") if with_ts else ""}
    FROM (SELECT id FROM alltx WHERE side = 1) d
    LEFT JOIN best b ON b.qid = d.id
    """


@query("dd_minhash_ingest", oracle=_minhash_ingest_oracle())
def dd_minhash_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup admission gate (r06) — the third of the trio (exact
    fingerprints / MinHash near-dup / semantic embeddings): each delta
    batch screens against the persisted banded-signature minhash_store
    of everything already accepted; the delta is salted with re-idded
    store clones which MUST flag dup_near at est 1.0.  Store never
    shuffles (one scan, broadcast delta probes on (band, bucket));
    multi-band collisions are absorbed by the max/argmax, no
    dropDuplicates exchange.  Portable md5 family + band-content
    buckets so the oracle replays signatures, banding, candidate join,
    and best-match selection end-to-end."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.dedup import (
        minhash_ingest_dedup,
        minhash_store,
        portable_token_hash,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    d = F.col("doc_id")
    store = minhash_store(
        docs.filter(d % 10 < 8), hash_fn=portable_token_hash, bucket_by_hash=False
    )
    incoming = docs.filter(d % 10 >= 8).unionByName(
        docs.filter((d % 10 < 8) & (d % 37 == 0)).select(
            (d + 1000000).alias("doc_id"), "text"
        )
    )
    return minhash_ingest_dedup(
        incoming,
        store,
        threshold=0.25,
        hash_fn=portable_token_hash,
        bucket_by_hash=False,
    )


def _dup_clusters_oracle() -> str:
    """Recursive-closure twin of dup_clusters over the portable-LSH pair
    graph (threshold 0.5): transitive closure via recursive CTE, MIN
    string label per component, singletons keep themselves."""
    lsh = _lsh_oracle_tail(_TOKEN_SHINGLE_CTES, 32, 8, 0.5)
    return f"""
    WITH RECURSIVE pairs AS ( {lsh} ), und AS (
      SELECT CAST(id_a AS VARCHAR) AS src, CAST(id_b AS VARCHAR) AS dst FROM pairs
      UNION SELECT CAST(id_b AS VARCHAR), CAST(id_a AS VARCHAR) FROM pairs
    ), reach(node, root) AS (
      SELECT src AS node, src AS root FROM und
      UNION
      SELECT e.dst AS node, r.root FROM reach r JOIN und e ON e.src = r.node
    ), comp AS (
      SELECT node, MIN(root) AS keeper FROM reach GROUP BY node
    )
    SELECT CAST(d.doc_id AS VARCHAR) AS id,
           COALESCE(c.keeper, CAST(d.doc_id AS VARCHAR)) AS keeper_id,
           CAST(CASE WHEN c.keeper IS NOT NULL
                      AND c.keeper <> CAST(d.doc_id AS VARCHAR)
                     THEN 1 ELSE 0 END AS INTEGER) AS is_dup
    FROM documents d LEFT JOIN comp c ON c.node = CAST(d.doc_id AS VARCHAR)
    """


@query("dd_dup_clusters", oracle=_dup_clusters_oracle())
def dd_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus dedup: portable MinHash-LSH near-dup pairs
    (est_jaccard ≥ 0.5) → connected components (transitive closure over
    the pair graph) → per-doc keeper decision (lexicographic min id per
    cluster; singletons keep themselves). The oracle replays the whole
    chain — shingles to closure — via recursive CTE."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.dedup import (
        dup_clusters,
        minhash_lsh_pairs,
        portable_token_hash,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs, hash_fn=portable_token_hash, bucket_by_hash=False
    ).filter(F.col("est_jaccard") >= 0.5)
    return dup_clusters(docs, pairs)


def _minhash_two_run_oracle(
    num_hashes: int = 32, bands: int = 8, threshold: float = 0.25
) -> str:
    """DuckDB twin of the NEAR-DUP gate's two-run store-maintenance
    loop (the _semantic_two_run_oracle shape for the minhash family):
    run 1 gates a delta (doc_id%10 in {6,7} plus re-idded store clones)
    against store0 = doc_id%10 < 6; the run-1 ADMITTED docs' signatures
    join the store; run 2 (doc_id%10 >= 8 plus re-idded clones of run-1
    docs) gates against the appended store.  Fully independent replay:
    same affine md5-family signatures as dd_minhash_lsh, run-1 statuses
    recomputed from scratch, store1 = side-0 signatures UNION the run-1
    'new' docs' signatures, best match per run-2 doc by (est DESC, id
    ASC) — exactly minhash_ingest_dedup's tie-break."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.dedup import (
        _MERSENNE,
        _hash_coeffs,
    )

    rpb = num_hashes // bands
    mins = ",\n           ".join(
        f"CAST(MIN((h * {a} + {b}) % {_MERSENNE}) AS BIGINT) AS h{i}"
        for i, (a, b) in enumerate(_hash_coeffs(num_hashes, seed=42))
    )
    band_conds = "\n        OR ".join(
        "("
        + " AND ".join(f"a.h{b * rpb + j} = s.h{b * rpb + j}" for j in range(rpb))
        + ")"
        for b in range(bands)
    )
    agree = " + ".join(
        f"(CASE WHEN a.h{i} = s.h{i} THEN 1 ELSE 0 END)" for i in range(num_hashes)
    )
    return f"""
    WITH alltx AS (
      SELECT doc_id AS id, text, 0 AS side FROM documents WHERE doc_id % 10 < 6
      UNION ALL
      SELECT doc_id AS id, text, 1 AS side FROM documents
      WHERE doc_id % 10 IN (6, 7)
      UNION ALL
      SELECT doc_id + 1000000 AS id, text, 1 AS side FROM documents
      WHERE doc_id % 10 < 6 AND doc_id % 37 = 0
      UNION ALL
      SELECT doc_id AS id, text, 2 AS side FROM documents WHERE doc_id % 10 >= 8
      UNION ALL
      SELECT doc_id + 2000000 AS id, text, 2 AS side FROM documents
      WHERE doc_id % 10 IN (6, 7) AND doc_id % 23 = 0
    ), toks AS (
      SELECT id, side, string_split({_NORM_SQL}, ' ') AS t FROM alltx
    ), pos AS (
      SELECT id, side, t,
             unnest(CASE WHEN len(t) >= 3 THEN generate_series(1, len(t) - 2)
                         ELSE CAST([] AS BIGINT[]) END) AS i
      FROM toks
    ), sh AS (
      SELECT DISTINCT id, side,
             array_to_string(list_slice(t, i, i + 2), ' ') AS shingle
      FROM pos
    ), th AS (
      SELECT id, side, {_MD5_60.format(c="shingle")} % {_MERSENNE} AS h FROM sh
    ), sig AS MATERIALIZED (
      SELECT id, side,
           {mins}
      FROM th GROUP BY id, side
    ), cand1 AS (
      SELECT a.id AS qid, s.id AS mid,
             ROUND(({agree}) / {num_hashes}.0, 6) AS est
      FROM (SELECT * FROM sig WHERE side = 1) a
      JOIN (SELECT * FROM sig WHERE side = 0) s
        ON ({band_conds})
    ), best1 AS (
      SELECT qid, est FROM (
        SELECT qid, est,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY est DESC, mid ASC) AS rn
        FROM cand1
      ) WHERE rn = 1
    ), admitted1 AS (
      -- run-1 docs whose best estimate misses the threshold (or who
      -- have no bucket collision at all) are 'new' and get appended
      SELECT d.id FROM (SELECT id FROM alltx WHERE side = 1) d
      LEFT JOIN best1 b ON b.qid = d.id
      WHERE b.est IS NULL OR b.est < {threshold}
    ), store1 AS (
      SELECT id, side FROM sig WHERE side = 0
      UNION ALL
      SELECT g.id, g.side FROM sig g JOIN admitted1 ad ON g.id = ad.id AND g.side = 1
    ), cand2 AS (
      SELECT a.id AS qid, s.id AS mid,
             ROUND(({agree}) / {num_hashes}.0, 6) AS est
      FROM (SELECT * FROM sig WHERE side = 2) a
      JOIN (SELECT g.* FROM sig g JOIN store1 st
              ON g.id = st.id AND g.side = st.side) s
        ON ({band_conds})
    ), best2 AS (
      SELECT qid, mid, est FROM (
        SELECT qid, mid, est,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY est DESC, mid ASC) AS rn
        FROM cand2
      ) WHERE rn = 1
    )
    SELECT d.id AS id,
           CASE WHEN b.est >= {threshold} THEN 'dup_near' ELSE 'new' END AS status,
           b.mid AS match_id,
           b.est AS est_jaccard
    FROM (SELECT id FROM alltx WHERE side = 2) d
    LEFT JOIN best2 b ON b.qid = d.id
    """


@query("dd_minhash_store_append", oracle=_minhash_two_run_oracle())
def dd_minhash_store_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NEAR-DUP admission-gate store MAINTENANCE loop end-to-end
    (r10 — the minhash member of the append trio, completing driver
    coverage next to dd_ingest_versioned_store and ss_semantic_store_append
    per the r09 verdict ask #7): run 1 gates a delta against the
    persisted banded-signature store, append_admitted_minhash recomputes
    the admitted docs' signatures with the store's exact hash geometry
    and appends them (pure parquet append — the derivation never reads
    the store, plan-guarded in tests/test_gate_maintenance.py), and
    run 2 — salted with re-idded clones of run-1 docs — gates against
    the APPENDED store read back from parquet: the clones flag dup_near
    with their run-1 twin as match, which only happens through the
    append.  Flat store layout here so the oracle replay stays pure
    SQL; the partitioned ("band", "_part") layout is pinned by pytest
    and measured by tools/scale_check.py --compaction-banded.  Portable
    md5 family + band-content buckets, as in dd_minhash_ingest, so the
    oracle replays both runs' signatures, banding, the admitted-set
    store union, and the best-match selection fully independently."""
    import atexit
    import shutil
    import tempfile

    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.dedup import (
        minhash_ingest_dedup,
        minhash_store,
        portable_token_hash,
    )
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.gate_maintenance import (
        append_admitted_minhash,
    )

    kw = dict(hash_fn=portable_token_hash, bucket_by_hash=False)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    d = F.col("doc_id")
    t = tempfile.mkdtemp(prefix="sg_mhappend_")
    atexit.register(shutil.rmtree, t, ignore_errors=True)
    store_path = f"{t}/mh_store"
    minhash_store(docs.filter(d % 10 < 6), **kw).write.parquet(store_path)

    run1_fresh = docs.filter((d % 10 >= 6) & (d % 10 < 8))
    run1 = run1_fresh.unionByName(
        docs.filter((d % 10 < 6) & (d % 37 == 0)).select(
            (d + 1000000).alias("doc_id"), "text"
        )
    )
    # checkpoint before the append — the enforced require_materialized
    # caveat (the gate must not re-run inside the append job)
    dec1 = minhash_ingest_dedup(
        run1, spark.read.parquet(store_path), threshold=0.25, **kw
    ).localCheckpoint(eager=False)
    append_admitted_minhash(dec1, run1, store_path, **kw)

    run2 = docs.filter(d % 10 >= 8).unionByName(
        run1_fresh.filter(d % 23 == 0).select((d + 2000000).alias("doc_id"), "text")
    )
    return minhash_ingest_dedup(
        run2, spark.read.parquet(store_path), threshold=0.25, **kw
    )


@query("dd_kmer_minhash", oracle=_kmer_minhash_oracle())
def dd_kmer_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-mer MinHash + LSH banding over character 8-mers — the in-engine
    replacement for all-vs-all blastn contig screening
    (/root/reference Makefile:538-613; documents.text stands in for the
    contig sequence column). Portable md5 family + band-content buckets
    so the DuckDB oracle replays shingling → signatures → banded
    candidate join → Jaccard estimation end-to-end; the xxhash64/hashed-
    bucket default is the cheaper production configuration with the
    identical plan shape."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.dedup import (
        kmer_minhash_pairs,
        portable_token_hash,
    )

    return kmer_minhash_pairs(
        _t(spark, sf_dir, "documents"),
        id_col="doc_id",
        seq_col="text",
        k=8,
        hash_fn=portable_token_hash,
        bucket_by_hash=False,
    ).filter(F.col("est_jaccard") >= 0.25)


_SAN = "regexp_replace(regexp_replace({c}, '[^A-Za-z0-9]+', '_', 'g'), '_+$', '')"


@query(
    "gb_gene_network",
    oracle=f"""
    WITH phage AS (
      SELECT 'PG' || CAST(p_partkey AS VARCHAR) AS id,
             {_SAN.format(c="p_brand")} AS name
      FROM part
    ), bact AS (
      SELECT 'BG' || CAST(s_suppkey AS VARCHAR) AS id,
             {_SAN.format(c="n_name")} AS name
      FROM supplier JOIN nation ON s_nationkey = n_nationkey
    ), recs AS (
      SELECT CAST(l_orderkey AS VARCHAR) AS record_id,
             {_SAN.format(c="p_brand")} AS org,
             {_SAN.format(c="n_name")} AS host
      FROM lineitem
      JOIN part ON l_partkey = p_partkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE l_quantity = 50 AND l_linenumber = 1
    )
    SELECT record_id,
           COUNT(*) AS n_edges,
           COUNT(DISTINCT p.id) AS n_phage,
           COUNT(DISTINCT b.id) AS n_bact
    FROM recs r
    JOIN phage p ON p.name = r.org
    JOIN bact b ON b.name = r.host
    GROUP BY record_id
    """,
)
def gb_gene_network(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gene/protein-network build (bin/ProteinNetworkCreation.pl:59-131):
    ReferenceGenes node tables (parts standing in for phage gene
    clusters, suppliers for bacterial genes) + per-record LinkedGenes
    all-pairs fan-out from flat-file (organism, host) records (lineitem
    rows standing in for EMBL stanzas). Returns the per-record edge
    fan-out summary; the oracle re-derives the same joins in SQL,
    sanitization included."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.graph_build import (
        build_gene_nodes,
        linked_gene_edges,
    )

    part = _t(spark, sf_dir, "part")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    li = _t(spark, sf_dir, "lineitem")
    phage_genes = part.select(
        F.concat(F.lit("PG"), F.col("p_partkey")).alias("unique_id"),
        F.col("p_brand").alias("cluster_id"),
        F.col("p_type").alias("accession"),
        F.col("p_brand").alias("name"),
    )
    bacteria_genes = (
        supp.join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .select(
            F.concat(F.lit("BG"), F.col("s_suppkey")).alias("unique_id"),
            F.col("s_nationkey").alias("cluster_id"),
            F.col("s_name").alias("accession"),
            F.col("n_name").alias("name"),
        )
    )
    nodes = build_gene_nodes(phage_genes, bacteria_genes)
    records = (
        li.filter((F.col("l_quantity") == 50) & (F.col("l_linenumber") == 1))
        .join(F.broadcast(part.select("p_partkey", "p_brand")), li.l_partkey == part.p_partkey)
        .join(
            F.broadcast(
                supp.join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey).select(
                    "s_suppkey", "n_name"
                )
            ),
            li.l_suppkey == supp.s_suppkey,
        )
        .select(
            F.col("l_orderkey").alias("record_id"),
            F.col("p_brand").alias("organism"),
            F.col("n_name").alias("host"),
        )
    )
    edges = linked_gene_edges(nodes, records)
    return edges.groupBy("record_id").agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.countDistinct("src").alias("n_phage"),
        F.countDistinct("dst").alias("n_bact"),
    )


@query(
    "mm_blob_stats",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id,
             CASE WHEN doc_id % 4 = 0 THEN 'P6 ' || text
                  WHEN doc_id % 4 = 1 THEN 'BM' || text
                  WHEN doc_id % 4 = 2 THEN 'RIFFxxxxWAVE' || text
                  ELSE text END AS s
      FROM documents
    )
    SELECT media_id AS id,
           octet_length(encode(s)) AS n_bytes,
           sha256(s) AS content_sha256,
           -- independent truth for the engine's magic-byte detection
           CASE media_id % 4 WHEN 0 THEN 'ppm' WHEN 1 THEN 'bmp'
                             WHEN 2 THEN 'wav' ELSE 'unknown' END AS codec
    FROM m
    """,
)
def mm_blob_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal blob-column sweep: documents.text UTF-8-encoded into a
    binary `content` column (a quarter each prefixed with PPM / BMP /
    RIFF-WAVE magic bytes), then blob_stats computes n_bytes + sha256 +
    hex-magic codec detection fully JVM-side. The oracle derives the
    codec independently from doc_id, so it cross-checks the engine's
    magic-byte classifier — the metadata pass a 100 TB media lake runs
    before any decode fan-out (multimodal.extract_features)."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.multimodal import blob_stats

    d = _t(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.encode(
            F.when(F.col("doc_id") % 4 == 0, F.concat(F.lit("P6 "), F.col("text")))
            .when(F.col("doc_id") % 4 == 1, F.concat(F.lit("BM"), F.col("text")))
            .when(F.col("doc_id") % 4 == 2, F.concat(F.lit("RIFFxxxxWAVE"), F.col("text")))
            .otherwise(F.col("text")),
            "utf-8",
        ).alias("content"),
    )
    return blob_stats(media)


@query(
    "mm_video_frames",
    oracle=_fixture_values_sql(
        _fx.MM_VIDEO_FRAMES_SF001,
        [
            ("media_id", "BIGINT"),
            ("frame_idx", "INTEGER"),
            ("ts_ms", "BIGINT"),
            ("height", "INTEGER"),
            ("width", "INTEGER"),
            ("mean_lum", "DOUBLE"),
        ],
    ),
)
def mm_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL per-frame video decode through the gate: deterministic y4m
    clips are synthesized per doc (frame count and fill level are pure
    functions of doc_id), extract_video_frames decodes them in Arrow
    batches and emits one row per sampled frame with that frame's own
    luminance. The decode is pure numpy (not SQL-expressible), but the
    output is an exact deterministic function of the data — frozen
    fixture oracle, same technique as the solver entries."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.multimodal import (
        encode_y4m,
        extract_video_frames,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 40).select("doc_id")

    def _mk(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            blobs = []
            for did in pdf["doc_id"]:
                d = int(did)
                frames = np.stack(
                    [
                        np.full((6, 8, 3), (d * 13 + i * 29) % 256, np.uint8)
                        for i in range(2 + d % 3)
                    ]
                )
                blobs.append(encode_y4m(frames, fps=10, cfmt="444"))
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"].astype("int64"), "content": blobs}
            )

    media = docs.mapInPandas(_mk, "media_id long, content binary")
    out = extract_video_frames(media, every_n=2, max_frames=4, dim=8)
    # element_at is 1-BASED; _image_feature's head is [w, h, ch, mean,
    # std, ...] so the mean luminance is element 4 (element 5 is the
    # std — zero for these constant-fill frames, which would pin
    # nothing about the color decode)
    return out.select(
        "media_id",
        "frame_idx",
        "ts_ms",
        "height",
        "width",
        F.round(F.element_at("feature", 4).cast("double"), 6).alias("mean_lum"),
    )


@query(
    "ss_cosine_topk",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 20),
    idx AS (SELECT unnest(generate_series(1, 64)) AS i),
    -- double-precision cosine (list_cosine_similarity accumulates in
    -- float32; Spark computes in double — sum each product as double)
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             ROUND(
               SUM(CAST(q.qv[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))
               / (SQRT(SUM(CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
                  * SQRT(SUM(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))),
               6) AS cosine_sim
      FROM embeddings e CROSS JOIN q CROSS JOIN idx
      WHERE e.vec_id <> q.query_id
      GROUP BY q.query_id, e.vec_id
    )
    SELECT query_id, neighbor_id, cosine_sim, CAST(rank AS BIGINT) AS rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)
def ss_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for the first 20 vectors
    (exact ANN baseline; JVM-side zip_with/aggregate dot products)."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 20)
    out = brute_force_topk(emb, queries_df, k=5)
    return out.select("query_id", "neighbor_id", "cosine_sim", F.col("rank").cast("long").alias("rank"))


@query(
    "dd_embedding_near_dup",
    oracle="""
    WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 = 0),
    idx AS (SELECT unnest(generate_series(1, 64)) AS i),
    s AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             ROUND(
               SUM(CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))
               / (SQRT(SUM(CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)))
                  * SQRT(SUM(CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))),
               6) AS cosine_sim
      FROM e a CROSS JOIN e b CROSS JOIN idx
      WHERE a.vec_id < b.vec_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, cosine_sim FROM s WHERE cosine_sim >= 0.35
    """,
)
def dd_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (exact all-pairs baseline on a
    deterministic 1/5 subset — scale-bounded; the SRP-banded variant of
    the same operator is the corpus path, tested for recall in
    test_dedup_similarity). Threshold 0.35 fits the synthetic table's
    cosine range (max ≈0.51 — no planted near-copies)."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.similarity import embedding_near_dup_pairs

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 5 == 0)
    return embedding_near_dup_pairs(emb, threshold=0.35, exact=True)


def _srp_oracle(dim: int = 64, num_planes: int = 16, bands: int = 4, k: int = 5) -> str:
    """DuckDB twin of the SRP-LSH top-k: the hyperplanes are seeded
    Python literals compiled into the Spark plan, so the generator
    injects the SAME literal arrays into SQL (repr round-trips the
    doubles bit-exactly). Signature bits, banding, candidate join, and
    the exact-cosine rerank are all replayed."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.similarity import _hyperplanes

    bpb = num_planes // bands
    plane_rows = ",\n        ".join(
        f"({i}, [{', '.join(repr(x) for x in h)}])"
        for i, h in enumerate(_hyperplanes(dim, num_planes, seed=42))
    )
    return f"""
    WITH planes AS (
      SELECT * FROM (VALUES
        {plane_rows}
      ) AS t(i, h)
    ), vecs AS MATERIALIZED (
      SELECT vec_id AS id, embedding AS v FROM embeddings
    ), bits AS (
      SELECT id, p.i,
             CASE WHEN list_sum(list_transform(generate_series(1, {dim}),
                    j -> CAST(v[j] AS DOUBLE) * CAST(h[j] AS DOUBLE))) >= 0
                  THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS bit
      FROM vecs CROSS JOIN planes p
    ), sigs AS MATERIALIZED (
      SELECT id, SUM(bit * (CAST(1 AS BIGINT) << i)) AS sig FROM bits GROUP BY id
    ), banded AS MATERIALIZED (
      SELECT id, b.band, (sig >> (b.band * {bpb})) & {(1 << bpb) - 1} AS bucket
      FROM sigs CROSS JOIN (SELECT unnest(generate_series(0, {bands - 1})) AS band) b
    ), cand AS (
      SELECT DISTINCT q.id AS query_id, n.id AS neighbor_id
      FROM banded q JOIN banded n ON q.band = n.band AND q.bucket = n.bucket
      WHERE q.id < 20 AND q.id != n.id
    ), idx AS (SELECT unnest(generate_series(1, {dim})) AS j
    ), scored AS (
      SELECT c.query_id, c.neighbor_id,
             ROUND(
               SUM(CAST(qv.v[j] AS DOUBLE) * CAST(nv.v[j] AS DOUBLE))
               / (SQRT(SUM(CAST(qv.v[j] AS DOUBLE) * CAST(qv.v[j] AS DOUBLE)))
                  * SQRT(SUM(CAST(nv.v[j] AS DOUBLE) * CAST(nv.v[j] AS DOUBLE)))),
               6) AS cosine_sim
      FROM cand c
      JOIN vecs qv ON qv.id = c.query_id
      JOIN vecs nv ON nv.id = c.neighbor_id
      CROSS JOIN idx
      GROUP BY c.query_id, c.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine_sim, CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT query_id, neighbor_id, cosine_sim,
             ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id ASC
             ) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """


@query("ss_srp_lsh_topk", oracle=_srp_oracle())
def ss_srp_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH bucketed approximate top-k (the corpus-scale ANN path).
    The seeded hyperplanes are plan literals, so the oracle replays
    signatures → banding → candidate join → exact-cosine rerank with the
    same literal arrays — full value-hash parity."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.similarity import srp_lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 20)
    return srp_lsh_topk(emb, queries_df, dim=64, k=5).withColumn(
        "rank", F.col("rank").cast("long")
    )


def _ivf_oracle(dim: int = 64, n_cells: int = 16, n_probe: int = 4, k: int = 5) -> str:
    """DuckDB twin of the IVF-flat top-k: centroids are the md5-first
    item vectors (data-derived, no literal injection needed), cell
    assignment is argmin of 6dp-rounded cosine distance (ties by
    centroid index), probing takes the n_probe nearest cells."""
    cos = """SUM(CAST(t.v[j] AS DOUBLE) * CAST(c.cv[j] AS DOUBLE))
               / (SQRT(SUM(CAST(t.v[j] AS DOUBLE) * CAST(t.v[j] AS DOUBLE)))
                  * SQRT(SUM(CAST(c.cv[j] AS DOUBLE) * CAST(c.cv[j] AS DOUBLE))))"""
    return f"""
    WITH vecs AS MATERIALIZED (
      SELECT vec_id AS id, embedding AS v FROM embeddings
    ), cents AS MATERIALIZED (
      -- same degenerate-row filter as _resolve_centroids: null vectors,
      -- null elements, and zero-norm vectors must never become centroids
      SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(id AS VARCHAR))) - 1 AS ci,
             v AS cv
      FROM (SELECT id, v FROM vecs
            WHERE v IS NOT NULL
              AND NOT list_contains(list_transform(v, x -> x IS NULL), true)
              AND list_sum(list_transform(v,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0
            ORDER BY md5(CAST(id AS VARCHAR)) LIMIT {n_cells})
    ), idx AS (SELECT unnest(generate_series(1, {dim})) AS j
    ), dists AS MATERIALIZED (
      SELECT t.id, c.ci,
             ROUND(1.0 - {cos}, 6) AS d
      FROM vecs t CROSS JOIN cents c CROSS JOIN idx
      GROUP BY t.id, c.ci
    ), cells AS MATERIALIZED (
      SELECT id, ci AS cell FROM (
        SELECT id, ci, ROW_NUMBER() OVER (PARTITION BY id ORDER BY d, ci) AS rn
        FROM dists
      ) WHERE rn = 1
    ), probes AS (
      SELECT id, ci AS cell FROM (
        SELECT id, ci, ROW_NUMBER() OVER (PARTITION BY id ORDER BY d, ci) AS rn
        FROM dists WHERE id < 20
      ) WHERE rn <= {n_probe}
    ), cand AS (
      SELECT p.id AS query_id, c.id AS neighbor_id
      FROM probes p JOIN cells c ON c.cell = p.cell
      WHERE c.id != p.id
    ), scored AS (
      SELECT cd.query_id, cd.neighbor_id,
             ROUND(
               SUM(CAST(qv.v[j] AS DOUBLE) * CAST(nv.v[j] AS DOUBLE))
               / (SQRT(SUM(CAST(qv.v[j] AS DOUBLE) * CAST(qv.v[j] AS DOUBLE)))
                  * SQRT(SUM(CAST(nv.v[j] AS DOUBLE) * CAST(nv.v[j] AS DOUBLE)))),
               6) AS cosine_sim
      FROM cand cd
      JOIN vecs qv ON qv.id = cd.query_id
      JOIN vecs nv ON nv.id = cd.neighbor_id
      CROSS JOIN idx
      GROUP BY cd.query_id, cd.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine_sim, CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT query_id, neighbor_id, cosine_sim,
             ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id ASC
             ) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """


@query("ss_ivf_topk", oracle=_ivf_oracle())
def ss_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat approximate cosine top-k (the cell-probing ANN scale
    path, complementing SRP-LSH bucketing): deterministic md5-sampled
    coarse centroids, single-projection cell assignment, n_probe-cell
    candidate search, exact rerank — replayed end-to-end by the oracle."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 20)
    # centroid_frac exercises the hash-threshold centroid scan (identical
    # result to the full pass by construction — see ivf_topk docstring)
    return ivf_topk(emb, queries_df, dim=64, k=5, centroid_frac=0.2).withColumn(
        "rank", F.col("rank").cast("long")
    )


@query(
    "ss_ivf_trained_topk",
    oracle=_fixture_values_sql(
        _fx.SS_IVF_TRAINED_SF001,
        [("query_id", "BIGINT"), ("neighbor_id", "BIGINT"),
         ("cosine_sim", "DOUBLE"), ("rank", "BIGINT")],
    ),
)
def ss_ivf_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat top-k over TRAINED centroids — the production ANN path
    (ivf_train_centroids → ivf_topk(centroids=...)): seeded cosine-
    KMeans cells are tighter than the md5-sampled ones at the same plan
    shape, so each probe reranks fewer candidates at equal recall.
    KMeans is iterative/numeric — not SQL-replayable — but the fit is
    exactly deterministic (seeded init over a canonical hash layout;
    the centroid list is a plan literal), so the frozen sf0.01 fixture
    oracle gives the trained path the same gate credit as the
    md5-sampled ss_ivf_topk. Assignment/probe/rerank plan is identical
    to ss_ivf_topk (cell projection over literal centroids, broadcast
    query probes, zip_with rerank — no shuffle before the final top-k
    window)."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.similarity import (
        ivf_topk,
        ivf_train_centroids,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cents = ivf_train_centroids(emb, n_cells=16, seed=42)
    queries_df = emb.filter(F.col("vec_id") < 20)
    return ivf_topk(emb, queries_df, dim=64, k=5, centroids=cents).withColumn(
        "rank", F.col("rank").cast("long")
    )


def _dup_spans_sql(k: int = 8, min_count: int = 2) -> str:
    fp = _MD5_60.format(c=f"array_to_string(list_slice(t, i, i + {k - 1}), ' ')")
    return f"""
    WITH toks AS (
      SELECT doc_id AS id, string_split({_NORM_SQL}, ' ') AS t FROM documents
    ), wins AS MATERIALIZED (
      SELECT id, i AS pos, {fp} AS fp
      FROM (SELECT id, t, unnest(generate_series(1, len(t) - {k - 1})) AS i
            FROM toks WHERE len(t) >= {k})
    ), dup AS (
      SELECT fp FROM wins GROUP BY fp HAVING COUNT(*) >= {min_count}
    ), flagged AS (
      SELECT id, pos FROM wins WHERE fp IN (SELECT fp FROM dup)
    ), m AS (
      SELECT id, pos,
             CASE WHEN pos - LAG(pos) OVER (PARTITION BY id ORDER BY pos) > {k}
                  THEN 1 ELSE 0 END AS brk
      FROM flagged
    ), g AS (
      SELECT id, pos,
             SUM(brk) OVER (PARTITION BY id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS grp
      FROM m
    )
    SELECT id, CAST(MIN(pos) AS BIGINT) AS span_start,
           CAST(MAX(pos) + {k - 1} AS BIGINT) AS span_end,
           CAST(COUNT(*) AS BIGINT) AS n_windows
    FROM g GROUP BY id, grp
    """


@query("dd_duplicate_spans", oracle=_dup_spans_sql())
def dd_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplicate spans (the overlapping-window Lee et
    al. 2022 semantics chunk_dedup approximates with fixed chunks):
    maximal per-doc runs of corpus-duplicated 8-token windows.  One
    fingerprint shuffle + a broadcast-semi flag join + a per-doc merge
    window; the md5 hash family lets the oracle replay spans exactly."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.dedup import (
        duplicate_spans,
        portable_token_hash,
    )

    out = duplicate_spans(
        _t(spark, sf_dir, "documents"), k=8, hash_fn=portable_token_hash
    )
    return out.select(
        "id",
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
        "n_windows",
    )


def _cut_spans_sql(k: int = 8, min_count: int = 2) -> str:
    """DuckDB twin of remove_duplicate_spans: the _dup_spans_sql span
    derivation, then per doc the surviving normalized tokens."""
    fp = _MD5_60.format(c=f"array_to_string(list_slice(t, i, i + {k - 1}), ' ')")
    norm_coalesced = _NORM_SQL.replace("lower(text)", "lower(COALESCE(text, ''))")
    inside = "len(list_filter(sp, x -> i >= x.s AND i <= x.e)) > 0"
    return f"""
    WITH toks AS (
      SELECT doc_id AS id, string_split({norm_coalesced}, ' ') AS t FROM documents
    ), wins AS MATERIALIZED (
      SELECT id, i AS pos, {fp} AS fp
      FROM (SELECT id, t, unnest(generate_series(1, len(t) - {k - 1})) AS i
            FROM toks WHERE len(t) >= {k})
    ), dup AS (
      SELECT fp FROM wins GROUP BY fp HAVING COUNT(*) >= {min_count}
    ), flagged AS (
      SELECT id, pos FROM wins WHERE fp IN (SELECT fp FROM dup)
    ), m AS (
      SELECT id, pos,
             CASE WHEN pos - LAG(pos) OVER (PARTITION BY id ORDER BY pos) > {k}
                  THEN 1 ELSE 0 END AS brk
      FROM flagged
    ), g AS (
      SELECT id, pos,
             SUM(brk) OVER (PARTITION BY id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS grp
      FROM m
    ), spans AS (
      SELECT id, MIN(pos) AS s, MAX(pos) + {k - 1} AS e FROM g GROUP BY id, grp
    ), spl AS (
      SELECT id, list(struct_pack(s := s, e := e)) AS sp FROM spans GROUP BY id
    ), cut AS (
      SELECT toks.id, toks.t,
             COALESCE(spl.sp, CAST([] AS STRUCT(s BIGINT, e BIGINT)[])) AS sp
      FROM toks LEFT JOIN spl ON toks.id = spl.id
    )
    SELECT id,
           -- array_to_string([]) is NULL in DuckDB; Spark's array_join
           -- of an empty array is '' (the fully-cut-doc case)
           COALESCE(array_to_string(
             list_transform(
               list_filter(generate_series(1, len(t)), i -> NOT ({inside})),
               i -> t[i]), ' '), '') AS clean_text,
           CAST(len(t) AS BIGINT) AS n_tokens,
           CAST(len(list_filter(generate_series(1, len(t)), i -> {inside}))
                AS BIGINT) AS n_removed
    FROM cut
    """


@query("dd_cut_spans", oracle=_cut_spans_sql())
def dd_cut_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cut step of exact-substring dedup: rebuild every doc's
    normalized text with its duplicated spans removed (Lee et al.'s
    dedup-before-packing).  One span derivation + a per-doc array
    expression; the oracle replays the cut token-for-token."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.dedup import (
        portable_token_hash,
        remove_duplicate_spans,
    )

    return remove_duplicate_spans(
        _t(spark, sf_dir, "documents"), k=8, hash_fn=portable_token_hash
    )


def _dsir_weights_sql(n_buckets: int = 4096, k_smooth: float = 0.01) -> str:
    """DuckDB twin of dsir_logweights over documents with target =
    curated sources src0-4 (the quality-classifier convention)."""
    bucket = _MD5_60.format(c="sh")
    return f"""
    WITH tok AS MATERIALIZED (
      SELECT doc_id AS id, source, string_split({_NORM_SQL}, ' ') AS t
      FROM documents
    ), bk AS MATERIALIZED (
      SELECT id, source, {bucket} % {n_buckets} AS bucket
      FROM (
        SELECT id, source, t[i] || ' ' || t[i + 1] AS sh
        FROM (SELECT id, source, t, unnest(generate_series(1, len(t) - 1)) AS i
              FROM tok WHERE len(t) >= 2)
      )
    ), rc AS (
      SELECT bucket, COUNT(*) AS cr FROM bk GROUP BY bucket
    ), tc AS (
      SELECT bucket, COUNT(*) AS ct FROM bk
      WHERE CAST(regexp_extract(source, 'src(\\d+)', 1) AS INTEGER) < 5
      GROUP BY bucket
    ), j AS (
      SELECT COALESCE(rc.bucket, tc.bucket) AS bucket,
             COALESCE(cr, 0) AS cr, COALESCE(ct, 0) AS ct
      FROM rc FULL OUTER JOIN tc ON rc.bucket = tc.bucket
    ), tot AS (SELECT SUM(cr) AS nr, SUM(ct) AS nt FROM j
    ), lam AS (
      SELECT bucket,
             (LN(ct + {k_smooth}) - LN(nt + {k_smooth * n_buckets}))
             - (LN(cr + {k_smooth}) - LN(nr + {k_smooth * n_buckets})) AS lam
      FROM j CROSS JOIN tot
    ), per_doc AS (
      SELECT bk.id, CAST(COUNT(*) AS BIGINT) AS n_feat,
             ROUND(SUM(lam.lam), 6) AS log_weight
      FROM bk JOIN lam ON bk.bucket = lam.bucket
      GROUP BY bk.id
    )
    SELECT d.doc_id AS id,
           COALESCE(p.n_feat, 0) AS n_feat,
           COALESCE(p.log_weight, 0.0) AS log_weight
    FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.id
    """


@query("tx_dsir_weights", oracle=_dsir_weights_sql())
def tx_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance log-weights (Xie et al. 2023): hashed-bigram
    bucket models for target (curated sources src0-4) vs the raw
    corpus; per-doc log p_t/p_r.  Both models are ≤ n_buckets rows →
    broadcast; scoring is one explode + broadcast join + per-doc sum.
    The md5 bucket family lets the oracle replay the whole model."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.corpus import dsir_logweights

    docs = _t(spark, sf_dir, "documents")
    srcnum = F.regexp_extract("source", r"src(\d+)", 1).cast("int")
    target = docs.filter(srcnum < 5)
    return dsir_logweights(docs, target)


@query(
    "tx_dsir_sample",
    oracle=f"""
    WITH w AS ({_dsir_weights_sql()}),
    keyed AS (
      SELECT id, n_feat, log_weight,
             ROUND(log_weight - LN(-LN(
               ({_MD5_60.format(c="CAST(id AS VARCHAR) || '|42'")} + 0.5)
               / 1152921504606846976.0)), 6) AS gumbel_key
      FROM w
    )
    SELECT id, n_feat, log_weight, gumbel_key
    FROM keyed ORDER BY gumbel_key DESC, id ASC LIMIT 50
    """,
)
def tx_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR Gumbel-top-k selection: 50 docs sampled ∝ importance weight
    without replacement, deterministically (md5-derived Gumbel noise).
    TakeOrderedAndProject — per-partition heaps, no global sort."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.corpus import dsir_sample

    docs = _t(spark, sf_dir, "documents")
    srcnum = F.regexp_extract("source", r"src(\d+)", 1).cast("int")
    target = docs.filter(srcnum < 5)
    return dsir_sample(docs, target, k=50, seed=42)


def _pq_adc_ctes(dim: int = 64, m: int = 8, n_codes: int = 16) -> str:
    """The shared PQ derivation CTEs (vecs → codebook → per-subspace
    distances → codes → per-pair ADC), used verbatim by _pq_oracle and
    _pq_rerank_oracle so encode/ADC semantics live in one place."""
    dsub = dim // m
    return f"""
    WITH vecs AS MATERIALIZED (
      SELECT vec_id AS id, embedding AS v FROM embeddings
    ), cb AS MATERIALIZED (
      SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(id AS VARCHAR))) - 1 AS c, v AS cv
      FROM (SELECT id, v FROM vecs
            WHERE v IS NOT NULL
              AND NOT list_contains(list_transform(v, x -> x IS NULL), true)
              AND len(v) = {dim}
            ORDER BY md5(CAST(id AS VARCHAR)) LIMIT {n_codes})
    ), sub AS (SELECT unnest(generate_series(0, {m - 1})) AS s
    ), jj AS (SELECT unnest(generate_series(1, {dsub})) AS j
    ), dist AS MATERIALIZED (
      -- 6dp-rounded squared L2 between every vector's subspace slice
      -- and every codebook entry (serves BOTH code assignment and the
      -- query ADC tables — identical rounding on both consumers)
      SELECT t.id, sub.s, cb.c,
             ROUND(SUM((CAST(t.v[sub.s * {dsub} + jj.j] AS DOUBLE)
                        - CAST(cb.cv[sub.s * {dsub} + jj.j] AS DOUBLE))
                       * (CAST(t.v[sub.s * {dsub} + jj.j] AS DOUBLE)
                          - CAST(cb.cv[sub.s * {dsub} + jj.j] AS DOUBLE))), 6) AS d
      FROM vecs t CROSS JOIN sub CROSS JOIN cb CROSS JOIN jj
      GROUP BY t.id, sub.s, cb.c
    ), codes AS MATERIALIZED (
      SELECT id, s, c FROM (
        SELECT id, s, c,
               ROW_NUMBER() OVER (PARTITION BY id, s ORDER BY d, c) AS rn
        FROM dist
      ) WHERE rn = 1
    ), adc AS (
      SELECT qd.id AS query_id, c.id AS neighbor_id,
             ROUND(SUM(qd.d), 6) AS adc_dist
      FROM codes c JOIN dist qd ON qd.s = c.s AND qd.c = c.c
      WHERE qd.id < 20 AND qd.id <> c.id
      GROUP BY qd.id, c.id
    )"""


def _pq_oracle(dim: int = 64, m: int = 8, n_codes: int = 16, k: int = 5) -> str:
    """DuckDB twin of pq_topk: md5-first codebook vectors, per-subspace
    6dp-rounded squared-L2 code assignment (ties by code index), ADC =
    sum of the query's per-subspace table entries at the item's codes."""
    return f"""{_pq_adc_ctes(dim, m, n_codes)}
    SELECT query_id, neighbor_id, adc_dist, CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT query_id, neighbor_id, adc_dist,
             ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY adc_dist, neighbor_id
             ) AS rank
      FROM adc
    ) WHERE rank <= {k}
    """


def _pq_rerank_oracle(
    dim: int = 64, m: int = 8, n_codes: int = 16, k: int = 5, rerank: int = 20,
) -> str:
    """DuckDB twin of pq_topk(rerank=N): the same ADC CTEs, then the
    top-`rerank` ADC candidates per query (ties by neighbor_id) are
    re-scored with EXACT cosine (NULL for zero-norm pairs, matching
    cosine_pre) and the final top-k ranks by cosine desc NULLS LAST."""
    return f"""{_pq_adc_ctes(dim, m, n_codes)}, pre AS (
      SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY adc_dist, neighbor_id
             ) AS prer
      FROM adc
    ), cand AS (
      SELECT query_id, neighbor_id FROM pre WHERE prer <= {rerank}
    ), cidx AS (SELECT unnest(generate_series(1, {dim})) AS j
    ), cosr AS (
      SELECT cd.query_id, cd.neighbor_id,
             SUM(CAST(q.v[j] AS DOUBLE) * CAST(n.v[j] AS DOUBLE)) AS dot,
             SQRT(SUM(CAST(q.v[j] AS DOUBLE) * CAST(q.v[j] AS DOUBLE))) AS na,
             SQRT(SUM(CAST(n.v[j] AS DOUBLE) * CAST(n.v[j] AS DOUBLE))) AS nb
      FROM cand cd
      JOIN vecs q ON q.id = cd.query_id
      JOIN vecs n ON n.id = cd.neighbor_id
      CROSS JOIN cidx
      GROUP BY cd.query_id, cd.neighbor_id
    ), cosd AS (
      SELECT query_id, neighbor_id,
             CASE WHEN na * nb <> 0 THEN ROUND(dot / (na * nb), 6) END
               AS cosine_sim
      FROM cosr
    )
    SELECT query_id, neighbor_id, cosine_sim, CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT query_id, neighbor_id, cosine_sim,
             ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY cosine_sim DESC NULLS LAST, neighbor_id
             ) AS rank
      FROM cosd
    ) WHERE rank <= {k}
    """


def _ivf_pq_oracle(
    dim: int = 64, n_cells: int = 16, n_probe: int = 4,
    m: int = 8, n_codes: int = 16, k: int = 5,
) -> str:
    """DuckDB twin of ivf_pq_topk: the _ivf_oracle cell/probe CTEs
    composed with the _pq_oracle code/ADC CTEs — candidates come only
    from probed cells, distances only from code lookups."""
    dsub = dim // m
    cos = """SUM(CAST(t.v[j] AS DOUBLE) * CAST(c.cv[j] AS DOUBLE))
               / (SQRT(SUM(CAST(t.v[j] AS DOUBLE) * CAST(t.v[j] AS DOUBLE)))
                  * SQRT(SUM(CAST(c.cv[j] AS DOUBLE) * CAST(c.cv[j] AS DOUBLE))))"""
    return f"""
    WITH vecs AS MATERIALIZED (
      SELECT vec_id AS id, embedding AS v FROM embeddings
    ), cents AS MATERIALIZED (
      SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(id AS VARCHAR))) - 1 AS ci,
             v AS cv
      FROM (SELECT id, v FROM vecs
            WHERE v IS NOT NULL
              AND NOT list_contains(list_transform(v, x -> x IS NULL), true)
              AND list_sum(list_transform(v,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0
            ORDER BY md5(CAST(id AS VARCHAR)) LIMIT {n_cells})
    ), idx AS (SELECT unnest(generate_series(1, {dim})) AS j
    ), celldists AS MATERIALIZED (
      SELECT t.id, c.ci, ROUND(1.0 - {cos}, 6) AS d
      FROM vecs t CROSS JOIN cents c CROSS JOIN idx
      GROUP BY t.id, c.ci
    ), cells AS MATERIALIZED (
      SELECT id, ci AS cell FROM (
        SELECT id, ci, ROW_NUMBER() OVER (PARTITION BY id ORDER BY d, ci) AS rn
        FROM celldists
      ) WHERE rn = 1
    ), probes AS (
      SELECT id, ci AS cell FROM (
        SELECT id, ci, ROW_NUMBER() OVER (PARTITION BY id ORDER BY d, ci) AS rn
        FROM celldists WHERE id < 20
      ) WHERE rn <= {n_probe}
    ), cb AS MATERIALIZED (
      SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(id AS VARCHAR))) - 1 AS c, v AS cv
      FROM (SELECT id, v FROM vecs
            WHERE v IS NOT NULL
              AND NOT list_contains(list_transform(v, x -> x IS NULL), true)
              AND len(v) = {dim}
            ORDER BY md5(CAST(id AS VARCHAR)) LIMIT {n_codes})
    ), sub AS (SELECT unnest(generate_series(0, {m - 1})) AS s
    ), jj AS (SELECT unnest(generate_series(1, {dsub})) AS j
    ), pqdist AS MATERIALIZED (
      SELECT t.id, sub.s, cb.c,
             ROUND(SUM((CAST(t.v[sub.s * {dsub} + jj.j] AS DOUBLE)
                        - CAST(cb.cv[sub.s * {dsub} + jj.j] AS DOUBLE))
                       * (CAST(t.v[sub.s * {dsub} + jj.j] AS DOUBLE)
                          - CAST(cb.cv[sub.s * {dsub} + jj.j] AS DOUBLE))), 6) AS d
      FROM vecs t CROSS JOIN sub CROSS JOIN cb CROSS JOIN jj
      GROUP BY t.id, sub.s, cb.c
    ), codes AS MATERIALIZED (
      SELECT id, s, c FROM (
        SELECT id, s, c,
               ROW_NUMBER() OVER (PARTITION BY id, s ORDER BY d, c) AS rn
        FROM pqdist
      ) WHERE rn = 1
    ), cand AS (
      SELECT DISTINCT p.id AS query_id, n.id AS neighbor_id
      FROM probes p JOIN cells n ON n.cell = p.cell
      WHERE n.id <> p.id
    ), adc AS (
      SELECT cd.query_id, cd.neighbor_id, ROUND(SUM(qd.d), 6) AS adc_dist
      FROM cand cd
      JOIN codes nc ON nc.id = cd.neighbor_id
      JOIN pqdist qd ON qd.id = cd.query_id AND qd.s = nc.s AND qd.c = nc.c
      GROUP BY cd.query_id, cd.neighbor_id
    )
    SELECT query_id, neighbor_id, adc_dist, CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT query_id, neighbor_id, adc_dist,
             ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY adc_dist, neighbor_id
             ) AS rank
      FROM adc
    ) WHERE rank <= {k}
    """


@query("ss_ivf_pq_topk", oracle=_ivf_pq_oracle())
def ss_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed top-k — the FAISS-style production regime where
    BOTH the scan (n_probe/n_cells of the corpus) and the per-item
    bytes (m codes) are sublinear in the raw embeddings.  End-to-end
    replayed: cells + probes from the IVF oracle CTEs, codes + ADC from
    the PQ oracle CTEs."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.similarity import ivf_pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 20)
    return ivf_pq_topk(emb, queries_df, dim=64, k=5).withColumn(
        "rank", F.col("rank").cast("long")
    )


@query("ss_pq_topk", oracle=_pq_oracle())
def ss_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k — the compressed-residency ANN
    path (items live as m=8 byte codes, 32x smaller than raw floats;
    per pair the distance is 8 table lookups, no vector math).  Codebook
    = md5-first sample, so DuckDB replays encode + ADC end-to-end —
    full value-hash parity for a quantized ANN operator."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.similarity import pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 20)
    return pq_topk(emb, queries_df, dim=64, k=5, m=8, n_codes=16).withColumn(
        "rank", F.col("rank").cast("long")
    )


def _sq8_oracle(dim: int = 64, k: int = 5) -> str:
    """DuckDB twin of sq8_topk: per-dimension min/step from the usable
    vectors, HALF-rounded clamped codes, asymmetric reconstructed-L2
    against the raw query, rank asc with id tie-break."""
    return f"""
    WITH vecs AS MATERIALIZED (
      SELECT vec_id AS id, embedding AS v FROM embeddings
      WHERE embedding IS NOT NULL
        AND NOT list_contains(list_transform(embedding, x -> x IS NULL), true)
        AND len(embedding) = {dim}
    ), idx AS (SELECT unnest(generate_series(1, {dim})) AS j
    ), prm AS MATERIALIZED (
      SELECT j, MIN(CAST(v[j] AS DOUBLE)) AS mn,
             (MAX(CAST(v[j] AS DOUBLE)) - MIN(CAST(v[j] AS DOUBLE))) / 255.0 AS st
      FROM vecs CROSS JOIN idx GROUP BY j
    ), recon AS MATERIALIZED (
      SELECT t.id, p.j,
             p.mn + CASE WHEN p.st > 0
                         THEN LEAST(255, GREATEST(0,
                           CAST(ROUND((CAST(t.v[p.j] AS DOUBLE) - p.mn) / p.st, 0)
                                AS INTEGER)))
                         ELSE 0 END * p.st AS r
      FROM vecs t CROSS JOIN prm p
    ), dists AS (
      SELECT q.id AS query_id, n.id AS neighbor_id,
             ROUND(SUM((CAST(q.v[n.j] AS DOUBLE) - n.r)
                       * (CAST(q.v[n.j] AS DOUBLE) - n.r)), 6) AS sq_dist
      FROM recon n JOIN vecs q ON q.id < 20 AND q.id <> n.id
      GROUP BY q.id, n.id
    )
    SELECT query_id, neighbor_id, sq_dist, CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT query_id, neighbor_id, sq_dist,
             ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY sq_dist, neighbor_id
             ) AS rank
      FROM dists
    ) WHERE rank <= {k}
    """


@query("ss_sq8_topk", oracle=_sq8_oracle())
def ss_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-bit scalar-quantization top-k (FAISS SQ8) — the mid tier of
    the compression ladder (raw 1x → SQ8 4x near-exact → PQ 32x →
    IVF-PQ sublinear): corpus-wide per-dimension min/step (one
    aggregation pass, plan literals), uint8 codes, asymmetric
    reconstructed-L2 search with the query at full precision.  The
    oracle replays fit, encode, reconstruction, and ranking
    end-to-end."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.similarity import sq8_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 20)
    return sq8_topk(emb, queries_df, dim=64, k=5).withColumn(
        "rank", F.col("rank").cast("long")
    )


def _ivf_sq8_oracle(
    dim: int = 64, n_cells: int = 16, n_probe: int = 4, k: int = 5
) -> str:
    """DuckDB twin of ivf_sq8_topk: the _ivf_oracle cell/probe CTEs
    composed with the _sq8_oracle fit/recon CTEs — candidates come only
    from probed cells, distances only from reconstructed codes.  Cell
    assignment replays over ALL vectors (as _resolve_centroids sees
    them); the candidate/score sides restrict to the usable (non-null,
    full-dim) rows the engine's _usable filter keeps."""
    cos = """SUM(CAST(t.v[j] AS DOUBLE) * CAST(c.cv[j] AS DOUBLE))
               / (SQRT(SUM(CAST(t.v[j] AS DOUBLE) * CAST(t.v[j] AS DOUBLE)))
                  * SQRT(SUM(CAST(c.cv[j] AS DOUBLE) * CAST(c.cv[j] AS DOUBLE))))"""
    return f"""
    WITH vecs AS MATERIALIZED (
      SELECT vec_id AS id, embedding AS v FROM embeddings
    ), usable AS MATERIALIZED (
      SELECT id, v FROM vecs
      WHERE v IS NOT NULL
        AND NOT list_contains(list_transform(v, x -> x IS NULL), true)
        AND len(v) = {dim}
    ), cents AS MATERIALIZED (
      SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(id AS VARCHAR))) - 1 AS ci,
             v AS cv
      FROM (SELECT id, v FROM vecs
            WHERE v IS NOT NULL
              AND NOT list_contains(list_transform(v, x -> x IS NULL), true)
              AND list_sum(list_transform(v,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0
            ORDER BY md5(CAST(id AS VARCHAR)) LIMIT {n_cells})
    ), idx AS (SELECT unnest(generate_series(1, {dim})) AS j
    ), celldists AS MATERIALIZED (
      SELECT t.id, c.ci, ROUND(1.0 - {cos}, 6) AS d
      FROM usable t CROSS JOIN cents c CROSS JOIN idx
      GROUP BY t.id, c.ci
    ), cells AS MATERIALIZED (
      SELECT id, ci AS cell FROM (
        SELECT id, ci, ROW_NUMBER() OVER (PARTITION BY id ORDER BY d, ci) AS rn
        FROM celldists
      ) WHERE rn = 1
    ), probes AS (
      SELECT id, ci AS cell FROM (
        SELECT id, ci, ROW_NUMBER() OVER (PARTITION BY id ORDER BY d, ci) AS rn
        FROM celldists WHERE id < 20
      ) WHERE rn <= {n_probe}
    ), prm AS MATERIALIZED (
      SELECT j, MIN(CAST(v[j] AS DOUBLE)) AS mn,
             (MAX(CAST(v[j] AS DOUBLE)) - MIN(CAST(v[j] AS DOUBLE))) / 255.0 AS st
      FROM usable CROSS JOIN idx GROUP BY j
    ), recon AS MATERIALIZED (
      SELECT t.id, p.j,
             p.mn + CASE WHEN p.st > 0
                         THEN LEAST(255, GREATEST(0,
                           CAST(ROUND((CAST(t.v[p.j] AS DOUBLE) - p.mn) / p.st, 0)
                                AS INTEGER)))
                         ELSE 0 END * p.st AS r
      FROM usable t CROSS JOIN prm p
    ), cand AS (
      SELECT p.id AS query_id, n.id AS neighbor_id
      FROM probes p JOIN cells n ON n.cell = p.cell
      WHERE n.id <> p.id
    ), dists AS (
      SELECT cd.query_id, cd.neighbor_id,
             ROUND(SUM((CAST(q.v[n.j] AS DOUBLE) - n.r)
                       * (CAST(q.v[n.j] AS DOUBLE) - n.r)), 6) AS sq_dist
      FROM cand cd
      JOIN recon n ON n.id = cd.neighbor_id
      JOIN usable q ON q.id = cd.query_id
      GROUP BY cd.query_id, cd.neighbor_id
    )
    SELECT query_id, neighbor_id, sq_dist, CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT query_id, neighbor_id, sq_dist,
             ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY sq_dist, neighbor_id
             ) AS rank
      FROM dists
    ) WHERE rank <= {k}
    """


@query("ss_ivf_sq8_topk", oracle=_ivf_sq8_oracle())
def ss_ivf_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-SQ8 composed top-k (r06) — the near-exact sublinear tier
    completing the ANN matrix (flat/IVF × raw/SQ8/PQ): coarse cells
    bound the SCAN to n_probe/n_cells of the corpus, SQ8 codes bound
    the per-item BYTES to dim uint8s (4x), distances are asymmetric
    reconstructed L2² with per-dimension error ≤ step/2 and no
    subspace coupling.  End-to-end replayed: cells + probes from the
    IVF oracle CTEs, fit + reconstruction from the SQ8 oracle CTEs."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.similarity import ivf_sq8_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 20)
    return ivf_sq8_topk(emb, queries_df, dim=64, k=5).withColumn(
        "rank", F.col("rank").cast("long")
    )


def _semantic_ingest_oracle(
    dim: int = 64,
    n_cells: int = 16,
    n_probe: int = 4,
    tau: float = 0.38,
    with_ts: bool = False,
) -> str:
    """DuckDB twin of semantic_ingest_dedup over semantic_store: store =
    usable vectors with id >= 20 (cells from the md5-first centroid
    sample of the store side), delta = usable id < 20; EVERY incoming
    id < 20 emits a row (status 'unusable' when its embedding fails
    the usability predicate — the gates' one-row-per-incoming-doc
    contract); per usable delta doc the probed-cell best match (max
    cosine, ties smallest store id) and the tau admission flag,
    NULL-cosine pairs excluded exactly as the engine's isNotNull
    filter does.  with_ts adds the synthetic
    event-time column the STREAMING twin (ev_semantic_ingest_foreach)
    emits — the streamed answer collapses to the batch one because a
    doc's candidate pairs are identical in whichever micro-batch
    delivers it first, and every later delivery is suppressed."""
    cos = """SUM(CAST(t.v[j] AS DOUBLE) * CAST(c.cv[j] AS DOUBLE))
               / (SQRT(SUM(CAST(t.v[j] AS DOUBLE) * CAST(t.v[j] AS DOUBLE)))
                  * SQRT(SUM(CAST(c.cv[j] AS DOUBLE) * CAST(c.cv[j] AS DOUBLE))))"""
    return f"""
    WITH vecs AS MATERIALIZED (
      SELECT vec_id AS id, embedding AS v FROM embeddings
    ), usable AS MATERIALIZED (
      SELECT id, v FROM vecs
      WHERE v IS NOT NULL
        AND NOT list_contains(list_transform(v, x -> x IS NULL), true)
        AND len(v) = {dim}
    ), storev AS MATERIALIZED (SELECT id, v FROM usable WHERE id >= 20
    ), deltav AS MATERIALIZED (SELECT id, v FROM usable WHERE id < 20
    ), incomingv AS MATERIALIZED (
      SELECT id, (id IN (SELECT id FROM usable)) AS usable
      FROM vecs WHERE id < 20
    ), cents AS MATERIALIZED (
      SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(id AS VARCHAR))) - 1 AS ci,
             v AS cv
      FROM (SELECT id, v FROM vecs
            WHERE id >= 20
              AND v IS NOT NULL
              AND NOT list_contains(list_transform(v, x -> x IS NULL), true)
              AND list_sum(list_transform(v,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0
            ORDER BY md5(CAST(id AS VARCHAR)) LIMIT {n_cells})
    ), idx AS (SELECT unnest(generate_series(1, {dim})) AS j
    ), sdists AS MATERIALIZED (
      SELECT t.id, c.ci, ROUND(1.0 - {cos}, 6) AS d
      FROM storev t CROSS JOIN cents c CROSS JOIN idx
      GROUP BY t.id, c.ci
    ), cells AS MATERIALIZED (
      SELECT id, ci AS cell FROM (
        SELECT id, ci, ROW_NUMBER() OVER (PARTITION BY id ORDER BY d, ci) AS rn
        FROM sdists
      ) WHERE rn = 1
    ), ddists AS MATERIALIZED (
      SELECT t.id, c.ci, ROUND(1.0 - {cos}, 6) AS d
      FROM deltav t CROSS JOIN cents c CROSS JOIN idx
      GROUP BY t.id, c.ci
    ), probes AS (
      SELECT id, ci AS cell FROM (
        SELECT id, ci, ROW_NUMBER() OVER (PARTITION BY id ORDER BY d, ci) AS rn
        FROM ddists
      ) WHERE rn <= {n_probe}
    ), pairs AS (
      SELECT p.id AS qid, c.id AS mid,
             ROUND(
               SUM(CAST(qv.v[j] AS DOUBLE) * CAST(nv.v[j] AS DOUBLE))
               / NULLIF(
                   SQRT(SUM(CAST(qv.v[j] AS DOUBLE) * CAST(qv.v[j] AS DOUBLE)))
                   * SQRT(SUM(CAST(nv.v[j] AS DOUBLE) * CAST(nv.v[j] AS DOUBLE))),
                   0),
               6) AS cosine
      FROM probes p
      JOIN cells c ON c.cell = p.cell
      JOIN deltav qv ON qv.id = p.id
      JOIN storev nv ON nv.id = c.id
      CROSS JOIN idx
      GROUP BY p.id, c.id
      HAVING cosine IS NOT NULL
    ), best AS (
      SELECT qid, mid, cosine FROM (
        SELECT qid, mid, cosine,
               ROW_NUMBER() OVER (
                 PARTITION BY qid ORDER BY cosine DESC, mid ASC
               ) AS rn
        FROM pairs
      ) WHERE rn = 1
    )
    SELECT d.id AS id,
           CASE WHEN NOT d.usable THEN 'unusable'
                WHEN b.cosine >= {tau} THEN 'dup_semantic'
                ELSE 'new' END AS status,
           b.mid AS match_id,
           b.cosine AS cosine{_SEM_TS if with_ts else ""}
    FROM incomingv d LEFT JOIN best b ON b.qid = d.id
    """


_SEM_TS = _GATE_TS.format(id="d.id")


@query("ss_semantic_ingest", oracle=_semantic_ingest_oracle())
def ss_semantic_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic admission gate as a maintenance loop (r06) — the
    embedding twin of dd_ingest_dedup: each delta batch (vec_id < 20)
    screens against the persisted semantic_store of everything already
    accepted (vec_id >= 20) by cosine >= tau over IVF-cell-probed
    candidates; the store never shuffles and — persisted
    partitionBy(cell) — is never fully scanned (dynamic partition
    pruning, plan-guarded in test_plan_shapes).  Oracle replays the
    centroid sample, both cell assignments, the probed cosine pairs,
    and the per-doc argmax end-to-end."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.similarity import (
        sampled_centroids,
        semantic_ingest_dedup,
        semantic_store,
    )

    emb = _t(spark, sf_dir, "embeddings")
    delta = emb.filter(F.col("vec_id") < 20)
    store_docs = emb.filter(F.col("vec_id") >= 20)
    cents = sampled_centroids(store_docs, n_cells=16)
    store = semantic_store(store_docs, dim=64, n_cells=16, centroids=cents)
    return semantic_ingest_dedup(delta, store, cents, dim=64, tau=0.38)


@query(
    "ev_semantic_ingest_foreach",
    oracle=_semantic_ingest_oracle(with_ts=True),
)
def ev_semantic_ingest_foreach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORPUS-SCALE streaming semantic admission gate (r07) — the
    foreachBatch form of streaming_semantic_ingest for stores too big
    to broadcast: each of the TWO real micro-batches runs the BATCH
    semantic_ingest_dedup with the parquet store (partitionBy(cell))
    as the join's PROBE side, so dynamic partition pruning bounds the
    store scan to the probed cells inside every epoch (plan-guarded in
    test_sources_streaming_mm).  Cross-batch suppression comes from the
    decisions log itself — batch 1's five re-delivered even ids < 10
    semi-match batch 0's decisions (broadcast batch side; the log never
    shuffles) and are dropped before the gate, so every doc keeps its
    batch-0 answer and the streamed result collapses to the batch
    oracle exactly."""
    import atexit
    import shutil
    import tempfile

    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.similarity import (
        sampled_centroids,
        semantic_store,
    )
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.streaming.events import (
        streaming_semantic_ingest_foreach,
    )

    emb = _t(spark, sf_dir, "embeddings")
    v = F.col("vec_id")
    store_docs = emb.filter(v >= 20)
    cents = sampled_centroids(store_docs, n_cells=16)
    d = tempfile.mkdtemp(prefix="sg_semforeach_")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    semantic_store(store_docs, dim=64, n_cells=16, centroids=cents).write.partitionBy(
        "cell"
    ).parquet(f"{d}/store")
    store = spark.read.parquet(f"{d}/store")
    out = _gate_2batch_run(
        spark,
        emb.filter(v < 20).select("vec_id", "embedding"),
        lambda stream, dec, ckpt: streaming_semantic_ingest_foreach(
            stream, store, cents, dim=64, decisions_path=dec, checkpoint=ckpt, tau=0.38
        ),
        "semforeach",
        id_col="vec_id",
        payload_col="embedding",
        redeliver=lambda vid: vid < 10,
    )
    return out.select(
        "id",
        "status",
        "match_id",
        "cosine",
        F.date_format("first_ts", "yyyy-MM-dd HH:mm:ss").alias("first_ts"),
    )


def _semantic_two_run_oracle(
    dim: int = 64,
    n_cells: int = 16,
    n_probe: int = 4,
    tau: float = 0.38,
) -> str:
    """DuckDB twin of the SEMANTIC store-append maintenance loop (two
    runs of semantic_ingest_dedup with append_admitted_semantic between
    them): store0 = usable vectors id >= 40 (centroids sampled from the
    SAME population — they define the cell geometry for both runs and
    the append), run 1 = ids [20, 40), run 2 = ids < 20.  Run 1's
    admits ('new' = usable with best probed cosine < tau or no match)
    enter the store in their rank-1 cell — semantic_store's assignment
    IS the first probed cell under one centroid resolution, so the
    append replays from run 1's own probe ranking.  Run 2 then probes
    cells0 ∪ appended cells and scores against store0 ∪ admitted
    vectors.  Same cosine/rounding/tie conventions as
    _semantic_ingest_oracle throughout."""
    cos = """SUM(CAST(t.v[j] AS DOUBLE) * CAST(c.cv[j] AS DOUBLE))
               / (SQRT(SUM(CAST(t.v[j] AS DOUBLE) * CAST(t.v[j] AS DOUBLE)))
                  * SQRT(SUM(CAST(c.cv[j] AS DOUBLE) * CAST(c.cv[j] AS DOUBLE))))"""
    pair_cos = """ROUND(
               SUM(CAST(qv.v[j] AS DOUBLE) * CAST(nv.v[j] AS DOUBLE))
               / NULLIF(
                   SQRT(SUM(CAST(qv.v[j] AS DOUBLE) * CAST(qv.v[j] AS DOUBLE)))
                   * SQRT(SUM(CAST(nv.v[j] AS DOUBLE) * CAST(nv.v[j] AS DOUBLE))),
                   0),
               6) AS cosine"""
    return f"""
    WITH vecs AS MATERIALIZED (
      SELECT vec_id AS id, embedding AS v FROM embeddings
    ), usable AS MATERIALIZED (
      SELECT id, v FROM vecs
      WHERE v IS NOT NULL
        AND NOT list_contains(list_transform(v, x -> x IS NULL), true)
        AND len(v) = {dim}
    ), store0 AS MATERIALIZED (SELECT id, v FROM usable WHERE id >= 40
    ), delta1 AS MATERIALIZED (SELECT id, v FROM usable WHERE id >= 20 AND id < 40
    ), delta2 AS MATERIALIZED (SELECT id, v FROM usable WHERE id < 20
    ), incoming2 AS MATERIALIZED (
      SELECT id, (id IN (SELECT id FROM usable)) AS usable
      FROM vecs WHERE id < 20
    ), cents AS MATERIALIZED (
      SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(id AS VARCHAR))) - 1 AS ci,
             v AS cv
      FROM (SELECT id, v FROM vecs
            WHERE id >= 40
              AND v IS NOT NULL
              AND NOT list_contains(list_transform(v, x -> x IS NULL), true)
              AND list_sum(list_transform(v,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0
            ORDER BY md5(CAST(id AS VARCHAR)) LIMIT {n_cells})
    ), idx AS (SELECT unnest(generate_series(1, {dim})) AS j
    ), s0d AS MATERIALIZED (
      SELECT t.id, c.ci, ROUND(1.0 - {cos}, 6) AS d
      FROM store0 t CROSS JOIN cents c CROSS JOIN idx
      GROUP BY t.id, c.ci
    ), cells0 AS MATERIALIZED (
      SELECT id, ci AS cell FROM (
        SELECT id, ci, ROW_NUMBER() OVER (PARTITION BY id ORDER BY d, ci) AS rn
        FROM s0d
      ) WHERE rn = 1
    ), d1d AS MATERIALIZED (
      SELECT t.id, c.ci, ROUND(1.0 - {cos}, 6) AS d
      FROM delta1 t CROSS JOIN cents c CROSS JOIN idx
      GROUP BY t.id, c.ci
    ), probes1 AS MATERIALIZED (
      SELECT id, ci AS cell, rn FROM (
        SELECT id, ci, ROW_NUMBER() OVER (PARTITION BY id ORDER BY d, ci) AS rn
        FROM d1d
      ) WHERE rn <= {n_probe}
    ), pairs1 AS (
      SELECT p.id AS qid, c.id AS mid, {pair_cos}
      FROM probes1 p
      JOIN cells0 c ON c.cell = p.cell
      JOIN delta1 qv ON qv.id = p.id
      JOIN store0 nv ON nv.id = c.id
      CROSS JOIN idx
      GROUP BY p.id, c.id
      HAVING cosine IS NOT NULL
    ), best1 AS (
      SELECT qid, cosine FROM (
        SELECT qid, cosine,
               ROW_NUMBER() OVER (
                 PARTITION BY qid ORDER BY cosine DESC, mid ASC
               ) AS rn
        FROM pairs1
      ) WHERE rn = 1
    ), admits1 AS MATERIALIZED (
      SELECT d.id FROM delta1 d LEFT JOIN best1 b ON b.qid = d.id
      WHERE b.cosine IS NULL OR b.cosine < {tau}
    ), cells1 AS MATERIALIZED (
      SELECT id, cell FROM cells0
      UNION ALL
      SELECT p.id, p.cell FROM probes1 p JOIN admits1 a ON a.id = p.id
      WHERE p.rn = 1
    ), allv AS MATERIALIZED (
      SELECT id, v FROM store0
      UNION ALL
      SELECT d.id, d.v FROM delta1 d JOIN admits1 a ON a.id = d.id
    ), d2d AS MATERIALIZED (
      SELECT t.id, c.ci, ROUND(1.0 - {cos}, 6) AS d
      FROM delta2 t CROSS JOIN cents c CROSS JOIN idx
      GROUP BY t.id, c.ci
    ), probes2 AS (
      SELECT id, ci AS cell FROM (
        SELECT id, ci, ROW_NUMBER() OVER (PARTITION BY id ORDER BY d, ci) AS rn
        FROM d2d
      ) WHERE rn <= {n_probe}
    ), pairs2 AS (
      SELECT p.id AS qid, c.id AS mid, {pair_cos}
      FROM probes2 p
      JOIN cells1 c ON c.cell = p.cell
      JOIN delta2 qv ON qv.id = p.id
      JOIN allv nv ON nv.id = c.id
      CROSS JOIN idx
      GROUP BY p.id, c.id
      HAVING cosine IS NOT NULL
    ), best2 AS (
      SELECT qid, mid, cosine FROM (
        SELECT qid, mid, cosine,
               ROW_NUMBER() OVER (
                 PARTITION BY qid ORDER BY cosine DESC, mid ASC
               ) AS rn
        FROM pairs2
      ) WHERE rn = 1
    )
    SELECT d.id AS id,
           CASE WHEN NOT d.usable THEN 'unusable'
                WHEN b.cosine >= {tau} THEN 'dup_semantic'
                ELSE 'new' END AS status,
           b.mid AS match_id,
           b.cosine AS cosine
    FROM incoming2 d LEFT JOIN best2 b ON b.qid = d.id
    """


@query("ss_semantic_store_append", oracle=_semantic_two_run_oracle())
def ss_semantic_store_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SEMANTIC admission-gate store MAINTENANCE loop end-to-end
    (r09 — the embedding twin of dd_ingest_versioned_store, promoted to a
    driver entry per the r08 verdict ask #4 because it carries the
    DPP-preservation claim): run 1 gates ids [20, 40) against the
    persisted cell-partitioned store of ids >= 40,
    append_admitted_semantic recomputes store rows for exactly its
    'new' ids (same centroids → same cell geometry) and appends them
    WITH partitionBy("cell") — new files land inside the existing cell
    directories — and run 2 (ids < 20) gates against the appended
    store read back from parquet, its scan still DPP-bounded to the
    probed cells (plan guard: test_gate_maintenance).  The oracle
    replays both runs, deriving the appended rows from run 1's own
    probe ranking (semantic_store's cell assignment is the rank-1
    probe cell under one centroid resolution).  Decisions are
    materialized (localCheckpoint) before the append per the enforced
    gate-maintenance caveat."""
    import atexit
    import shutil
    import tempfile

    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.gate_maintenance import (
        append_admitted_semantic,
    )
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.similarity import (
        sampled_centroids,
        semantic_ingest_dedup,
        semantic_store,
    )

    emb = _t(spark, sf_dir, "embeddings")
    v = F.col("vec_id")
    store0 = emb.filter(v >= 40)
    cents = sampled_centroids(store0, n_cells=16)
    d = tempfile.mkdtemp(prefix="sg_semappend_")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    path = f"{d}/store"
    semantic_store(store0, dim=64, n_cells=16, centroids=cents).write.partitionBy(
        "cell"
    ).parquet(path)

    run1 = emb.filter((v >= 20) & (v < 40))
    dec1 = semantic_ingest_dedup(
        run1, spark.read.parquet(path), cents, dim=64, tau=0.38
    ).localCheckpoint(eager=False)
    append_admitted_semantic(dec1, emb, path, cents, dim=64)

    run2 = emb.filter(v < 20)
    return semantic_ingest_dedup(run2, spark.read.parquet(path), cents, dim=64, tau=0.38)


def _gate_2batch_run(
    spark,
    incoming,
    start_query,
    tag: str,
    id_col: str = "doc_id",
    payload_col: str = "text",
    redeliver=None,
):
    """Shared driver harness for ALL foreachBatch gate entries: stamp
    the synthetic event time (epoch 1700000000 + id seconds, matching
    _GATE_TS), split incoming into two mtime-ordered micro-batches
    (even ids first, then odd ids PLUS re-delivered evens chosen by
    `redeliver(id_column)` — default id % 5 == 0; the decisions log
    must suppress the re-deliveries or the row count changes), run the
    gate to completion, and return the compacted decisions frame."""
    import atexit
    import shutil
    import tempfile

    from hannigan_conjunctisviribus_ploscompbio_2017_spark.streaming.events import (
        read_gate_decisions,
    )

    v = F.col(id_col)
    stamped = incoming.select(
        id_col,
        F.timestamp_seconds(F.lit(1700000000) + v).alias("ts"),
        payload_col,
    )
    redelivered = redeliver(v) if redeliver is not None else (v % 5 == 0)
    b0 = stamped.filter(v % 2 == 0)
    b1 = stamped.filter(v % 2 == 1).unionByName(
        stamped.filter((v % 2 == 0) & redelivered)
    )
    d = tempfile.mkdtemp(prefix=f"sg_gate_{tag}_")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    q = start_query(
        _bounded_stream_batches(spark, [b0, b1], tag),
        f"{d}/decisions",
        f"{d}/ckpt",
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return read_gate_decisions(spark, f"{d}/decisions")


@query(
    "ev_ingest_dedup_foreach",
    oracle=f"""
    WITH store AS (
      SELECT DISTINCT {_INGEST_FP} AS fingerprint
      FROM documents WHERE doc_id % 10 < 8
    ), inc AS (
      SELECT doc_id AS id, text FROM documents WHERE doc_id % 10 >= 8
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents
      WHERE doc_id % 10 < 8 AND doc_id % 37 = 0
      UNION ALL
      SELECT doc_id + 2000000, text FROM documents
      WHERE doc_id % 10 >= 8 AND doc_id % 23 = 0
    ), fp AS (
      SELECT id, {_INGEST_FP} AS fingerprint,
             CAST(id % 2 AS INTEGER) AS batch
      FROM inc
    ), keep AS (
      -- dup_batch is per EPOCH: the keeper is the min id per
      -- (fingerprint, micro-batch), exactly the per-epoch batch gate
      SELECT fingerprint, batch, MIN(id) AS k
      FROM fp GROUP BY fingerprint, batch
    )
    SELECT fp.id, fp.fingerprint,
           CASE WHEN fp.fingerprint IN (SELECT fingerprint FROM store)
                THEN 'dup_store'
                WHEN fp.id <> keep.k THEN 'dup_batch'
                ELSE 'new' END AS status{_GATE_TS.format(id="fp.id")}
    FROM fp JOIN keep USING (fingerprint, batch)
    """,
)
def ev_ingest_dedup_foreach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORPUS-SCALE streaming EXACT admission gate (r07) — the
    foreachBatch twin of ev_ingest_dedup_2batch for fingerprint stores
    too big to broadcast: each of the TWO real micro-batches runs the
    BATCH ingest_dedup (store scanned once per epoch, delta
    fingerprints broadcast as a LeftSemi probe — the batch operator's
    plan-guarded never-shuffle shape, inside every epoch).  dup_batch
    keepers are per epoch; batch 1's re-delivered even ids (id % 5 ==
    0) semi-match batch 0's decisions log and are dropped before the
    gate — dropped suppression re-emits them and changes the row
    count.  Oracle replays both epochs' keepers and the store probe."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.dedup import (
        fingerprint_store,
    )
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.streaming.events import (
        streaming_ingest_dedup_foreach,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    d = F.col("doc_id")
    store = fingerprint_store(docs.filter(d % 10 < 8)).localCheckpoint()
    fresh = docs.filter(d % 10 >= 8)
    incoming = fresh.unionByName(
        docs.filter((d % 10 < 8) & (d % 37 == 0)).select(
            (d + 1000000).alias("doc_id"), "text"
        )
    ).unionByName(
        fresh.filter(d % 23 == 0).select((d + 2000000).alias("doc_id"), "text")
    )
    out = _gate_2batch_run(
        spark,
        incoming,
        lambda stream, dec, ckpt: streaming_ingest_dedup_foreach(
            stream, store, dec, ckpt
        ),
        "ingestforeach",
    )
    return out.select(
        "id",
        "fingerprint",
        "status",
        F.date_format("first_ts", "yyyy-MM-dd HH:mm:ss").alias("first_ts"),
    )


@query(
    "ev_minhash_ingest_foreach",
    oracle=_minhash_ingest_oracle(with_ts=True),
)
def ev_minhash_ingest_foreach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORPUS-SCALE streaming NEAR-DUP admission gate (r07) —
    completing the trio's foreachBatch tier (exact r07 / near-dup r07 /
    semantic r07): each of the TWO real micro-batches runs the BATCH
    minhash_ingest_dedup, so the banded-signature store is scanned once
    per epoch with the batch's signatures broadcast as (band, bucket)
    probes — never broadcast as a whole, never shuffled.  A doc's
    decision depends only on (doc, store), so the streamed answer
    collapses to dd_minhash_ingest's batch oracle; batch 1's five-ish
    re-delivered even ids are suppressed by the decisions log."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.dedup import (
        minhash_store,
        portable_token_hash,
    )
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.streaming.events import (
        streaming_minhash_ingest_foreach,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    d = F.col("doc_id")
    store = minhash_store(
        docs.filter(d % 10 < 8), hash_fn=portable_token_hash, bucket_by_hash=False
    ).localCheckpoint()
    incoming = docs.filter(d % 10 >= 8).unionByName(
        docs.filter((d % 10 < 8) & (d % 37 == 0)).select(
            (d + 1000000).alias("doc_id"), "text"
        )
    )
    out = _gate_2batch_run(
        spark,
        incoming,
        lambda stream, dec, ckpt: streaming_minhash_ingest_foreach(
            stream,
            store,
            dec,
            ckpt,
            threshold=0.25,
            hash_fn=portable_token_hash,
            bucket_by_hash=False,
        ),
        "minhashforeach",
    )
    return out.select(
        "id",
        "status",
        "match_id",
        "est_jaccard",
        F.date_format("first_ts", "yyyy-MM-dd HH:mm:ss").alias("first_ts"),
    )


@query("ss_pq_rerank_topk", oracle=_pq_rerank_oracle())
def ss_pq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ADC shortlist + exact-cosine rerank — the standard recall
    repair for quantized ANN (Jégou et al. 2011 §IV): the compressed
    scan proposes the top-20 ADC candidates per query, then exact
    cosine touches ONLY those 20·|Q| vectors before the final top-5.
    At 100 TB the raw embeddings are read for ~20 rows per query
    instead of the corpus; the oracle replays shortlist, rescore, and
    NULLS-LAST ranking end-to-end."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.similarity import pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 20)
    return pq_topk(
        emb, queries_df, dim=64, k=5, m=8, n_codes=16, rerank=20
    ).withColumn("rank", F.col("rank").cast("long"))


@query(
    "tx_token_stats",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(TRIM(text), ' ')) AS BIGINT) AS n_tokens,
           ROUND((LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[^\\p{L}\\p{N}\\s]', '', 'g'))) * 1.0
                 / LENGTH(text), 6) AS punct_ratio
    FROM documents
    """,
)
def tx_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text quality signals: whitespace token count + punctuation ratio
    (JVM-side regex, no UDF)."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.functions import text as TX

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TX.token_count("text").alias("n_tokens"),
        F.round(TX.punct_ratio("text"), 6).alias("punct_ratio"),
    )


@query(
    "tx_fingerprint",
    oracle="""
    SELECT doc_id,
           MD5(CASE WHEN TRIM(REGEXP_REPLACE(LOWER(text), '[^a-z0-9]+', ' ', 'g')) <> '' THEN TRIM(REGEXP_REPLACE(LOWER(text), '[^a-z0-9]+', ' ', 'g')) ELSE chr(0) || 'raw' || chr(0) || COALESCE(text, '') END) AS fingerprint
    FROM documents
    """,
)
def tx_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting (normalized md5)."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.functions import text as TX

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", TX.fingerprint("text").alias("fingerprint"))


@query(
    "tx_corpus_summary",
    oracle="""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(string_split(TRIM(text), ' '))) AS BIGINT) AS total_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY source
    """,
)
def tx_corpus_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus sizing rollup per source (token counting at scale)."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.functions import text as TX

    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(TX.token_count("text")).alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
    )


@query(
    "tx_quality_langid",
    oracle="""
    WITH t AS (
      SELECT doc_id, text,
             regexp_split_to_array(trim(text), '\\s+') AS toks,
             regexp_split_to_array(lower(trim(text)), '\\s+') AS ltoks,
             CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[^\\p{L}\\p{N}\\s]', '', 'g'))
                  AS DOUBLE) / LENGTH(text) AS punct
      FROM documents
    ), hits AS (
      SELECT *,
        len(list_filter(ltoks, x -> x IN ('the','and','of','to','is')))   AS h_en,
        len(list_filter(ltoks, x -> x IN ('der','die','und','ist','das'))) AS h_de,
        len(list_filter(ltoks, x -> x IN ('le','la','et','les','des')))   AS h_fr,
        len(list_filter(ltoks, x -> x IN ('el','la','que','de','los')))   AS h_es
      FROM t
    )
    SELECT doc_id,
           ROUND((
             LEAST(CAST(len(toks) AS DOUBLE) / 50.0, 1.0)
             + (1.0 - LEAST(punct * 4.0, 1.0))
             + LEAST(CAST(len(list_filter(ltoks, x -> x IN (
                 'the','and','of','to','a','in','is','it','that','for',
                 'on','with','as','was','at','by','an','be','this','are'
               ))) AS DOUBLE) / len(toks) * 5.0, 1.0)
           ) / 3.0, 6) AS quality,
           CASE WHEN GREATEST(h_en, h_de, h_fr, h_es) = 0 THEN 'und'
                WHEN h_de = GREATEST(h_en, h_de, h_fr, h_es) THEN 'de'
                WHEN h_en = GREATEST(h_en, h_de, h_fr, h_es) THEN 'en'
                WHEN h_es = GREATEST(h_en, h_de, h_fr, h_es) THEN 'es'
                ELSE 'fr' END AS lang_pred,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
                AS BIGINT) AS n_bpe_tokens
    FROM hits
    """,
)
def tx_quality_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality score + language-ID + BPE-ish token count per doc. The
    oracle re-encodes the marker-hit argmax as a CASE cascade in
    lang-code order (ties break toward the smallest code, matching
    functions/text.py:lang_id)."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.functions import text as TX

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TX.quality_score("text").alias("quality"),
        TX.lang_id("text").alias("lang_pred"),
        TX.bpe_ish_token_count("text").alias("n_bpe_tokens"),
    )


# =========================================================================
# Events: windowed + sessionized aggregation (streaming-equivalent batch)
# =========================================================================


@query(
    "ev_hourly_agg",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 4) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def ev_hourly_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation over the events table — the batch twin
    of the Structured Streaming path (streaming/events.py uses the same
    logic with a watermark)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )


@query(
    "ev_sessionize",
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    )
    SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM gaps GROUP BY user_id
    """,
)
def ev_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: 30-min inactivity gap → new session (lag + cumsum
    pattern; session_window in the streaming twin)."""
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # ts arrives as TIMESTAMP_NTZ from parquet (isAdjustedToUTC=false);
    # NTZ has no direct bigint cast, so hop through TIMESTAMP (session tz
    # is pinned to UTC in get_spark, making the epoch conversion exact).
    secs = F.col("ts").cast("timestamp").cast("long")
    gap = secs - F.lag(secs).over(w)
    flagged = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 1800), 1).otherwise(0),
    )
    return flagged.groupBy("user_id").agg(
        F.sum("new_session").cast("long").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


def _bounded_stream(spark: SparkSession, df: DataFrame, tag: str) -> DataFrame:
    """Deterministic bounded-stream harness for the streaming gate
    entries: spool the static frame to ONE parquet file and re-read it
    as a file stream — a single micro-batch, so the stateful operators'
    cross-batch semantics collapse to an exactly SQL-replayable batch
    answer (first-by-event-time per key, total duplicate counts). The
    spool directory is removed at interpreter exit — repeated gate/test
    runs must not accumulate table copies in /tmp."""
    import atexit
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix=f"sg_stream_{tag}_")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    df.coalesce(1).write.mode("overwrite").parquet(d)
    return spark.readStream.schema(df.schema).format("parquet").load(d)


def _run_stream(spark: SparkSession, out: DataFrame, tag: str) -> DataFrame:
    """Run a bounded stream to a memory sink synchronously; unique query
    name per invocation so repeated gate runs never collide."""
    import uuid

    from hannigan_conjunctisviribus_ploscompbio_2017_spark.streaming.events import run_to_memory

    name = f"{tag}_{uuid.uuid4().hex[:8]}"
    q = run_to_memory(out, name)
    q.stop()
    return spark.table(name)


_FIRST_SEEN_SQL = """
    WITH ranked AS (
      SELECT CAST(user_id AS VARCHAR) AS key, event_id, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS cnt
      FROM events
    )
    SELECT key,
           CAST(event_id AS BIGINT) AS first_event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS first_ts,
           CAST(cnt - 1 AS BIGINT) AS n_dups
    FROM ranked WHERE rn = 1
    """


@query("ev_first_seen_dedup", oracle=_FIRST_SEEN_SQL)
def ev_first_seen_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming stateful first-seen dedup (applyInPandasWithState with
    event-time retention) driven END-TO-END through a bounded
    single-batch stream: per user key, only the first event (by ts,
    event_id) is admitted; the oracle replays the batch-equivalent
    answer (first-per-key window + total duplicate count), which the
    single-batch run matches exactly."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.streaming.events import streaming_first_seen

    ev = _t(spark, sf_dir, "events").select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("ts").cast("timestamp").alias("ts"),
        F.col("user_id").cast("string").alias("ukey"),
    )
    out = streaming_first_seen(_bounded_stream(spark, ev, "fs"), key_col="ukey")
    res = _run_stream(spark, out, "first_seen_gate")
    return res.select(
        "key",
        "first_event_id",
        F.date_format("first_ts", "yyyy-MM-dd HH:mm:ss").alias("first_ts"),
        "n_dups",
    )


_FIRST_SEEN_2BATCH_SQL = """
    WITH e AS (
      SELECT CAST(user_id AS VARCHAR) AS key, event_id, ts,
             CAST(event_id % 2 AS INTEGER) AS batch
      FROM events
    ), fb AS (
      SELECT key, MIN(batch) AS b0 FROM e GROUP BY key
    ), ranked AS (
      SELECT e.key, event_id, ts,
             ROW_NUMBER() OVER (PARTITION BY e.key ORDER BY ts, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY e.key) AS cnt
      FROM e JOIN fb ON e.key = fb.key
      WHERE e.batch = fb.b0
    )
    SELECT key,
           CAST(event_id AS BIGINT) AS first_event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS first_ts,
           CAST(cnt - 1 AS BIGINT) AS n_dups
    FROM ranked WHERE rn = 1
    """


_INGEST_STREAM_SQL = f"""
    WITH store AS (
      SELECT DISTINCT {_INGEST_FP} AS fingerprint
      FROM documents WHERE doc_id % 10 < 8
    ), inc AS (
      SELECT doc_id AS id, text FROM documents WHERE doc_id % 10 >= 8
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents
      WHERE doc_id % 10 < 8 AND doc_id % 37 = 0
      UNION ALL
      SELECT doc_id + 2000000, text FROM documents
      WHERE doc_id % 10 >= 8 AND doc_id % 23 = 0
    ), fp AS (
      SELECT id, {_INGEST_FP} AS fingerprint,
             TIMESTAMP '2023-11-14 22:13:20' + to_seconds(CAST(id AS BIGINT)) AS ts,
             CAST(id % 2 AS INTEGER) AS batch
      FROM inc
    ), fresh AS (
      SELECT * FROM fp
      WHERE fingerprint NOT IN (SELECT fingerprint FROM store)
    ), fb AS (
      SELECT fingerprint, MIN(batch) AS b0 FROM fresh GROUP BY fingerprint
    ), ranked AS (
      SELECT f.fingerprint, f.id, f.ts,
             ROW_NUMBER() OVER (PARTITION BY f.fingerprint
                                ORDER BY f.ts, f.id) AS rn,
             COUNT(*) OVER (PARTITION BY f.fingerprint) AS cnt
      FROM fresh f JOIN fb ON f.fingerprint = fb.fingerprint
      WHERE f.batch = fb.b0
    )
    SELECT fingerprint AS key,
           CAST(id AS BIGINT) AS first_event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS first_ts,
           CAST(cnt - 1 AS BIGINT) AS n_dups
    FROM ranked WHERE rn = 1
    """


@query("ev_ingest_dedup_2batch", oracle=_INGEST_STREAM_SQL)
def ev_ingest_dedup_2batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming admission gate across TWO real micro-batches — the
    streaming twin of dd_ingest_dedup: 80% of documents form the
    static fingerprint store; the rest stream in (salted with re-idded
    store clones, which the stream-static anti join must drop, and
    in-batch clones, which first-seen state must suppress).  A
    fingerprint admitted in batch 0 that reappears in batch 1 is
    suppressed BY STATE; dropped state would re-emit it.  The oracle
    replays store filter, per-batch routing, and first-seen ranking."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.dedup import fingerprint_store
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.streaming.events import streaming_ingest_dedup

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    d = F.col("doc_id")
    store = fingerprint_store(docs.filter(d % 10 < 8))
    fresh = docs.filter(d % 10 >= 8)
    incoming = (
        fresh.unionByName(
            docs.filter((d % 10 < 8) & (d % 37 == 0)).select(
                (d + 1000000).alias("doc_id"), "text"
            )
        )
        .unionByName(
            fresh.filter(d % 23 == 0).select((d + 2000000).alias("doc_id"), "text")
        )
        .withColumn(
            "ts", F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id"))
        )
    )
    b0 = incoming.filter(F.col("doc_id") % 2 == 0)
    b1 = incoming.filter(F.col("doc_id") % 2 == 1)
    out = streaming_ingest_dedup(
        _bounded_stream_batches(spark, [b0, b1], "ingest2"),
        store,
        watermark="87600 hours",
    )
    res = _run_stream(spark, out, "ingest_dedup_2batch_gate")
    return res.select(
        "key",
        "first_event_id",
        F.date_format("first_ts", "yyyy-MM-dd HH:mm:ss").alias("first_ts"),
        "n_dups",
    )


@query("ev_first_seen_2batch", oracle=_FIRST_SEEN_2BATCH_SQL)
def ev_first_seen_2batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming first-seen dedup across TWO real micro-batches
    (even-event-id rows arrive first): a user key claimed in batch 0
    must be suppressed BY STATE when it reappears in batch 1 — n_dups
    counts only the first-seen batch's siblings, and dropped state
    would re-emit every shared key.  Watermark lifted far above the
    event-time span so no batch-1 row is late-dropped (the oracle
    replays pure per-batch first-seen, not watermark loss)."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.streaming.events import streaming_first_seen

    ev = _t(spark, sf_dir, "events").select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("ts").cast("timestamp").alias("ts"),
        F.col("user_id").cast("string").alias("ukey"),
    )
    b0 = ev.filter(F.col("event_id") % 2 == 0)
    b1 = ev.filter(F.col("event_id") % 2 == 1)
    out = streaming_first_seen(
        _bounded_stream_batches(spark, [b0, b1], "fs2"),
        key_col="ukey",
        watermark="8760 hours",
    )
    res = _run_stream(spark, out, "first_seen_2batch_gate")
    return res.select(
        "key",
        "first_event_id",
        F.date_format("first_ts", "yyyy-MM-dd HH:mm:ss").alias("first_ts"),
        "n_dups",
    )


_CHUNK_STREAM_SQL = f"""
    WITH toks AS (
      SELECT doc_id AS id, string_split({{norm}}, ' ') AS t FROM documents
    ), ch AS (
      SELECT id, t,
             unnest(generate_series(1, CAST(ceil(len(t) / 16.0) AS BIGINT))) AS chunk_idx
      FROM toks
    ), fp AS (
      SELECT id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
             md5(array_to_string(list_slice(t, (chunk_idx - 1) * 16 + 1, chunk_idx * 16), ' ')) AS fingerprint,
             TIMESTAMP '2023-11-14 22:13:20' + to_seconds(CAST(id AS BIGINT)) AS ts
      FROM ch
    ), ranked AS (
      SELECT fingerprint, id, chunk_idx, ts,
             ROW_NUMBER() OVER (PARTITION BY fingerprint
                                ORDER BY ts, id, chunk_idx) AS rn,
             COUNT(*) OVER (PARTITION BY fingerprint) AS cnt
      FROM fp
    )
    SELECT fingerprint,
           CAST(id AS BIGINT) AS first_doc_id,
           CAST(chunk_idx AS INTEGER) AS first_chunk_idx,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS first_ts,
           CAST(cnt - 1 AS BIGINT) AS n_dups
    FROM ranked WHERE rn = 1
    """


@query("ev_chunk_first_seen", oracle=_CHUNK_STREAM_SQL.format(norm="trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"))
def ev_chunk_first_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming passage-level first-seen dedup (the streaming twin of
    dd_chunk_dedup) end-to-end through a bounded single-batch stream:
    every 16-token chunk fingerprint admits only its first (ts, doc,
    position) occurrence. Event time is synthesized deterministically
    from the doc id so the oracle can replay the stream's answer."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.streaming.events import (
        streaming_chunk_first_seen,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id")).alias("ts"),
    )
    out = streaming_chunk_first_seen(
        _bounded_stream(spark, docs, "ch"), chunk_tokens=16
    )
    res = _run_stream(spark, out, "chunk_first_seen_gate")
    return res.select(
        "fingerprint",
        "first_doc_id",
        "first_chunk_idx",
        F.date_format("first_ts", "yyyy-MM-dd HH:mm:ss").alias("first_ts"),
        "n_dups",
    )


def _bounded_stream_batches(spark: SparkSession, dfs, tag: str) -> DataFrame:
    """Multi-micro-batch bounded stream: each frame spools to its own
    single parquet file with strictly increasing mtimes, and the file
    source reads with maxFilesPerTrigger=1 — so frame i becomes micro-
    batch i in list order (FileStreamSource admits files oldest-first).
    This makes CROSS-batch state behavior driver-visible: a key claimed
    in batch 0 must be suppressed by state when it reappears in batch 1,
    which no single-batch run can demonstrate."""
    import atexit
    import glob
    import os
    import shutil
    import tempfile
    import time as _time

    d = tempfile.mkdtemp(prefix=f"sg_stream_{tag}_")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    seen: set[str] = set()
    now = _time.time()
    for i, df in enumerate(dfs):
        df.coalesce(1).write.mode("append").parquet(d)
        new = [f for f in glob.glob(os.path.join(d, "*.parquet")) if f not in seen]
        # explicit mtimes (not sleeps): batch i is 100·(n−i) seconds
        # "older" than batch i+1, so source ordering never ties
        t = now - 100.0 * (len(dfs) - i)
        for f in new:
            os.utime(f, (t, t))
        seen.update(new)
    return (
        spark.readStream.schema(dfs[0].schema)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(d)
    )


_CHUNK_2BATCH_SQL = f"""
    WITH toks AS (
      SELECT doc_id AS id, string_split({_NORM_SQL}, ' ') AS t
      FROM documents
    ), ch AS (
      SELECT id, t,
             unnest(generate_series(1, CAST(ceil(len(t) / 16.0) AS BIGINT))) AS chunk_idx
      FROM toks
    ), fp AS (
      SELECT id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
             md5(array_to_string(list_slice(t, (chunk_idx - 1) * 16 + 1, chunk_idx * 16), ' ')) AS fingerprint,
             TIMESTAMP '2023-11-14 22:13:20' + to_seconds(CAST(id AS BIGINT)) AS ts,
             CAST(id % 2 AS INTEGER) AS batch
      FROM ch
    ), firstb AS (
      -- the stateful operator admits a fingerprint in the FIRST micro-
      -- batch that carries it; later batches are suppressed by state
      SELECT fingerprint, MIN(batch) AS b0 FROM fp GROUP BY fingerprint
    ), ranked AS (
      SELECT fp.fingerprint, id, chunk_idx, ts,
             ROW_NUMBER() OVER (PARTITION BY fp.fingerprint
                                ORDER BY ts, id, chunk_idx) AS rn,
             COUNT(*) OVER (PARTITION BY fp.fingerprint) AS cnt
      FROM fp JOIN firstb ON fp.fingerprint = firstb.fingerprint
      WHERE fp.batch = firstb.b0
    )
    SELECT fingerprint,
           CAST(id AS BIGINT) AS first_doc_id,
           CAST(chunk_idx AS INTEGER) AS first_chunk_idx,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS first_ts,
           CAST(cnt - 1 AS BIGINT) AS n_dups
    FROM ranked WHERE rn = 1
    """


@query("ev_chunk_first_seen_2batch", oracle=_CHUNK_2BATCH_SQL)
def ev_chunk_first_seen_2batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming passage dedup across TWO real micro-batches — the
    cross-batch suppression that distinguishes the stateful operator
    from its batch twin, driver-visible: even-id docs arrive in batch 0,
    odd-id docs in batch 1 (maxFilesPerTrigger=1 over two spooled
    files). A fingerprint first seen in batch 0 is emitted once with
    n_dups counting only its batch-0 siblings; its batch-1 repeats are
    suppressed BY STATE (were state dropped between batches, every
    shared fingerprint would re-emit and the row count would differ).
    The oracle replays both batches: per fingerprint, first (ts, id,
    chunk) within its earliest batch, duplicates counted within that
    batch only."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.streaming.events import (
        streaming_chunk_first_seen,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id")).alias("ts"),
    )
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    # watermark far above the doc-id time span: odd-id event times
    # interleave below batch 0's max, and a late-data drop here would
    # silently turn the state check into a smaller single-batch run
    out = streaming_chunk_first_seen(
        _bounded_stream_batches(spark, [b0, b1], "ch2"),
        chunk_tokens=16,
        watermark="240 hours",
    )
    res = _run_stream(spark, out, "chunk_first_seen_2batch_gate")
    return res.select(
        "fingerprint",
        "first_doc_id",
        "first_chunk_idx",
        F.date_format("first_ts", "yyyy-MM-dd HH:mm:ss").alias("first_ts"),
        "n_dups",
    )


@query(
    "ev_near_dup_stream",
    oracle=_fixture_values_sql(
        _fx.EV_NEAR_DUP_STREAM_SF001,
        [("doc_id", "BIGINT"), ("candidate_id", "BIGINT"), ("n_bands", "BIGINT")],
    ),
)
def ev_near_dup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MinHash-LSH near-dup candidate detection end-to-end
    through a bounded single-batch stream. Band buckets hash with JVM
    xxhash64, which DuckDB cannot derive, but the run is exactly
    deterministic (fixed hash algorithm, per-bucket (ts, event_id)
    processing order) → frozen sf0.01 fixture oracle; the batch twin
    dd_minhash_lsh carries the derivational portable-family oracle.
    Output aggregated to (doc_id, candidate_id, n_bands) pairs."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.streaming.events import (
        streaming_near_dup_candidates,
    )

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("event_id"),
        F.col("text").alias("props"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id")).alias("ts"),
    )
    out = streaming_near_dup_candidates(
        _bounded_stream(spark, docs, "nd"), text_col="props"
    )
    res = _run_stream(spark, out, "near_dup_gate")
    return res.groupBy("doc_id", "candidate_id").agg(
        F.count(F.lit(1)).alias("n_bands")
    )


# =========================================================================
# Resampling / ecology stats (§2.11) + ML
# =========================================================================


@query(
    "m2_bray_curtis",
    oracle="""
    WITH ab AS (
      SELECT 'C' || o_custkey AS s, l_partkey AS i, CAST(SUM(l_quantity) AS DOUBLE) AS v
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE o_custkey < 100
      GROUP BY 1, 2
    ), tot AS (
      SELECT s, SUM(v) AS t FROM ab GROUP BY s
    ), shared AS (
      SELECT a.s AS sample_a, b.s AS sample_b, SUM(LEAST(a.v, b.v)) AS msum
      FROM ab a JOIN ab b ON a.i = b.i AND a.s < b.s
      GROUP BY 1, 2
    )
    SELECT ta.s AS sample_a, tb.s AS sample_b,
           ROUND(1.0 - 2.0 * COALESCE(shared.msum, 0) / (ta.t + tb.t), 6) AS bray_curtis
    FROM tot ta JOIN tot tb ON ta.s < tb.s
    LEFT JOIN shared ON shared.sample_a = ta.s AND shared.sample_b = tb.s
    """,
)
def m2_bray_curtis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2 — pairwise Bray-Curtis over per-sample abundance vectors
    (vegan::vegdist, bin/interpersonaldiversity.R:122), sparse
    join-aggregate — no dense matrix."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.stats import bray_curtis

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    ab = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy(
            F.concat(F.lit("C"), F.col("o_custkey")).alias("sample"),
            F.col("l_partkey").alias("item"),
        )
        .agg(F.sum("l_quantity").alias("v"))
    )
    return bray_curtis(ab, "sample", "item", "v")


@query(
    "m1_rarefaction",
    oracle=_fixture_values_sql(
        _fx.M1_RAREFACTION_SF001,
        [("sample", "VARCHAR"), ("richness", "BIGINT"), ("total", "BIGINT")],
    ),
)
def m1_rarefaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1 — seeded per-sample rarefaction to the global min depth
    (vegan::rrarefy, bin/interpersonaldiversity.R:60-76). The
    multivariate-hypergeometric draw is seeded per group (partition-
    invariant) but not SQL-expressible, so the oracle is the frozen
    sf0.01 expected table (double-run identity checked); the hash-rank
    twin m1_rarefaction_portable carries the derivational oracle.
    Returns per-sample richness after rarefying (sums == depth)."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.stats import rarefy

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    ab = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        # r13: aggregate on raw bigints, concat/cast after (see the
        # portable twin — identical groups, narrower exchange)
        .groupBy("o_custkey", "l_partkey")
        .agg(F.sum("l_quantity").cast("long").alias("count"))
        .select(
            F.concat(F.lit("C"), F.col("o_custkey")).alias("sample"),
            F.col("l_partkey").cast("string").alias("item"),
            "count",
        )
        # ab feeds BOTH the depth aggregate and the draw, and Catalyst
        # does not dedupe the subtree — without this the join+groupBy
        # runs twice (once inside the broadcast depth branch); values
        # are unchanged, the draw depends only on (seed, sample, items)
        .localCheckpoint(eager=False)
    )
    depth_df = ab.groupBy("sample").agg(F.sum("count").alias("t")).agg(F.min("t").alias("d"))
    r = rarefy(ab, "sample", "item", "count", depth=depth_df, seed=42)
    return r.groupBy("sample").agg(
        F.count(F.lit(1)).alias("richness"),
        F.sum("count").alias("total"),
    )


_M1_PORTABLE_ORACLE = f"""
    WITH ab AS MATERIALIZED (
      SELECT 'C' || o_custkey AS sample, CAST(l_partkey AS VARCHAR) AS item,
             CAST(SUM(l_quantity) AS BIGINT) AS cnt
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY 1, 2
    ), depth AS (
      SELECT MIN(t) AS d
      FROM (SELECT SUM(cnt) AS t FROM ab GROUP BY sample)
    ), ind AS (
      SELECT sample, item, unnest(generate_series(1, cnt)) AS i FROM ab
    ), keyed AS (
      SELECT sample, item, i,
             {_MD5_60.format(c="sample || '|' || item || '|' || i || '|42'")} AS k
      FROM ind
    ), ranked AS (
      SELECT sample, item,
             ROW_NUMBER() OVER (PARTITION BY sample ORDER BY k, item, i) AS rn
      FROM keyed
    ), kept AS (
      SELECT sample, item FROM ranked CROSS JOIN depth WHERE rn <= depth.d
    )
    SELECT sample, CAST(COUNT(DISTINCT item) AS BIGINT) AS richness,
           CAST(COUNT(*) AS BIGINT) AS total
    FROM kept GROUP BY sample
    """


@query("m1_rarefaction_portable", oracle=_M1_PORTABLE_ORACLE)
def m1_rarefaction_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1 — hash-rank rarefaction to the global min depth (same
    vegan::rrarefy semantics as m1_rarefaction, drawn by per-individual
    md5 ranking instead of a pandas hypergeometric RNG). Every sample
    meets the min depth by construction, so no sample is dropped and the
    oracle replays the draw exactly — full value-hash parity for a
    resampling operator."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.stats import rarefy_hash

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    ab = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        # r13 (guide §2.3 narrower types): aggregate on the raw bigints,
        # concat/cast to the oracle's string keys AFTER the aggregate —
        # identical groups (the key mapping is injective), narrower
        # exchange, long-keyed hash table. The md5 draw downstream is
        # oracle-pinned on the STRING keys and unchanged.
        .groupBy("o_custkey", "l_partkey")
        .agg(F.sum("l_quantity").cast("long").alias("count"))
        .select(
            F.concat(F.lit("C"), F.col("o_custkey")).alias("sample"),
            F.col("l_partkey").cast("string").alias("item"),
            "count",
        )
    )
    # in-plan depth: the min is a window over the per-sample totals
    # rarefy_hash already aggregates — one less derivation of ab than a
    # caller-built depth DataFrame (Catalyst doesn't dedupe the subtree)
    r = rarefy_hash(ab, "sample", "item", "count", depth="min(_t)", seed=42)
    return r.groupBy("sample").agg(
        F.count(F.lit(1)).alias("richness"),
        F.sum("count").alias("total"),
    )


@query(
    "ml_rf_interactions",
    oracle=_fixture_values_sql(
        _fx.ML_RF_INTERACTIONS_SF001,
        [("prediction", "VARCHAR"), ("gold", "INTEGER"), ("n", "BIGINT")],
    ),
)
def ml_rf_interactions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7-M12 — the reference's model pipeline end-to-end
    (bin/CalculatePredModel.R): Q1 edge scan → stratified 80/20 split →
    RF → predict the held-out pairs → Interacts/NotInteracts labels
    (rows-only: RF internals aren't SQL). Returns per-class prediction
    counts joined with gold labels (confusion-matrix shape)."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.ml.model import (
        build_pipeline,
        predict_interactions,
        prepare_training,
        stratified_split,
    )
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.plans.testdata_graph import infects_edges

    edges = infects_edges(spark, sf_dir)
    data = prepare_training(edges)
    train, test = stratified_split(data, 0.8, seed=42)
    model = build_pipeline(num_trees=20, seed=42).fit(train)
    pred = predict_interactions(model, test.drop("label"))
    labeled = pred.join(
        data.select("src", "dst", F.col("label").cast("int").alias("gold")),
        ["src", "dst"],
    )
    return labeled.groupBy("prediction", "gold").agg(F.count(F.lit(1)).alias("n"))


@query(
    "ml_nested_cv",
    oracle=_fixture_values_sql(
        _fx.ML_NESTED_CV_SF001,
        [("iteration", "INTEGER"), ("cv_auc", "DOUBLE"), ("auc", "DOUBLE"),
         ("sensitivity", "DOUBLE"), ("specificity", "DOUBLE"),
         ("n_test", "BIGINT")],
    ),
)
def ml_nested_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M10 — explicit nested CV (bin/CalculatePredModel.R:68-170, the
    avgaucnested.tsv loop): 2 outer stratified splits × 3-fold inner CV
    on the Infects feature table; per-iteration cv_auc/auc/sens/spec.
    Rows-only: RF internals aren't SQL; separable-fixture behavior is
    pinned by test_ml.test_nested_cv_frame."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.ml.model import nested_cv, prepare_training
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.plans.testdata_graph import infects_edges

    data = prepare_training(infects_edges(spark, sf_dir))
    return nested_cv(data, n_outer=2, num_folds=3, num_trees=20, seed=42)


@query(
    "ml_roc_points",
    oracle=_fixture_values_sql(
        _fx.ML_ROC_POINTS_SF001,
        [("threshold", "DOUBLE"), ("fpr", "DOUBLE"), ("tpr", "DOUBLE")],
    ),
)
def ml_roc_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M12 — ROC curve points (bin/CalculatePredModel.R:302-313): train
    on the 80% stratum, emit (threshold, fpr, tpr) for the held-out 20%.
    Rows-only (model scores aren't SQL); the cumulative-window curve
    math is pinned closed-form by test_ml.test_roc_from_scores."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.ml.model import (
        build_pipeline,
        prepare_training,
        roc_points,
        stratified_split,
    )
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.plans.testdata_graph import infects_edges

    data = prepare_training(infects_edges(spark, sf_dir))
    train, test = stratified_split(data, 0.8, seed=42)
    model = build_pipeline(num_trees=20, seed=42).fit(train)
    return roc_points(model, test)


_ROC_PORTABLE_SQL = f"""
    WITH scored AS (
      SELECT ROUND(CAST(doc_id % 3 = 0 AS INTEGER) * 0.5
                   + ({_MD5_60.format(c="CAST(doc_id AS VARCHAR) || '|7'")} % 1000)
                     / 2000.0, 6) AS threshold,
             CAST(doc_id % 3 = 0 AS INTEGER) AS l
      FROM documents
    ), agg AS (
      SELECT threshold, SUM(l) AS pos, COUNT(*) - SUM(l) AS neg
      FROM scored GROUP BY threshold
    ), cum AS (
      SELECT threshold,
             SUM(neg) OVER (ORDER BY threshold DESC ROWS UNBOUNDED PRECEDING) AS cneg,
             SUM(pos) OVER (ORDER BY threshold DESC ROWS UNBOUNDED PRECEDING) AS cpos,
             SUM(neg) OVER () AS tneg,
             SUM(pos) OVER () AS tpos
      FROM agg
    )
    SELECT CAST('infinity' AS DOUBLE) AS threshold, 0.0 AS fpr, 0.0 AS tpr
    UNION ALL
    SELECT threshold,
           ROUND(cneg / CAST(tneg AS DOUBLE), 6) AS fpr,
           ROUND(cpos / CAST(tpos AS DOUBLE), 6) AS tpr
    FROM cum
    """


@query("ml_roc_portable", oracle=_ROC_PORTABLE_SQL)
def ml_roc_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M12 hash-verifiable twin of ml_roc_points: the SAME distributed
    roc_from_scores curve math (tie-grouped thresholds, one global
    cumulative window over the distinct-score table, (inf, 0, 0)
    anchor — bin/CalculatePredModel.R:302-313), driven by deterministic
    (score, label) pairs instead of RF probabilities so DuckDB can
    replay the whole curve: label = doc_id % 3 == 0, score =
    0.5*label + md5-hash noise (separable but overlapping — the curve
    has real interior points)."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.ml.model import roc_from_scores
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.corpus import seeded_id_hash

    docs = _t(spark, sf_dir, "documents")
    label = (F.col("doc_id") % 3 == 0).cast("int")
    score = F.round(
        label * F.lit(0.5) + (seeded_id_hash("doc_id", 7) % 1000) / F.lit(2000.0), 6
    )
    scored = docs.select(score.alias("score"), label.alias("label"))
    return roc_from_scores(scored, "score", "label")


# =========================================================================
# Coverage completions: W3/O3/A10/F11/R6 + Q4 + G13/M13/M4 + build e2e
# =========================================================================


@query(
    "w3_global_sort_limit",
    oracle="""
    SELECT l_suppkey, degree FROM (
      SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS degree
      FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
      GROUP BY l_suppkey
    ) ORDER BY degree DESC, l_suppkey ASC LIMIT 25
    """,
)
def w3_global_sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3+O3 — global order + deterministic LIMIT (sorted link counts,
    bin/GetNetworkLinkCounts.R:81-82; LIMIT cap, bin/TriadicClosures.R:89).
    TakeOrderedAndProject: no full sort, a bounded heap per partition."""
    li = _t(spark, sf_dir, "lineitem")
    deg = (
        li.select("l_partkey", "l_suppkey")
        .distinct()
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return deg.orderBy(F.desc("degree"), F.asc("l_suppkey")).limit(25)


@query(
    "a10_frequency_table",
    oracle="""
    SELECT o_orderstatus AS outcome, CAST(COUNT(*) AS BIGINT) AS freq
    FROM orders GROUP BY o_orderstatus
    """,
)
def a10_frequency_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 — frequency table (table(x$Correct),
    bin/CalculateModelSpecSens.R:47-58)."""
    return (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderstatus").alias("outcome"))
        .agg(F.count(F.lit(1)).alias("freq"))
    )


@query(
    "f11_substring_extract",
    oracle="""
    SELECT p_partkey,
           SUBSTRING(p_name, 3, 8) AS fragment,
           SUBSTRING(p_type, 1, 5) AS type_prefix,
           CAST(LENGTH(p_name) AS BIGINT) AS name_len
    FROM part WHERE p_size BETWEEN 10 AND 30
    """,
)
def f11_substring_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11 — substring extraction (random-fragment generator family,
    bin/RandomContigGenerator.pl:76-87 — deterministic offsets here so
    the oracle matches; the seeded variant is sources-side)."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_size").between(10, 30))
    return part.select(
        "p_partkey",
        F.substring("p_name", 3, 8).alias("fragment"),
        F.substring("p_type", 1, 5).alias("type_prefix"),
        F.length("p_name").cast("long").alias("name_len"),
    )


@query(
    "r6_transpose",
    oracle="""
    WITH piv AS (
      SELECT l_returnflag,
             ROUND(COALESCE(SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 0), 2) AS F,
             ROUND(COALESCE(SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 0), 2) AS O
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT metric,
           ROUND(COALESCE(SUM(CASE WHEN l_returnflag = 'A' THEN v END), 0), 2) AS A,
           ROUND(COALESCE(SUM(CASE WHEN l_returnflag = 'N' THEN v END), 0), 2) AS N,
           ROUND(COALESCE(SUM(CASE WHEN l_returnflag = 'R' THEN v END), 0), 2) AS R
    FROM (
      SELECT l_returnflag, 'F' AS metric, F AS v FROM piv
      UNION ALL
      SELECT l_returnflag, 'O' AS metric, O AS v FROM piv
    ) GROUP BY metric
    """,
)
def r6_transpose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R6 — matrix transpose = melt + re-pivot (t(opf_table),
    bin/OpfRarefaction.R:11): flag×status matrix → status×flag."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.relational import melt, pivot_matrix

    li = _t(spark, sf_dir, "lineitem")
    piv = pivot_matrix(li, "l_returnflag", "l_linestatus", "l_quantity", values=["F", "O"])
    piv = piv.select("l_returnflag", F.round("F", 2).alias("F"), F.round("O", 2).alias("O"))
    melted = melt(piv, ["l_returnflag"], ["F", "O"], var_name="metric", value_name="v")
    out = pivot_matrix(melted, "metric", "l_returnflag", "v", values=["A", "N", "R"], agg="sum")
    return out.select(
        "metric",
        F.round("A", 2).alias("A"),
        F.round("N", 2).alias("N"),
        F.round("R", 2).alias("R"),
    )


@query(
    "r7_column_subsample",
    oracle="""
    SELECT 'l_linenumber' AS column_name,
           CAST(COUNT(DISTINCT l_linenumber) AS BIGINT) AS n_distinct
    FROM lineitem
    UNION ALL
    SELECT 'l_linestatus', CAST(COUNT(DISTINCT l_linestatus) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'l_orderkey', CAST(COUNT(DISTINCT l_orderkey) AS BIGINT)
    FROM lineitem
    """,
)
def r7_column_subsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R7 — seeded random column subsample (keep 25%% of sample columns
    into CONCOCT, bin/ReshapeAlignedAbundance.R:41-45), then a per-kept-
    column distinct profile. The choice is deterministic by sha256(seed,
    name) over metadata only, which is exactly why an oracle exists: seed
    42 @ 0.5 keeps {l_linenumber, l_linestatus} plus the l_orderkey key,
    and the oracle hardcodes that known-ahead-of-time set. The scan then
    prunes to the 3 chosen columns (column pruning reaches parquet)."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.relational import sample_columns

    li = _t(spark, sf_dir, "lineitem")
    sampled = sample_columns(li, keep=["l_orderkey"], fraction=0.5, seed=42)
    profiles = [
        sampled.select(
            F.lit(c).alias("column_name"),
            F.countDistinct(F.col(c)).alias("n_distinct"),
        )
        for c in sorted(sampled.columns)
    ]
    out = profiles[0]
    for p in profiles[1:]:
        out = out.unionByName(p)
    return out


@query(
    "gq4_study_network",
    oracle="""
    WITH members AS (
      SELECT 'C' || c_custkey AS sample
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      WHERE n_regionkey = 1
    ), fact AS (
      SELECT 'C' || o_custkey AS sample, l_partkey, l_suppkey, l_quantity
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE 'C' || o_custkey IN (SELECT sample FROM members)
    ), sampled_phage AS (
      SELECT sample, 'P' || l_partkey AS phage, CAST(SUM(l_quantity) AS BIGINT) AS phage_abundance
      FROM fact GROUP BY 1, 2
    ), sampled_host AS (
      SELECT sample, 'S' || l_suppkey AS host, CAST(SUM(l_quantity) AS BIGINT) AS host_abundance
      FROM fact GROUP BY 1, 2
    ), infects AS (
      SELECT DISTINCT 'P' || l_partkey AS phage, 'S' || l_suppkey AS host FROM lineitem
    )
    SELECT sp.phage, i.host,
           CAST(COUNT(*) AS BIGINT) AS n_sample_pairs,
           CAST(SUM(sp.phage_abundance) AS BIGINT) AS total_phage_abundance
    FROM sampled_phage sp
    JOIN infects i ON sp.phage = i.phage
    JOIN sampled_host sh ON sh.host = i.host
    GROUP BY 1, 2
    """,
)
def gq4_study_network(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 — study-scoped expansion where sample1 and sample2 may DIFFER
    (bin/VisGraphByGroup.R:52-62): (study)-->(s1)-[:Sampled]->(phage)
    -[:Infects]->(host)<-[:Sampled]-(s2)<--(study)."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation").filter(F.col("n_regionkey") == 1)
    # r13 optimization (guide §2.3 narrower types): joins/aggregations on
    # the raw BIGINT keys, 'C'/'P'/'S' prefixes applied once in the final
    # projection — same injective-decoration argument and profile
    # evidence as gq5 (infects distinct 7.2 s task time, final join/count
    # stage 13.0 s, all UTF8String hashing over concat keys).
    members = cust.join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    ).select(F.col("c_custkey").alias("custkey"))
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    fact = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("o_custkey").alias("custkey"),
            "l_partkey",
            "l_suppkey",
            "l_quantity",
        )
        .join(F.broadcast(members), "custkey")
    )
    sampled_phage = fact.groupBy("custkey", "l_partkey").agg(
        F.sum("l_quantity").cast("long").alias("phage_abundance")
    )
    sampled_host = fact.groupBy("custkey", "l_suppkey").agg(
        F.sum("l_quantity").cast("long").alias("host_abundance")
    )
    infects = li.select("l_partkey", "l_suppkey").distinct()
    # The raw (s1, phage, host, s2) expansion is quadratically explosive
    # (the reference caps its variant with LIMIT 50000,
    # bin/TriadicClosures.R:89).  The per-(phage, host) aggregates factor
    # over the cross product — n_sample_pairs = n_s1(phage)·n_s2(host),
    # total_phage_abundance = Σ_s1 ab(phage)·n_s2(host) — so aggregate
    # each side FIRST and join per-node dims: the quadratic intermediate
    # never materializes (an algebraic rewrite Catalyst can't derive).
    pa = sampled_phage.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("_n_p"),
        F.sum("phage_abundance").cast("long").alias("_sum_ab"),
    )
    ha = sampled_host.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("_n_h"))
    return (
        infects.join(pa, "l_partkey")
        .join(ha, "l_suppkey")
        .select(
            F.concat(F.lit("P"), F.col("l_partkey")).alias("phage"),
            F.concat(F.lit("S"), F.col("l_suppkey")).alias("host"),
            (F.col("_n_p") * F.col("_n_h")).alias("n_sample_pairs"),
            (F.col("_sum_ab") * F.col("_n_h")).alias("total_phage_abundance"),
        )
    )


def _g13_oracle(fracs: tuple[float, ...], seed: int = 42) -> str:
    h_expr = _MD5_60.format(c=f"src || '|' || dst || '|{seed}'")
    segs, stats = [], []
    for t, frac in enumerate(fracs):
        thr = int(frac * (1 << 60))
        segs.append(
            f""", u{t} AS MATERIALIZED (
      SELECT src, dst FROM hashed WHERE h < {thr}
      UNION
      SELECT dst AS src, src AS dst FROM hashed WHERE h < {thr}
    ), d{t} AS (
      SELECT src, CAST(COUNT(*) AS BIGINT) AS degree FROM u{t} GROUP BY src
    )"""
        )
        stats.append(
            f"""    SELECT n.n_nodes, e.n_edges, d.mean_degree, d.max_degree,
           CAST({frac!r} AS DOUBLE) AS fraction
    FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM d{t}) n
    CROSS JOIN (SELECT CAST(COUNT(*) / 2 AS BIGINT) AS n_edges FROM u{t}) e
    CROSS JOIN (SELECT ROUND(AVG(degree), 4) AS mean_degree,
                       CAST(MAX(degree) AS BIGINT) AS max_degree FROM d{t}) d"""
        )
    return (
        """
    WITH base AS MATERIALIZED (
      SELECT DISTINCT 'P' || l_partkey AS src, 'S' || l_suppkey AS dst
      FROM lineitem
    ), hashed AS MATERIALIZED (
      SELECT src, dst, """
        + h_expr
        + """ AS h FROM base
    )"""
        + "".join(segs)
        + "\n"
        + "\n    UNION ALL\n".join(stats)
    )


@query("g13_robustness", oracle=_g13_oracle((0.9, 0.7, 0.5)))
def g13_robustness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G13 — robustness by random edge removal (NetSwan family,
    bin/error_interpersonaldiversity.R:62-66): degrade the Infects graph
    to 90/70/50% and recompute size + degree stats. sample_edges keeps an
    edge iff md5_60(src|dst|seed) < fraction·2^60 — partition-invariant
    (unlike df.sample) and replayed exactly by the oracle."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.kernels import (
        degrees,
        graph_size,
        sample_edges,
    )
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.plans.testdata_graph import infects_edges

    e = infects_edges(spark, sf_dir).select("src", "dst")
    out = None
    for frac in (0.9, 0.7, 0.5):
        sampled = sample_edges(e, frac, seed=42)
        sz = graph_size(sampled)
        deg = degrees(sampled).agg(
            F.round(F.avg("degree"), 4).alias("mean_degree"),
            F.max("degree").alias("max_degree"),
        )
        row = sz.crossJoin(deg).withColumn("fraction", F.lit(frac))
        out = row if out is None else out.unionByName(row)
    return out


_M13_PORTABLE_ORACLE = f"""
    WITH ab AS MATERIALIZED (
      SELECT 'C' || o_custkey AS sample, CAST(l_partkey AS VARCHAR) AS item,
             CAST(SUM(l_quantity) AS BIGINT) AS cnt
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE o_custkey < 50
      GROUP BY 1, 2
    ), tot AS (
      SELECT sample, SUM(cnt) AS t FROM ab GROUP BY sample
    ), ind AS (
      SELECT sample, item, unnest(generate_series(1, cnt)) AS i FROM ab
    ), keyed AS (
      SELECT sample, item, i,
             {_MD5_60.format(c="sample || '|' || item || '|' || i || '|42'")} AS k
      FROM ind
    ), ranked AS MATERIALIZED (
      SELECT sample, item,
             ROW_NUMBER() OVER (PARTITION BY sample ORDER BY k, item, i) AS rn
      FROM keyed
    ), depths AS (SELECT unnest([50, 200, 500]) AS depth
    ), rich AS (
      SELECT d.depth, r.sample, COUNT(DISTINCT r.item) AS richness
      FROM ranked r
      JOIN tot ON tot.sample = r.sample
      CROSS JOIN depths d
      WHERE r.rn <= d.depth AND tot.t >= d.depth
      GROUP BY d.depth, r.sample
    )
    SELECT CAST(depth AS BIGINT) AS depth,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           ROUND(AVG(CAST(richness AS DOUBLE)), 4) AS mean_richness
    FROM rich GROUP BY depth
    """


@query("m13_rarefaction_curve_portable", oracle=_M13_PORTABLE_ORACLE)
def m13_rarefaction_curve_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M13 — rarefaction/accumulation curve (bin/OpfRarefaction.R:12-18):
    per-sample richness at depths 50/200/500 via hash-rank draws. The
    per-individual ranking is depth-independent, so the oracle replays
    all three depths from one ranked CTE. Full value-hash parity for
    the curve."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.stats import rarefaction_curve

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 50)
    ab = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy(
            F.concat(F.lit("C"), F.col("o_custkey")).alias("sample"),
            F.col("l_partkey").cast("string").alias("item"),
        )
        .agg(F.sum("l_quantity").cast("long").alias("count"))
    )
    curve = rarefaction_curve(ab, "sample", "item", "count", depths=[50, 200, 500], seed=42)
    return curve.groupBy("depth").agg(
        F.count(F.lit(1)).alias("n_samples"),
        F.round(F.avg("richness"), 4).alias("mean_richness"),
    )


def _m4_portable_oracle(n_perm: int = 199, seed: int = 42) -> str:
    rid_key = _MD5_60.format(c=f"v || '|' || tr || '|{seed}'")
    perm_key = _MD5_60.format(c="CAST(rid AS VARCHAR) || '|' || p.p")
    return f"""
    WITH base AS MATERIALIZED (
      SELECT c_mktsegment AS g,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v
      FROM orders JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
    ), ranked AS MATERIALIZED (
      SELECT g, v, ROW_NUMBER() OVER (PARTITION BY v ORDER BY 1) AS tr
      FROM base
    ), rids AS MATERIALIZED (
      SELECT g, v, {rid_key} AS rid FROM ranked
    ), keyed AS (
      SELECT r.v, p.p, r.rid, {perm_key} AS pk
      FROM rids r
      CROSS JOIN (SELECT unnest(generate_series(1, {n_perm})) AS p) p
    ), labeled AS (
      -- margin-preserving null: per permutation the n1 hash-lowest rows
      -- take group-1's observed size
      SELECT v, p,
             ROW_NUMBER() OVER (PARTITION BY p ORDER BY pk, rid)
               <= (SELECT COUNT(*) FROM base WHERE g = 'BUILDING') AS in_g1
      FROM keyed
    ), stats AS (
      SELECT p,
             AVG(CASE WHEN in_g1 THEN v END)
               - AVG(CASE WHEN NOT in_g1 THEN v END) AS diff
      FROM labeled GROUP BY p
    ), obs AS (
      SELECT (SELECT AVG(v) FROM base WHERE g = 'BUILDING')
           - (SELECT AVG(v) FROM base WHERE g = 'MACHINERY') AS od
    ), ex AS (
      SELECT COUNT(*) AS e FROM stats CROSS JOIN obs
      WHERE ABS(diff) >= ABS(od)
    )
    SELECT ROUND(obs.od, 6) AS observed_diff,
           ROUND((ex.e + 1) / ({n_perm} + 1.0), 6) AS p_value,
           CAST({n_perm} AS BIGINT) AS n_perm
    FROM obs CROSS JOIN ex
    """


@query("m4_permutation_portable", oracle=_m4_portable_oracle())
def m4_permutation_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 — permutation test: does avg order value differ between two
    mktsegments? (ANOSIM/permutest family, bin/CompareSkin.R:336-423).
    Margin-preserving, on integer order-value cents: per permutation
    the n1 hash-lowest rows take group 1's observed size, and integral
    values make every group sum exact, so per-permutation statistics
    are bit-identical across engines and the oracle replays the full
    null distribution, exceed count, and p-value with no tolerance."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.stats import permutation_pvalue

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment").isin("BUILDING", "MACHINERY")
    )
    df = orders.join(
        F.broadcast(cust.select("c_custkey", "c_mktsegment")),
        orders.o_custkey == F.col("c_custkey"),
    ).select(
        F.col("c_mktsegment").alias("grp"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("val_cents"),
    )
    return permutation_pvalue(df, "grp", "val_cents", n_perm=199, seed=42)


@query(
    "graph_build_e2e",
    oracle="""
    SELECT 'Phage' AS kind, CAST(COUNT(*) AS BIGINT) AS n FROM part
    UNION ALL SELECT 'Bacterial_Host', CAST(COUNT(*) AS BIGINT) FROM supplier
    UNION ALL SELECT 'SampleID', CAST(COUNT(*) AS BIGINT) FROM customer
    UNION ALL SELECT 'StudyID', CAST(COUNT(*) AS BIGINT) FROM region
    UNION ALL SELECT 'PatientID', CAST(COUNT(*) AS BIGINT) FROM nation
    UNION ALL SELECT 'Disease', CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT)
              FROM customer
    UNION ALL SELECT 'TimePoint', CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT)
              FROM orders
    UNION ALL SELECT 'Infects', CAST(COUNT(*) AS BIGINT)
              FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
    UNION ALL SELECT 'Sampled',
              (SELECT CAST(COUNT(*) AS BIGINT) FROM
                 (SELECT DISTINCT o_custkey, l_partkey
                  FROM orders JOIN lineitem ON o_orderkey = l_orderkey))
            + (SELECT CAST(COUNT(*) AS BIGINT) FROM
                 (SELECT DISTINCT o_custkey, l_suppkey
                  FROM orders JOIN lineitem ON o_orderkey = l_orderkey))
    """,
)
def graph_build_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 end-to-end build on testdata: nodes (7 labels) + Infects
    feature-merge + Sampled metadata edges + length update, then the
    nestats.tsv-shaped summary (node/edge counts per label/type). The
    oracle recomputes each label/type cardinality straight from the base
    tables (build_nodes dedups per (label,id); build_infects_edges keys
    the feature cascade on (src,dst); Sampled = distinct cust→part plus
    cust→supp pairs)."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.graph_build import (
        add_metadata_edges,
        build_infects_edges,
        build_nodes,
    )
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.plans import testdata_graph as TG

    nodes = build_nodes([TG.nodes(spark, sf_dir)], assert_unique=False)
    infects = TG.infects_edges(spark, sf_dir)
    edges = build_infects_edges(
        infects.select("src", "dst", "interaction"),
        {
            c: infects.select("src", "dst", F.col(c).alias("score"))
            for c in ("crispr", "blast", "blastx", "pfam")
        },
    )
    edges = add_metadata_edges(edges, TG.sampled_edges(spark, sf_dir))
    node_counts = nodes.groupBy(F.col("label").alias("kind")).agg(
        F.count(F.lit(1)).alias("n")
    )
    edge_counts = edges.groupBy(F.col("type").alias("kind")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return node_counts.unionByName(edge_counts)


@query(
    "a11_cube_rollup",
    oracle="""
    SELECT COALESCE(l_returnflag, 'ALL') AS flag,
           COALESCE(l_linestatus, 'ALL') AS status,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def a11_cube_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 — cube/grouping-sets (absent in the reference, free in Spark;
    SURVEY §2.4 A11)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    ).select(
        F.coalesce("l_returnflag", F.lit("ALL")).alias("flag"),
        F.coalesce("l_linestatus", F.lit("ALL")).alias("status"),
        "sum_qty",
        "n",
    )


@query(
    "gq2_predicted_links",
    oracle="""
    WITH e AS (
      SELECT 'P' || l_partkey AS src, 'S' || l_suppkey AS dst,
             CASE WHEN MAX(l_quantity) > 45 THEN 'Interacts'
                  ELSE 'NotInteracts' END AS prediction
      FROM lineitem GROUP BY 1, 2
    )
    SELECT e.src AS from_name, s_name AS to_name
    FROM e JOIN supplier ON e.dst = 'S' || s_suppkey
    WHERE e.prediction = 'Interacts'
    """,
)
def gq2_predicted_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 — predicted-interaction scan projecting the target's name
    (bin/GeneralNetworkProperties.R:95-99): prediction recoded from the
    gold-label rule (F8 threshold recode), names via broadcast dim join."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.plans.testdata_graph import infects_edges

    e = infects_edges(spark, sf_dir).withColumn(
        "prediction",
        F.when(F.col("interaction") == 1, "Interacts").otherwise("NotInteracts"),
    )
    supp = _t(spark, sf_dir, "supplier").select(
        F.concat(F.lit("S"), F.col("s_suppkey")).alias("dst"),
        F.col("s_name").alias("to_name"),
    )
    return (
        e.filter(F.col("prediction") == "Interacts")
        .join(F.broadcast(supp), "dst")
        .select(F.col("src").alias("from_name"), "to_name")
    )


@query(
    "gk_betweenness",
    oracle=_fixture_values_sql(
        _fx.GK_BETWEENNESS_SF001,
        [("grp", "VARCHAR"), ("n_nodes", "BIGINT"), ("max_betweenness", "DOUBLE")],
    ),
)
def gk_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G7 — exact Brandes betweenness per per-nation supplier subgraph
    (grouped applyInPandas — thousands of subgraphs in parallel).
    Subgraph = lineitems of suppliers in one nation. Brandes with
    ordered traversal is exactly deterministic, so the oracle is the
    frozen sf0.01 expected table (tools/gen_fixture_oracles.py,
    double-run identity checked)."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.kernels import betweenness_centrality

    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.relational import best_hit

    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    e = (
        li.filter(F.col("l_quantity") > 45)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .select(
            F.col("s_nationkey").cast("string").alias("grp"),
            F.concat(F.lit("P"), F.col("l_partkey")).alias("src"),
            F.concat(F.lit("S"), F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
    )
    # Brandes is O(V·E) per group — cap each subgraph at 2000 edges
    # (deterministic hash order) so the query is scale-bounded; exact
    # betweenness on unbounded subgraphs is the reference-scale use, and
    # the kernel itself imposes no cap.
    e = best_hit(e, keys=["grp"], order=[F.abs(F.xxhash64("src", "dst")).asc()], n=800)
    bc = betweenness_centrality(e, ["grp"])
    return bc.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.round(F.max("betweenness"), 4).alias("max_betweenness"),
    )


@query(
    "gk_betweenness_stratified",
    oracle=_fixture_values_sql(
        _fx.GK_BETWEENNESS_STRAT_SF001,
        [("node", "VARCHAR"), ("betweenness", "DOUBLE")],
    ),
)
def gk_betweenness_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G7 on a FRAGMENTED global graph — component-stratified pivot
    sampling (r05): the union of all per-nation supplier subgraphs
    (nation-prefixed node ids keep them disjoint → a genuinely
    multi-component graph), 64 pivots allocated ∝ component size with
    per-component V_c/k_c scaling.  Global pivot sampling has a
    structural failure mode here (an unsampled component estimates
    exactly zero); stratification covers every component by
    construction — measured on the sf0.1 nation-0 subgraph it recovers
    the exact top-10 at half the global budget.  Deterministic (md5
    order within component) → frozen fixture oracle."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.kernels import approx_betweenness
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.relational import best_hit

    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    e = (
        li.filter(F.col("l_quantity") > 45)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .select(
            F.col("s_nationkey").cast("string").alias("grp"),
            F.concat(F.lit("P"), F.col("l_partkey")).alias("src"),
            F.concat(F.lit("S"), F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
    )
    e = best_hit(e, keys=["grp"], order=[F.abs(F.xxhash64("src", "dst")).asc()], n=800)
    e = e.select(
        F.concat_ws(":", "grp", "src").alias("src"),
        F.concat_ws(":", "grp", "dst").alias("dst"),
    )
    bc = approx_betweenness(e, n_pivots=64, stratify_components=True)
    return bc.orderBy(F.desc("betweenness"), "node").limit(20)


@query(
    "gk_betweenness_distributed",
    oracle=_fixture_values_sql(
        _fx.GK_BETWEENNESS_DIST_SF001,
        [("node", "VARCHAR"), ("betweenness", "DOUBLE")],
    ),
)
def gk_betweenness_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G7 at scale — pivot-sampled distributed Brandes on the global
    Infects graph (no per-executor subgraph materialization; 2·diameter
    shuffle supersteps; Brandes-Pich V/k scaling). 32 md5-ordered pivots
    keep the query O(32·E·diameter) at any sf. The σ/δ recursion is not
    SQL-expressible but deterministic (md5 pivot order, rounded
    accumulation), so the oracle is the frozen sf0.01 expected table
    (double-run identity checked by the generator)."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.kernels import approx_betweenness
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.plans.testdata_graph import infects_edges

    e = infects_edges(spark, sf_dir).select("src", "dst")
    bc = approx_betweenness(e, n_pivots=32, max_depth=8)
    # top-20 central nodes, deterministic ordering
    return bc.orderBy(F.desc("betweenness"), "node").limit(20)


@query(
    "gk_alpha_centrality",
    oracle=_fixture_values_sql(
        _fx.GK_ALPHA_CENTRALITY_SF001,
        [("grp", "VARCHAR"), ("n_nodes", "BIGINT"), ("mean_alpha", "DOUBLE")],
    ),
)
def gk_alpha_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G8 — alpha (Katz-Bonacich) centrality per per-nation subgraph.
    The numpy dense (I-alphaA)^-1 solve is exact and deterministic, so
    the oracle is the frozen sf0.01 expected table regenerated by
    tools/gen_fixture_oracles.py (numeric behavior pinned separately by
    test_kernels' numpy-exact fixture)."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.kernels import alpha_centrality

    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.relational import best_hit

    e = (
        li.filter(F.col("l_quantity") > 45)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .select(
            F.col("s_nationkey").cast("string").alias("grp"),
            F.concat(F.lit("P"), F.col("l_partkey")).alias("src"),
            F.concat(F.lit("S"), F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
    )
    # dense (I-αA)⁻¹ solve is O(V³) per group — scale-bound the query's
    # subgraphs (the kernel itself imposes no cap)
    e = best_hit(e, keys=["grp"], order=[F.abs(F.xxhash64("src", "dst")).asc()], n=800)
    ac = alpha_centrality(e, alpha=0.05, group_cols=["grp"])
    return ac.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.round(F.avg("alpha_centrality"), 4).alias("mean_alpha"),
    )


@query(
    "f12_json_props",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
    FROM events GROUP BY event_type
    """,
)
def f12_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12 — semi-structured JSON property extraction (absent in the
    reference's surface, SURVEY §2.7 F12 'available natively'): parse the
    events.props JSON column JVM-side (get_json_object — no UDF) and
    aggregate."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(k), 4).alias("avg_k"),
        F.max(k).alias("max_k"),
    )


@query(
    "pipeline_interpersonal_diversity",
    oracle=_fixture_values_sql(
        _fx.PIPE_INTERPERSONAL_SF001,
        [("pair_class", "VARCHAR"), ("mean_distance", "DOUBLE"),
         ("sd_distance", "DOUBLE"), ("n_pairs", "BIGINT")],
    ),
)
def pipeline_interpersonal_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §3.1 — the WHOLE entry-point-A lifecycle fused into one
    Catalyst DAG: Q5 join → F6 normalize → A7 depth → M1 rarefaction →
    F7 weights → G6 per-sample eigencentrality (all samples jointly) →
    M2 Bray-Curtis → F8 class labels → grouped stats (seeded resampling +
    iterative centrality aren't SQL, but the composition is cross-process
    deterministic -> frozen sf0.01 fixture oracle, double-run checked).
    Classes = customer mktsegment."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.plans.pipelines import interpersonal_diversity

    cust0 = _t(spark, sf_dir, "customer").filter(F.col("c_nationkey") == 0)
    members = cust0.select(F.concat(F.lit("C"), F.col("c_custkey")).alias("sample"))
    q5 = (
        QUERIES["gq5_sample_network"](spark, sf_dir)
        .select("sample", "phage", "host", "phage_abundance", "host_abundance")
        .join(F.broadcast(members), "sample")
    )
    cust = _t(spark, sf_dir, "customer").select(
        F.concat(F.lit("C"), F.col("c_custkey")).alias("sample"),
        F.col("c_mktsegment").alias("cls"),
    )
    out = interpersonal_diversity(q5, sample_class=cust, seed=42, eigen_iter=8)
    return out["stats"]


@query(
    "pipeline_compare_skin",
    oracle=_fixture_values_sql(
        _fx.PIPE_COMPARE_SKIN_SF001,
        [("pair_class", "VARCHAR"), ("mean_distance", "DOUBLE"),
         ("sd_distance", "DOUBLE"), ("n_pairs", "BIGINT")],
    ),
)
def pipeline_compare_skin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §3 — bin/CompareSkin.R fused: composite
    patient__location__timepoint keys (F4) → 5th-percentile depth (A7)
    → rarefaction (M1) → weights (F7) → per-key eigenvector +
    degree centralization (G6/G7) → Bray-Curtis (M2) → key split-back
    (F5) + intra/inter-patient stats (rows-only: seeded resampling +
    iterative centrality). Dims: patient=customer, location=nation,
    timepoint=order priority."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.plans.pipelines import compare_skin

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 30)
    cust = _t(spark, sf_dir, "customer")
    e = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(
            F.concat(F.lit("C"), F.col("o_custkey")).alias("patient"),
            F.concat(F.lit("N"), F.col("c_nationkey")).alias("location"),
            F.substring("o_orderpriority", 1, 1).alias("timepoint"),
            F.concat(F.lit("P"), F.col("l_partkey")).alias("phage"),
            F.concat(F.lit("S"), F.col("l_suppkey")).alias("host"),
        )
        .agg(
            F.sum("l_quantity").cast("long").alias("phage_abundance"),
            F.sum("l_quantity").cast("long").alias("host_abundance"),
        )
    )
    out = compare_skin(e, seed=42, eigen_iter=6)
    return out["stats"]


@query(
    "pipeline_altered_diet",
    oracle=_fixture_values_sql(
        _fx.PIPE_ALTERED_DIET_SF001,
        [("diet", "VARCHAR"), ("n_nodes", "BIGINT"), ("n_edges", "BIGINT"),
         ("diameter", "INTEGER"), ("radius", "INTEGER"),
         ("centralization", "DOUBLE"), ("mean_degree", "DOUBLE"),
         ("fraction", "DOUBLE")],
    ),
)
def pipeline_altered_diet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §3 — bin/alteredDiet.R fused: per-diet-group (customer
    mktsegment) network stats under progressive hash-deterministic edge
    removal: size, diameter/radius, eigencentralization, mean degree ×
    retention fraction (rows-only: iterative kernels)."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.plans.pipelines import altered_diet

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 200)
    cust = _t(spark, sf_dir, "customer")
    e = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("diet"),
            F.concat(F.lit("P"), F.col("l_partkey")).alias("src"),
            F.concat(F.lit("S"), F.col("l_suppkey")).alias("dst"),
        )
        .agg(F.sum("l_quantity").cast("double").alias("weight"))
    )
    out = altered_diet(e, fractions=(1.0, 0.8), max_depth=6, eigen_iter=6)
    return out["robustness"]


@query(
    "pipeline_compare_twins",
    oracle=_fixture_values_sql(
        _fx.PIPE_COMPARE_TWINS_SF001,
        [("sample", "VARCHAR"), ("max_pagerank", "DOUBLE"),
         ("max_alpha", "DOUBLE"), ("mean_entropy", "DOUBLE"),
         ("n_nodes", "BIGINT")],
    ),
)
def pipeline_compare_twins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §3 — bin/compareTwins.R fused: per-sample weighted PageRank
    (G9) + alpha centrality (G8) + edge-weight entropy (G10) merged per
    (sample, node), summarized per sample (rows-only: iterative +
    matrix-solve kernels)."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.plans.pipelines import compare_twins

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 40)
    e = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.concat(F.lit("C"), F.col("o_custkey")).alias("sample"),
            F.concat(F.lit("P"), F.col("l_partkey")).alias("src"),
            F.concat(F.lit("S"), F.col("l_suppkey")).alias("dst"),
        )
        .agg(F.sum("l_quantity").cast("double").alias("weight"))
    )
    out = compare_twins(e, alpha=0.05, pr_iter=8)
    return out["summary"]


@query(
    "tx_quality_score",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             regexp_split_to_array(trim(text), '\\s+') AS toks,
             regexp_split_to_array(lower(trim(text)), '\\s+') AS ltoks,
             CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[^\\p{L}\\p{N}\\s]', '', 'g'))
                  AS DOUBLE) / LENGTH(text) AS punct
      FROM documents
    )
    SELECT doc_id,
           ROUND((
             LEAST(CAST(len(toks) AS DOUBLE) / 50.0, 1.0)
             + (1.0 - LEAST(punct * 4.0, 1.0))
             + LEAST(CAST(len(list_filter(ltoks, x -> x IN (
                 'the','and','of','to','a','in','is','it','that','for',
                 'on','with','as','was','at','by','an','be','this','are'
               ))) AS DOUBLE) / len(toks) * 5.0, 1.0)
           ) / 3.0, 6) AS quality
    FROM t
    """,
)
def tx_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite document quality score (Gopher/C4-style length +
    punctuation + stopword heuristics), oracle-verified; langid stays in
    tx_quality_langid (marker sets not worth re-encoding in SQL)."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.functions import text as TX

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", TX.quality_score("text").alias("quality"))


# =========================================================================
# Corpus pipeline round 2: passage dedup, contamination, n-gram stats,
# deterministic splits (training-data pipeline first-class ops)
# =========================================================================

_CHUNK_SQL = f"""
    WITH toks AS (
      SELECT doc_id AS id, string_split({_NORM_SQL}, ' ') AS t FROM documents
    ), ch AS (
      SELECT id, t,
             unnest(generate_series(1, CAST(ceil(len(t) / 16.0) AS BIGINT))) AS chunk_idx
      FROM toks
    ), fp AS (
      SELECT id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
             md5(array_to_string(list_slice(t, (chunk_idx - 1) * 16 + 1, chunk_idx * 16), ' ')) AS fingerprint
      FROM ch
    ), k AS (
      SELECT fingerprint, id AS keeper_id, chunk_idx AS keeper_idx
      FROM (SELECT fingerprint, id, chunk_idx,
                   ROW_NUMBER() OVER (PARTITION BY fingerprint
                                      ORDER BY id, chunk_idx) AS rn
            FROM fp)
      WHERE rn = 1
    )
    SELECT f.id, f.chunk_idx, f.fingerprint, k.keeper_id, k.keeper_idx,
           CAST(CASE WHEN f.id <> k.keeper_id OR f.chunk_idx <> k.keeper_idx
                THEN 1 ELSE 0 END AS INTEGER) AS is_dup
    FROM fp f JOIN k USING (fingerprint)
    """


@query("dd_chunk_dedup", oracle=_CHUNK_SQL)
def dd_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level exact dedup (Lee et al. 2022 substring-dedup shape
    over fixed 16-token windows): every chunk fingerprinted, repeats of
    an already-seen chunk flagged with their keeper (doc, position).
    The oracle replays tokenize → chunk → md5 → min-struct keeper
    exactly. One fingerprint shuffle — the exact_dedup scale shape."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.dedup import chunk_dedup

    return chunk_dedup(_t(spark, sf_dir, "documents"), chunk_tokens=16)


_CONTAM_SQL = f"""
    WITH base AS (
      SELECT doc_id, {_NORM_SQL} AS norm,
             CAST(regexp_extract(source, 'src(\\d+)', 1) AS INTEGER) AS srcnum
      FROM documents
    ), toks AS (
      SELECT doc_id AS id, srcnum, string_split(norm, ' ') AS t FROM base
    ), pos AS (
      SELECT id, srcnum, t,
             unnest(CASE WHEN len(t) >= 3 THEN generate_series(1, len(t) - 2)
                         ELSE CAST([] AS BIGINT[]) END) AS i
      FROM toks
    ), sh AS (
      SELECT DISTINCT id, srcnum, array_to_string(list_slice(t, i, i + 2), ' ') AS shingle
      FROM pos
    ), tr AS (
      SELECT id AS train_id, shingle FROM sh WHERE srcnum < 10
    ), tr_kept AS (
      SELECT train_id, shingle FROM tr
      WHERE shingle IN (
        SELECT shingle FROM tr GROUP BY shingle HAVING COUNT(*) <= 20
      )
    ), te AS (
      SELECT id AS test_id, shingle FROM sh WHERE srcnum >= 10
    ), sizes AS (
      SELECT test_id, COUNT(*) AS n FROM te GROUP BY test_id
    ), inter AS (
      SELECT te.test_id, tr_kept.train_id, COUNT(*) AS shared
      FROM te JOIN tr_kept USING (shingle)
      GROUP BY te.test_id, tr_kept.train_id
    )
    SELECT i.test_id, i.train_id, i.shared,
           ROUND(i.shared / CAST(s.n AS DOUBLE), 6) AS containment
    FROM inter i JOIN sizes s USING (test_id)
    WHERE ROUND(i.shared / CAST(s.n AS DOUBLE), 6) >= 0.1
    """


@query("dd_contamination", oracle=_CONTAM_SQL)
def dd_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination screen: sources src0-9 as the training
    corpus, src10-19 as the eval corpus; flags eval docs whose 3-token
    shingles are ≥10% contained in some training doc, after dropping
    boilerplate shingles seen in >20 training docs (the skew guard).
    Oracle replays shingling, the doc-frequency prune, and the
    containment join end-to-end."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.dedup import (
        contamination_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    srcnum = F.regexp_extract("source", r"src(\d+)", 1).cast("int")
    train = docs.filter(srcnum < 10)
    test = docs.filter(srcnum >= 10)
    return contamination_pairs(train, test, k=3, threshold=0.1, max_df=20)


_TOP_NGRAMS_SQL = f"""
    WITH toks AS (
      SELECT doc_id AS id, string_split({_NORM_SQL}, ' ') AS t FROM documents
    ), pos AS (
      SELECT id, t,
             unnest(CASE WHEN len(t) >= 2 THEN generate_series(1, len(t) - 1)
                         ELSE CAST([] AS BIGINT[]) END) AS i
      FROM toks
    ), grams AS (
      SELECT id, array_to_string(list_slice(t, i, i + 1), ' ') AS ngram FROM pos
    )
    SELECT ngram, COUNT(*) AS n_occurrences,
           COUNT(DISTINCT id) AS n_docs
    FROM grams GROUP BY ngram
    ORDER BY n_occurrences DESC, ngram ASC
    LIMIT 50
    """


@query("tx_top_ngrams", oracle=_TOP_NGRAMS_SQL)
def tx_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus LM statistics: global top-50 bigrams by raw occurrence
    count (ties broken by text, so the top-k SET is deterministic and
    the order-insensitive value hash matches). Compiles to
    TakeOrderedAndProject — bounded heaps, no global sort."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.corpus import top_ngrams

    return top_ngrams(_t(spark, sf_dir, "documents"), n=2, limit=50)


_SPLIT_SQL = f"""
    WITH b AS (
      SELECT source,
             {_MD5_60.format(c="CAST(doc_id AS VARCHAR) || '|42'")} % 1000000 AS bucket
      FROM documents
    )
    SELECT source,
           CASE WHEN bucket < 800000 THEN 'train'
                WHEN bucket < 900000 THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs
    FROM b GROUP BY 1, 2
    """


@query("tx_split_assign", oracle=_SPLIT_SQL)
def tx_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/val/test split (80/10/10):
    assignment is a pure md5 row function of the doc id — stable across
    runs, partitionings, and engines, unlike randomSplit. Returns
    per-(source, split) doc counts; the oracle replays the bucketing."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.corpus import split_assign

    docs = _t(spark, sf_dir, "documents")
    return (
        split_assign(docs, id_col="doc_id", weights=(0.8, 0.1, 0.1), seed=42)
        .groupBy("source", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


_QFILTER_SQL = """
    WITH t AS (
      SELECT doc_id, lang, text,
             regexp_split_to_array(trim(text), '\\s+') AS toks,
             regexp_split_to_array(lower(trim(text)), '\\s+') AS ltoks,
             CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[^\\p{L}\\p{N}\\s]', '', 'g'))
                  AS DOUBLE) / LENGTH(text) AS punct
      FROM documents
    ), q AS (
      SELECT doc_id, lang, text, len(toks) AS n_tok,
             ROUND((
               LEAST(CAST(len(toks) AS DOUBLE) / 50.0, 1.0)
               + (1.0 - LEAST(punct * 4.0, 1.0))
               + LEAST(CAST(len(list_filter(ltoks, x -> x IN (
                   'the','and','of','to','a','in','is','it','that','for',
                   'on','with','as','was','at','by','an','be','this','are'
                 ))) AS DOUBLE) / len(toks) * 5.0, 1.0)
             ) / 3.0, 6) AS quality
      FROM t
    ), r AS (
      SELECT doc_id,
             COALESCE(array_to_string(list_filter([
               CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 'empty' END,
               CASE WHEN n_tok < 30 THEN 'too_short' END,
               CASE WHEN n_tok > 80 THEN 'too_long' END,
               CASE WHEN quality < 0.5 THEN 'low_quality' END,
               CASE WHEN lang IS NULL OR NOT lang IN ('de','en','fr') THEN 'lang' END
             ], x -> x IS NOT NULL), ','), '') AS reject_reasons
      FROM q
    )
    SELECT doc_id, reject_reasons,
           CAST(CASE WHEN reject_reasons = '' THEN 1 ELSE 0 END AS INTEGER) AS kept
    FROM r
    """


@query("tx_quality_filter", oracle=_QFILTER_SQL)
def tx_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus quality-filter routing (C4/Gopher rule set): every doc gets
    its comma-joined rejection reasons (empty string = keep) so rejects
    route to a quarantine sink instead of vanishing — P10 label routing
    at corpus scale, one codegen'd scan, no UDF. The oracle replays the
    length/quality/lang rules and the reason-string assembly."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.functions import text as TX

    docs = _t(spark, sf_dir, "documents")
    r = TX.reject_reasons(
        "text",
        "lang",
        min_tokens=30,
        max_tokens=80,
        min_quality=0.5,
        allowed_langs=["en", "de", "fr"],
    )
    return docs.select(
        "doc_id",
        r.alias("reject_reasons"),
        (r == F.lit("")).cast("int").alias("kept"),
    )


_REPETITION_SQL = f"""
    WITH toks AS (
      SELECT doc_id AS id, string_split({_NORM_SQL}, ' ') AS t FROM documents
    ), pos AS (
      SELECT id, t,
             unnest(CASE WHEN len(t) >= 2 THEN generate_series(1, len(t) - 1)
                         ELSE CAST([] AS BIGINT[]) END) AS i
      FROM toks
    ), counts AS (
      SELECT id, array_to_string(list_slice(t, i, i + 1), ' ') AS ngram,
             COUNT(*) AS c
      FROM pos GROUP BY id, ngram
    )
    SELECT id,
           ROUND(ln(SUM(c)) - SUM(c * ln(c)) / SUM(c), 6) AS ngram_entropy,
           ROUND(MAX(c) / CAST(SUM(c) AS DOUBLE), 6) AS top_ngram_share,
           ROUND(1.0 - COUNT(*) / CAST(SUM(c) AS DOUBLE), 6) AS dup_ngram_ratio
    FROM counts GROUP BY id
    """


@query("tx_repetition_stats", oracle=_REPETITION_SQL)
def tx_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter signals per doc: bigram Shannon
    entropy (single-pass identity, no totals join), top-bigram share,
    and duplicate-bigram mass. The oracle replays the shingling and all
    three identities; round-6 on both sides keeps the float hash exact."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.corpus import repetition_stats

    return repetition_stats(_t(spark, sf_dir, "documents"), n=2)


_CURATION_SQL = f"""
    WITH t AS (
      SELECT doc_id, source, lang, text,
             regexp_split_to_array(trim(text), '\\s+') AS toks,
             regexp_split_to_array(lower(trim(text)), '\\s+') AS ltoks,
             CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[^\\p{{L}}\\p{{N}}\\s]', '', 'g'))
                  AS DOUBLE) / LENGTH(text) AS punct
      FROM documents
    ), q AS (
      SELECT doc_id, source, lang, text, len(toks) AS n_tok,
             ROUND((
               LEAST(CAST(len(toks) AS DOUBLE) / 50.0, 1.0)
               + (1.0 - LEAST(punct * 4.0, 1.0))
               + LEAST(CAST(len(list_filter(ltoks, x -> x IN (
                   'the','and','of','to','a','in','is','it','that','for',
                   'on','with','as','was','at','by','an','be','this','are'
                 ))) AS DOUBLE) / len(toks) * 5.0, 1.0)
             ) / 3.0, 6) AS quality
      FROM t
    ), kept AS (
      SELECT doc_id, source, quality, md5(CASE WHEN {_NORM_SQL} <> '' THEN {_NORM_SQL} ELSE chr(0) || 'raw' || chr(0) || COALESCE(text, '') END) AS fp
      FROM q
      WHERE NOT (text IS NULL OR length(trim(text)) = 0)
        AND n_tok >= 30 AND n_tok <= 80
        AND quality >= 0.5
        AND lang IN ('de','en','fr')
    ), k AS (
      SELECT fp, MIN(doc_id) AS keeper FROM kept GROUP BY fp
    ), s AS (
      SELECT kept.source, kept.quality,
             {_MD5_60.format(c="CAST(kept.doc_id AS VARCHAR) || '|42'")} % 1000000 AS bucket
      FROM kept JOIN k USING (fp)
      WHERE kept.doc_id = k.keeper
    )
    SELECT source,
           CASE WHEN bucket < 800000 THEN 'train'
                WHEN bucket < 900000 THEN 'val'
                ELSE 'test' END AS disposition,
           COUNT(*) AS n_docs,
           ROUND(AVG(quality), 6) AS mean_quality
    FROM s GROUP BY 1, 2
    """


@query("pipeline_corpus_curation", oracle=_CURATION_SQL)
def pipeline_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation (quality routing → exact dedup →
    deterministic split → per-(source, split) summary) as one lazy plan.
    Every stage is individually oracle-verified elsewhere; this entry
    verifies the COMPOSITION — the oracle replays filter rules,
    fingerprint dedup, and split bucketing end-to-end."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.plans.pipelines import corpus_curation

    out = corpus_curation(
        _t(spark, sf_dir, "documents"),
        min_tokens=30,
        max_tokens=80,
        min_quality=0.5,
        allowed_langs=["en", "de", "fr"],
    )
    return out["summary"]


_STRATIFIED_SQL = f"""
    WITH b AS (
      SELECT doc_id, lang,
             {_MD5_60.format(c="CAST(doc_id AS VARCHAR) || '|42'")} % 1000000 AS bucket
      FROM documents
    )
    SELECT doc_id, lang FROM b
    WHERE bucket < CASE lang
                     WHEN 'en' THEN 250000
                     WHEN 'de' THEN 1000000
                     WHEN 'fr' THEN 1000000
                     WHEN 'es' THEN 500000
                     ELSE 0 END
    """


@query("tx_stratified_sample", oracle=_STRATIFIED_SQL)
def tx_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus rebalancing: downsample the over-represented
    language (en -> 25%), keep the rare ones whole (de/fr -> 100%,
    es -> 50%), drop the rest (zh absent from fractions). A pure md5 row
    function — the oracle replays every keep decision exactly, which
    DataFrame.sampleBy (partition-order rand) could never do."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.corpus import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    return stratified_sample(
        docs, "lang", {"en": 0.25, "de": 1.0, "fr": 1.0, "es": 0.5}, seed=42
    ).select("doc_id", "lang")


_EMB_HEALTH_SQL = """
    WITH n AS (
      SELECT label,
             embedding IS NULL AS is_null,
             CASE WHEN embedding IS NULL THEN NULL
                  ELSE sqrt(list_sum(list_transform(embedding,
                       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) END AS nrm,
             CASE WHEN embedding IS NULL THEN 0
                  WHEN len(embedding) <> 64 THEN 1 ELSE 0 END AS bad_dim
      FROM embeddings
    )
    SELECT label,
           COUNT(*) AS n_vecs,
           CAST(SUM(CASE WHEN is_null THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           CAST(SUM(CASE WHEN NOT is_null AND nrm = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
           CAST(SUM(bad_dim) AS BIGINT) AS n_bad_dim,
           ROUND(AVG(nrm), 6) AS mean_norm,
           ROUND(MIN(nrm), 6) AS min_norm,
           ROUND(MAX(nrm), 6) AS max_norm
    FROM n GROUP BY label
    """


@query("ss_embedding_health", oracle=_EMB_HEALTH_SQL)
def ss_embedding_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding hygiene sweep per label: vector counts, L2-norm
    spread, and degenerate-row counts (null / zero / wrong-dim) — the
    validation pass that runs before any ANN index build. One scan, one
    aggregate; the oracle replays the norms element-for-element (array
    order is deterministic on both sides)."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.similarity import embedding_health

    return embedding_health(
        _t(spark, sf_dir, "embeddings"),
        group_col="label",
        expected_dim=64,
    )


# PII regexes live in operators/corpus.py (PII_PATTERNS) — written in the
# Java-regex/RE2 common subset so Spark and DuckDB match identically.
_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PII_IPV4 = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
_PII_PHONE = "\\+?\\d{3}[- ]\\d{3}[- ]\\d{4}"

# The synthetic corpus has no PII, so both sides append a deterministic
# doc_id-derived email + IP (+ phone on even ids) before scrubbing — the
# operator semantics (sequential redaction, raw-text audit counts) are
# exercised on text that actually contains each pattern family.
_PII_SQL = f"""
    WITH aug AS (
      SELECT doc_id,
             text || ' user' || doc_id || '@example.com 10.0.'
                  || (doc_id % 256) || '.' || ((doc_id * 7) % 256)
                  || CASE WHEN doc_id % 2 = 0
                          THEN ' 555-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                          ELSE '' END AS text
      FROM documents
    )
    SELECT doc_id AS id,
           regexp_replace(regexp_replace(regexp_replace(text,
             '{_PII_EMAIL}', '<EMAIL>', 'g'),
             '{_PII_IPV4}', '<IPV4>', 'g'),
             '{_PII_PHONE}', '<PHONE>', 'g') AS clean_text,
           CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(text, '{_PII_IPV4}')) AS BIGINT) AS n_ipv4,
           CAST(len(regexp_extract_all(text, '{_PII_PHONE}')) AS BIGINT) AS n_phone
    FROM aug
    """


@query("tx_pii_scrub", oracle=_PII_SQL)
def tx_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (C4/Dolma scrub): emails, IPv4s, and phone numbers
    replaced by typed sentinels in declared order, with per-family raw-
    text audit counts. One codegen'd projection, zero shuffles; the
    oracle replays the same regex chain (Java-regex/RE2 common subset)
    on the same augmented text."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.corpus import pii_scrub

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" user"), d.cast("string"), F.lit("@example.com 10.0."),
            (d % 256).cast("string"), F.lit("."), ((d * 7) % 256).cast("string"),
            F.when(
                d % 2 == 0,
                F.concat(F.lit(" 555-555-"), F.lpad((d % 10000).cast("string"), 4, "0")),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return pii_scrub(aug)


_LINE_FILTER_SQL = """
    WITH aug AS (
      SELECT doc_id,
             regexp_replace(text, ' (table|query|value) ', '.' || chr(10), 'g') AS text
      FROM documents
    ), s AS (
      SELECT doc_id, regexp_split_to_array(text, '\\r?\\n') AS ls FROM aug
    ), f AS (
      SELECT doc_id, ls,
             list_filter(ls, x ->
               len(regexp_split_to_array(trim(x), '\\s+')) >= 3
               AND regexp_matches(trim(x), '[.!?]$')) AS ks
      FROM s
    )
    SELECT doc_id AS id,
           COALESCE(array_to_string(ks, chr(10)), '') AS clean_text,
           CAST(len(ls) AS BIGINT) AS n_lines,
           CAST(len(ks) AS BIGINT) AS n_kept
    FROM f
    """


@query("tx_line_filter", oracle=_LINE_FILTER_SQL)
def tx_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line-level filtering: drop lines with < 3 words or no
    terminal punctuation, re-join survivors, count kept/total. The
    synthetic corpus is single-line, so both sides first inject line
    breaks at deterministic word positions. Higher-order array functions
    only — no explode, no shuffle, whole-stage codegen throughout."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.corpus import line_filter

    docs = _t(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.regexp_replace("text", " (table|query|value) ", ".\n").alias("text"),
    )
    return line_filter(aug, min_words=3, require_terminal=True)


_SEQPACK_SQL = f"""
    WITH b AS (
      SELECT doc_id AS id,
             {_MD5_60.format(c="CAST(doc_id AS VARCHAR) || '|42'")} AS h,
             CAST(len(string_split({_NORM_SQL}, ' ')) AS BIGINT) AS n_tok
      FROM documents
    ), w AS (
      SELECT id, CAST(h % 8 AS BIGINT) AS bucket, h AS ord, n_tok FROM b
    ), c AS (
      SELECT id, bucket, n_tok,
             SUM(n_tok) OVER (PARTITION BY bucket ORDER BY ord, id
                              ROWS UNBOUNDED PRECEDING) - n_tok AS start
      FROM w
    )
    SELECT id, bucket, n_tok,
           CAST(FLOOR(start / 128.0) AS BIGINT) AS pack_id,
           CAST(start % 128 AS BIGINT) AS pack_offset
    FROM c
    """


@query("tx_sequence_pack", oracle=_SEQPACK_SQL)
def tx_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing (the GPT pretraining batcher):
    docs hash into 8 independent streams, an md5 shuffle orders each
    stream, and a running token sum assigns every doc its (bucket,
    pack_id, pack_offset). One shuffle on the bucket; the oracle replays
    the hash order and the running-sum window exactly."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.corpus import sequence_pack

    return sequence_pack(
        _t(spark, sf_dir, "documents"), budget=128, n_buckets=8, seed=42
    )


@query("ev_stream_pack", oracle=_SEQPACK_SQL)
def ev_stream_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sequence packing (streaming.events.streaming_sequence_pack)
    end-to-end through a bounded single-batch stream: per-bucket
    cumulative-token state fills packs across micro-batches; a
    single-batch run orders each bucket by the same md5 shuffle as batch
    sequence_pack, so the batch oracle replays the stream's answer
    bit-for-bit."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.streaming.events import (
        streaming_sequence_pack,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = streaming_sequence_pack(
        _bounded_stream(spark, docs, "sp"), budget=128, n_buckets=8, seed=42
    )
    return _run_stream(spark, out, "stream_pack_gate")


_SEQPACK_2BATCH_SQL = f"""
    WITH b AS (
      SELECT doc_id AS id,
             {_MD5_60.format(c="CAST(doc_id AS VARCHAR) || '|42'")} AS h,
             CAST(len(string_split({_NORM_SQL}, ' ')) AS BIGINT) AS n_tok,
             CAST(doc_id % 2 AS INTEGER) AS batch
      FROM documents
    ), w AS (
      SELECT id, CAST(h % 8 AS BIGINT) AS bucket, batch, h AS ord, n_tok FROM b
    ), c AS (
      -- arrival order across micro-batches, md5 order within each:
      -- the per-bucket token state carries batch 0's totals into batch 1
      SELECT id, bucket, n_tok,
             SUM(n_tok) OVER (PARTITION BY bucket ORDER BY batch, ord, id
                              ROWS UNBOUNDED PRECEDING) - n_tok AS start
      FROM w
    )
    SELECT id, bucket, n_tok,
           CAST(FLOOR(start / 128.0) AS BIGINT) AS pack_id,
           CAST(start % 128 AS BIGINT) AS pack_offset
    FROM c
    """


@query("ev_stream_pack_2batch", oracle=_SEQPACK_2BATCH_SQL)
def ev_stream_pack_2batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sequence packing across TWO real micro-batches: even-id
    docs arrive first, odd-id docs second (mtime-ordered spool files +
    maxFilesPerTrigger=1).  The per-bucket cumulative-token state must
    carry batch 0's totals into batch 1 — the oracle replays the exact
    cross-batch running sum (ORDER BY batch, md5-ord, id per bucket), so
    a packer that dropped state between batches would reset every
    batch-1 offset to zero and hash-mismatch."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.streaming.events import (
        streaming_sequence_pack,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    out = streaming_sequence_pack(
        _bounded_stream_batches(spark, [b0, b1], "sp2"),
        budget=128,
        n_buckets=8,
        seed=42,
    )
    return _run_stream(spark, out, "stream_pack_2batch_gate")


def _semantic_dedup_oracle(dim: int = 64, n_cells: int = 16, tau: float = 0.8) -> str:
    """DuckDB twin of semantic_dedup: same md5-first centroids and
    argmin cell assignment as the IVF oracle, then the within-cell
    lower-id tau-neighbor flagging."""
    cos = """SUM(CAST(t.v[j] AS DOUBLE) * CAST(c.cv[j] AS DOUBLE))
               / (SQRT(SUM(CAST(t.v[j] AS DOUBLE) * CAST(t.v[j] AS DOUBLE)))
                  * SQRT(SUM(CAST(c.cv[j] AS DOUBLE) * CAST(c.cv[j] AS DOUBLE))))"""
    return f"""
    WITH vecs AS MATERIALIZED (
      SELECT vec_id AS id, embedding AS v FROM embeddings
    ), cents AS MATERIALIZED (
      -- same degenerate-row filter as _resolve_centroids: null vectors,
      -- null elements, and zero-norm vectors must never become centroids
      SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(id AS VARCHAR))) - 1 AS ci,
             v AS cv
      FROM (SELECT id, v FROM vecs
            WHERE v IS NOT NULL
              AND NOT list_contains(list_transform(v, x -> x IS NULL), true)
              AND list_sum(list_transform(v,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0
            ORDER BY md5(CAST(id AS VARCHAR)) LIMIT {n_cells})
    ), idx AS (SELECT unnest(generate_series(1, {dim})) AS j
    ), dists AS MATERIALIZED (
      SELECT t.id, c.ci, ROUND(1.0 - {cos}, 6) AS d
      FROM vecs t CROSS JOIN cents c CROSS JOIN idx
      GROUP BY t.id, c.ci
    ), cells AS MATERIALIZED (
      SELECT id, CAST(ci AS BIGINT) AS cell FROM (
        SELECT id, ci, ROW_NUMBER() OVER (PARTITION BY id ORDER BY d, ci) AS rn
        FROM dists
      ) WHERE rn = 1
    ), pairs AS (
      SELECT a.id AS id_a, b.id AS id_b
      FROM cells a JOIN cells b ON a.cell = b.cell AND a.id < b.id
    ), scored AS (
      SELECT p.id_a, p.id_b,
             ROUND(
               SUM(CAST(av.v[j] AS DOUBLE) * CAST(bv.v[j] AS DOUBLE))
               / (SQRT(SUM(CAST(av.v[j] AS DOUBLE) * CAST(av.v[j] AS DOUBLE)))
                  * SQRT(SUM(CAST(bv.v[j] AS DOUBLE) * CAST(bv.v[j] AS DOUBLE)))),
               6) AS sim
      FROM pairs p
      JOIN vecs av ON av.id = p.id_a
      JOIN vecs bv ON bv.id = p.id_b
      CROSS JOIN idx
      GROUP BY p.id_a, p.id_b
    ), dups AS (
      SELECT id_b, MIN(id_a) AS dup_of FROM scored WHERE sim >= {tau} GROUP BY id_b
    )
    SELECT c.id, c.cell,
           CAST(CASE WHEN d.dup_of IS NOT NULL THEN 1 ELSE 0 END AS INTEGER) AS is_dup,
           CAST(COALESCE(d.dup_of, -1) AS BIGINT) AS dup_of
    FROM cells c LEFT JOIN dups d ON d.id_b = c.id
    """


@query("dd_semantic_dedup", oracle=_semantic_dedup_oracle())
def dd_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup over the embedding table: coarse
    md5-sampled cells, within-cell cosine >= tau to a lower-id member
    flags a duplicate. The oracle replays centroid selection, argmin
    assignment, and the pair flagging end-to-end. The within-cell
    self-join is the SemDeDup scale shape — pair count bounded by cell
    granularity, never all-pairs."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.similarity import (
        semantic_dedup,
    )

    return semantic_dedup(_t(spark, sf_dir, "embeddings"), tau=0.8, n_cells=16)


_UNIGRAM_SQL = f"""
    WITH toks AS (
      SELECT doc_id AS id, unnest(string_split({_NORM_SQL}, ' ')) AS tok
      FROM documents
    ), counts AS (
      SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok
    ), totals AS (
      SELECT SUM(c) AS n, COUNT(*) AS v FROM counts
    )
    SELECT t.id,
           CAST(COUNT(*) AS BIGINT) AS n_tok,
           ROUND(AVG(-(ln(c + 1.0) - ln(n + 1.0 * v))), 6) AS avg_neg_logprob
    FROM toks t JOIN counts USING (tok) CROSS JOIN totals
    GROUP BY t.id
    """


@query("tx_unigram_logprob", oracle=_UNIGRAM_SQL)
def tx_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style self-trained unigram LM quality score: per-doc mean
    token negative log-probability under the corpus's own add-1
    unigram model. Two aggregations + one token join; N/V scalars stay
    in-plan (1-row broadcast crossJoin, no collect). The oracle replays
    counts, smoothing, and the mean identically."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.corpus import unigram_logprob

    return unigram_logprob(_t(spark, sf_dir, "documents"), k_smooth=1.0)


_MIXTURE_SQL = """
    WITH counts AS (
      SELECT source AS domain, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source
    ), totals AS (
      SELECT SUM(n_docs) AS t FROM counts
    )
    SELECT domain, n_docs,
           ROUND(n_docs / CAST(t AS DOUBLE), 6) AS observed_share,
           ROUND(CASE WHEN domain = 'src0' THEN 0.5
                      WHEN domain = 'src1' THEN 0.25
                      WHEN domain = 'src2' THEN 0.25
                      ELSE 0.0 END, 6) AS target_share,
           ROUND(CASE WHEN domain = 'src0' THEN 0.5
                      WHEN domain = 'src1' THEN 0.25
                      WHEN domain = 'src2' THEN 0.25
                      ELSE 0.0 END / (n_docs / CAST(t AS DOUBLE)), 6) AS weight
    FROM counts CROSS JOIN totals
    """


@query("tx_mixture_weights", oracle=_MIXTURE_SQL)
def tx_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture reweighting: observed per-source corpus shares vs
    an explicit target mix (50/25/25 over three sources, rest dropped),
    and the resampling weight reshaping one into the other. One
    aggregation, scalars in-plan; the oracle replays shares and
    weights."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.corpus import mixture_weights

    return mixture_weights(
        _t(spark, sf_dir, "documents"),
        domain_col="source",
        target={"src0": 0.5, "src1": 0.25, "src2": 0.25},
    )


_VOCAB_GROWTH_SQL = f"""
    WITH toks AS (
      SELECT doc_id AS id,
             {_MD5_60.format(c="CAST(doc_id AS VARCHAR) || '|42'")} AS h,
             unnest(string_split({_NORM_SQL}, ' ')) AS tok
      FROM documents
    ), wide AS (
      SELECT
        COUNT(DISTINCT CASE WHEN h < {int(0.25 * (1 << 60))} THEN id END) AS d1,
        COUNT(CASE WHEN h < {int(0.25 * (1 << 60))} THEN 1 END) AS n1,
        COUNT(DISTINCT CASE WHEN h < {int(0.25 * (1 << 60))} THEN tok END) AS v1,
        COUNT(DISTINCT CASE WHEN h < {int(0.5 * (1 << 60))} THEN id END) AS d2,
        COUNT(CASE WHEN h < {int(0.5 * (1 << 60))} THEN 1 END) AS n2,
        COUNT(DISTINCT CASE WHEN h < {int(0.5 * (1 << 60))} THEN tok END) AS v2,
        COUNT(DISTINCT CASE WHEN h < {int(0.75 * (1 << 60))} THEN id END) AS d3,
        COUNT(CASE WHEN h < {int(0.75 * (1 << 60))} THEN 1 END) AS n3,
        COUNT(DISTINCT CASE WHEN h < {int(1.0 * (1 << 60))} THEN tok END) AS v3b,
        COUNT(DISTINCT CASE WHEN h < {int(0.75 * (1 << 60))} THEN tok END) AS v3,
        COUNT(DISTINCT CASE WHEN h < {int(1.0 * (1 << 60))} THEN id END) AS d4,
        COUNT(CASE WHEN h < {int(1.0 * (1 << 60))} THEN 1 END) AS n4
      FROM toks
    )
    SELECT 0.25 AS fraction, d1 AS n_docs, n1 AS n_tokens, v1 AS vocab_size FROM wide
    UNION ALL
    SELECT 0.5, d2, n2, v2 FROM wide
    UNION ALL
    SELECT 0.75, d3, n3, v3 FROM wide
    UNION ALL
    SELECT 1.0, d4, n4, v3b FROM wide
    """


@query("tx_vocab_growth", oracle=_VOCAB_GROWTH_SQL)
def tx_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth at nested md5-prefix corpus
    fractions (25/50/75/100%): one tokenize pass, one aggregation with
    conditional distincts — no per-fraction rescan. The oracle replays
    the hash thresholds and every count."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.corpus import vocab_growth

    return vocab_growth(_t(spark, sf_dir, "documents"))


_BACKOFF_SQL = f"""
    WITH toks AS (
      SELECT doc_id AS id, string_split({_NORM_SQL}, ' ') AS t FROM documents
    ), pos AS (
      SELECT id, t,
             unnest(CASE WHEN len(t) >= 2 THEN generate_series(1, len(t) - 1)
                         ELSE CAST([] AS BIGINT[]) END) AS i
      FROM toks
    ), pairs AS (
      SELECT id, t[i] AS v, t[i + 1] AS w FROM pos
    ), big AS (
      SELECT v, w, COUNT(*) AS c_vw FROM pairs GROUP BY v, w
    ), unis AS (
      SELECT tok, COUNT(*) AS c
      FROM (SELECT unnest(t) AS tok FROM toks) GROUP BY tok
    ), totals AS (SELECT SUM(c) AS n FROM unis
    ), scored AS (
      SELECT p.id,
             -CASE WHEN b.c_vw IS NOT NULL
                   THEN ln(b.c_vw / CAST(uv.c AS DOUBLE))
                   ELSE ln(0.4 * uw.c / CAST(t.n AS DOUBLE)) END AS nls
      FROM pairs p
      LEFT JOIN big b ON b.v = p.v AND b.w = p.w
      JOIN unis uv ON uv.tok = p.v
      JOIN unis uw ON uw.tok = p.w
      CROSS JOIN totals t
    )
    SELECT id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(AVG(nls), 6) AS avg_neg_logscore
    FROM scored GROUP BY id
    """


@query(
    "tx_chunk_windows",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id AS id, string_split({_NORM_SQL}, ' ') AS t FROM documents
    ), st AS (
      SELECT id, t, s,
             ROW_NUMBER() OVER (PARTITION BY id ORDER BY s) - 1 AS ci
      FROM (
        SELECT DISTINCT id, t, s FROM (
          SELECT id, t,
                 unnest(generate_series(1, greatest(1, len(t) - 15), 8)) AS s
          FROM toks
          UNION ALL
          SELECT id, t, greatest(1, len(t) - 15) AS s FROM toks
        )
      )
    )
    SELECT id, CAST(ci AS BIGINT) AS chunk_idx,
           CAST(s AS BIGINT) AS start_tok,
           CAST(len(list_slice(t, s, s + 15)) AS BIGINT) AS n_tok,
           array_to_string(list_slice(t, s, s + 15), ' ') AS chunk_text
    FROM st
    """,
)
def tx_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (16-token windows, stride 8 → 50%
    overlap) — the context-window prep step for training/RAG pipelines;
    the final start pulls back to n−15 so every token is covered by a
    FULL window (HF overflow convention).  Map-only (sequence-with-step
    + slice, no shuffle); the oracle replays starts, the pulled-back
    tail, slices, and ordering exactly."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.corpus import chunk_windows

    return chunk_windows(
        _t(spark, sf_dir, "documents"), window_tokens=16, stride=8
    )


_TFIDF_SCORE = "ROUND(tf.tf * (LN((1.0 + tot.n) / (1.0 + dfq.df)) + 1.0), 6)"

_TFIDF_SQL = f"""
    WITH toks AS (
      SELECT doc_id AS id, unnest(string_split({_NORM_SQL}, ' ')) AS term
      FROM documents
    ), tf AS MATERIALIZED (
      SELECT id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY id, term
    ), dfq AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), tot AS (SELECT COUNT(*) AS n FROM documents)
    SELECT id, term, tf, score, CAST(rank AS BIGINT) AS rank FROM (
      SELECT tf.id, tf.term, tf.tf, {_TFIDF_SCORE} AS score,
             ROW_NUMBER() OVER (
               PARTITION BY tf.id ORDER BY {_TFIDF_SCORE} DESC, tf.term
             ) AS rank
      FROM tf JOIN dfq USING (term) CROSS JOIN tot
    ) WHERE rank <= 5
    """


@query("tx_tfidf_top_terms", oracle=_TFIDF_SQL)
def tx_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword extraction: top-5 most characteristic terms per
    doc, smooth-idf (sklearn form) over the shared LM tokenizer.  One
    (id, term) shuffle; the document-frequency table derives from the
    tf table and broadcasts back; the per-doc top-k window reuses the
    tf partitioning.  The oracle replays counts, idf, rounding, and
    tie-breaks."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.corpus import tfidf_top_terms

    return tfidf_top_terms(_t(spark, sf_dir, "documents"), k=5)


@query("tx_bigram_backoff", oracle=_BACKOFF_SQL)
def tx_bigram_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-Backoff bigram LM score per doc (Brants et al. 2007):
    seen bigrams score c(vw)/c(v), unseen back off to 0.4·c(w)/N —
    the web-scale fluency signal complementing the unigram model. The
    oracle replays counts, backoff, and the per-doc mean."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.corpus import (
        stupid_backoff_logscore,
    )

    return stupid_backoff_logscore(_t(spark, sf_dir, "documents"), alpha=0.4)


@query(
    "ml_quality_classifier",
    oracle=_fixture_values_sql(
        _fx.ML_QUALITY_CLASSIFIER_SF001,
        [("source", "VARCHAR"), ("mean_quality_prob", "DOUBLE"),
         ("n_docs", "BIGINT")],
    ),
)
def ml_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained corpus-quality filter (the GPT-3/LLaMA curated-vs-raw
    classifier): weak labels = sources src0-4 as 'curated', train a
    seeded logistic regression over the engine's text signals, score
    every doc, return per-source mean predicted quality. MLlib model →
    rows-only check (behavioral separation pinned by pytest)."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.ml.quality import (
        score_quality,
        train_quality_classifier,
    )

    docs = _t(spark, sf_dir, "documents")
    srcnum = F.regexp_extract("source", r"src(\d+)", 1).cast("int")
    labeled = docs.withColumn("curated", (srcnum < 5).cast("int"))
    model = train_quality_classifier(labeled, label_col="curated")
    scored = score_quality(model, docs).join(
        docs.select(F.col("doc_id").alias("id"), "source"), "id"
    )
    return scored.groupBy("source").agg(
        F.round(F.avg("quality_prob"), 4).alias("mean_quality_prob"),
        F.count(F.lit(1)).alias("n_docs"),
    )


_EXACT_K_SQL = f"""
    WITH r AS (
      SELECT doc_id, lang, source,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY {_MD5_60.format(c="CAST(doc_id AS VARCHAR) || '|42'")} ASC,
                        doc_id ASC
             ) AS rn
      FROM documents
    )
    SELECT doc_id, lang, source FROM r WHERE rn <= 20
    """


@query("tx_exact_k_sample", oracle=_EXACT_K_SQL)
def tx_exact_k_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k quota sampling per language: md5-ranked top-20 rows per
    stratum — deterministic, partition-invariant, and nested in k. One
    stratum shuffle + per-stratum sort-rank (see exact_k_sample's
    two-phase note for corpus-scale strata); the oracle replays the
    hash ranking."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.corpus import exact_k_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return exact_k_sample(docs, strata_col="lang", k=20)


# Composed pretraining path: same deterministic line-break + PII
# injections as tx_line_filter / tx_pii_scrub, then scrub → line filter
# → exact dedup → split → train-split sequence packing, replayed
# end-to-end by the oracle.
_PRETRAIN_SQL = f"""
    WITH aug AS (
      SELECT doc_id,
             regexp_replace(text, ' (table|query|value) ', '.' || chr(10), 'g')
             || ' user' || doc_id || '@example.com 10.0.'
             || (doc_id % 256) || '.' || ((doc_id * 7) % 256)
             || CASE WHEN doc_id % 2 = 0
                     THEN ' 555-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                     ELSE '' END AS text
      FROM documents
    ), scrub AS (
      SELECT doc_id,
             regexp_replace(regexp_replace(regexp_replace(text,
               '{_PII_EMAIL}', '<EMAIL>', 'g'),
               '{_PII_IPV4}', '<IPV4>', 'g'),
               '{_PII_PHONE}', '<PHONE>', 'g') AS t1
      FROM aug
    ), lf AS (
      SELECT doc_id,
             COALESCE(array_to_string(ks, chr(10)), '') AS t2,
             CAST(len(ks) AS BIGINT) AS n_kept
      FROM (
        SELECT doc_id,
               list_filter(regexp_split_to_array(t1, '\\r?\\n'), x ->
                 len(regexp_split_to_array(trim(x), '\\s+')) >= 3
                 AND regexp_matches(trim(x), '[.!?]$')) AS ks
        FROM scrub
      )
    ), fp AS (
      SELECT doc_id, t2, n_kept,
             md5(CASE WHEN trim(regexp_replace(lower(t2), '[^a-z0-9]+', ' ', 'g')) <> '' THEN trim(regexp_replace(lower(t2), '[^a-z0-9]+', ' ', 'g')) ELSE chr(0) || 'raw' || chr(0) || COALESCE(t2, '') END) AS f
      FROM lf
    ), keep AS (
      SELECT f, MIN(doc_id) AS kid FROM fp GROUP BY f
    ), disp AS (
      SELECT fp.doc_id, fp.t2,
             CASE WHEN fp.n_kept = 0 THEN 'empty'
                  WHEN fp.doc_id <> k.kid THEN 'duplicate'
                  WHEN {_MD5_60.format(c="CAST(fp.doc_id AS VARCHAR) || '|42'")} % 1000000 < 800000 THEN 'train'
                  WHEN {_MD5_60.format(c="CAST(fp.doc_id AS VARCHAR) || '|42'")} % 1000000 < 900000 THEN 'val'
                  ELSE 'test' END AS disposition
      FROM fp JOIN keep k USING (f)
    ), tr AS (
      SELECT doc_id,
             {_MD5_60.format(c="CAST(doc_id AS VARCHAR) || '|7'")} AS h,
             CAST(len(string_split(trim(regexp_replace(lower(t2), '[^a-z0-9]+', ' ', 'g')), ' ')) AS BIGINT) AS n_tok
      FROM disp WHERE disposition = 'train'
    ), pk AS (
      SELECT doc_id, CAST(h % 8 AS BIGINT) AS bucket, n_tok,
             SUM(n_tok) OVER (PARTITION BY h % 8 ORDER BY h, doc_id
                              ROWS UNBOUNDED PRECEDING) - n_tok AS start
      FROM tr
    )
    SELECT d.doc_id AS id, d.disposition,
           CAST(COALESCE(p.bucket, -1) AS BIGINT) AS bucket,
           CAST(COALESCE(p.n_tok, -1) AS BIGINT) AS n_tok,
           CAST(COALESCE(CAST(FLOOR(p.start / 128.0) AS BIGINT), -1) AS BIGINT) AS pack_id,
           CAST(COALESCE(p.start % 128, -1) AS BIGINT) AS pack_offset
    FROM disp d LEFT JOIN pk p USING (doc_id)
    """


@query("pipeline_pretrain_pack", oracle=_PRETRAIN_SQL)
def pipeline_pretrain_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed pretraining data path as one lazy plan: PII scrub →
    C4 line filter → exact dedup → deterministic split → train-split
    sequence packing, with a per-doc audit disposition. Two exchanges
    end-to-end (fingerprint, pack bucket); the oracle replays every
    stage including the running-sum packing window."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.plans.pipelines import pretrain_pack

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.regexp_replace("text", " (table|query|value) ", ".\n"),
            F.lit(" user"), d.cast("string"), F.lit("@example.com 10.0."),
            (d % 256).cast("string"), F.lit("."), ((d * 7) % 256).cast("string"),
            F.when(
                d % 2 == 0,
                F.concat(F.lit(" 555-555-"), F.lpad((d % 10000).cast("string"), 4, "0")),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return pretrain_pack(aug, budget=128, n_buckets=8, split_seed=42, pack_seed=7)


# Span-cut-first pretraining path (the actual Lee et al. 2022 ordering:
# exact-substring dedup BEFORE packing): the _cut_spans_sql derivation
# nested as a CTE, then the split/pack CTEs from _PRETRAIN_SQL over the
# post-cut text.
_SPANCUT_PACK_SQL = f"""
    WITH cut_out AS ({_cut_spans_sql()}),
    disp AS (
      SELECT id, n_removed, clean_text,
             CASE WHEN clean_text = '' THEN 'empty'
                  WHEN {_MD5_60.format(c="CAST(id AS VARCHAR) || '|42'")} % 1000000 < 800000 THEN 'train'
                  WHEN {_MD5_60.format(c="CAST(id AS VARCHAR) || '|42'")} % 1000000 < 900000 THEN 'val'
                  ELSE 'test' END AS disposition
      FROM cut_out
    ), tr AS (
      SELECT id, {_MD5_60.format(c="CAST(id AS VARCHAR) || '|7'")} AS h,
             CAST(len(string_split(clean_text, ' ')) AS BIGINT) AS n_tok
      FROM disp WHERE disposition = 'train'
    ), pk AS (
      SELECT id, CAST(h % 8 AS BIGINT) AS bucket, n_tok,
             SUM(n_tok) OVER (PARTITION BY h % 8 ORDER BY h, id
                              ROWS UNBOUNDED PRECEDING) - n_tok AS start
      FROM tr
    )
    SELECT d.id, d.disposition, CAST(d.n_removed AS BIGINT) AS n_removed,
           CAST(COALESCE(p.bucket, -1) AS BIGINT) AS bucket,
           CAST(COALESCE(p.n_tok, -1) AS BIGINT) AS n_tok,
           CAST(COALESCE(CAST(FLOOR(p.start / 128.0) AS BIGINT), -1) AS BIGINT) AS pack_id,
           CAST(COALESCE(p.start % 128, -1) AS BIGINT) AS pack_offset
    FROM disp d LEFT JOIN pk p USING (id)
    """


@query("pipeline_pretrain_pack_spancut", oracle=_SPANCUT_PACK_SQL)
def pipeline_pretrain_pack_spancut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-before-packing, Lee et al. 2022's actual ordering: cut
    exact-substring duplicate spans out of every doc FIRST, then split
    and sequence-pack the surviving text — removing boilerplate that
    lives inside otherwise-unique docs, which pipeline_pretrain_pack's
    whole-doc dedup can never touch.  Two exchanges beyond the span
    derivation (split is a pure id hash; pack bucket + running-sum
    window); the oracle replays cut, route, and packing end-to-end."""
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.operators.dedup import portable_token_hash
    from hannigan_conjunctisviribus_ploscompbio_2017_spark.plans.pipelines import pretrain_pack_spancut

    docs = _t(spark, sf_dir, "documents")
    return pretrain_pack_spancut(
        docs, budget=128, n_buckets=8, split_seed=42, pack_seed=7,
        k=8, hash_fn=portable_token_hash,
    )
