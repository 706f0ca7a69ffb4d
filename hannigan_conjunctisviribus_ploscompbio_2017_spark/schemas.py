"""Typed schemas for the reference's interchange relations (SURVEY §1.2).

The reference stores every property as a string and re-casts at each query
(``bin/GetSkinGraphs.R:62-73`` in /root/reference).  We kill that at the
door: every relation gets an explicit StructType; scores are DOUBLE, counts
LONG, flags BOOLEAN.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- reference interchange relations -------------------------------------

# gold-standard labeled pairs — data/ValidationSet/Interactions.tsv shape
INTERACTIONS = T.StructType(
    [
        T.StructField("phage", T.StringType(), False),
        T.StructField("bacterium", T.StringType(), False),
        T.StructField("interaction", T.IntegerType(), False),
    ]
)

# score tables ×4 (crispr/blast/blastx/pfam) — bin/BenchmarkingModel.sh output
SCORES = T.StructType(
    [
        T.StructField("bacterium", T.StringType(), False),
        T.StructField("phage", T.StringType(), False),
        T.StructField("score", T.DoubleType(), True),
    ]
)

# abundance table — bin/calculate_abundance_from_sam.pl output
ABUNDANCE = T.StructType(
    [
        T.StructField("contig", T.StringType(), False),
        T.StructField("count", T.LongType(), True),
        T.StructField("sample", T.StringType(), False),
    ]
)

# contig→cluster map — CONCOCT clustering_gt1000.csv shape
CLUSTERS = T.StructType(
    [
        T.StructField("contig", T.StringType(), False),
        T.StructField("cluster", T.IntegerType(), True),
    ]
)

# contig/cluster length table — bin/ContigLengthTable.pl output
LENGTHS = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("length", T.LongType(), True),
    ]
)

# 16-col sample metadata — data/PublishedDatasets/metadatatable.tsv
METADATA = T.StructType(
    [
        T.StructField("sra_study", T.StringType(), True),
        T.StructField("sample_name", T.StringType(), True),
        T.StructField("run", T.StringType(), True),
        T.StructField("library_layout", T.StringType(), True),
        T.StructField("platform", T.StringType(), True),
        T.StructField("disease1", T.StringType(), True),
        T.StructField("disease2", T.StringType(), True),
        T.StructField("mda", T.StringType(), True),
        T.StructField("sample_type", T.StringType(), True),
        T.StructField("purification", T.StringType(), True),
        T.StructField("location", T.StringType(), True),
        T.StructField("host", T.StringType(), True),
        T.StructField("combo_study", T.StringType(), True),
        T.StructField("subject_id", T.StringType(), True),
        T.StructField("time_point", T.StringType(), True),
        T.StructField("combo_id", T.StringType(), True),
    ]
)

# BLAST outfmt-6 — bin/GetProphagesByBlast.sh:39-51
BLAST6 = T.StructType(
    [
        T.StructField("qseqid", T.StringType(), False),
        T.StructField("sseqid", T.StringType(), False),
        T.StructField("pident", T.DoubleType(), True),
        T.StructField("length", T.LongType(), True),
        T.StructField("mismatch", T.LongType(), True),
        T.StructField("gapopen", T.LongType(), True),
        T.StructField("qstart", T.LongType(), True),
        T.StructField("qend", T.LongType(), True),
        T.StructField("sstart", T.LongType(), True),
        T.StructField("send", T.LongType(), True),
        T.StructField("evalue", T.DoubleType(), True),
        T.StructField("bitscore", T.DoubleType(), True),
    ]
)

# --- the property graph as two DataFrames (SURVEY §1.3) -------------------

NODES = T.StructType(
    [
        T.StructField("id", T.StringType(), False),  # == sanitized name
        T.StructField("label", T.StringType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("genus", T.StringType(), True),
        T.StructField("species", T.StringType(), True),
        T.StructField("length", T.LongType(), True),
        T.StructField("platform", T.StringType(), True),
        T.StructField("mda", T.StringType(), True),
        T.StructField("body_location", T.StringType(), True),
        T.StructField("purification", T.StringType(), True),
        T.StructField("location", T.StringType(), True),
        T.StructField("host", T.StringType(), True),
    ]
)

NODE_LABELS = (
    "Phage",
    "Bacterial_Host",
    "SampleID",
    "Disease",
    "StudyID",
    "PatientID",
    "TimePoint",
)

EDGES = T.StructType(
    [
        T.StructField("src", T.StringType(), False),
        T.StructField("dst", T.StringType(), False),
        T.StructField("type", T.StringType(), False),
        T.StructField("interaction", T.IntegerType(), True),
        T.StructField("crispr", T.DoubleType(), True),
        T.StructField("blast", T.DoubleType(), True),
        T.StructField("blastx", T.DoubleType(), True),
        T.StructField("pfam", T.DoubleType(), True),
        T.StructField("prediction", T.StringType(), True),
        T.StructField("abundance", T.LongType(), True),
    ]
)

EDGE_TYPES = (
    "Infects",
    "PredictedInteraction",
    "Sampled",
    "Diseased",
    "IncludedInStudy",
    "TimePoint",
    "IncludedForPatient",
)

# --- driver testdata tables (TESTDATA.md) ---------------------------------

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark, sf_dir: str, name: str):
    """Read one driver-generated parquet table.

    The events table stores TIMESTAMP(NANOS), which Spark's parquet reader
    rejects by default ([PARQUET_TYPE_ILLEGAL]); we read nanos as long via
    the legacy conf and rebuild a microsecond TimestampType column.

    NOT rebalanced after the read, on measurement (r12 optimization
    round): the testdata parquet files are single-rowgroup (a scan never
    splits past one real task), but a calibration-gated interleaved A/B
    of a blanket repartition-after-read came out a net LOSS (28.7 s →
    31.2 s over the 14 heaviest entries) — the extra exchange + stage
    costs more than the scan-stage parallelism it buys for every join-
    and aggregate-shaped query; only the embedding operators' heavy
    per-row encode scans won, and those rebalance inside the similarity
    operators themselves (similarity._spread_if_undersplit)."""
    if name == "events":
        from pyspark.sql import functions as F

        prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        try:
            df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
            if dict(df.dtypes).get("ts") == "bigint":
                # integer division: ts/1000 in double loses µs precision
                # (53-bit mantissa; ulp ≈ 256ns at 1.7e18)
                df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
            # force schema resolution while the conf is set (plan is lazy,
            # but read schema is resolved at read time, which happened above)
            return df
        finally:
            if prev is None:
                spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
            else:
                spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")
