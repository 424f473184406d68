"""Parquet table sources for the testdata layout.

At 100 TB the log/fact tables would be written partitioned by
(date, node); readers here always project columns immediately so
parquet column pruning and predicate pushdown reach the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..session import tune
from ..functions.parsing import parse_lines, synth_raw_lines, with_issue_flags

TABLE_NAMES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    tune(spark)  # UTC + AQE even on a driver-provided session
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        # events.ts has shipped as TIMESTAMP(NANOS) (surfaced as a
        # nanos-long via nanosAsLong) in some data drops and as
        # micros TIMESTAMP_NTZ in others; normalize both to a session
        # TIMESTAMP (UTC session tz, so ntz→ltz is value-identity).
        from pyspark.sql import functions as F

        ts_type = dict(df.dtypes)["ts"]
        if ts_type == "bigint":
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        else:
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def spread(spark: SparkSession, df: DataFrame) -> DataFrame:
    """``df`` round-robin repartitioned to the cluster's parallelism
    when its scan yields fewer partitions than cores, else unchanged.

    The testdata ships each table as one parquet split; the text and
    vector operators are CPU-bound (regex, md5, dot products), so a
    cheap shuffle of the small table buys full parallelism. Real
    100 TB corpora arrive in thousands of splits and never hit the
    branch."""
    if df.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism:
        df = df.repartition(spark.sparkContext.defaultParallelism)
    return df


def documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents table spread across cores (``spread``)."""
    return spread(spark, table(spark, sf_dir, "documents"))


def logs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical parsed-log DataFrame for the testdata: events →
    deterministic Cassandra-format lines → parsed entries (roundtrip
    exercises the real parser; see functions/parsing.py)."""
    raw = synth_raw_lines(table(spark, sf_dir, "events"))
    # The single-file testdata arrives as one input split; spread the
    # regex-heavy parse across cores. (Real log dirs have many splits
    # and skip this.)
    return parse_lines(raw.repartition(spark.sparkContext.defaultParallelism))


def logs_flagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parsed + issue-flagged logs, cached.

    Without a materialization barrier Catalyst collapses projects until
    every downstream rlike re-evaluates the full synth+parse expression
    per reference (28× the parse regex per row). Caching makes
    parse+classify a build-once "silver" dataset shared by all queries
    in the session — the CacheManager dedupes identical plans, so each
    query (and the driver's whole query sweep) reuses one copy. The
    100 TB analogue is writing the parsed layer to a silver parquet
    table partitioned by (date, node); this is that layer, in memory.
    """
    return with_issue_flags(logs(spark, sf_dir)).cache()
