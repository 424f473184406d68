"""Raw log-file sources — the Spark-native replacement for SSH pull.

The reference fetches logs by running ``tail``/``cat`` over SSH per node
(ref SSHLogRetriever :69-176) and keeps them in driver memory. On a
cluster that design caps out at one machine's RAM; the Spark-native
shape is: logs land on shared storage (HDFS/S3/NFS mount, one directory
or file per node), and ``spark.read.text`` scans them in parallel with
the node name recovered from the file path. 100 TB of logs is then just
a bigger glob.

``fetch_logs_via_ssh`` keeps operational parity with the reference for
small pulls (gated behind paramiko, which is optional) by landing remote
files into a local staging dir that ``read_log_dir`` then scans.
"""

from __future__ import annotations

import functools
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.parsing import LOG_LINE_REGEX
from ..session import tune

try:  # optional dependency, mirrors ref :21-26
    import paramiko  # noqa: F401

    SSH_AVAILABLE = True
except ImportError:
    SSH_AVAILABLE = False


def read_log_dir(
    spark: SparkSession,
    path_glob: str | Sequence[str],
    node_regex: str = r".*/([^/]+)/[^/]+$",
) -> DataFrame:
    """Read raw log lines from one glob or several; node extracted
    from the path.

    Returns (line_id, node, raw, line_number). line_id is a per-node
    monotonic line number, the distributed analogue of the reference's
    enumerate() (ref :319), PINNED to (glob, file name, in-file order):
    a node's lines continue from glob to glob in the order the globs
    are given, and within a glob from file to file in name order
    (rotated ``system.log.1`` etc.), so the numbering is deterministic
    across runs and cluster layouts. (monotonically_increasing_id
    alone is partition-indexed, and Spark packs file splits into
    partitions by SIZE order, so it is not file-name ordered across
    files.) line_number is the per-node rank among the lines
    ``LOG_LINE_REGEX`` matches — the line number search_logs reports
    (ref :319 enumerates parsed entries); ``parse_lines`` keeps exactly
    those lines and passes the column through.

    Numbering is two-stage (no per-node global window): row_number and
    a running count of parseable lines within each (node, glob, file)
    partition — parallel per file — plus the file's cumulative line
    and parseable-line offsets from the tiny (node × file) rollup,
    broadcast back.
    """
    tune(spark)
    globs = [path_glob] if isinstance(path_glob, str) else list(path_glob)
    parts = [
        spark.read.text(g).select(
            F.lit(i).alias("_glob"),
            F.regexp_extract(F.input_file_name(), node_regex, 1).alias("node"),
            F.input_file_name().alias("_fname"),
            F.col("value").alias("raw"),
            F.monotonically_increasing_id().alias("_file_order"),
            F.col("value").rlike(LOG_LINE_REGEX).cast("long").alias("_parsed"),
        )
        for i, g in enumerate(globs)
    ]
    df = functools.reduce(DataFrame.unionByName, parts)
    keys = ["node", "_glob", "_fname"]
    per_file = df.groupBy(*keys).agg(
        F.count("*").alias("cnt"), F.sum("_parsed").alias("parsed")
    )
    before = (
        Window.partitionBy("node").orderBy("_glob", "_fname")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = per_file.select(
        *keys,
        F.coalesce(F.sum("cnt").over(before), F.lit(0)).alias("_offset"),
        F.coalesce(F.sum("parsed").over(before), F.lit(0)).alias("_parsed_offset"),
    )
    w = Window.partitionBy(*keys).orderBy("_file_order")
    upto = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        df.join(F.broadcast(offsets), keys)
        .select(
            (F.col("_offset") + F.row_number().over(w)).alias("line_id"),
            "node",
            "raw",
            (F.col("_parsed_offset") + F.sum("_parsed").over(upto)).alias("line_number"),
        )
    )


def fetch_logs_via_ssh(
    host: str,
    username: str,
    remote_path: str,
    local_dir: str,
    node_name: str,
    password: str | None = None,
    key_filename: str | None = None,
    port: int = 22,
    tail_lines: int | None = None,
) -> str:
    """Fetch one remote log into ``local_dir/<node_name>/`` for scanning.

    Operational parity with ref :131-154 (tail -n N | cat). Requires
    paramiko; import-gated so the engine runs without it.
    """
    if not SSH_AVAILABLE:
        raise RuntimeError("paramiko is not installed; SSH fetch disabled")
    import os

    client = paramiko.SSHClient()
    client.set_missing_host_key_policy(paramiko.AutoAddPolicy())
    client.connect(
        host, port=port, username=username, password=password,
        key_filename=os.path.expanduser(key_filename) if key_filename else None,
        timeout=30,
    )
    try:
        cmd = (
            f"tail -n {int(tail_lines)} {remote_path}"
            if tail_lines
            else f"cat {remote_path}"
        )
        _, stdout, stderr = client.exec_command(cmd)
        err = stderr.read().decode("utf-8")
        if err and "No such file" in err:
            raise FileNotFoundError(remote_path)
        out_dir = os.path.join(local_dir, node_name)
        os.makedirs(out_dir, exist_ok=True)
        dest = os.path.join(out_dir, os.path.basename(remote_path))
        with open(dest, "wb") as fh:
            fh.write(stdout.read())
        return dest
    finally:
        client.close()
