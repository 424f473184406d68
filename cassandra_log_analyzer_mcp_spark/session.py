"""SparkSession construction and tuning.

Scale posture: these settings assume the same code runs unchanged on a
1000-executor cluster; local[] is only the test harness. AQE handles
runtime partition coalescing and skew-join splitting so the static
shuffle-partition count only needs to be an upper bound.
"""

from __future__ import annotations

import logging
import os

from py4j.protocol import Py4JError
from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession

_log = logging.getLogger(__name__)
#: locked confs already reported, so the warning fires once per process
#: although ``tune`` runs on every log-layer rebuild
_LOCKED_LOGGED: set[str] = set()
#: whether clear_caches has reported a skipped persistent-RDD release
_RDD_RELEASE_LOGGED = False

#: Runtime-settable confs applied to ANY session we are handed (the
#: driver owns the session during verification). Everything here is a
#: runtime conf — safe to set after the session exists.
RUNTIME_CONFS = {
    # Deterministic wall-clock semantics for timestamp formatting; the
    # DuckDB oracle treats parquet naive timestamps as UTC.
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # The testdata writes TIMESTAMP(NANOS) parquet, which Spark's reader
    # rejects; read as long and convert (sources/tables.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session (idempotent).

    A conf the deployment has locked (``AnalysisException``, e.g.
    CANNOT_MODIFY_CONFIG) is skipped and logged once per process;
    any other failure propagates."""
    skipped = []
    for k, v in RUNTIME_CONFS.items():
        if spark.conf.get(k, None) == v:
            continue  # already applied, e.g. by get_spark
        try:
            spark.conf.set(k, v)
        except AnalysisException:
            skipped.append(k)
    # Size the shuffle to the cluster, not Spark's static 200 — but
    # only when the conf is still the untouched default, so a
    # deliberate setting (ours or a user's) is never overridden. AQE
    # coalesces at runtime either way; this trims the pre-coalesce
    # width (map output buffers, tiny-task overhead).
    key = "spark.sql.shuffle.partitions"
    try:
        if spark.conf.get(key) == "200":
            spark.conf.set(key, str(spark.sparkContext.defaultParallelism))
    except AnalysisException:
        skipped.append(key)
    fresh = [k for k in skipped if k not in _LOCKED_LOGGED]
    if fresh:
        _LOCKED_LOGGED.update(fresh)
        _log.warning("tune: conf locked in this deployment, left as is: %s",
                     ", ".join(fresh))
    return spark


def clear_caches(spark: SparkSession) -> None:
    """Release every byte this package parked in the session: cached
    DataFrame blocks, streaming memory-sink tables, and the session
    memo that hands out cached frames and landed paths.

    Operators cache session-scoped on purpose (CacheManager dedupes
    identical plans, so a gate sweep holds one entry per distinct
    rollup, not per call) — but a LONG-LIVED service cycling many
    inputs would accumulate executor memory forever. This is the
    explicit lifecycle hook for that deployment: call it between
    analyses (the MCP server exposes it as a tool).

    The layers add up silently (tools/cache_census.py measures them
    against a budget), so all of them go together:

    - catalog.clearCache() drops all cached blocks in one call;
    - the streaming bridges' memory sinks are driver-resident temp
      views (``stream_*``) — dropped by name;
    - ``memo.clear()`` drops every memo entry (k-means assignment and
      state, sampled truth pairs, component labels, BPE fold, big-ANN
      and big-dedup state, silver and landing paths) and
      ``api._ROLLUPS`` the tool surface's per-layer rollups. A memo
      handing out a frame whose cache entry was just dropped would
      silently recompute per use instead of re-caching, and a rollup
      would outlive the cached layer it was collected from.
    Everything is rebuilt on demand by the next query; a dropped path
    is written again on its next use.
    """
    global _RDD_RELEASE_LOGGED
    spark.catalog.clearCache()
    for t in spark.catalog.listTables():
        if t.isTemporary and t.name.startswith("stream_"):
            spark.catalog.dropTempView(t.name)
    from . import api, memo

    api._ROLLUPS.clear()
    memo.clear()
    # localCheckpoint() blocks (the BPE/connected-components iteration
    # lineage cuts) live in RDD storage OUTSIDE the SQL CacheManager —
    # release them too (their memos were just cleared, so nothing
    # hands out frames over the truncated lineage anymore)
    try:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        # snapshot first (list()): unpersist() removes the entry from
        # the very map being iterated
        for r in list(jmap.values()):
            r.unpersist(True)
    except Py4JError as e:
        # JVM bookkeeping API unavailable; the SQL cache is cleared
        if not _RDD_RELEASE_LOGGED:
            _RDD_RELEASE_LOGGED = True
            _log.warning(
                "clear_caches: persistent (localCheckpoint) RDD blocks "
                "not released: %s: %s", type(e).__name__, e,
            )


def get_spark(
    app_name: str = "cassandra-log-analyzer-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    # local[] mode runs every executor thread inside the driver JVM,
    # whose pyspark default heap is 1g — the full 290+-query sweep's
    # designed caches (parsed silver, shingle arrays, quantized
    # vectors) plus 25 memory-sink tables ran that to the brim at
    # sf0.1 (observed: heap OOM mid-sweep). Size the heap to
    # the harness box; on a real cluster the executor/driver memory
    # comes from the deployment, and this builder conf is inert for
    # an already-running JVM.
    builder = builder.config(
        "spark.driver.memory",
        os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    )
    if shuffle_partitions:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(shuffle_partitions)
        )
    # Silence the pre-setLogLevel JVM startup notices (NativeCodeLoader)
    # at source: they land ahead of bench's JSON line in the driver's
    # combined-stream tail capture. The option reaches the driver JVM
    # at gateway launch; inert for an already-running JVM.
    quiet = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "log4j2-quiet.properties",
    )
    if os.path.exists(quiet):
        builder = builder.config(
            "spark.driver.extraJavaOptions",
            f"-Dlog4j2.configurationFile=file:{quiet}",
        )
    # Progress bars interleave with harness stdout parsing. A static
    # conf: it takes effect only at context launch, so it is set here
    # and not in RUNTIME_CONFS.
    builder = builder.config("spark.ui.showConsoleProgress", "false")
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return tune(builder.getOrCreate())


def local_spark(
    app_name: str, shuffle_partitions: int | None = None
) -> SparkSession:
    """The command-line harnesses' session: ``local[N]`` with N from
    ``$SPARK_GRAFT_CPUS``, else the CPUs this process may run on;
    shuffle partitions default to N; log level ERROR."""
    cpus = int(
        os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    )
    spark = get_spark(
        app_name=app_name,
        master=f"local[{cpus}]",
        shuffle_partitions=shuffle_partitions or cpus,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark
