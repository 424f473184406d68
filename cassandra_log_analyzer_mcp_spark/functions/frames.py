"""Frame-level helpers: driver-literal DataFrames without the
Python-worker round trip (``local_frame``) and the skew-safe
two-stage per-key top-N (``two_stage_top_n``).

``spark.createDataFrame(list_of_tuples, ddl)`` parallelizes pickled
rows through a Python worker: every action over the frame (including
a broadcast build) schedules a PythonRDD task, pays the JVM↔Python
boundary, and — measured in round 11 — intermittently stalls for
seconds when the first such task follows a worker-heavy streaming
query (the executor sat in ``BasePythonRunner$ReaderInputStream.read``
for ~6 s while a 4-row dimension frame was written). The guide's §4
("eliminate the JVM↔Python boundary") and §6 ("Arrow for driver
transfers") both point the same way: ship the literal rows as ONE
Arrow batch and let the plan be a pure-JVM ``LocalTableScan``.

Measured (local[8], warm session): 5 noop writes of a 2-row frame,
list path 3.21 s vs Arrow path 0.52 s — and the Arrow path never
touches a Python worker, so the stall class is gone entirely.

Used by every operator/bridge that lands a driver-side rollup
(bounded-state streaming folds, probe tables, tiny dimensions). At
100 TB these frames stay rollup-sized by design — the helper is about
the boundary, not the volume.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.sql.window import Window

_log = logging.getLogger(__name__)
#: whether a fallback to the classic path has been reported
_FALLBACK_LOGGED = False


def local_frame(spark: SparkSession, rows, schema: str) -> DataFrame:
    """``spark.createDataFrame(rows, ddl)`` via one Arrow batch.

    ``rows`` is a sequence of position-matched tuples (the same
    contract as createDataFrame with a DDL string); the result is a
    ``LocalTableScan`` — no PythonRDD, no pickled rows, no Python
    worker at execution or broadcast time. Each column is inferred,
    then safe-cast to its field's type, so Arrow rejects a lossy value
    (1.5 into a long) instead of truncating it. Rows Arrow rejects go
    to the classic path, which raises on such a value (type fidelity
    beats speed: the fallback is correct, just slower, and reported
    once per process, since it brings the Python worker back).
    """
    global _FALLBACK_LOGGED
    rows = [tuple(r) for r in rows]
    try:
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_schema = to_arrow_schema(StructType.fromDDL(schema))
        cols = (
            list(zip(*rows)) if rows else [[] for _ in arrow_schema]
        )
        table = pa.Table.from_arrays(
            [
                pa.array(list(col)).cast(field.type, safe=True)
                for col, field in zip(cols, arrow_schema)
            ],
            schema=arrow_schema,
        )
        return spark.createDataFrame(table)
    except Exception as e:
        if not _FALLBACK_LOGGED:
            _FALLBACK_LOGGED = True
            _log.warning(
                "local_frame: Arrow path rejected the rows (%s: %s); "
                "using createDataFrame(rows, ddl)", type(e).__name__, e,
            )
        return spark.createDataFrame(rows, schema)


def two_stage_top_n(
    df: DataFrame, key: str, block: str, n: int, *order
) -> DataFrame:
    """The first ``n`` rows per ``key`` by ``order``, numbered ``rn``.

    When ``key`` has few values (nodes, clusters), one window
    partitioned by it alone funnels the whole input through that many
    tasks. Stage 1 keeps the first ``n`` within each (``key``,
    ``block``) — fine-grained partitions, fully parallel; a key's
    global first ``n`` is necessarily among its blocks' first ``n``.
    Stage 2 re-ranks only the survivors. Both stages' ranks are left
    on the frame (``pre_rn``, ``rn``) for the caller's projection."""
    pre_w = Window.partitionBy(key, block).orderBy(*order)
    w = Window.partitionBy(key).orderBy(*order)
    return (
        df.withColumn("pre_rn", F.row_number().over(pre_w))
        .filter(F.col("pre_rn") <= n)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n)
    )
