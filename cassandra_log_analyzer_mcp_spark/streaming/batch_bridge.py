"""Run the streaming pipeline over the testdata and return its result
as a regular DataFrame — which makes the STREAMING path itself
oracle-checkable: the driver hash-compares readStream→parse→window
output against independent SQL.

Flow: synthesized raw lines land as per-node text files (what a log
shipper produces), a file-source stream consumes them with an
availableNow trigger into a memory sink, and the sink table is
returned. Event-time windowing, not arrival-time, so results are
deterministic regardless of batch boundaries.
"""

from __future__ import annotations

import os
import time
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType
from pyspark.sql.window import Window

from ..functions.parsing import synth_raw_lines
from ..memo import landed, work_dir
from ..sources.tables import table
from . import log_stream
from ..functions.frames import local_frame

#: shuffle width, and so the number of state stores, of every bridge
#: query: bridge state is keyed by node, user or window and stays small
#: at any input size, so it is sized to the state, not to the input
#: (input parallelism comes from file splits and is unaffected)
STATE_PARTITIONS = "8"

#: the normalized events projection every events landing writes
EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long,"
    " event_type string, value double"
)

def _run(
    spark: SparkSession, label: str, start: Callable[[], StreamingQuery]
) -> None:
    """Run the availableNow query ``start()`` returns to its end.

    For the length of the run the session pins STATE_PARTITIONS and
    roots every checkpoint the query does not name itself under a
    fresh work dir (a failed foreachBatch query with no checkpoint
    otherwise leaves a ``temporary-*`` dir in the JVM's temp dir).
    Both confs stay set until the query ends, because foreachBatch
    bodies run their batch jobs on this session. On every exit the
    query is stopped and both confs are restored — unset where they
    were unset before.
    """
    confs = {
        "spark.sql.shuffle.partitions": STATE_PARTITIONS,
        "spark.sql.streaming.checkpointLocation": work_dir(label),
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    q = None
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        q = start()
        if not q.awaitTermination(600):
            raise TimeoutError(f"{label} did not finish its availableNow run")
    finally:
        if q is not None:
            q.stop()
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _to_table(
    spark: SparkSession, df: DataFrame, label: str, mode: str
) -> DataFrame:
    """Run the streaming ``df`` into a ``stream_<label>_*`` memory sink
    in output ``mode`` and return the sink table."""
    sink = f"stream_{label}_{uuid.uuid4().hex[:8]}"
    _run(
        spark,
        label,
        lambda: log_stream.run_to_memory_sink(df, sink, output_mode=mode),
    )
    return spark.table(sink)


def _foreach_batch(
    spark: SparkSession,
    label: str,
    stream: DataFrame,
    fn: Callable[[DataFrame, int], None],
) -> None:
    """Run ``fn(batch, batch_id)`` on every micro-batch of ``stream``."""
    _run(
        spark,
        label,
        lambda: stream.writeStream.foreachBatch(fn)
        .trigger(availableNow=True)
        .start(),
    )


def _two_file_feed(label: str, first: DataFrame, second: DataFrame) -> str:
    """Land ``first`` and ``second`` as one parquet file each (``0_*``
    and ``1_*``) under a fresh feed dir and return the dir.

    The file source replays oldest-mtime-first, so the halves' mtimes
    are pinned 120 s and 60 s in the past: under ``_replay``'s one
    file per trigger, micro-batch 1 IS ``first`` and micro-batch 2 IS
    ``second`` — the ordering every "crosses the batch boundary"
    argument below rests on.
    """
    feed = work_dir(label)
    now = time.time()
    for name, half, age in (("0_first", first, 120.0), ("1_second", second, 60.0)):
        out = os.path.join(feed, name)
        half.repartition(1).write.parquet(out)
        for f in os.listdir(out):
            os.utime(os.path.join(out, f), (now - age, now - age))
    return feed


def _replay(
    spark: SparkSession, feed: str, schema: str | StructType
) -> DataFrame:
    """A ``_two_file_feed`` dir as a stream of one file per trigger."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(feed)
    )


def _node_lines(src: DataFrame) -> DataFrame:
    """The landed text stream (``node`` discovered from the Hive
    partition dirs) as the source-agnostic (line_id, node, raw)."""
    return src.select(
        F.lit(None).cast("long").alias("line_id"),
        F.col("node").cast("string").alias("node"),
        F.col("value").alias("raw"),
    )


def _landed_log_dir(spark: SparkSession, sf_dir: str) -> str:
    """Land the synthesized raw lines as per-node log directories
    (once per sf_dir per session).

    Written BY SPARK (partitionBy node), not collected to the driver —
    the landing step must scale with the cluster, exactly like a real
    log shipper fleet writing to shared storage.
    """

    # On a real cluster the landing root must be SHARED storage
    # (HDFS/S3) or the distributed write's task outputs never reach
    # the driver-visible directory; override via env for that case.
    def write(path: str) -> None:
        (
            synth_raw_lines(table(spark, sf_dir, "events"))
            .select("node", F.col("raw").alias("value"))
            # no repartition("node"): that would collapse parallelism to
            # the distinct-node count; letting every task write its nodes'
            # files keeps the stage wide (more, smaller files — fine for a
            # file stream source)
            .write.partitionBy("node")
            .text(path)
        )

    return landed(spark, "landed_logs", sf_dir, write)


def _landed_silver_dir(spark: SparkSession, sf_dir: str) -> str:
    """Parse+classify the landed raw feed ONCE per session through
    the checkpointed exactly-once streaming silver writer, and share
    the landed parquet as the parsed-feed fixture downstream bridges
    stream from (the batch silver table's build-once discipline
    applied to streams). At 100 TB this IS the architecture: ONE ingest stream
    lands bronze→silver through the commit log; every consumer
    streams the silver table instead of re-running the regex parse
    over raw text per query. The text→parse path itself stays graded
    in-stream by streaming_issue_counts / streaming_kafka_issue_counts,
    and the landing's content is hash-graded by streaming_silver_counts.
    """

    def write(path: str) -> None:
        lines = _node_lines(spark.readStream.text(_landed_log_dir(spark, sf_dir)))
        parsed = log_stream.parsed_stream(lines).withColumn(
            "log_date", F.to_date("ts")
        )
        _run(
            spark,
            "shared_silver",
            lambda: log_stream.stream_to_silver(
                parsed, path, path + "_ck", partition_cols=("log_date", "node")
            ),
        )

    return landed(spark, "shared_silver", sf_dir, write)


def _silver_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared parsed+classified feed as a STREAMING source: a
    parquet file stream over the silver landing — the same parsed
    schema ``parsed_stream`` emits (plus the log_date partition
    column), with the parse paid once per session instead of once
    per bridge query."""
    path = _landed_silver_dir(spark, sf_dir)
    return spark.readStream.schema(
        spark.read.parquet(path).schema
    ).parquet(path)


def streaming_error_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLOSED error bursts computed BY THE STREAM's custom stateful
    operator (applyInPandasWithState) — bridged so the driver's oracle
    hash-checks the Python-state path too: closed bursts are exactly
    the batch sessionization minus each node's final (still-open)
    burst, which is plain SQL. Source: the shared streamed-silver
    landing (_silver_stream) — parse paid once per session.
    """
    from . import burst_state

    bursts = burst_state.streaming_error_bursts(_silver_stream(spark, sf_dir))
    return _to_table(spark, bursts, "error_bursts", "append").select(
        "node", "n_events", "start_s", "end_s"
    )


def streaming_issue_counts(
    spark: SparkSession, sf_dir: str, via_kafka_wire: bool = False
) -> DataFrame:
    """Hourly (node, level) issue counts computed BY THE STREAM.

    Same output contract as a batch hourly rollup, so the DuckDB
    oracle verifies the whole streaming path (source → parser →
    classifier → event-time window) value-for-value.

    ``via_kafka_wire=True`` routes the lines through the Kafka record
    wire schema (key/value BINARY) and ``from_kafka_wire``'s
    projection — the entire post-connector plan of ``stream_kafka`` —
    so the Kafka ingestion contract is hash-graded without a broker
    (only the connector's load() itself is substituted).
    """
    log_dir = _landed_log_dir(spark, sf_dir)
    # Hive-partitioned landing → let the file stream source DISCOVER
    # the node partition column (handles partition-value escaping that
    # a path regex would not); the regex-based stream_log_dir remains
    # for raw non-partitioned log mirrors.
    src = spark.readStream.text(log_dir)
    if via_kafka_wire:
        lines = log_stream.from_kafka_wire(log_stream.to_kafka_wire(src))
    else:
        lines = _node_lines(src)
    counts = log_stream.windowed_issue_counts(
        log_stream.parsed_stream(lines), window="1 hour", watermark="2 hours"
    )
    return _to_table(spark, counts, "issue_counts", "complete").select(
        F.date_format("win_start", "yyyy-MM-dd HH:00:00").alias("hour"),
        "node",
        "level",
        F.col("n").cast("long").alias("n"),
        F.col("errors").cast("long").alias("errors"),
    )


def streaming_kafka_issue_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """streaming_issue_counts through the Kafka wire-format path (see
    ``via_kafka_wire`` above) — shares the same oracle, so the
    key→node / value→raw decode is verified value-for-value."""
    return streaming_issue_counts(spark, sf_dir, via_kafka_wire=True)


def streaming_windowed_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's 5 threshold rules fired per (node, 15-min
    window) BY THE STREAM — real-time alerting (ref README roadmap),
    graded: windowed_alerts is source-agnostic, so running the same
    function over the shared streamed-silver feed in complete mode
    must fire exactly the batch alert rows, and sharing
    windowed_alerts' oracle makes the gate prove it value-for-value.
    """
    from ..operators import analysis

    alerts = analysis.windowed_alerts(_silver_stream(spark, sf_dir))
    return _to_table(spark, alerts, "windowed_alerts", "complete").select(
        "node", "win_start", "issue", "severity",
        F.col("n_hits").cast("long").alias("n_hits"), "threshold",
    )


def streaming_error_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-gap sessionization BY THE STREAM using Spark's NATIVE
    session_window — the built-in merging session aggregate running
    under readStream (complete mode over the shared silver feed; a production
    stream swaps to watermark + append for state eviction). The same
    error_sessions function runs unchanged on the stream, shares the
    batch oracle, and the gate proves the native streaming session
    state machine emits the exact batch rows.
    """
    from ..operators import analysis

    sess = analysis.error_sessions(_silver_stream(spark, sf_dir))
    return _to_table(spark, sess, "error_sessions", "complete").select(
        "node",
        F.col("start_s").cast("long").alias("start_s"),
        F.col("end_s_excl").cast("long").alias("end_s_excl"),
        F.col("n_events").cast("long").alias("n_events"),
    )


def streaming_silver_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exactly-once streaming silver sink graded end-to-end: the
    raw log stream parses+classifies, stream_to_silver lands it as
    parquet partitioned by (log_date, node) through the checkpointed
    commit log, and the landed table is read back into the same
    per-day error rollup silver_node_errors computes from the BATCH
    write path — sharing its oracle, so the gate proves the streaming
    writer loses and duplicates nothing.
    """
    from ..sources.silver import node_errors_rollup

    # the shared landing IS the stream_to_silver run this query
    # grades (built once per session; first caller pays it); the SAME
    # rollup code as silver_node_errors — they share one oracle, so
    # the consumer must be shared, not copied
    out = _landed_silver_dir(spark, sf_dir)
    return node_errors_rollup(spark.read.parquet(out))


def _landed_batch_docs(spark: SparkSession, sf_dir: str) -> str:
    """Land the incoming-batch documents as a small multi-file parquet
    directory (once per sf_dir per session) — the "today's crawl
    arriving in shared storage" a streaming ingest consumes. Two
    files so maxFilesPerTrigger=1 forces two real micro-batches (the
    batch-boundary-independence proof needs >1; every extra batch is
    pure fixed overhead locally)."""
    from ..operators.dedup import INCR_BATCH_MOD
    from ..sources.tables import documents

    return landed(
        spark,
        "landed_docs",
        sf_dir,
        lambda path: documents(spark, sf_dir)
        .filter(F.col("doc_id") % INCR_BATCH_MOD == 0)
        .select("doc_id", "text")
        .repartition(2)
        .write.parquet(path),
    )


def streaming_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest dedup: the incoming docs arrive as a file
    stream and each micro-batch is deduped against the STATIC corpus
    index via foreachBatch — the production "dedup on ingest" loop.

    Because a doc's disposition depends only on (doc, corpus), the
    union of per-micro-batch results equals the all-at-once batch
    result, so this shares dedup_incremental's oracle — the hash gate
    proves the streaming path end-to-end (source → micro-batching →
    index probe → verify), including that batch boundaries can't
    change any answer.
    """
    from ..operators import dedup

    land = _landed_batch_docs(spark, sf_dir)
    outdir = os.path.join(work_dir("stream_incr"), "out")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(land)
    )

    def handle(bdf: DataFrame, _batch_id: int) -> None:
        dedup.incremental_disposition(
            bdf.sparkSession, sf_dir, bdf
        ).write.mode("append").parquet(outdir)

    _foreach_batch(spark, "dedup_incremental", stream, handle)
    return spark.read.parquet(outdir)


def _events_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table in EVENTS_SCHEMA's shape. The ts column is
    normalized through the batch loader FIRST, so both drop formats
    (nanos-long vs micros NTZ) land identically."""
    return table(spark, sf_dir, "events").select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "user_id",
        "event_type",
        "value",
    )


def _landed_events(spark: SparkSession, sf_dir: str) -> str:
    """Land the normalized events table as a small parquet directory
    (once per sf_dir per session) — the shape a CDC feed or event bus
    archiver leaves in shared storage for a file-source stream.
    """
    return landed(
        spark,
        "landed_events",
        sf_dir,
        lambda path: _events_frame(spark, sf_dir)
        .repartition(2)
        .write.parquet(path),
    )


def _purchase_error_join(
    spark: SparkSession, land: str, how: str
) -> DataFrame:
    """The purchase→error stream-stream join over an events landing:
    both sides watermarked 5 hours, joined on user within the 4 hours
    after the purchase, run to a memory sink; returns the sink table.

    ``user_id`` is coalesced from both sides: that is the identity on
    inner and left rows, and gives a full join's orphaned errors their
    user.
    """
    purchases = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .parquet(land)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
            "user_id",
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("p_ts", "5 hours")
    )
    errors = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .parquet(land)
        .filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            F.col("ts").alias("e_ts"),
            F.col("user_id").alias("e_user"),
        )
        .withWatermark("e_ts", "5 hours")
    )
    joined = purchases.join(
        errors,
        (F.col("user_id") == F.col("e_user"))
        & (F.col("e_ts") >= F.col("p_ts"))
        & (F.col("e_ts") <= F.col("p_ts") + F.expr("INTERVAL 4 HOURS")),
        how,
    ).select(
        F.coalesce("user_id", "e_user").alias("user_id"),
        "purchase_id",
        "error_id",
        F.unix_micros("p_ts").alias("purchase_us"),
        F.unix_micros("e_ts").alias("error_us"),
        F.round("purchase_value", 2).alias("purchase_value"),
    )
    return _to_table(spark, joined, f"purchase_error_{how}", "append")


def streaming_purchase_error_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAM-STREAM inner join: each purchase joined to the same
    user's error events in the following 4 hours — "which purchases
    hit an error right after" — computed by Spark's symmetric-hash
    stream-stream join with event-time watermarks on BOTH sides.

    The time-range predicate + both watermarks is what bounds the join
    state at scale (each side only buffers rows inside the watermark
    horizon, keyed by user — the production configuration). Under the
    single availableNow micro-batch used here the watermark never
    advances mid-join, so nothing can be late-dropped and the result
    equals the batch interval join EXACTLY — which is what lets the
    DuckDB oracle hash-check the streaming join state machine.
    """
    return _purchase_error_join(spark, _landed_events(spark, sf_dir), "inner")


#: sentinel event-time lead: far past every real purchase's join
#: horizon (4 h interval) + watermark delay (5 h), so the final
#: watermark passes every real row's eviction threshold.
SS_SENTINEL_LEAD = "INTERVAL 400 DAYS"


def _landed_events_outer(spark: SparkSession, sf_dir: str) -> str:
    """Landing dir for the OUTER stream-stream join: the normalized
    events plus one far-future sentinel per side (user_id −1, one
    'purchase' + one 'error'). Outer results only flush when the
    watermark passes a row's join horizon, and the watermark only
    moves from observed event times — the sentinels are the stream's
    "time has moved on" signal (a heartbeat/punctuation event, the
    standard pattern for finite replays of an outer-join topology).

    Separate from _landed_events: appending sentinels to the shared
    landing dir would leak them into every other streaming query.
    """

    def write(path: str) -> None:
        ev = _events_frame(spark, sf_dir)
        ev.repartition(2).write.parquet(path)
        sentinels = (
            ev.agg(F.max("ts").alias("ts"))
            .crossJoin(
                local_frame(spark,
                    [(-1, "purchase"), (-2, "error")],
                    "event_id long, event_type string",
                )
            )
            .select(
                "event_id",
                (F.col("ts") + F.expr(SS_SENTINEL_LEAD)).alias("ts"),
                F.lit(-1).cast("long").alias("user_id"),
                "event_type",
                F.lit(0.0).alias("value"),
            )
        )
        sentinels.coalesce(1).write.mode("append").parquet(path)

    return landed(spark, "landed_events_outer", sf_dir, write)


def streaming_purchase_error_left_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAM-STREAM LEFT OUTER join: every purchase, with the same
    user's error events in the following 4 hours where they exist and
    NULL error columns where they don't — "which purchases went
    smoothly" — the hard streaming case, because an outer row can only
    be emitted once the watermark proves no future match can arrive.

    Mechanics under test (the production semantics, end-to-end):
    unmatched purchases sit in join state until the global watermark
    (min across both sides) passes their p_ts + 4 h horizon; the
    far-future sentinel pair in the landing dir advances both sides'
    watermarks, and availableNow's closing no-data micro-batch then
    flushes every real outer row — making the result equal the batch
    LEFT JOIN exactly, which lets the DuckDB oracle hash-check outer
    emission, not just inner matching.

    The sentinel filter runs on the MATERIALIZED sink table, not
    inside the streaming plan: a pre-sink filter on user_id pushes
    below the EventTimeWatermark operator on the purchase side and
    silently un-advances the watermark (measured: the newest ~13 h of
    outer rows never flush). Keeping the streaming plan filter-free is
    load-bearing.
    """
    land = _landed_events_outer(spark, sf_dir)
    # sentinels are identified by their RESERVED negative event_ids
    # (-1/-2, never assigned to real events) — not by user_id, which
    # the generator owns and could legitimately make negative some day
    return _purchase_error_join(spark, land, "leftOuter").filter(
        F.col("purchase_id") >= 0
    )


def streaming_purchase_error_full_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAM-STREAM FULL OUTER join — the last member of the
    inner/left/full family: every purchase (with NULL error columns
    when clean) AND every orphaned error (NULL purchase columns) in
    one topology. Both state stores now hold outer candidates, and
    BOTH sides' rows flush only when the global watermark clears
    their join horizon — the sentinel pair (one per side) is what
    proves time moved on for each store, making the finite replay
    equal the batch FULL JOIN exactly so the oracle can hash-check
    outer emission on both sides, not just one.

    Same load-bearing subtlety as the left join: the sentinel filter
    runs on the MATERIALIZED sink table (a pre-sink filter would push
    below the EventTimeWatermark operator and un-advance the
    watermark). Sentinels are identified by their reserved negative
    event_ids; a full-outer row is real iff each present side has a
    non-negative id.
    """
    land = _landed_events_outer(spark, sf_dir)
    return _purchase_error_join(spark, land, "fullOuter").filter(
        (F.col("purchase_id").isNull() | (F.col("purchase_id") >= 0))
        & (F.col("error_id").isNull() | (F.col("error_id") >= 0))
    )


def streaming_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The key-level silver MERGE driven from a STREAM — the CDC
    pattern at 100 TB: corrections arrive continuously, and each
    micro-batch upserts into the partitioned silver table via
    ``foreachBatch(merge_upsert)`` (partition-pruned read, broadcast
    key anti-join, dynamic-overwrite re-land — per batch, cost ∝ the
    batch's partitions).

    The correction set lands as a 2-file parquet feed and
    ``maxFilesPerTrigger=1`` forces two REAL micro-batches, so the
    grade proves batch-boundary independence: applying the merge in
    pieces must land the identical final table as the batch
    silver_merge_upsert one-shot — they share one oracle.
    """
    from ..sources.silver import (
        _default_path,
        all_nodes_rollup,
        merge_updates,
        merge_upsert,
        read_silver,
        write_silver,
    )

    path = _default_path(sf_dir) + "_smerge"
    write_silver(spark, sf_dir, path)
    feed = work_dir("merge_feed") + "/updates"
    merge_updates(spark, path).repartition(2).write.parquet(feed)

    stream = (
        spark.readStream.schema(spark.read.parquet(feed).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(feed)
    )
    _foreach_batch(
        spark,
        "merge_upsert",
        stream,
        lambda batch, _epoch: merge_upsert(spark, path, batch),
    )
    return all_nodes_rollup(read_silver(spark, path))


def streaming_percentiles_tdigest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous percentiles via MERGEABLE T-DIGEST STATE — the
    streaming twin of event_value_percentiles_tdigest and the
    production shape of a live p99 dashboard: each micro-batch runs
    the SAME distributed partial-centroid stage
    (analytics.tdigest_partial_centroids — only ≤ O(δ) centroid rows
    per type ever leave the executors), and the driver folds those
    centroids into a running digest per type. State stays ≤ δ
    centroids per type FOREVER — stream length never grows it, which
    is what makes the sketch (not a raw-value buffer) the 100 TB
    path. Events replay as a 2-file feed with maxFilesPerTrigger=1,
    so the merge provably crosses a real micro-batch boundary.

    Rows-only by design (like the batch digest): centroid layouts are
    construction-specific, so cross-engine hashes don't apply — the
    rank-error bound vs the exact ordered aggregate and the exact
    total count are unit-tested instead (tests/test_streaming.py).
    """
    import numpy as np

    from ..operators.analytics import (
        _tdigest_compress,
        _tdigest_quantile,
        tdigest_partial_centroids,
    )

    ev = table(spark, sf_dir, "events").select("event_type", "value")
    feed = work_dir("tdigest_feed") + "/events"
    ev.repartition(2).write.parquet(feed)

    stream = (
        spark.readStream.schema(spark.read.parquet(feed).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(feed)
    )
    state: dict[str, tuple] = {}

    def fold_batch(batch: DataFrame, _epoch: int) -> None:
        for r in tdigest_partial_centroids(batch).collect():
            m, w = state.get(r.event_type, ((), ()))
            state[r.event_type] = (m + (r.mean,), w + (r.weight,))
        for et, (m, w) in state.items():
            cm, cw = _tdigest_compress(
                np.asarray(m, dtype=np.float64),
                np.asarray(w, dtype=np.float64),
            )
            state[et] = (tuple(cm), tuple(cw))

    _foreach_batch(spark, "percentiles_tdigest", stream, fold_batch)
    rows = []
    for et, (m, w) in state.items():
        cm = np.asarray(m, dtype=np.float64)
        cw = np.asarray(w, dtype=np.float64)
        rows.append(
            (
                et,
                _tdigest_quantile(cm, cw, 0.5),
                _tdigest_quantile(cm, cw, 0.95),
                _tdigest_quantile(cm, cw, 0.99),
                int(round(float(cw.sum()))),
            )
        )
    return local_frame(spark,
        rows, "event_type string, p50 double, p95 double, p99 double, n long"
    )


def streaming_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unbounded-lookback STREAMING AS-OF JOIN graded end-to-end
    (see streaming/asof_state.py): the purchase/error feed lands as
    two TIME-SPLIT parquet files (early half first, mtimes forced so
    the file source replays them in event-time order), and
    ``maxFilesPerTrigger=1`` drives two real micro-batches through the
    per-user carry-forward state — errors in batch 2 must join
    purchases remembered from batch 1. Shares
    asof_purchase_before_error's oracle, so the custom stateful
    operator is hash-proven equal to the batch window formulation.
    """
    from . import asof_state

    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.col("ts").cast("long").alias("epoch"),
    )
    tagged = ev.filter(
        F.col("event_type").isin("purchase", "error")
    ).select(
        "event_id",
        "user_id",
        "epoch",
        (F.col("event_type") == "purchase").alias("is_purchase"),
    )
    split = tagged.approxQuantile("epoch", [0.5], 0.0)[0]
    feed = _two_file_feed(
        "asof_feed",
        tagged.filter(F.col("epoch") < split),
        tagged.filter(F.col("epoch") >= split),
    )
    joined = asof_state.streaming_asof(_replay(spark, feed, tagged.schema))
    return _to_table(spark, joined, "asof_join", "append")


#: streaming_topk_tokens: per-batch summary cap + reported top-K.
STREAM_HH_CAP = 1024
STREAM_HH_TOP_K = 20


def _merge_capped(
    state: dict[str, int], rows: list[tuple[str, int]], cap: int
) -> None:
    """Fold a batch summary into the running counter state, re-capped
    to ``cap`` entries by (count desc, token) — the space-saving-style
    merge streaming_topk_tokens runs per micro-batch (factored out so
    the bounded-state behavior is unit-testable below the exact
    regime)."""
    for t, c in rows:
        state[t] = state.get(t, 0) + c
    if len(state) > cap:
        keep = sorted(state.items(), key=lambda kv: (-kv[1], kv[0]))
        state.clear()
        state.update(keep[:cap])


def streaming_topk_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous top-K heavy hitters across micro-batches — the live
    trending-tokens board: each micro-batch runs a DISTRIBUTED
    partial count (explode → map-side-combined groupBy), only its
    ≤ STREAM_HH_CAP largest counters reach the driver, and the driver
    folds them into running state re-capped to the same bound — state
    is O(cap) FOREVER, stream length never grows it.

    Graded in the EXACT regime: the gate corpus' vocabulary is far
    below the cap, so nothing is ever dropped and the merged result
    must EQUAL the batch top-K rollup — any defect in the
    across-batch summation or the re-cap ordering hash-mismatches
    against the exact SQL oracle. Beyond the cap the same structure
    degrades gracefully into the space-saving bounds that
    vocab_top_tokens_mergeable proves (its [lb, ub] accounting is the
    batch twin of this state). Documents replay as a 2-file feed with
    maxFilesPerTrigger=1 so the fold provably crosses a real
    micro-batch boundary.
    """
    from ..functions.texts import tokens_col
    from ..sources.tables import documents

    docs = documents(spark, sf_dir).select("doc_id", "text")
    feed = work_dir("topktok_feed") + "/docs"
    docs.repartition(2).write.parquet(feed)

    stream = (
        spark.readStream.schema(spark.read.parquet(feed).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(feed)
    )
    state: dict[str, int] = {}

    def fold_batch(batch: DataFrame, _epoch: int) -> None:
        counts = (
            batch.select(F.explode(tokens_col()).alias("t"))
            .groupBy("t")
            .agg(F.count("*").alias("c"))
            .orderBy(F.col("c").desc(), "t")
            .limit(STREAM_HH_CAP)
        )
        _merge_capped(
            state, [(r.t, r.c) for r in counts.collect()], STREAM_HH_CAP
        )

    _foreach_batch(spark, "topk_tokens", stream, fold_batch)
    top = sorted(state.items(), key=lambda kv: (-kv[1], kv[0]))
    top = top[:STREAM_HH_TOP_K]
    return local_frame(spark,
        [(t, c, i + 1) for i, (t, c) in enumerate(top)],
        schema="t string, c bigint, rk int",
    )


#: redelivery fan: every event_id divisible by DUP_MOD lands TWICE —
#: the deterministic stand-in for an at-least-once event bus
DUP_MOD = 7


def _landed_dup_events(spark: SparkSession, sf_dir: str) -> str:
    """Land the events table WITH synthetic redelivery duplicates
    (once per sf_dir per session): every DUP_MOD-th event appears in
    two files, byte-identical — what an at-least-once shipper leaves
    behind after a retry."""

    def write(path: str) -> None:
        ev = _events_frame(spark, sf_dir)
        dups = ev.filter(F.col("event_id") % DUP_MOD == 0)
        ev.unionByName(dups).repartition(2).write.parquet(path)

    return landed(spark, "landed_dup_events", sf_dir, write)


def streaming_dedup_watermarked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once ingestion from an at-least-once feed via Spark's
    NATIVE ``dropDuplicatesWithinWatermark`` — the state-store twin of
    the foreachBatch approach in streaming_dedup_incremental: first
    sighting of an event_id passes through, redeliveries inside the
    watermark horizon are suppressed by keyed state, and the watermark
    is what BOUNDS that state at scale (a key's entry is freed once
    the watermark passes its event time + delay — without it the
    dedup index grows with the stream forever).

    The delay here exceeds the testdata's full event-time span, so no
    state is evicted mid-run and the deduped stream must equal the
    duplicate-free source EXACTLY — which is what lets the DuckDB
    oracle grade the state machine: n_events == n_ids per type (a
    leaked duplicate breaks it) and the value sum (a double-count or
    a dropped first sighting breaks it).
    """
    deduped = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .parquet(_landed_dup_events(spark, sf_dir))
        .withWatermark("ts", "3650 days")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    return (
        _to_table(spark, deduped, "dedup_watermarked", "append")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.count_distinct("event_id").alias("n_ids"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


def streaming_cusum_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CUSUM regime detector AS A STREAM — detector state (prefix
    sum, clamped running minimum) carried ACROSS micro-batch
    boundaries: the zero-filled hourly series lands as two TIME-SPLIT
    files (early hours strictly older mtime), ``maxFilesPerTrigger=1``
    drives two real micro-batches, and an alarm in the late batch
    depends on drift accumulated in the early one — the sequential-
    detection twin of streaming_asof_join's carry-forward state.

    The reference level k comes from the shared batch series (a
    production CUSUM runs against a historical baseline, not the
    stream itself); the fold state is two integers per node
    (rollup-cardinality, same bounded-driver-state argument as the
    t-digest and top-K folds — burst_state.py proves the
    applyInPandasWithState shape for unbounded key spaces). Shares
    error_cusum_changepoints' oracle: the cross-batch fold must
    produce the batch closed form's EXACT alarm set.
    """
    from ..operators.analysis import CUSUM_H_MULT, cusum_series
    from ..sources.tables import logs_flagged

    series = cusum_series(logs_flagged(spark, sf_dir))
    split = series.approxQuantile("h", [0.5], 0.0)[0]
    feed = _two_file_feed(
        "cusum_feed",
        series.filter(F.col("h") < split),
        series.filter(F.col("h") >= split),
    )

    state: dict[str, tuple[int, int]] = {}
    alarms: list[tuple[str, int, int, int, int]] = []

    def fold_batch(batch: DataFrame, _epoch: int) -> None:
        # rollup-cardinality rows; sorted so each node's hours fold
        # in event order within the batch (files split by hour keep
        # cross-batch order correct)
        for r in batch.orderBy("node", "h").collect():
            p, m = state.get(r.node, (0, 0))
            p += r.x - r.k
            m = min(m, p)  # m seeds at 0 == least(0, min prefix p)
            state[r.node] = (p, m)
            s = p - m
            if s > CUSUM_H_MULT * r.k:
                alarms.append((r.node, int(r.h), int(r.x), s, int(r.k)))

    _foreach_batch(
        spark, "cusum_alerts", _replay(spark, feed, series.schema), fold_batch
    )
    return local_frame(spark,
        alarms,
        schema="node string, hour_s long, n_errors long, cusum long,"
        " k_ref long",
    )


def streaming_rack_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM–STATIC join — the enrichment shape every production
    stream runs (events vs a reference table) and the one join family
    the streaming section didn't yet grade: the parsed log stream
    joins the STATIC node→rack dimension (the same separate parquet
    source silver_dpp_join probes) BEFORE its windowed aggregation.
    Stream-static joins need no watermark and keep no join state —
    the static side broadcasts into every micro-batch, so enrichment
    adds zero state-store pressure at any scale.

    Graded per (hour, rack, level) against an oracle that recomputes
    the rack from node parity — a dropped or duplicated enrichment
    row breaks the hash.
    """
    from ..sources.silver import write_node_dim

    # the dim is STATIC — landed once per session, not once per call
    dim_path = landed(
        spark, "node_dim", sf_dir, lambda path: write_node_dim(spark, path)
    )
    rack_dim = spark.read.parquet(dim_path)

    parsed = _silver_stream(spark, sf_dir)
    enriched = parsed.join(F.broadcast(rack_dim), "node")
    counts = (
        enriched.withWatermark("ts", "2 hours")
        .groupBy(
            F.window("ts", "1 hour").alias("win"),
            "rack",
            "level",
        )
        .agg(F.count("*").alias("n"))
    )
    return _to_table(spark, counts, "rack_counts", "complete").select(
        F.date_format("win.start", "yyyy-MM-dd HH:00:00").alias("hour"),
        "rack",
        "level",
        F.col("n").cast("long").alias("n"),
    )


def streaming_dlq_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEAD-LETTER ROUTING on the stream — the operational half of
    log_parse_corrupt_tolerant's batch contract: the torn-line feed
    streams in, each micro-batch SPLITS into the parsed flow and a
    dead-letter parquet sink (raw payload retained for forensics —
    at 100 TB you reprocess the DLQ after fixing the shipper, you
    don't grep executor logs). foreachBatch does the fork; both sinks
    land exactly-once per batch id.

    Graded on the union census (per node: parsed rows from the main
    flow + dead rows read back FROM THE DLQ SINK) against the same
    modular-arithmetic oracle — a lost or double-routed line on
    either leg breaks the hash.
    """
    from ..functions.parsing import (
        corrupt_some_lines,
        parse_json_tolerant,
        synth_json_lines,
    )

    land = work_dir("dlq_feed") + "/lines"
    (
        corrupt_some_lines(synth_json_lines(table(spark, sf_dir, "events")))
        .repartition(2)
        .write.parquet(land)
    )
    work = work_dir("dlq_out")
    main_out = os.path.join(work, "parsed")
    dlq_out = os.path.join(work, "dlq")

    def route(batch: DataFrame, _epoch: int) -> None:
        parsed = parse_json_tolerant(batch).cache()
        (
            parsed.filter(~F.col("is_corrupt"))
            .select("line_id", "node", "level", "message")
            .write.mode("append")
            .parquet(main_out)
        )
        (
            parsed.filter(F.col("is_corrupt"))
            .select("line_id", "node", "raw")
            .write.mode("append")
            .parquet(dlq_out)
        )
        parsed.unpersist()

    stream = spark.readStream.schema(
        "line_id long, node string, raw string"
    ).parquet(land)
    _foreach_batch(spark, "dlq_counts", stream, route)
    ok = (
        spark.read.parquet(main_out)
        .groupBy("node")
        .agg(
            F.count("*").alias("n_parsed"),
            F.sum((F.col("level") == "ERROR").cast("long")).alias(
                "n_errors"
            ),
        )
    )
    dead = (
        spark.read.parquet(dlq_out)
        .groupBy("node")
        .agg(F.count("*").alias("n_corrupt"))
    )
    return ok.join(dead, "node", "full_outer").select(
        "node",
        (F.coalesce("n_parsed", F.lit(0))
         + F.coalesce("n_corrupt", F.lit(0))).cast("long").alias("n_lines"),
        F.coalesce("n_corrupt", F.lit(0)).cast("long").alias("n_corrupt"),
        F.coalesce("n_parsed", F.lit(0)).cast("long").alias("n_parsed"),
        F.coalesce("n_errors", F.lit(0)).cast("long").alias("n_errors"),
    )


def streaming_trend_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS degradation trend AS A STREAM — the mergeable-moments
    pattern: each micro-batch reduces its error lines to four
    integers per node (min/max hour index, count, Σ hour index) with
    a DISTRIBUTED map-side-combinable aggregation, and the driver
    folds partials with min/min, max/max, +, + — state is O(nodes)·4
    integers FOREVER, stream length never grows it. Because
    slope_num/den are shift-invariant (trend_from_moments), absolute
    epoch-hour moments merge across batches without the per-node
    origin being known up front — the property that makes this fold
    possible at all.

    The raw error feed replays as two TIME-SPLIT files
    (``maxFilesPerTrigger=1`` → two real micro-batches), so the
    final regression provably mixes both halves: min-hour comes from
    batch 1, max-hour from batch 2. Shares error_trend_ols' oracle —
    the fold must land the batch closed form's EXACT integer
    numerator/denominator per node.
    """
    from ..operators.analysis import trend_from_moments
    from ..sources.tables import logs_flagged

    lines = (
        logs_flagged(spark, sf_dir)
        .filter(F.col("is_error"))
        .select(
            "node",
            F.floor(F.col("ts").cast("long") / 3600).cast("long").alias("t"),
        )
    )
    # empty error stream → empty trend frame, like the batch op
    med = lines.approxQuantile("t", [0.5], 0.0)
    if not med:
        return trend_from_moments(
            local_frame(spark,
                [], "node string, t0 long, t1 long, sy long, sty long"
            )
        )
    split = med[0]
    feed = _two_file_feed(
        "trend_feed",
        lines.filter(F.col("t") < split),
        lines.filter(F.col("t") >= split),
    )

    # node -> [t0, t1, sy, sty]
    state: dict[str, list[int]] = {}

    def fold_batch(batch: DataFrame, _epoch: int) -> None:
        partial = batch.groupBy("node").agg(
            F.min("t").alias("t0"),
            F.max("t").alias("t1"),
            F.count("*").alias("sy"),
            F.sum("t").alias("sty"),
        )
        for r in partial.collect():  # O(nodes) rows — the whole point
            s = state.setdefault(r.node, [r.t0, r.t1, 0, 0])
            s[0] = min(s[0], r.t0)
            s[1] = max(s[1], r.t1)
            s[2] += r.sy
            s[3] += r.sty

    _foreach_batch(
        spark,
        "trend_state",
        _replay(spark, feed, "node string, t long"),
        fold_batch,
    )
    moments = local_frame(spark,
        [(n, s[0], s[1], s[2], s[3]) for n, s in sorted(state.items())],
        schema="node string, t0 long, t1 long, sy long, sty long",
    )
    return trend_from_moments(moments)


def streaming_mannkendall_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend monitoring AS A STREAM (round 8) — the
    daily-histogram fold: each micro-batch reduces its error lines
    DISTRIBUTEDLY to per-(node, day) counts plus the node's min/max
    error hour, and the driver merges by +, min, max — state is
    O(nodes × days) integers, bounded by the monitoring horizon,
    never by line volume (the same state class as the seasonal-MAD
    bridge; MK fundamentally needs the daily series, and this IS its
    minimal sufficient statistic). After the replay the zero-filled
    daily frame is rebuilt from state (missing days between the
    span's first and last error hour are real zeros, exactly the
    batch op's grid semantics) and handed to the SHARED
    mannkendall_from_daily fold.

    The feed replays TIME-SPLIT (two real micro-batches), so the
    final S provably mixes both halves — early days from batch 1,
    late days from batch 2. Shares error_trend_mannkendall's oracle:
    the fold must land the batch test's exact integers (S, pair
    count, tie-corrected variance numerator) per node.
    """
    from ..operators.analysis import mannkendall_from_daily
    from ..sources.tables import logs_flagged

    lines = (
        logs_flagged(spark, sf_dir)
        .filter(F.col("is_error"))
        .select(
            "node",
            F.floor(F.col("ts").cast("long") / 3600).cast("long").alias("t"),
        )
    )
    # empty error stream → empty trend frame, like the batch op
    # (ADVICE r8: approxQuantile returns [] on an empty column and
    # indexing it raised instead of degrading)
    med = lines.approxQuantile("t", [0.5], 0.0)
    if not med:
        return mannkendall_from_daily(
            local_frame(spark, [], "node string, d long, x long")
        )
    split = med[0]
    feed = _two_file_feed(
        "mk_feed",
        lines.filter(F.col("t") < split),
        lines.filter(F.col("t") >= split),
    )

    # node -> [t_min, t_max, {day: count}]
    state: dict[str, list] = {}

    def fold_batch(batch: DataFrame, _epoch: int) -> None:
        partial = batch.groupBy(
            "node", F.expr("t div 24").alias("d")
        ).agg(
            F.count("*").alias("c"),
            F.min("t").alias("t0"),
            F.max("t").alias("t1"),
        )
        # O(nodes × days-in-batch) rows — rollup-sized by design
        for r in partial.collect():
            s = state.setdefault(r.node, [r.t0, r.t1, {}])
            s[0] = min(s[0], r.t0)
            s[1] = max(s[1], r.t1)
            s[2][r.d] = s[2].get(r.d, 0) + r.c

    _foreach_batch(
        spark,
        "mannkendall_state",
        _replay(spark, feed, "node string, t long"),
        fold_batch,
    )
    rows = []
    for node, (t0, t1, cnt) in sorted(state.items()):
        for d in range(t0 // 24, t1 // 24 + 1):
            rows.append((node, d, cnt.get(d, 0)))
    daily = local_frame(spark, rows, "node string, d long, x long")
    return mannkendall_from_daily(daily)


def streaming_kmv_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous distinct-count sketching — KMV's streaming fold:
    each micro-batch reduces DISTRIBUTEDLY to its per-type k smallest
    user hashes (the two-stage top-k from the batch op), and the
    driver merges k-sets by union → k smallest — state is O(types·k)
    integers forever, the mergeability the property test proves is
    what the fold exercises across real micro-batch boundaries. The
    feed replays as two USER-SPLIT files (user_id parity), so neither
    batch alone contains the global k-set: the final k-th minimum
    provably mixes both. Shares distinct_users_kmv's oracle — the
    fold must land the batch sketch's exact integers (n_kept,
    kth_hash, estimate) per event type.
    """
    from ..operators.analytics import KMV_K, KMV_SPACE

    ev = table(spark, sf_dir, "events").select("event_type", "user_id")
    feed = _two_file_feed(
        "kmv_feed",
        ev.filter(F.pmod("user_id", F.lit(2)) == 0),
        ev.filter(F.pmod("user_id", F.lit(2)) == 1),
    )

    # event_type -> sorted list of (h, user_id), ≤ K entries
    state: dict[str, list[tuple[int, int]]] = {}

    def fold_batch(batch: DataFrame, _epoch: int) -> None:
        h = F.conv(
            F.substring(
                F.md5(
                    F.concat(F.col("user_id").cast("string"), F.lit(":kmv"))
                ),
                1,
                12,
            ),
            16,
            10,
        ).cast("long")
        hashed = batch.distinct().select("event_type", "user_id", h.alias("h"))
        w = Window.partitionBy(
            "event_type", F.pmod("user_id", F.lit(8))
        ).orderBy("h", "user_id")
        cand = (
            hashed.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= KMV_K)
            .collect()
        )  # ≤ types·shards·K rows — bounded by design
        for r in cand:
            s = state.setdefault(r.event_type, [])
            s.append((r.h, r.user_id))
        for t in state:
            state[t] = sorted(set(state[t]))[:KMV_K]

    _foreach_batch(
        spark,
        "kmv_state",
        _replay(spark, feed, "event_type string, user_id long"),
        fold_batch,
    )
    # n_true is the report's evaluation harness, not sketch state —
    # computed distributively from the landed feed, never driver sets
    truth = {
        r.event_type: r.n
        for r in spark.read.option("recursiveFileLookup", "true")
        .parquet(feed)
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    rows = []
    for t in sorted(state):
        ks = state[t]
        n_kept = len(ks)
        kth = ks[-1][0]
        est = n_kept if n_kept < KMV_K else (KMV_K - 1) * KMV_SPACE // kth
        rows.append((t, truth[t], n_kept, kth, est))
    return local_frame(spark,
        rows,
        schema="event_type string, n_true long, n_kept long,"
        " kth_hash long, est_users long",
    )


def streaming_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTINUOUS weighted sampling — priority sampling's streaming
    fold: each micro-batch reduces DISTRIBUTEDLY to its per-shard
    bottom-K (priority, doc) candidates, and the driver merges
    bottom-K sets by union → K smallest — state is O(K) rows forever,
    the mergeability that makes bottom-K THE distributed/streaming
    weighted sampler (a new batch can only improve the sample, never
    invalidate it). The feed replays as two DOC-PARITY files, so
    neither batch alone contains the global bottom-K: the final
    sample provably mixes both. The stream carries the featurized
    (doc_id, source, n_tokens, u) rows — feature extraction is a map
    stage either way; what's under test is the cross-batch fold.
    Shares priority_sample's oracle: the fold must land the batch
    sampler's exact rows and ranks.
    """
    from ..operators.curation import PRIORITY_SALT, PRIORITY_SAMPLE_K
    from ..functions.texts import tokens_col
    from ..sources.tables import documents

    d = documents(spark, sf_dir).select(
        "doc_id",
        "source",
        F.size(tokens_col()).cast("long").alias("n_tokens"),
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(PRIORITY_SALT), F.col("doc_id").cast("string")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("u"),
    )
    feed = _two_file_feed(
        "prio_feed",
        d.filter(F.pmod("doc_id", F.lit(2)) == 0),
        d.filter(F.pmod("doc_id", F.lit(2)) == 1),
    )

    # bottom-K state: sorted (priority, doc_id, source, n_tokens)
    state: list[tuple[float, int, str, int]] = []

    def fold_batch(batch: DataFrame, _epoch: int) -> None:
        pri = batch.withColumn(
            "priority", F.col("u") / (F.col("n_tokens") + F.lit(1))
        )
        w = Window.partitionBy(F.pmod("doc_id", F.lit(8))).orderBy(
            "priority", "doc_id"
        )
        cand = (
            pri.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= PRIORITY_SAMPLE_K)
            .collect()
        )  # ≤ shards·K rows — bounded by design
        state.extend(
            (r.priority, r.doc_id, r.source, r.n_tokens) for r in cand
        )
        state.sort()
        del state[PRIORITY_SAMPLE_K:]

    _foreach_batch(
        spark,
        "priority_sample",
        _replay(spark, feed, "doc_id long, source string, n_tokens long, u long"),
        fold_batch,
    )
    rows = [
        (doc_id, source, n_tokens, priority, i + 1)
        for i, (priority, doc_id, source, n_tokens) in enumerate(state)
    ]
    return local_frame(spark,
        rows,
        schema="doc_id long, source string, n_tokens long,"
        " priority double, rn int",
    )


def streaming_funnel_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATEFUL FUNNEL — the deadline funnel (funnel_time_bounded) as
    a per-user STATE MACHINE folded across micro-batches with
    ``applyInPandasWithState``: state is three microsecond stamps
    (first view, first qualifying click, first qualifying purchase),
    O(1) per user forever. The feed replays time-split (first-half /
    second-half days), so a user's journey genuinely CROSSES the
    batch boundary — view in batch 1, conversion in batch 2 — which
    is exactly what the fold must carry. Stage flags only ever
    advance, so the update-mode emissions max-collapse per user on
    the materialized sink regardless of how many times a group
    emitted. Shares funnel_time_bounded's oracle: the state machine
    must land the batch windows' exact stage counts and per-milles.
    """
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql.streaming.state import (
        GroupState,
        GroupStateTimeout,
    )
    from pyspark.sql.types import LongType, StructField, StructType

    from ..operators.analytics import (
        FUNNEL_CLICK_W_US,
        FUNNEL_PURCH_W_US,
    )

    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    mid = ev.agg(
        ((F.min("us") + F.max("us")) / 2).cast("long").alias("m")
    ).collect()[0].m
    feed = _two_file_feed(
        "funnel_feed",
        ev.filter(F.col("us") < mid),
        ev.filter(F.col("us") >= mid),
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("v", LongType()),
            StructField("c", LongType()),
            StructField("p", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("t_view", LongType()),
            StructField("t_click", LongType()),
            StructField("t_purch", LongType()),
        ]
    )

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        tv, tc, tp = state.get if state.exists else (None, None, None)
        rows = []
        for pdf in pdfs:
            rows.extend(
                zip(
                    (int(x) for x in pdf["us"]),
                    (int(x) for x in pdf["event_id"]),
                    pdf["event_type"],
                )
            )
        for us, _eid, et in sorted(rows):
            if et == "view" and tv is None:
                tv = us
            elif (
                et == "click"
                and tc is None
                and tv is not None
                and tv <= us <= tv + FUNNEL_CLICK_W_US
            ):
                tc = us
            elif (
                et == "purchase"
                and tp is None
                and tc is not None
                and tc <= us <= tc + FUNNEL_PURCH_W_US
            ):
                tp = us
        state.update((tv, tc, tp))
        yield pd.DataFrame(
            [
                (
                    user_id,
                    int(tv is not None),
                    int(tc is not None),
                    int(tp is not None),
                )
            ],
            columns=["user_id", "v", "c", "p"],
        )

    stream = _replay(
        spark, feed, "event_id long, user_id long, event_type string, us long"
    )
    updated = stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    flags = (
        _to_table(spark, updated, "funnel_state", "update")
        .groupBy("user_id")
        .agg(F.max("v").alias("v"), F.max("c").alias("c"), F.max("p").alias("p"))
    )
    agg = flags.agg(
        F.sum("v").alias("nv"), F.sum("c").alias("nc"), F.sum("p").alias("np")
    )
    return agg.select(
        F.expr(
            "stack(3,"
            " '1_view', nv, CAST(NULL AS BIGINT),"
            " '2_click_1h', nc, CASE WHEN nv = 0 THEN 0"
            "   ELSE CAST(1000 * nc div nv AS BIGINT) END,"
            " '3_purchase_4h', np, CASE WHEN nc = 0 THEN 0"
            "   ELSE CAST(1000 * np div nc AS BIGINT) END)"
        ).alias("stage", "n_users", "conv_permille")
    ).select(
        "stage",
        F.col("n_users").cast("long").alias("n_users"),
        F.col("conv_permille").cast("long").alias("conv_permille"),
    )


#: late-data watermark delay (seconds) for streaming_late_data_drop
LATE_DELAY_S = 7200


def streaming_late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WATERMARK DROP SEMANTICS, graded — the behavior every other
    bridge op sidesteps. A single availableNow run can't exercise it:
    all its batches are PLANNED with the same late-events watermark
    (measured here: a two-file replay advances the displayed watermark
    but drops nothing). The production shape that DOES exercise it is
    a RESTART: run 1 processes the freshest hour and checkpoints its
    watermark (max − 2 h); the late file then lands and run 2 —
    same checkpoint — must judge every replayed row against the
    PERSISTED watermark: a row survives iff its hour-window hasn't
    expired (window_end > watermark, boundary pinned empirically:
    ts < wm but window_end > wm is KEPT; window_end < wm drops).

    So the graded artifact is also a checkpoint-restart proof: run
    2's kept rows MERGE into run-1 window state recovered from the
    checkpoint, the parquet sink accumulates across runs through the
    commit log, and the far-future sentinel in the late file flushes
    append-mode windows in run 2's closing batch (filtered after the
    sink). Event times truncate to whole seconds so max − delay is
    exact integer arithmetic the oracle restates.
    """
    ev = table(spark, sf_dir, "events").select(
        F.date_trunc("second", F.col("ts")).alias("ts"), "event_type"
    )
    hi = ev.agg(F.max("ts").cast("long").alias("m")).collect()[0].m
    fresh_cut = F.lit(hi - 3600).cast("timestamp")
    root = work_dir("late_drop")
    feed = os.path.join(root, "feed")
    ckpt = os.path.join(root, "ckpt")
    out = os.path.join(root, "out")
    os.makedirs(feed)

    def run_once() -> None:
        stream = (
            spark.readStream.schema("ts timestamp, event_type string")
            .parquet(feed)
            .withWatermark("ts", f"{LATE_DELAY_S} seconds")
            .groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(F.count("*").alias("n"))
        )
        _run(
            spark,
            "late_data_drop",
            lambda: stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start(),
        )

    ev.filter(F.col("ts") >= fresh_cut).repartition(1).write.mode(
        "append"
    ).parquet(feed)
    run_once()
    sentinel = local_frame(spark,
        [("sentinel",)], "event_type string"
    ).select(
        (F.lit(hi) + 400 * 86400).cast("timestamp").alias("ts"),
        "event_type",
    )
    (
        ev.filter(F.col("ts") < fresh_cut)
        .unionByName(sentinel)
        .repartition(1)
        .write.mode("append")
        .parquet(feed)
    )
    run_once()
    return (
        spark.read.parquet(out)
        .filter(F.col("event_type") != "sentinel")
        .select(
            F.col("window.start").cast("long").alias("win_start"),
            "event_type",
            F.col("n").cast("long").alias("n"),
        )
    )


def streaming_f2_ams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous second-moment sketching — AMS's streaming fold: each
    micro-batch reduces DISTRIBUTEDLY to its 32 signed counters
    (token-keyed partial agg → R-way sign sum, exactly the batch op's
    plan on the batch's slice), and the driver merges by PLAIN
    ADDITION — S_r is linear in token counts, so cross-batch merge is
    `state[r] += s_r` with zero approximation. State is 32 integers
    forever. The feed replays as two DOC-PARITY files, so neither
    batch alone sees the full vocabulary: every final counter provably
    mixes both. Shares token_f2_ams's oracle — the fold must land the
    batch sketch's exact integers (every S_r, every S_r², and the
    exact F2 recomputed distributively from the landed feed).
    """
    from ..functions.texts import tokens_col
    from ..operators.textops import AMS_R
    from ..sources.tables import documents

    d = documents(spark, sf_dir).select("doc_id", "text")
    feed = _two_file_feed(
        "ams_feed",
        d.filter(F.pmod("doc_id", F.lit(2)) == 0),
        d.filter(F.pmod("doc_id", F.lit(2)) == 1),
    )

    state = [0] * AMS_R

    def fold_batch(batch: DataFrame, _epoch: int) -> None:
        sign = F.when(
            F.substring(
                F.md5(
                    F.concat_ws(":", "token", F.col("r").cast("string"))
                ),
                1,
                1,
            ).isin("0", "2", "4", "6", "8", "a", "c", "e"),
            F.lit(1),
        ).otherwise(F.lit(-1))
        per_r = (
            batch.select(F.explode(tokens_col()).alias("token"))
            .groupBy("token")
            .agg(F.count("*").alias("cnt"))
            .select(
                "token",
                "cnt",
                F.explode(
                    F.sequence(F.lit(0), F.lit(AMS_R - 1))
                ).alias("r"),
            )
            .groupBy("r")
            .agg(F.sum(F.col("cnt") * sign).alias("s_r"))
            .collect()
        )  # exactly AMS_R rows — the sketch, nothing else
        for row in per_r:
            state[row.r] += row.s_r

    _foreach_batch(
        spark,
        "f2_ams",
        _replay(spark, feed, "doc_id long, text string"),
        fold_batch,
    )
    # exact F2 is the report's evaluation column, recomputed
    # distributively from the landed feed — never a driver-side count
    f2 = (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(feed)
        .select(F.explode(tokens_col()).alias("token"))
        .groupBy("token")
        .count()
        .agg(F.sum(F.col("count") * F.col("count")).alias("f2"))
        .collect()[0]
        .f2
    )
    rows = [(r, s, s * s, f2) for r, s in enumerate(state)]
    return local_frame(spark,
        rows, schema="r long, s_r long, est_r long, f2_exact long"
    )


def streaming_seasonal_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The seasonal-MAD detector fed by a CROSS-BATCH ADDITIVE ROLLUP
    fold: error lines replay as two LINE-PARITY files (md5 of
    (node, line_id)), so EVERY (node, hour) cell's true count exists
    only as the sum of both micro-batches' partial counts — the fold
    `state[(node, h)] += n` is exactly the map-side-combine algebra a
    shuffle uses, carried across batch boundaries. The folded rollup
    then re-enters the SAME zero-fill grid and detector the batch
    operator uses (zero_fill_hourly → seasonal_mad_from_series), and
    shares error_seasonal_mad's oracle: the fold must reproduce the
    batch detector's exact flag set, medians and MADs included.

    State is rollup-cardinality (nodes × hours), the same bounded-
    driver-state argument as the CUSUM/trend folds; each batch
    reduces distributively to its partial rollup before the collect.
    """
    from ..operators.analysis import (
        seasonal_mad_from_series,
        zero_fill_hourly,
    )
    from ..sources.tables import logs_flagged

    errs = (
        logs_flagged(spark, sf_dir)
        .filter(F.col("is_error"))
        .select(
            "node",
            (F.floor(F.col("ts").cast("long") / 3600) * 3600)
            .cast("long")
            .alias("h"),
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":", "node", F.col("line_id").cast("string")
                        )
                    ),
                    1,
                    4,
                ),
                16,
                10,
            )
            .cast("long")
            .alias("p"),
        )
    )
    feed = _two_file_feed(
        "smad_feed",
        errs.filter(F.pmod("p", F.lit(2)) == 0).select("node", "h"),
        errs.filter(F.pmod("p", F.lit(2)) == 1).select("node", "h"),
    )

    state: dict[tuple[str, int], int] = {}

    def fold_batch(batch: DataFrame, _epoch: int) -> None:
        for r in batch.groupBy("node", "h").count().collect():
            key = (r.node, r.h)
            state[key] = state.get(key, 0) + r["count"]

    _foreach_batch(
        spark,
        "seasonal_mad",
        _replay(spark, feed, "node string, h long"),
        fold_batch,
    )
    hourly = local_frame(spark,
        [(n, h, x) for (n, h), x in sorted(state.items())],
        schema="node string, h long, x long",
    )
    return seasonal_mad_from_series(zero_fill_hourly(hourly))
