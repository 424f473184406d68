"""Materialized silver layer: parsed+classified logs as partitioned
parquet.

The in-session cache (sources/tables.logs_flagged) is the small-scale
stand-in; at 100 TB the parse+classify output is written ONCE as
parquet partitioned by (log_date, node) and every analysis query reads
the silver table instead of reparsing raw text. Partition pruning then
turns "errors on node3 yesterday" into a scan of one directory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.parsing import with_issue_flags
from .tables import logs
from ..functions.frames import local_frame
from ..memo import memo, memoized, work_path


def write_silver(spark: SparkSession, sf_dir: str, path: str) -> str:
    """Parse+classify once and write partitioned by (log_date, node).

    The pre-write repartition on the partition columns routes each
    (log_date, node) directory's rows to one task — without it every
    parallel task emits a file into every directory it touches (the
    classic small-file blowup on partitioned writes).
    """
    flagged = with_issue_flags(logs(spark, sf_dir)).withColumn(
        "log_date", F.to_date("ts")
    )
    (
        flagged.repartition("log_date", "node")
        .write.mode("overwrite")
        .partitionBy("log_date", "node")
        .parquet(path)
    )
    return path


def read_silver(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def node_errors_rollup(df: DataFrame) -> DataFrame:
    """The shared silver-consumer rollup: filter to two nodes (the
    pruning demonstration) and aggregate errors per (log_date, node).

    ONE definition on purpose — silver_node_errors (batch write path)
    and streaming_silver_counts (streaming sink path) share a single
    oracle, so their rollups must be the same code, not copies.
    """
    return (
        df.filter(F.col("node").isin("node1", "node3"))
        .groupBy(
            # ISO string, not DATE: engines stringify date values
            # differently, and the gate's value hash compares strings
            F.date_format("log_date", "yyyy-MM-dd").alias("log_date"),
            F.col("node"),
        )
        .agg(
            F.sum(F.col("is_error").cast("long")).alias("errors"),
            F.sum(F.col("is_warning").cast("long")).alias("warnings"),
            F.count("*").alias("total_lines"),
        )
    )


def silver_restatement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-level RESTATEMENT — the maintenance loop a 100 TB
    silver table lives by: upstream corrects one day's data, and only
    that day's (log_date, node) directories rewrite via DYNAMIC
    partition overwrite; every other partition's files are untouched
    (asserted by inode in tests/test_silver.py — static overwrite
    mode would truncate the whole table).

    Graded end-to-end: full silver build → the earliest day is
    re-landed keeping only its ERROR lines (the "correction") → the
    standard node rollup reads the restated table. The oracle states
    the expected final content directly (early day contributes errors
    only), so a restatement that leaks old rows, drops partitions, or
    clobbers other days hash-mismatches.
    """
    path = _default_path(sf_dir) + "_restate"
    write_silver(spark, sf_dir, path)
    restate_earliest_day(spark, sf_dir, path)
    return node_errors_rollup(read_silver(spark, path))


def restate_earliest_day(spark: SparkSession, sf_dir: str, path: str) -> None:
    """The restate step alone: re-land the earliest day keeping only
    its error lines, via dynamic partition overwrite (only the
    partitions PRESENT in the corrected frame rewrite)."""
    flagged = with_issue_flags(logs(spark, sf_dir)).withColumn(
        "log_date", F.to_date("ts")
    )
    day0 = flagged.agg(F.min("log_date")).collect()[0][0]
    corrected = flagged.filter(
        (F.col("log_date") == F.lit(day0)) & F.col("is_error")
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            corrected.repartition("log_date", "node")
            .write.mode("overwrite")
            .partitionBy("log_date", "node")
            .parquet(path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


#: the upsert demo's target node: its earliest-day ERROR lines get
#: re-leveled to WARN (flags recomputed), all other rows — including
#: the non-error rows of the SAME partition — must survive untouched.
MERGE_NODE = "node2"


def merge_upsert(spark: SparkSession, path: str, updates: DataFrame) -> None:
    """KEY-level MERGE (Delta-style upsert) on a plain parquet silver
    table: delete-and-replace every (node, line_id) key present in
    ``updates``, touching ONLY the (log_date, node) partitions the
    batch lands in.

    Restatement (restate_earliest_day) replaces whole partitions;
    this is the finer loop a CDC feed needs — rows NOT in the batch
    survive inside rewritten partitions. Mechanics: the batch's
    distinct partition keys (tiny — collected) become a pruning
    filter on the base read, the batch anti-joins out its keys
    (broadcast — batch-sized), the union re-lands via dynamic
    partition overwrite. At 100 TB the cost is proportional to the
    AFFECTED partitions, never the table.
    """
    parts = [
        (r["log_date"], r["node"])
        for r in updates.select("log_date", "node").distinct().collect()
    ]
    base = read_silver(spark, path)
    cond = F.lit(False)
    for d, n in parts:
        cond = cond | (
            (F.col("log_date") == F.lit(d)) & (F.col("node") == F.lit(n))
        )
    affected = base.filter(cond)
    merged = affected.join(
        F.broadcast(updates.select("node", "line_id")),
        ["node", "line_id"],
        "left_anti",
    ).unionByName(updates)
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            merged.repartition("log_date", "node")
            .write.mode("overwrite")
            .partitionBy("log_date", "node")
            .parquet(path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def all_nodes_rollup(df: DataFrame) -> DataFrame:
    """The merge consumers' shared rollup (every node, so the merged
    partition is visible) — ONE definition: silver_merge_upsert and
    streaming_merge_upsert share an oracle, so their rollups must be
    the same code, not copies."""
    return df.groupBy(
        F.date_format("log_date", "yyyy-MM-dd").alias("log_date"),
        F.col("node"),
    ).agg(
        F.sum(F.col("is_error").cast("long")).alias("errors"),
        F.sum(F.col("is_warning").cast("long")).alias("warnings"),
        F.count("*").alias("total_lines"),
    )


def merge_updates(spark: SparkSession, path: str) -> DataFrame:
    """The shared correction batch: MERGE_NODE's earliest-day ERROR
    lines re-leveled to WARN, flags recomputed by the SAME classifier
    the parse path uses."""
    base = read_silver(spark, path)
    day0 = base.agg(F.min("log_date")).collect()[0][0]
    return with_issue_flags(
        base.filter(
            (F.col("log_date") == F.lit(day0))
            & (F.col("node") == MERGE_NODE)
            & F.col("is_error")
        )
        .drop("issues", "is_error", "is_warning")
        .withColumn("level", F.lit("WARN"))
    )


def silver_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The key-level merge loop GRADED end-to-end: full silver build →
    a correction batch (MERGE_NODE's earliest-day ERROR lines
    re-leveled to WARN, issue flags recomputed by the SAME classifier
    the parse path uses) merges in via ``merge_upsert`` → an all-node
    (log_date, node) rollup reads the final table. The oracle states
    the expected content directly (corrected rows count as warnings,
    and as errors only if their MESSAGE matches an error pattern), so
    a merge that drops bystander rows inside the rewritten partition,
    duplicates keys, or leaks into other partitions hash-mismatches.
    Untouched partitions keep their inodes (tests/test_silver.py).
    """
    path = _default_path(sf_dir) + "_merge"
    write_silver(spark, sf_dir, path)
    merge_upsert(spark, path, merge_updates(spark, path))
    return all_nodes_rollup(read_silver(spark, path))


def write_silver_fragmented(
    spark: SparkSession, sf_dir: str, path: str, n_frags: int = 8
) -> str:
    """Silver written WITHOUT the partition-aligned repartition — every
    task emits a file into every (log_date, node) directory it
    touches, the small-file pattern a high-frequency streaming sink or
    a naive backfill leaves behind."""
    flagged = with_issue_flags(logs(spark, sf_dir)).withColumn(
        "log_date", F.to_date("ts")
    )
    (
        flagged.repartition(n_frags)
        .write.mode("overwrite")
        .partitionBy("log_date", "node")
        .parquet(path)
    )
    return path


def compact_silver(spark: SparkSession, path: str, out: str) -> str:
    """Compaction rewrite: one file per (log_date, node) partition via
    the partition-aligned repartition — the maintenance job that keeps
    a streamed-into silver table scannable (every extra file is an
    open/seek/footer-parse at 100 TB, and file listing itself becomes
    the bottleneck)."""
    (
        spark.read.parquet(path)
        .repartition("log_date", "node")
        .write.mode("overwrite")
        .partitionBy("log_date", "node")
        .parquet(out)
    )
    return out


def silver_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The compaction loop GRADED end-to-end: fragmented write (many
    files per partition) → compaction rewrite (one file per
    partition, asserted in tests/test_silver.py) → the standard node
    rollup from the compacted table. Shares silver_node_errors'
    oracle: compaction must be a pure LAYOUT change — any lost or
    duplicated row hash-mismatches.
    """
    frag = _default_path(sf_dir) + "_frag"
    compacted = _default_path(sf_dir) + "_compact"
    write_silver_fragmented(spark, sf_dir, frag)
    compact_silver(spark, frag, compacted)
    return node_errors_rollup(read_silver(spark, compacted))


def _default_path(sf_dir: str) -> str:
    """Where ``sf_dir``'s silver table lands; every other silver path
    is this one plus a suffix. Callers look it up when they call it,
    so the location can be moved by rebinding it."""
    return work_path("silver", sf_dir)


def silver_path(spark: SparkSession, sf_dir: str) -> str:
    """The silver table's location, written once per (session, sf_dir).
    At 100 TB the silver table is written ONCE and every analysis query
    reads it; this reproduces that build-once/query-many lifecycle
    (silver_node_errors still rewrites it each call, so the WRITE path
    itself stays under the hash gate)."""

    def build() -> str:
        path = _default_path(sf_dir)
        write_silver(spark, sf_dir, path)
        return path

    return memo(spark, "silver", sf_dir, build)


def node_summary_silver(spark: SparkSession, sf_dir: str) -> DataFrame:
    """node_summary computed FROM THE SILVER READ for a node subset —
    the shape every §2B operator takes at 100 TB: no re-parse of raw
    text, and the node predicate lands in the scan's PartitionFilters
    so whole (log_date, node) directories are skipped at the source
    (asserted in tests/test_plan_shape.py). Shares node_summary's
    aggregation code and oracle body; the only delta is the node
    subset, mirrored verbatim in the oracle's WHERE.
    """
    from ..operators.analysis import node_summary

    df = read_silver(spark, silver_path(spark, sf_dir))
    return node_summary(df.filter(F.col("node").isin("node1", "node3")))


def silver_node_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full silver round trip as a graded query: parse+classify →
    write partitioned by (log_date, node) → read back with a node
    filter → per-(log_date, node) error rollup.

    This is the batch consumer of the layout stream_to_silver also
    lands: the node predicate prunes whole partition directories at
    the source (PartitionFilters in the scan — asserted in
    tests/test_plan_shape.py), which is exactly how "errors on node3
    yesterday" avoids touching 100 TB. The write is re-done per call
    (build-once at scale; rewriting keeps the query hermetic for the
    gate) under the process work root, so concurrent processes on one
    host never overwrite each other's files mid-scan. The rewrite also
    counts as silver_path's build for this session.
    """
    path = _default_path(sf_dir)
    write_silver(spark, sf_dir, path)
    memo(spark, "silver", sf_dir, lambda: path)
    return node_errors_rollup(read_silver(spark, path))


#: zorder_layout: 8 bits per dimension interleaved into a 16-bit
#: z-value; ZORDER_FILES range partitions over it.
ZORDER_BITS = 8
ZORDER_FILES = 16
ZORDER_U_LO, ZORDER_U_HI = 4, 7         # user-bucket probe range
ZORDER_V_LO, ZORDER_V_HI = 50.0, 150.0   # value probe range


def _zvalue(u, v):
    """Interleave the low ZORDER_BITS of two int columns (u odd bits,
    v even bits) — pure shift/mask codegen, no UDF."""
    from pyspark.sql import functions as F

    z = F.lit(0)
    for i in range(ZORDER_BITS):
        z = (
            z
            + F.shiftleft(F.shiftright(u, i).bitwiseAND(1), 2 * i + 1)
            + F.shiftleft(F.shiftright(v, i).bitwiseAND(1), 2 * i)
        )
    return z


def write_zorder(spark: SparkSession, sf_dir: str, path: str) -> None:
    """events rewritten in z-order over (user bucket, value bucket):
    repartitionByRange on the interleaved z-value + sort within
    partitions, so every output file covers a small HYPER-RECTANGLE of
    the 2-D key space and its parquet min/max stats on BOTH plain
    columns are tight — the layout trick (Delta/Iceberg OPTIMIZE
    ZORDER) that makes multi-dimensional predicates prune files
    without partitioning by either column."""
    from pyspark.sql import functions as F

    from .tables import table

    ev = table(spark, sf_dir, "events")
    mask = (1 << ZORDER_BITS) - 1
    zed = ev.select(
        "*",
        F.col("user_id").bitwiseAND(mask).alias("u_bucket"),
        F.least(
            F.floor(F.col("value")).cast("int"), F.lit(mask)
        ).bitwiseAND(mask).alias("v_bucket"),
    )
    zed = zed.withColumn(
        "z", _zvalue(F.col("u_bucket"), F.col("v_bucket"))
    )
    (
        zed.repartitionByRange(ZORDER_FILES, "z")
        .sortWithinPartitions("z")
        .drop("z")
        .write.mode("overwrite")
        .parquet(path)
    )


def zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering GRADED end-to-end: events rewritten
    z-ordered on (user bucket, value bucket), then a 2-D selective
    probe (both predicates at once) rolled up from the read-back.

    The oracle recomputes the probe straight from the source table —
    the rewrite must be a pure LAYOUT change (any lost/dup row
    hash-mismatches), while tests/test_silver.py asserts the layout
    EFFECT: the probe's matching rows concentrate in a small fraction
    of the written files, where the same probe over a round-robin
    layout touches all of them. At 100 TB that file locality is what
    parquet min/max pruning turns into skipped IO."""
    from pyspark.sql import functions as F

    path = work_path("zorder", sf_dir)
    write_zorder(spark, sf_dir, path)
    back = spark.read.parquet(path)
    probe = back.filter(
        (F.col("u_bucket") >= ZORDER_U_LO)
        & (F.col("u_bucket") <= ZORDER_U_HI)
        & (F.col("value") >= ZORDER_V_LO)
        & (F.col("value") < ZORDER_V_HI)
    )
    return probe.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


def silver_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL VIEW MAINTENANCE — the pattern that keeps a 100 TB
    dashboard rollup fresh without re-scanning history: the silver
    table initially lands WITHOUT its latest day and the node rollup
    materializes to parquet; when the new day arrives (partitioned
    append), maintenance recomputes partials over ONLY the new day's
    partition-pruned read and key-merges them into the stored rollup
    (sum-mergeable aggregates: errors/warnings/counts). History is
    never re-read — per refresh, IO is one day's partitions plus the
    O(days × nodes) materialized view.

    Graded end-to-end against silver_node_errors' FULL-recompute
    oracle: the incrementally-maintained view must hash-match a
    from-scratch rollup over all data — leaked old rows, double-
    counted partials, or missed keys all mismatch.
    """
    from .tables import logs
    from ..functions.parsing import with_issue_flags

    path = _default_path(sf_dir) + "_ivm"
    view = path + "_view"
    flagged = with_issue_flags(logs(spark, sf_dir)).withColumn(
        "log_date", F.to_date("ts")
    )
    last_day = flagged.agg(F.max("log_date")).collect()[0][0]
    hist = flagged.filter(F.col("log_date") < F.lit(last_day))
    (
        hist.repartition("log_date", "node")
        .write.mode("overwrite")
        .partitionBy("log_date", "node")
        .parquet(path)
    )
    node_errors_rollup(read_silver(spark, path)).write.mode(
        "overwrite"
    ).parquet(view)

    # — the new day arrives: append only its partitions —
    (
        flagged.filter(F.col("log_date") == F.lit(last_day))
        .repartition("log_date", "node")
        .write.mode("append")
        .partitionBy("log_date", "node")
        .parquet(path)
    )
    # — maintenance: partials over the pruned new-day read only —
    delta = node_errors_rollup(
        read_silver(spark, path).filter(
            F.col("log_date") == F.lit(last_day)
        )
    )
    merged = (
        read_silver(spark, view)
        .unionByName(delta)
        .groupBy("log_date", "node")
        .agg(
            F.sum("errors").alias("errors"),
            F.sum("warnings").alias("warnings"),
            F.sum("total_lines").alias("total_lines"),
        )
    )
    merged.write.mode("overwrite").parquet(view + "_v1")
    return spark.read.parquet(view + "_v1")


def orc_export_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC export fidelity — the second columnar wire format (some
    warehouse estates are ORC-native): the flagged log table writes as
    ORC, reads back with schema intact, and feeds the shared node
    rollup. Shares silver_node_errors' oracle, so any type coercion,
    timestamp shift, or row loss in the ORC writer/reader
    hash-mismatches. Spark's ORC path is JVM-native and vectorized —
    format choice changes IO bytes, not the plan above the scan.
    """
    from ..functions.parsing import with_issue_flags
    from .tables import logs

    path = work_path("orc", sf_dir)
    flagged = with_issue_flags(logs(spark, sf_dir)).withColumn(
        "log_date", F.to_date("ts")
    )
    flagged.write.mode("overwrite").orc(path)
    return node_errors_rollup(spark.read.orc(path))


def _manifest_write(path: str, version: int, files: list[str]) -> None:
    import json
    import os

    os.makedirs(os.path.join(path, "_manifests"), exist_ok=True)
    with open(
        os.path.join(path, "_manifests", f"v{version}.json"), "w"
    ) as f:
        json.dump(sorted(files), f)


def _manifest_files(spark: SparkSession, table_path: str) -> list[str]:
    import os

    out = []
    for root, _dirs, names in os.walk(table_path):
        if "_manifests" in root:
            continue
        for n in names:
            if n.endswith(".parquet"):
                out.append(os.path.join(root, n))
    return out


def silver_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNAPSHOT time travel on plain parquet — the Delta/Iceberg table
    feature set's last verb (after merge, restatement, compaction,
    z-order, incremental rollup): every commit records a MANIFEST (the
    exact file list of that version), and reading @v is reading that
    list — old versions stay readable after later rewrites because
    parquet files are immutable and dynamic-partition restatement
    writes NEW files for the partitions it touches.

    Build: v0 = full silver build → manifest. The restatement then
    lands as an APPEND of new files (parquet files are immutable —
    nothing is physically deleted), and v1's manifest logically
    removes v0's files for exactly the partitions that received new
    ones — file-level MVCC, the add-file/remove-file commit a table
    format records. The graded read is **v0 AFTER v1 exists** —
    proving the pre-restatement snapshot reconstructs bit-exactly
    from its manifest (shares silver_node_errors' full-table oracle,
    which a v1 read would hash-mismatch); tests prove the v1 read
    equals the dynamic-overwrite restatement's content.
    """
    path = versioned_silver(spark, sf_dir)
    v0 = _manifest_read(path, 0)
    # basePath anchors the file-list read so the partition columns
    # (log_date, node) are still recovered
    base = spark.read.option("basePath", path).parquet(*v0)
    return node_errors_rollup(base)


@memoized
def versioned_silver(spark: SparkSession, sf_dir: str) -> str:
    """The shared two-commit table (v0 + v1 manifests), built ONCE
    per (session, sf_dir): time travel, the change feed, and the CDC
    apply all READ this immutable artifact — parquet files and
    manifests never mutate after the build, so sharing is safe and
    rebuilding per query would just re-pay two full silver writes."""
    path = _default_path(sf_dir) + "_versioned"
    _build_versioned_silver(spark, sf_dir, path)
    return path


def _build_versioned_silver(spark: SparkSession, sf_dir: str, path: str) -> None:
    """The two-commit table history time travel and CDC both read:
    v0 = full silver build, v1 = earliest-day errors-only restatement
    landed as an APPEND of new files + a manifest that logically swaps
    the restated partitions' file sets."""
    import os

    from ..functions.parsing import with_issue_flags
    from .tables import logs

    write_silver(spark, sf_dir, path)
    v0_files = _manifest_files(spark, path)
    _manifest_write(path, 0, v0_files)

    flagged = with_issue_flags(logs(spark, sf_dir)).withColumn(
        "log_date", F.to_date("ts")
    )
    day0 = flagged.agg(F.min("log_date")).collect()[0][0]
    corrected = flagged.filter(
        (F.col("log_date") == F.lit(day0)) & F.col("is_error")
    )
    (
        corrected.repartition("log_date", "node")
        .write.mode("append")
        .partitionBy("log_date", "node")
        .parquet(path)
    )
    now_files = _manifest_files(spark, path)
    new_files = sorted(set(now_files) - set(v0_files))
    restated_dirs = {os.path.dirname(f) for f in new_files}
    v1_files = [
        f for f in v0_files if os.path.dirname(f) not in restated_dirs
    ] + new_files
    _manifest_write(path, 1, v1_files)


def _manifest_read(path: str, version: int) -> list[str]:
    import json
    import os

    with open(
        os.path.join(path, "_manifests", f"v{version}.json")
    ) as f:
        return json.load(f)


def silver_changes_between(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE DATA FEED between two table versions — "what changed
    from v0 to v1" as typed (op, row) records, derived from the
    MANIFEST DELTA rather than a table diff: only partitions whose
    file sets differ between the two manifests are read AT ALL, so at
    100 TB the CDC cost is proportional to the restated day, not the
    table (Delta's readChangeFeed contract, reconstructed on plain
    parquet + manifests).

    Mechanics: symmetric difference of the v0/v1 file lists →
    changed partition directories → each side reads ONLY its files in
    those directories → full-outer join on the line key classifies
    every key as insert (new only), delete (old only), or update
    (both, payload differs — null-safe struct compare). The graded
    rollup counts ops per (log_date, node); the oracle states the
    expected feed from first principles (the errors-only restatement
    deletes exactly the non-error rows of the earliest day's restated
    nodes, and nothing else), so a diff that invents updates, misses
    a partition, or leaks unchanged rows hash-mismatches.
    """
    path = versioned_silver(spark, sf_dir)
    feed = _changes_feed(spark, path)
    return feed.groupBy(
        F.col("op"),
        F.date_format(F.col("row.log_date"), "yyyy-MM-dd").alias(
            "log_date"
        ),
        F.col("row.node").alias("node"),
    ).agg(F.count("*").alias("n_rows"))


def _changes_feed(spark: SparkSession, path: str) -> DataFrame:
    """The raw (op, row) change feed between v0 and v1 of a
    versioned silver table — shared by the graded feed rollup and
    the CDC-apply closure proof."""
    import os

    v0 = set(_manifest_read(path, 0))
    v1 = set(_manifest_read(path, 1))
    changed = {os.path.dirname(f) for f in v0 ^ v1}
    v0_changed = sorted(f for f in v0 if os.path.dirname(f) in changed)
    v1_changed = sorted(f for f in v1 if os.path.dirname(f) in changed)
    old = spark.read.option("basePath", path).parquet(*v0_changed)
    new = spark.read.option("basePath", path).parquet(*v1_changed)
    payload = [c for c in old.columns if c != "line_id"]
    o = old.select("line_id", F.struct(*payload).alias("o"))
    n = new.select("line_id", F.struct(*payload).alias("n"))
    return (
        o.join(n, "line_id", "full_outer")
        .select(
            F.col("line_id"),
            F.when(F.col("o").isNull(), F.lit("insert"))
            .when(F.col("n").isNull(), F.lit("delete"))
            .when(
                ~F.col("o").eqNullSafe(F.col("n")), F.lit("update")
            )
            .alias("op"),
            F.coalesce("n", "o").alias("row"),
        )
        .filter(F.col("op").isNotNull())
    )


def silver_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC CLOSURE — the property that makes a change feed USABLE by
    downstream mirrors: applying the computed v0→v1 feed to a v0 read
    must reconstruct v1 exactly. Apply is the standard consumer
    algebra: drop every fed key from the base (delete/update), then
    union the fed rows back in (insert/update). Graded through the
    restatement rollup oracle silver_restatement already carries —
    i.e. the oracle never sees the feed at all; it states v1's
    content from first principles, so a feed that is merely
    self-consistent (but wrong) fails here even if
    silver_changes_between's own rollup passed.

    Scale: the apply's anti-join is keyed by the feed (restated-day
    cardinality, broadcastable), so mirror maintenance costs
    O(changes), the entire point of shipping a feed instead of the
    table.
    """
    path = versioned_silver(spark, sf_dir)
    feed = _changes_feed(spark, path).cache()
    v0 = spark.read.option("basePath", path).parquet(
        *_manifest_read(path, 0)
    )
    dropped_keys = feed.filter(
        F.col("op").isin("delete", "update")
    ).select("line_id")
    upserts = feed.filter(
        F.col("op").isin("insert", "update")
    ).select("line_id", "row.*")
    applied = v0.join(
        F.broadcast(dropped_keys), "line_id", "left_anti"
    ).unionByName(upserts.select(*v0.columns))
    return node_errors_rollup(applied)


def schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCHEMA EVOLUTION across data drops — the 100 TB certainty that
    yesterday's files and today's don't share a schema (this repo's
    own testdata shipped events.ts as nanos in one drop and micros in
    another): drop A lands without the `channel` column, drop B lands
    WITH it, and one mergeSchema read unifies them — A's rows surface
    `channel` as NULL, nothing is rewritten (schema-on-read, the
    alternative to an O(table) backfill).

    Graded: the unioned rollup (per event_type: rows, null-channel
    count from the PRE-evolution drop, distinct channels from the
    post-evolution drop) against an oracle that recomputes the same
    modular drop split straight from the source table.
    """
    from .tables import table

    path = work_path("schevo", sf_dir)
    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    drop_a = ev.filter(F.col("event_id") % 2 == 0)
    drop_b = ev.filter(F.col("event_id") % 2 == 1).withColumn(
        "channel", F.concat(F.lit("ch"), (F.col("user_id") % 4))
    )
    drop_a.write.mode("overwrite").parquet(path + "/drop=a")
    drop_b.write.mode("overwrite").parquet(path + "/drop=b")
    merged = spark.read.option("mergeSchema", "true").parquet(path)
    return merged.groupBy("event_type").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("channel").isNull().cast("long")).alias(
            "n_pre_evolution"
        ),
        F.count_distinct("channel").alias("n_channels"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


def write_node_dim(spark: SparkSession, path: str) -> None:
    """A tiny node→rack dimension written as its OWN parquet source
    (rack = parity of the node ordinal). Being a separate source
    matters: dynamic partition pruning fires on a join between two
    scans, not on a literal IN-list the optimizer would constant-fold.
    """
    from ..functions.parsing import N_NODES

    rows = [(f"node{i}", f"r{i % 2}") for i in range(N_NODES)]
    dim = local_frame(spark, rows, "node string, rack string")
    dim.coalesce(1).write.mode("overwrite").parquet(path)


def silver_dpp_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC PARTITION PRUNING graded end-to-end — the join-time
    twin of node_summary_silver's static pruning: the fact side is the
    (log_date, node)-partitioned silver, the dim side is a separate
    node→rack parquet filtered to one rack, and the fact scan's
    partition filter is the RUNTIME subquery Spark derives from the
    broadcast dim (``dynamicpruningexpression`` in the scan, asserted
    in tests/test_plan_shape.py). At 100 TB this is how "errors in
    rack r1" skips every other rack's directories without anyone
    hand-listing its nodes.

    The rack predicate selects exactly the odd-ordinal nodes, so the
    oracle recomputes the rollup from raw flagged lines with the same
    parity arithmetic — a lost partition, a wrong prune, or a join
    dropping rows all hash-mismatch.
    """
    fact = read_silver(spark, silver_path(spark, sf_dir))
    dim_path = _default_path(sf_dir) + "_nodedim"
    write_node_dim(spark, dim_path)
    dim = spark.read.parquet(dim_path).filter(F.col("rack") == "r1")
    joined = fact.join(F.broadcast(dim), "node")
    return joined.groupBy(
        F.date_format("log_date", "yyyy-MM-dd").alias("log_date"),
        F.col("node"),
        F.col("rack"),
    ).agg(
        F.sum(F.col("is_error").cast("long")).alias("errors"),
        F.sum(F.col("is_warning").cast("long")).alias("warnings"),
        F.count("*").alias("total_lines"),
    )


#: the erasure demo's target subject key
ERASE_USER = 7


def silver_delete_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Targeted KEY ERASURE (the GDPR/right-to-be-forgotten verb) via
    COPY-ON-WRITE at file granularity: the table lands clustered by
    user bucket, the subject's rows are located with
    ``input_file_name()`` (a pushed-down scan, not a table rewrite),
    and ONLY the files that contain the subject are rewritten without
    those rows — every other file survives byte-identical (inode-
    asserted in tests/test_silver.py). At 100 TB this is the
    difference between rewriting gigabytes and rewriting the table:
    erasure cost ∝ the subject's file footprint, which the clustered
    layout keeps at one file per shard, exactly like Delta/Iceberg
    DELETE with a clustered table.

    Graded end-to-end: the post-erasure table's per-type rollup
    (rows, distinct users, value sum) against an oracle that states
    the expected content directly (everything but the subject) — a
    leaked row, an over-deleted file, or a double-counted rewrite all
    hash-mismatch.
    """
    import os

    from .tables import table

    path = _default_path(sf_dir) + "_erase"
    ev = table(spark, sf_dir, "events").select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "user_id",
        "event_type",
        "value",
    )
    # cluster by user bucket so a subject's rows concentrate in ONE
    # file per shard — the layout that makes erasure file-local
    ev.repartition(8, F.col("user_id") % 8).write.mode(
        "overwrite"
    ).parquet(path)

    base = spark.read.parquet(path)
    touched = sorted(
        r.f
        for r in base.filter(F.col("user_id") == ERASE_USER)
        .select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    )
    all_files = sorted(
        "file://" + f for f in _manifest_files(spark, path)
    )
    untouched = [f for f in all_files if f not in touched]

    rewrite_path = path + "_rw"
    (
        spark.read.parquet(*touched)
        .filter(F.col("user_id") != ERASE_USER)
        .write.mode("overwrite")
        .parquet(rewrite_path)
    )
    rewritten = [
        "file://" + f for f in _manifest_files(spark, rewrite_path)
    ]
    final = spark.read.parquet(*(untouched + rewritten))
    return final.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


def vacuum(path: str, retain_versions: tuple[int, ...]) -> dict[str, int]:
    """VACUUM / expire-snapshots on the manifest-MVCC table: delete
    every data file referenced by NO retained version's manifest,
    then drop the expired manifests — exactly Delta's VACUUM +
    Iceberg's expire_snapshots contract (time travel back past the
    retention horizon is traded for reclaimed storage; files still
    referenced by ANY live version are untouchable by construction,
    because the keep-set is the union of retained manifests).

    Pure os-level bookkeeping over the manifests — no Spark job: at
    100 TB the listing is the manifests themselves (never a recursive
    storage walk), and deletes go straight to the object store.
    Returns {kept, deleted} file counts for the report/tests.
    """
    import json
    import os

    mdir = os.path.join(path, "_manifests")
    keep: set[str] = set()
    for v in retain_versions:
        keep.update(_manifest_read(path, v))
    deleted = 0
    for f in _manifest_files(None, path):
        if f not in keep:
            os.remove(f)
            deleted += 1
    for name in os.listdir(mdir):
        v = int(name[1:].split(".")[0])
        if v not in retain_versions:
            os.remove(os.path.join(mdir, name))
    return {"kept": len(keep), "deleted": deleted}


def silver_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The table-format lifecycle's LAST verb, graded: build the
    two-commit table (v0 full build, v1 restatement), EXPIRE v0 —
    vacuum deletes the files only v0 references and drops its
    manifest — then grade the v1 read AFTER the deletes (shares
    silver_restatement's oracle: v1's logical content must be
    byte-for-byte indifferent to v0's physical removal). Tests pin
    the physical side: v0-only files really leave the disk, shared
    files survive, and the v0 manifest is gone while v1's remains.

    Builds its own copy of the versioned table — the shared
    versioned_silver artifact stays immutable for time travel / CDC,
    which still need v0 readable.
    """
    path = _default_path(sf_dir) + "_vacuum"
    import os

    if not os.path.exists(os.path.join(path, "_manifests", "v1.json")):
        _build_versioned_silver(spark, sf_dir, path)
        vacuum(path, retain_versions=(1,))
    v1 = _manifest_read(path, 1)
    base = spark.read.option("basePath", path).parquet(*v1)
    return node_errors_rollup(base)


def write_silver_observed(
    spark: SparkSession, sf_dir: str, path: str
) -> dict:
    """write_silver with IN-FLIGHT QA counters via DataFrame.observe:
    row / error / null-timestamp tallies are accumulated BY THE WRITE
    JOB itself (Spark's Observation API — an aggregate riding the
    existing scan, zero extra pass), where constraint_checks runs a
    separate validation query. At 100 TB that second scan is real
    money; the observe pattern is how a production silver writer
    publishes freshness/volume metrics to its table monitor for free.

    Returns the observed metrics dict; tests pin them against the
    written table (counts must match a read-back exactly — a row the
    writer counted but didn't land, or vice versa, fails).
    """
    from pyspark.sql import Observation

    from ..functions.parsing import with_issue_flags
    from .tables import logs

    obs = Observation("silver_qa")
    flagged = (
        with_issue_flags(logs(spark, sf_dir))
        .withColumn("log_date", F.to_date("ts"))
        .observe(
            obs,
            F.count(F.lit(1)).alias("rows_written"),
            F.sum(F.col("is_error").cast("long")).alias("errors_written"),
            F.sum(F.col("ts").isNull().cast("long")).alias("null_ts"),
        )
    )
    (
        flagged.repartition("log_date", "node")
        .write.mode("overwrite")
        .partitionBy("log_date", "node")
        .parquet(path)
    )
    return obs.get


def partition_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITION-LAYOUT EVOLUTION across table generations — the
    other 100 TB certainty (schema_evolution_read covers columns):
    the table started day-partitioned, later generations moved to
    (day, event_type) for finer pruning, and history is never
    rewritten. Generation 1 (days before the exact integer midpoint)
    lands as d=<day>/; generation 2 as d=<day>/event_type=<t>/ —
    each generation is read with ITS OWN partition discovery and the
    two frames union schema-aligned (what a manifest-tracking table
    format does per layout epoch; an O(history) repartition-rewrite
    is exactly what this avoids).

    Graded: a date-bounded rollup SPANNING the layout boundary (per
    type: rows, distinct days, cent-exact value sum) — a row lost or
    doubled at the generation seam hash-mismatches. The plan-shape
    test asserts BOTH scans prune on d (and gen 2 additionally on
    event_type) — pruning survives the evolution.
    """
    import os

    from .tables import table

    path = work_path("partevo", sf_dir)
    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.floor(F.col("ts").cast("long") / 86400).cast("long").alias("d"),
    )
    bounds = ev.agg(
        F.min("d").alias("lo"), F.max("d").alias("hi")
    ).collect()[0]
    mid = (bounds.lo + bounds.hi) // 2
    if not os.path.isdir(path + "/gen1"):
        ev.filter(F.col("d") < mid).write.mode("overwrite").partitionBy(
            "d"
        ).parquet(path + "/gen1")
        ev.filter(F.col("d") >= mid).write.mode("overwrite").partitionBy(
            "d", "event_type"
        ).parquet(path + "/gen2")
    cols = ["event_id", "user_id", "event_type", "cents", "d"]
    g1 = spark.read.parquet(path + "/gen1").select(*cols)
    g2 = spark.read.parquet(path + "/gen2").select(*cols)
    # window spanning the seam: mid ± 3 days exercises both layouts
    lo, hi = mid - 3, mid + 3
    unioned = g1.unionByName(g2).filter(F.col("d").between(lo, hi))
    return unioned.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.countDistinct("d").cast("long").alias("n_days"),
        F.sum("cents").cast("long").alias("sum_cents"),
    )


def silver_branch_diverge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TABLE BRANCHING — the last lakehouse verb after merge /
    restatement / time travel / CDC / vacuum (Iceberg branches, Delta
    shallow clones): a branch is just ANOTHER manifest chain rooted at
    an existing snapshot, with its new data files landing in a branch
    directory — the shared table's files are never touched, so main
    and branch diverge with zero copying.

    Build: branch forks at v0 and appends a backfill (the LATEST
    day's error rows re-landed); main meanwhile advanced to v1 (the
    earliest-day restatement). The graded read is a per-(ref,
    log_date, node) census of BOTH refs side by side, proving
    ISOLATION in both directions: the branch still sees v0's
    pre-restatement earliest day (main's restatement never leaks in)
    and main shows no doubled latest-day errors (the branch append
    never leaks out). The oracle states both contents from first
    principles off the shared flagged CTE — file/manifest bookkeeping
    defects in either direction hash-mismatch.

    Scale shape: branch creation writes only the delta partitions;
    both reads are manifest-driven file-list scans with partition
    columns recovered (basePath), censuses are one rollup each.
    """
    from ..functions.parsing import with_issue_flags
    from .tables import logs

    path = versioned_silver(spark, sf_dir)

    def branch() -> str:
        bpath = path + "_branch"
        flagged = with_issue_flags(logs(spark, sf_dir)).withColumn(
            "log_date", F.to_date("ts")
        )
        day_max = flagged.agg(F.max("log_date")).collect()[0][0]
        backfill = flagged.filter(
            (F.col("log_date") == F.lit(day_max)) & F.col("is_error")
        )
        (
            backfill.repartition("log_date", "node")
            .write.mode("overwrite")
            .partitionBy("log_date", "node")
            .parquet(bpath)
        )
        # branch manifest: v0's files + the branch delta's — stored
        # with the branch so the shared table's manifests stay frozen
        _manifest_write(
            bpath, 0, _manifest_read(path, 0) + _manifest_files(spark, bpath)
        )
        return bpath

    bpath = memo(spark, "silver_branch", sf_dir, branch)

    main = spark.read.option("basePath", path).parquet(
        *_manifest_read(path, 1)
    )
    branch = (
        spark.read.option("basePath", path)
        .parquet(*_manifest_read(path, 0))
        .unionByName(spark.read.parquet(bpath))
    )

    def census(df: DataFrame, ref: str) -> DataFrame:
        return df.groupBy(
            F.date_format("log_date", "yyyy-MM-dd").alias("log_date"),
            "node",
        ).agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("is_error").cast("long")).alias("n_errors"),
        ).select(F.lit(ref).alias("ref"), "log_date", "node",
                 "n_rows", "n_errors")

    return census(main, "main@v1").unionByName(census(branch, "branch"))
