"""Silver layer: write-once parse, partition-pruned reads."""

import pytest
from pyspark.sql import functions as F

from cassandra_log_analyzer_mcp_spark.plans.explain import plan_string
from cassandra_log_analyzer_mcp_spark.sources import silver
from cassandra_log_analyzer_mcp_spark.sources.tables import logs_flagged


@pytest.fixture(scope="module")
def silver_path(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("silver") / "logs")
    return silver.write_silver(spark, sf_dir, path)


def test_silver_roundtrip_counts(spark, sf_dir, silver_path):
    got = silver.read_silver(spark, silver_path)
    want = logs_flagged(spark, sf_dir)
    assert got.count() == want.count()
    assert got.filter("is_error").count() == want.filter(F.col("is_error")).count()


def test_silver_partition_pruning(spark, silver_path):
    df = silver.read_silver(spark, silver_path)
    one_day = df.select("log_date").distinct().limit(1).collect()[0].log_date
    pruned = df.filter(
        (F.col("log_date") == F.lit(one_day)) & (F.col("node") == "node1")
    ).select("level", "message")
    plan = plan_string(pruned)
    # the date+node predicates must become PartitionFilters, not a
    # post-scan filter over the whole dataset
    assert "PartitionFilters" in plan
    part_section = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "log_date" in part_section and "node" in part_section
    assert pruned.count() > 0


def test_restatement_touches_only_restated_partitions(spark, sf_dir, tmp_path):
    """Dynamic partition overwrite contract: the restate step rewrites
    ONLY the corrected day's partitions — every other partition keeps
    its original files (same inodes; static mode would truncate the
    whole table) — and the corrected day holds only error lines."""
    import os

    from pyspark.sql import functions as F

    from cassandra_log_analyzer_mcp_spark.sources import silver

    path = str(tmp_path)
    silver.write_silver(spark, sf_dir, path)

    def inodes():
        out = {}
        for root, _, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    out[p] = os.stat(p).st_ino
        return out

    before = inodes()
    day0 = min(
        seg.split("=", 1)[1]
        for seg in os.listdir(path)
        if seg.startswith("log_date=")
    )
    silver.restate_earliest_day(spark, sf_dir, path)
    after = inodes()
    untouched = {p for p in before if f"log_date={day0}" not in p}
    assert untouched
    for p in untouched:
        assert p in after and after[p] == before[p], p
    # the corrected day's files DID change
    changed = {p for p in before if f"log_date={day0}" in p}
    assert changed and all(p not in after for p in changed)
    restated = spark.read.parquet(path).filter(F.col("log_date") == day0)
    assert restated.count() > 0
    assert restated.filter(~F.col("is_error")).count() == 0


def test_compaction_one_file_per_partition(spark, sf_dir, tmp_path):
    """Compaction contract: the fragmented write leaves multiple files
    in at least one partition; the rewrite leaves EXACTLY one parquet
    file per (log_date, node) directory and the identical row set."""
    import os

    from cassandra_log_analyzer_mcp_spark.sources import silver

    frag = str(tmp_path / "frag")
    comp = str(tmp_path / "comp")
    silver.write_silver_fragmented(spark, sf_dir, frag)
    silver.compact_silver(spark, frag, comp)

    def files_per_partition(path):
        out = {}
        for root, _, files in os.walk(path):
            n = sum(f.endswith(".parquet") for f in files)
            if n:
                out[os.path.relpath(root, path)] = n
        return out

    before = files_per_partition(frag)
    after = files_per_partition(comp)
    assert max(before.values()) > 1  # the problem existed
    assert set(after) == set(before)  # no partition lost
    assert all(n == 1 for n in after.values())  # one file each
    a = spark.read.parquet(frag).count()
    b = spark.read.parquet(comp).count()
    assert a == b

def test_merge_upsert_key_level_semantics(spark, sf_dir, tmp_path):
    """Key-level merge: only the batch's (day0, MERGE_NODE) partition
    rewrites (every other file keeps its inode — including OTHER
    NODES of day0), bystander rows inside the rewritten partition
    survive byte-identically, and the updated keys carry the new
    level with no duplicates."""
    import os

    from pyspark.sql import functions as F

    from cassandra_log_analyzer_mcp_spark.functions.parsing import (
        with_issue_flags,
    )
    from cassandra_log_analyzer_mcp_spark.sources import silver

    path = str(tmp_path)
    silver.write_silver(spark, sf_dir, path)
    base = silver.read_silver(spark, path)
    day0 = base.agg(F.min("log_date")).collect()[0][0]
    in_part = (F.col("log_date") == F.lit(day0)) & (
        F.col("node") == silver.MERGE_NODE
    )
    bystanders_before = {
        r.line_id: r.raw
        for r in base.filter(in_part & ~F.col("is_error")).collect()
    }
    updated_keys = {
        r.line_id for r in base.filter(in_part & F.col("is_error")).collect()
    }
    n_part_before = base.filter(in_part).count()

    def inodes():
        out = {}
        for root, _, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    out[p] = os.stat(p).st_ino
        return out

    before = inodes()
    updates = with_issue_flags(
        base.filter(in_part & F.col("is_error"))
        .drop("issues", "is_error", "is_warning")
        .withColumn("level", F.lit("WARN"))
    )
    silver.merge_upsert(spark, path, updates)
    after = inodes()

    tag = f"log_date={day0}", f"node={silver.MERGE_NODE}"
    untouched = {p for p in before if not (tag[0] in p and tag[1] in p)}
    assert untouched
    for p in untouched:
        assert p in after and after[p] == before[p], p

    final = spark.read.parquet(path).filter(in_part)
    rows = final.collect()
    assert len(rows) == n_part_before  # no loss, no dup
    got_bystanders = {
        r.line_id: r.raw for r in rows if r.line_id not in updated_keys
    }
    assert got_bystanders == bystanders_before
    for r in rows:
        if r.line_id in updated_keys:
            assert r.level == "WARN" and r.is_warning


def test_zorder_probe_locality(spark, sf_dir, tmp_path):
    """The 2-D probe's matching rows must concentrate in FEWER files
    under the z-ordered layout than under a round-robin layout of the
    same data into the same file count — the locality that parquet
    min/max stats turn into skipped IO at scale."""
    from pyspark.sql import functions as F

    from cassandra_log_analyzer_mcp_spark.sources.silver import (
        ZORDER_FILES,
        ZORDER_U_HI,
        ZORDER_U_LO,
        ZORDER_V_HI,
        ZORDER_V_LO,
        write_zorder,
    )
    from cassandra_log_analyzer_mcp_spark.sources.tables import table

    zpath = str(tmp_path / "zorder")
    rpath = str(tmp_path / "round_robin")
    write_zorder(spark, sf_dir, zpath)
    mask = 255
    ev = table(spark, sf_dir, "events").select(
        "*",
        F.col("user_id").bitwiseAND(mask).alias("u_bucket"),
    )
    ev.repartition(ZORDER_FILES).write.mode("overwrite").parquet(rpath)

    def probe_files(path):
        probe = (
            spark.read.parquet(path)
            .filter(
                (F.col("u_bucket") >= ZORDER_U_LO)
                & (F.col("u_bucket") <= ZORDER_U_HI)
                & (F.col("value") >= ZORDER_V_LO)
                & (F.col("value") < ZORDER_V_HI)
            )
            .select(F.input_file_name().alias("f"))
        )
        return probe.distinct().count(), probe.count()

    zf, zn = probe_files(zpath)
    rf, rn = probe_files(rpath)
    assert zn == rn and zn > 0  # same matching rows either way
    assert zf < rf  # z-order concentrates them in fewer files
    assert zf <= ZORDER_FILES // 2


def test_incremental_rollup_delta_read_is_pruned(spark, sf_dir):
    """Maintenance must read ONLY the appended day: the delta scan
    carries a log_date PartitionFilter, so history partitions are
    pruned at the source."""
    import os

    from pyspark.sql import functions as F

    from cassandra_log_analyzer_mcp_spark.functions.parsing import (
        with_issue_flags,
    )
    from cassandra_log_analyzer_mcp_spark.sources.silver import (
        _default_path,
        node_errors_rollup,
        read_silver,
    )
    from cassandra_log_analyzer_mcp_spark.sources.silver import (
        silver_incremental_rollup,
    )
    from cassandra_log_analyzer_mcp_spark.sources.tables import logs

    silver_incremental_rollup(spark, sf_dir)  # builds the _ivm table
    path = _default_path(sf_dir) + "_ivm"
    flagged = with_issue_flags(logs(spark, sf_dir))
    last_day = flagged.agg(
        F.max(F.to_date("ts"))
    ).collect()[0][0]
    delta = node_errors_rollup(
        read_silver(spark, path).filter(
            F.col("log_date") == F.lit(last_day)
        )
    )
    plan = delta._sc._jvm.PythonSQLUtils.explainString(
        delta._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan
    assert "log_date" in plan.split("PartitionFilters")[1].splitlines()[0]


def test_time_travel_v1_matches_restatement(spark, sf_dir):
    """The manifest-MVCC v1 read must equal the dynamic-overwrite
    restatement's table content (same correction, two commit
    mechanisms), and the physical v0 files must all still exist."""
    import json
    import os

    from cassandra_log_analyzer_mcp_spark.sources.silver import (
        node_errors_rollup,
        read_silver,
        silver_restatement,
        silver_time_travel,
        versioned_silver,
    )

    silver_time_travel(spark, sf_dir)  # ensures the shared build
    path = versioned_silver(spark, sf_dir)
    with open(os.path.join(path, "_manifests", "v0.json")) as f:
        v0 = json.load(f)
    with open(os.path.join(path, "_manifests", "v1.json")) as f:
        v1 = json.load(f)
    assert all(os.path.exists(f) for f in v0)  # nothing deleted

    v1_rollup = node_errors_rollup(
        spark.read.option("basePath", path).parquet(*v1)
    )
    expect = silver_restatement(spark, sf_dir)  # dynamic-overwrite twin
    got = {tuple(r) for r in v1_rollup.collect()}
    want = {tuple(r) for r in expect.collect()}
    assert got == want


def test_cdc_reads_only_manifest_delta_partitions(spark, sf_dir):
    """The change feed's IO must be proportional to the restated day:
    the changed-directory set derived from the manifest delta is a
    small strict subset of the table's partition directories."""
    import os

    from cassandra_log_analyzer_mcp_spark.sources.silver import (
        _build_versioned_silver,
        _default_path,
        _manifest_read,
    )

    path = _default_path(sf_dir) + "_cdc_prune"
    _build_versioned_silver(spark, sf_dir, path)
    v0 = set(_manifest_read(path, 0))
    v1 = set(_manifest_read(path, 1))
    all_dirs = {os.path.dirname(f) for f in v0 | v1}
    changed = {os.path.dirname(f) for f in v0 ^ v1}
    assert changed and changed < all_dirs
    # only the earliest day's directories may appear in the delta
    days = {d.split("log_date=")[1].split("/")[0] for d in changed}
    assert len(days) == 1


def test_erasure_is_file_local_and_complete(spark, sf_dir):
    """Copy-on-write erasure must (a) leave every non-subject file
    byte-identical on disk (inode + mtime unchanged — they are never
    rewritten), (b) rewrite only the subject's file footprint (one
    clustered file here), and (c) leave zero subject rows readable."""
    import os

    from cassandra_log_analyzer_mcp_spark.sources.silver import (
        ERASE_USER,
        _default_path,
        _manifest_files,
        silver_delete_rewrite,
    )
    from pyspark.sql import functions as F

    path = _default_path(sf_dir) + "_erase"
    out = silver_delete_rewrite(spark, sf_dir)
    out.collect()

    base_files = _manifest_files(spark, path)
    stat_before = {f: os.stat(f).st_ino for f in base_files}

    touched = sorted(
        r.f
        for r in spark.read.parquet(path)
        .filter(F.col("user_id") == ERASE_USER)
        .select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    )
    # clustered layout concentrates the subject into one file
    assert len(touched) == 1
    # untouched base files were never rewritten (same inode)
    for f, ino in stat_before.items():
        assert os.stat(f).st_ino == ino

    # and the erased table holds zero subject rows
    rw = spark.read.parquet(path + "_rw")
    assert rw.filter(F.col("user_id") == ERASE_USER).count() == 0


def test_vacuum_deletes_only_expired_files(spark, sf_dir, tmp_path):
    """Physical contract of expire-snapshots: v0-only files leave the
    disk, files shared with v1 and v1's new files survive untouched,
    the v0 manifest is gone, and the v1 read still works."""
    from cassandra_log_analyzer_mcp_spark.sources.silver import (
        _build_versioned_silver,
        _manifest_files,
        _manifest_read,
        node_errors_rollup,
        vacuum,
    )

    path = str(tmp_path / "vac")
    _build_versioned_silver(spark, sf_dir, path)
    v0 = set(_manifest_read(path, 0))
    v1 = set(_manifest_read(path, 1))
    doomed = v0 - v1
    assert doomed and v0 & v1  # both shared and expirable files exist

    stats = vacuum(path, retain_versions=(1,))
    assert stats["deleted"] == len(doomed)
    import os

    assert not any(os.path.exists(f) for f in doomed)
    assert all(os.path.exists(f) for f in v1)
    assert not os.path.exists(os.path.join(path, "_manifests", "v0.json"))
    assert os.path.exists(os.path.join(path, "_manifests", "v1.json"))
    # on-disk census now equals exactly v1's manifest
    assert set(_manifest_files(spark, path)) == v1
    after = node_errors_rollup(
        spark.read.option("basePath", path).parquet(*sorted(v1))
    )
    assert after.count() > 0


def test_observe_metrics_match_written_table(spark, sf_dir, tmp_path):
    """DataFrame.observe rides the write job: the in-flight counters
    must equal an exact read-back census — no phantom or lost rows,
    and the error tally matches the classifier's flags on disk."""
    from pyspark.sql import functions as F

    from cassandra_log_analyzer_mcp_spark.sources.silver import (
        write_silver_observed,
    )

    path = str(tmp_path / "obs_silver")
    metrics = write_silver_observed(spark, sf_dir, path)
    back = spark.read.parquet(path)
    census = back.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("is_error").cast("long")).alias("errors"),
    ).collect()[0]
    assert metrics["rows_written"] == census.rows > 0
    assert metrics["errors_written"] == census.errors > 0
    assert metrics["null_ts"] == 0


def test_partition_evolution_both_scans_prune(spark, sf_dir):
    """Both generations' scans must prune on d — the whole point of
    surviving a partition-layout evolution without a rewrite — and
    the rollup covers rows from BOTH layouts (the seam window spans
    the midpoint by construction)."""
    df = silver.partition_evolution_read(spark, sf_dir)
    plan = plan_string(df)
    sections = plan.split("PartitionFilters: [")[1:]
    assert len(sections) >= 2  # one pruned scan per generation
    for s in sections:
        assert "d#" in s.split("]")[0] or "d " in s.split("]")[0]
    rows = df.collect()
    assert rows and all(r.n_rows > 0 for r in rows)
    # seam coverage: the window is 7 days wide; if both generations
    # contribute, distinct day counts reach past either side alone
    assert max(r.n_days for r in rows) >= 5


def test_zone_map_skipping_favors_clustered_layout(spark, sf_dir):
    """Clustered (date-range) files prune for every date probe; hashed
    files never prune — and pruning never skips a matching row."""
    from cassandra_log_analyzer_mcp_spark.operators.analytics import (
        zone_map_skip_stats,
    )

    rows = zone_map_skip_stats(spark, sf_dir).collect()
    by = {(r.layout, r.probe): r for r in rows}
    assert len(by) == 8
    for (layout, probe), r in by.items():
        assert r.rows_scanned >= r.rows_matched  # pruning is sound
        assert r.files_skipped <= r.files_total
        if layout == "hashed":
            # every hashed file spans ~the whole date range: no skips
            assert r.files_skipped == 0
    for probe in ("day", "month", "quarter", "year"):
        c, h = by[("clustered", probe)], by[("hashed", probe)]
        assert c.rows_matched == h.rows_matched  # layout-independent
        assert c.files_skipped > 0
        assert c.rows_scanned <= h.rows_scanned


def test_table_ndv_kmv_branches_and_accuracy(spark, sf_dir):
    """Low-NDV columns ride KMV's exact branch (estimate == truth);
    high-NDV columns ride the estimator branch within the sketch's
    error envelope; n_rows/ndv_exact sanity holds everywhere."""
    from cassandra_log_analyzer_mcp_spark.operators.analytics import (
        KMV_K,
        table_ndv_kmv,
    )

    rows = {(r.tbl, r.col): r for r in table_ndv_kmv(spark, sf_dir).collect()}
    assert len(rows) == 8
    for r in rows.values():
        assert 0 < r.ndv_exact <= r.n_rows
        assert r.n_kept == min(r.ndv_exact, KMV_K)
        if r.ndv_exact < KMV_K:  # exact branch
            assert r.est_ndv == r.ndv_exact
        else:  # estimator branch: ~1/sqrt(k) relative error, 5x slack
            assert abs(r.est_ndv - r.ndv_exact) <= r.ndv_exact * 0.65
    # the fixture data exercises BOTH branches
    branches = {r.ndv_exact < KMV_K for r in rows.values()}
    assert branches == {True, False}


def test_join_cardinality_estimator_is_tight_on_fk_joins(spark, sf_dir):
    """On true FK joins the containment estimate should land within a
    few percent of the actual cardinality (here: exact NDVs, so the
    residual error is purely unmatched keys), and actual == the
    recomputed join size."""
    from cassandra_log_analyzer_mcp_spark.operators.analytics import (
        join_cardinality_eval,
    )

    rows = {r.join_name: r for r in join_cardinality_eval(spark, sf_dir).collect()}
    assert len(rows) == 3
    ol = rows["orders_lineitem"]
    # orderkey is unique in orders => estimate is EXACT: n_l*n_r/n_l
    assert ol.ndv_left == ol.n_left
    assert ol.est_rows == ol.n_right == ol.actual_rows
    assert ol.err_permille == 0.0
    for r in rows.values():
        assert r.actual_rows > 0
        assert abs(r.err_permille) <= 100  # within 10% on FK joins


def test_equidepth_histogram_invariants(spark, sf_dir):
    """Boundaries are nondecreasing, depths are ~n/B (exact rank
    targets modulo duplicate collapse), and the last bound covers
    every row."""
    from cassandra_log_analyzer_mcp_spark.operators.analytics import (
        HIST_EQ_BUCKETS,
        column_histogram_equidepth,
    )
    from pyspark.sql import functions as F

    rows = sorted(
        column_histogram_equidepth(spark, sf_dir).collect(),
        key=lambda r: r.bucket,
    )
    assert [r.bucket for r in rows] == list(range(1, HIST_EQ_BUCKETS + 1))
    n = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .filter(F.col("l_extendedprice").isNotNull())
        .count()
    )
    assert rows[-1].cum_rows == n  # last boundary reaches the max
    for prev, cur in zip(rows, rows[1:]):
        assert cur.ub_cents >= prev.ub_cents
        assert cur.cum_rows >= prev.cum_rows
    for i, r in enumerate(rows, start=1):
        assert r.cum_rows >= (i * n) // HIST_EQ_BUCKETS  # reaches target


def test_range_selectivity_estimates_are_tight(spark, sf_dir):
    """Histogram-driven range estimates land within 20% of truth on
    in-domain probes and never go negative; the out-of-domain tail of
    probe 'tail' contributes nothing beyond the max bucket."""
    from cassandra_log_analyzer_mcp_spark.operators.analytics import (
        range_selectivity_eval,
    )

    rows = {r.probe: r for r in range_selectivity_eval(spark, sf_dir).collect()}
    assert set(rows) == {"low", "narrow", "mid", "tail"}
    for r in rows.values():
        assert r.est_rows >= 0 and r.actual_rows >= 0
        if r.actual_rows >= 100:  # meaningful probes: within 20%
            assert abs(r.err_permille) <= 200


def test_encoding_plan_prefers_dict_for_low_ndv(spark, sf_dir):
    """Low-cardinality string columns dictionary-encode; bits/value
    equals ceil(log2(ndv)) recomputed in Python; byte model adds up."""
    from cassandra_log_analyzer_mcp_spark.operators.analytics import (
        encoding_plan_census,
    )

    rows = {(r.tbl, r.col): r for r in encoding_plan_census(spark, sf_dir).collect()}
    assert len(rows) == 8
    for r in rows.values():
        want_bits = max(1, (r.ndv - 1).bit_length())
        assert r.bits_per_value == want_bits
        # dict page (dict_bytes minus packed indices) holds ndv values
        # of >= 1 byte each
        assert r.dict_bytes - (r.n_rows * want_bits + 7) // 8 >= r.ndv
        assert r.use_dict == (1 if r.dict_bytes < r.plain_bytes else 0)
    assert rows[("events", "event_type")].use_dict == 1
    assert rows[("orders", "o_orderpriority")].use_dict == 1
    assert rows[("documents", "lang")].use_dict == 1


def test_branch_isolation_both_directions(spark, sf_dir):
    """Branch still sees v0's pre-restatement earliest day; main
    shows no doubled latest-day errors — checked against a raw
    recount of the source."""
    from pyspark.sql import functions as F
    from cassandra_log_analyzer_mcp_spark.sources.silver import (
        silver_branch_diverge,
    )
    from cassandra_log_analyzer_mcp_spark.sources.tables import logs_flagged

    out = {
        (r.ref, r.log_date, r.node): r
        for r in silver_branch_diverge(spark, sf_dir).collect()
    }
    raw = {
        (r.log_date, r.node): r
        for r in logs_flagged(spark, sf_dir)
        .groupBy(
            F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("log_date"),
            "node",
        )
        .agg(
            F.count("*").alias("total"),
            F.sum(F.col("is_error").cast("long")).alias("errors"),
        )
        .collect()
    }
    day0 = min(d for d, _ in raw)
    day_max = max(d for d, _ in raw)
    for (d, node), r in raw.items():
        b = out[("branch", d, node)]
        m = out[("main@v1", d, node)]
        if d == day0 and r.errors > 0:
            assert m.n_rows == r.errors  # restatement applied on main
        else:
            assert m.n_rows == r.total
        assert m.n_errors == r.errors  # branch append never leaks in
        if d == day_max:
            assert b.n_rows == r.total + r.errors  # backfill applied
            assert b.n_errors == 2 * r.errors
        else:
            assert b.n_rows == r.total  # restatement never leaks out
            assert b.n_errors == r.errors
