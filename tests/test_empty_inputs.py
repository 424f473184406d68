"""Empty-input robustness: a 100 TB job constantly sees empty
partitions, empty date ranges, and empty filters — a representative
slice of the registry must return EMPTY (or its fixed report shape),
never throw, when every source table has zero rows."""

import os

import pytest


@pytest.fixture(scope="module")
def empty_sf_dir(spark, sf_dir, tmp_path_factory):
    dst = str(tmp_path_factory.mktemp("sf_empty"))
    for f in os.listdir(sf_dir):
        if f.endswith(".parquet"):
            df = spark.read.parquet(os.path.join(sf_dir, f)).limit(0)
            df.write.mode("overwrite").parquet(os.path.join(dst, f))
    return dst


#: representative slice: scan+agg, windows, cube, dedup, text, melt,
#: interval timeline, range frame, sequential detection, skyline
PROBE = [
    "pricing_summary", "node_summary", "dedup_exact", "token_count",
    "quality_score", "error_cusum_changepoints", "doc_quality_skyline",
    "open_orders_timeline", "lang_id", "issue_counts", "revenue_cube",
    "user_trailing_spend", "node_summary_unpivot",
    "doc_length_histogram",
    # the era-split family's scalar midpoint collect degenerates to 0
    # on empty input instead of raising (round 7)
    "value_drift_eras", "value_ks_drift", "mann_whitney_drift",
    # the round-7 map-only/statistical adds
    "gopher_quality_flags", "decontaminate_semantic",
]


def test_registry_slice_survives_empty_tables(spark, empty_sf_dir):
    from cassandra_log_analyzer_mcp_spark.plans import registry

    qs = registry.queries()
    for name in PROBE:
        assert qs[name](spark, empty_sf_dir).count() == 0, name


def test_funnel_keeps_its_stage_rows_on_empty_input(spark, empty_sf_dir):
    """Fixed-shape reports keep their shape: the funnel's stages
    exist with zero counts rather than vanishing."""
    from cassandra_log_analyzer_mcp_spark.plans import registry

    rows = registry.queries()["event_funnel"](spark, empty_sf_dir).collect()
    assert len(rows) == 3
