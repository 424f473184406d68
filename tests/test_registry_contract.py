"""Registry surface contract.

Two guards, no Spark session (pure dict/JSON inspection):

- every registered query has a DuckDB oracle twin or is listed in
  ``ROWS_ONLY`` with the reason it cannot have one, and no oracle
  names a query that does not exist;
- the surface never shrinks: every query graded green in a landed
  ``CORRECTNESS_r0x.json`` artifact is still registered.

The values themselves are checked by ``tests/test_oracle_surface.py``.
"""

from __future__ import annotations

import json
import os

from cassandra_log_analyzer_mcp_spark.plans import registry

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: correctness artifacts that landed (round 3's never did)
LANDED_ARTIFACTS = tuple(
    f"CORRECTNESS_r0{n}.json" for n in (1, 2, 4, 5, 6, 7, 8, 9)
)

#: rows-only by design; anything NOT listed here must have an
#: oracle_sql() twin.
ROWS_ONLY = {
    # sketch values are engine-specific; error-bounded in unit tests
    "distinct_users_sketch",
    "event_value_percentiles_approx",
    "event_value_percentiles_tdigest",
    "streaming_percentiles_tdigest",
    "table_profile_approx",
    # Arrow decode stage, not SQL-expressible
    "multimodal_pipeline",
    "multimodal_frames",
    # the big regimes read GENERATED drops, not shipped tables, so no
    # oracle table exists; their exact tables are pinned in
    # tests/test_big_ann.py and tests/test_big_dedup.py
    "ann_ivf_probe_sweep_big",
    "ann_ivf_big_cell_stats",
    "ann_ivf_pq_recall_big",
    "dedup_minhash_recall_big",
    "minhash_big_band_census",
    "dedup_simhash_recall_big",
    "dedup_winnow_recall_big",
    "dedup_semantic_recall_big",
    "sem_big_band_census",
}


def _load(name: str) -> dict:
    with open(os.path.join(REPO, name)) as fh:
        return json.load(fh)


def _driver_graded() -> set[str]:
    return set().union(*(_load(name) for name in LANDED_ARTIFACTS))


def test_every_query_oracled_or_documented_rows_only() -> None:
    qs = set(registry.queries())
    oracled = set(registry.oracle_sql())
    assert ROWS_ONLY <= qs
    unexplained = qs - oracled - ROWS_ONLY
    assert not unexplained, (
        f"queries with neither oracle nor rows-only rationale: "
        f"{unexplained}"
    )
    assert not (oracled - qs), f"orphan oracles: {oracled - qs}"


def test_graded_surface_never_shrinks() -> None:
    qs = set(registry.queries())
    gone = _driver_graded() - qs
    assert not gone, f"previously-graded queries dropped: {gone}"
    assert len(qs) >= 323
