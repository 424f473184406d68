"""Every oracled registry query against its DuckDB twin at sf0.001.

One case per ``oracle_sql()`` name, run in registry order, so a failure
names its query. The comparison is ``tools/check.py``'s ``problems``:
row count, lower-cased column names and the order-insensitive
``canonical_hash``. The CLI runs the same comparison over the larger
drops. Rows-only queries have no twin (``ROWS_ONLY`` in
``tests/test_registry_contract.py``); the ``*_big`` ones are pinned by
``tests/test_big_ann.py`` and ``tests/test_big_dedup.py``.
"""

from __future__ import annotations

import pytest

from cassandra_log_analyzer_mcp_spark.plans import registry
from cassandra_log_analyzer_mcp_spark.session import clear_caches
from tools.check import oracle_connection, problems

QUERIES = registry.queries()
ORACLES = registry.oracle_sql()


@pytest.fixture(scope="module")
def oracle(spark, sf_dir):
    con = oracle_connection(sf_dir)
    yield con
    con.close()
    # later modules start from the cache state they would without
    # this sweep
    clear_caches(spark)


@pytest.mark.parametrize("name", [n for n in QUERIES if n in ORACLES])
def test_query_matches_oracle(name, spark, sf_dir, oracle):
    sdf = QUERIES[name](spark, sf_dir).toPandas()
    odf = oracle.execute(ORACLES[name]).fetchdf()
    assert problems(sdf, odf) == []
