"""local_frame: the Arrow literal-frame helper against the classic
``createDataFrame(rows, ddl)`` path it stands in for."""

import logging

import pytest

from cassandra_log_analyzer_mcp_spark.functions import frames
from cassandra_log_analyzer_mcp_spark.functions.frames import local_frame

DDL = "s string, l long, i int, d double, b boolean, c bigint"


def test_local_frame_matches_create_dataframe(spark):
    rows = [
        ("a", 1, 2, 1.5, True, 7),
        (None, None, None, None, None, None),
        ("é", -(2**62), 2**31 - 1, -3.0, False, 0),
    ]
    for data in (rows, []):
        got = local_frame(spark, data, DDL)
        want = spark.createDataFrame(data, DDL)
        assert got.schema == want.schema
        assert got.collect() == want.collect()
    # the Arrow path: a pure-JVM local relation, no Python worker
    plan = local_frame(spark, rows, DDL)._jdf.queryExecution().optimizedPlan()
    assert plan.toString().startswith("LocalRelation")


def test_local_frame_rejects_lossy_float_to_long(spark):
    with pytest.raises(Exception, match="LongType"):
        local_frame(spark, [(1.5,)], "x long").collect()


def test_local_frame_falls_back_and_warns_once(spark, monkeypatch, caplog):
    """A column Arrow cannot infer (mixed int/str) takes the classic
    path, which stringifies it, and the fallback is reported once."""
    monkeypatch.setattr(frames, "_FALLBACK_LOGGED", False)
    rows = [(1,), ("a",)]
    with caplog.at_level(logging.WARNING, logger=frames.__name__):
        got = local_frame(spark, rows, "s string")
        local_frame(spark, rows, "s string")
    assert got.collect() == spark.createDataFrame(rows, "s string").collect()
    assert [r.s for r in got.collect()] == ["1", "a"]
    hits = [r for r in caplog.records if "local_frame" in r.getMessage()]
    assert len(hits) == 1
    assert "ArrowInvalid" in hits[0].getMessage()
