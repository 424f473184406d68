"""The session memo and the process work root, driven with stand-in
sessions that carry only an application id: no Spark job runs."""

import os
from types import SimpleNamespace

from cassandra_log_analyzer_mcp_spark import memo


def _session(app_id: str) -> SimpleNamespace:
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def test_memo_hits_within_an_application_and_clear_empties_it(monkeypatch):
    monkeypatch.setattr(memo, "_STORE", {})
    builds = []

    def build():
        builds.append(object())
        return builds[-1]

    a, b = _session("app-a"), _session("app-b")
    first = memo.memo(a, "frame", "sf0", build)
    assert memo.memo(a, "frame", "sf0", build) is first
    assert len(builds) == 1
    # a stopped-and-restarted context has a new application id, so it
    # is never handed the old one's value
    assert memo.memo(b, "frame", "sf0", build) is builds[1]
    assert memo.memo(a, "frame", "sf1", build) is builds[2]
    assert sorted(memo.entries()) == [
        ("app-a", "frame", "sf0"),
        ("app-a", "frame", "sf1"),
        ("app-b", "frame", "sf0"),
    ]
    memo.clear()
    assert memo.entries() == []
    assert memo.memo(a, "frame", "sf0", build) is builds[3]


def test_memoized_keeps_the_function_identity(monkeypatch):
    monkeypatch.setattr(memo, "_STORE", {})
    calls = []

    @memo.memoized
    def layer(spark, sf_dir):
        """Doc."""
        calls.append(sf_dir)
        return len(calls)

    s = _session("app-a")
    assert (layer(s, "x"), layer(s, "x"), layer(s, "y")) == (1, 1, 2)
    assert layer.__module__ == __name__
    assert layer.__qualname__.endswith("<locals>.layer")
    assert layer.__doc__ == "Doc."


def test_work_dir_and_work_path_share_one_root(monkeypatch):
    monkeypatch.setattr(memo, "_STORE", {})
    root = memo.work_root()
    assert os.path.basename(root).startswith("spark_graft_")
    d1, d2 = memo.work_dir("scratch"), memo.work_dir("scratch")
    assert d1 != d2
    assert os.listdir(d1) == [] and os.listdir(d2) == []
    fixed = memo.work_path("silver", "/data/sf0.01/")
    assert fixed == os.path.join(root, "silver_sf0_01")
    assert memo.work_path("silver", "/data/sf0.01") == fixed
    writes = []
    s = _session("app-a")
    land = memo.landed(s, "fixture", "sf0", writes.append)
    assert memo.landed(s, "fixture", "sf0", writes.append) == land
    assert writes == [land]
    for path in (d1, d2, fixed, memo.work_path("bigdocs_s1")):
        assert os.path.dirname(path) == root
    assert os.path.dirname(os.path.dirname(land)) == root


def test_a_provided_landing_dir_holds_the_root_and_is_not_removed(
    monkeypatch, tmp_path
):
    registered = []
    monkeypatch.setattr(memo, "_ROOT", None)
    monkeypatch.setattr(memo.atexit, "register", lambda *a, **k: registered.append(a))
    monkeypatch.setenv("SPARK_GRAFT_LANDING_DIR", str(tmp_path / "landing"))
    root = memo.work_root()
    assert os.path.dirname(root) == str(tmp_path / "landing")
    assert memo.work_dir("x").startswith(root + os.sep)
    assert registered == []
