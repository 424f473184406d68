"""Fast checks of the benchmark's reference checker (no Spark).

    python3 -m pytest perfbench/test_reference.py -q
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import loggen  # noqa: E402
from reference import Reference  # noqa: E402
from workloads import Run  # noqa: E402

LINES = [
    "ERROR [2024-03-01 00:00:01,000] [ReadStage-1] StorageProxy:10 - Operation timed out",
    "java.lang.RuntimeException: boom",
    "\tat org.apache.cassandra.Foo.bar(Foo.java:1)",
    "INFO [2024-03-01 00:00:02,000] [GossipStage:1] GCInspector:20 - GC pause of 900ms",
    "WARN [2024-03-01 00:00:03,000] [ReadStage-2] MonitoringTask:30 - Slow query took 5ms",
    "INFO [2024-03-01 00:10:04,000] [ReadStage-3] Gossiper:40 - InetAddress /10.0.0.1 is now UP",
]


def _cluster(tmp_path) -> Reference:
    d = tmp_path / "node0"
    d.mkdir()
    (d / "system.log").write_text("\n".join(LINES[3:]) + "\n")
    (d / "system.log.1").write_text("\n".join(LINES[:3]) + "\n")
    ref = Reference()
    ref.add_dir("node0", str(d))
    return ref


def test_engine_semantics(tmp_path):
    ref = _cluster(tmp_path)
    es = ref.nodes["node0"]
    # continuation lines dropped; files numbered in name order
    assert [e.line_id for e in es] == [1, 2, 3, 4]
    assert [e.level for e in es] == ["INFO", "WARN", "INFO", "ERROR"]
    # an INFO line matching an error pattern counts as an error
    assert ref.summary() == {"node0": (2, 1, 4)}
    assert "**node0** (line 4)" in ref.search_report("timed OUT")
    assert "Total: 0" in ref.search_report("timed OUT", case_sensitive=True)
    # errors ordered by timestamp, not by line id
    assert ref.errors_report().index("timed out") < ref.errors_report().index("GC pause")
    # errors 1 s apart form one burst: penalty 5*2 + 1 + 50*1
    assert "| 1 | node0 | attention | 61 | 2 | 1 | 1 | 0 |" in ref.health_report()


def test_compare_report_format(tmp_path):
    assert _cluster(tmp_path).compare_report().splitlines()[-1] == "| node0 | 2 | 1 | 4 | 0.5 |"


def test_generated_cluster_counts(tmp_path):
    srcs = loggen.make_cluster(str(tmp_path), seed=3, nodes=2, lines_per_node=600)
    ref = Reference()
    for node in srcs:
        ref.add_dir(node, str(tmp_path / node))
    raw = sum(len(open(tmp_path / "node0" / f).read().splitlines()) for f in loggen.ROTATED)
    assert raw > 600  # stack traces were written ...
    assert ref.summary()["node0"][2] == 600  # ... and dropped by the parser


def test_stale_answer_counts_as_failed(tmp_path):
    ref = _cluster(tmp_path)
    stale = ref.compare_report()
    ref.add_lines("node0", LINES[:1])  # an append lands after the answer was cached
    run = Run(None, 0, 1.0, str(tmp_path), None, None, None)

    def check(out):
        return None if out == ref.compare_report() else "stale compare_report"

    run.op("compare_report", 0, lambda: stale, check)
    run.op("compare_report", 0, ref.compare_report, check)
    assert [o.ok for o in run.ops] == [False, True]
    assert run.ops[0].reason == "stale compare_report"
