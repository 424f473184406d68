#!/usr/bin/env python3
"""Benchmark harness: times every registered query end-to-end.

Runs each ``queries()`` entry at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` (default: the
CPUs this process may run on) and prints ONE JSON line::

    {"metric": ..., "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": ...}

Results are materialized with the noop sink so timings include full
execution (scan → shuffle → result) without driver collection cost.
The sidecar (``full`` in the line) also carries a per-query
``profile``: build and plan seconds, plan-shape counts, and the
jobs, stages, tasks, shuffle, spill and executor time of the query's
job group.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


#: The driver records only the last N bytes of bench stdout. The full
#: per-query JSON line outgrows that window, and a line whose head
#: falls out of the capture cannot parse, so the emitted line must fit
#: the window with headroom for the newline and any stray byte the
#: harness prepends. The JVM startup notices are silenced at source
#: (log4j2-quiet.properties), so the headroom is insurance.
CAPTURE_WINDOW_BYTES = 2000
TAIL_HEADROOM_BYTES = 250
STDOUT_BYTE_BUDGET = CAPTURE_WINDOW_BYTES - TAIL_HEADROOM_BYTES

#: Two spin calibrations further apart than this ratio ran under
#: different host load: wall-clock figures taken between them compare
#: loads, not code.
SPIN_RATIO_MAX = 1.5


def build_stdout_payload(
    timings: dict[str, float],
    sf_val: object,
    sidecar: str = "BENCH_FULL.json",
) -> dict[str, object]:
    """Compact payload for the driver's tail-limited stdout capture.

    Keeps the SLOWEST queries (the rows a profile reads first) and
    stops before the serialized line outgrows ``STDOUT_BYTE_BUDGET``;
    ``value`` still covers every query and ``full`` names the sidecar
    file holding the untrimmed per-query dict.
    """
    out: dict[str, object] = {
        "metric": f"total_wall_sec_{len(timings)}_queries",
        "value": round(sum(t for t in timings.values() if t >= 0), 3),
        "unit": "sec",
        "queries": {},
        "sf": sf_val,
        "n_queries": len(timings),
        "full": sidecar,
    }
    kept: dict[str, float] = out["queries"]  # type: ignore[assignment]
    for name, t in sorted(timings.items(), key=lambda kv: -kv[1]):
        kept[name] = t
        if (
            len(json.dumps(out, separators=(",", ":")).encode())
            > STDOUT_BYTE_BUDGET
        ):
            del kept[name]
            break
    return out


def sidecar_name(subset: bool, start: dict, end: dict) -> str:
    """Where a sweep writes its per-query detail. A slate-restricted
    run never overwrites the committed full-surface file, and neither
    does a full sweep whose own start and end spin calibrations differ
    by more than ``SPIN_RATIO_MAX``."""
    if subset:
        return "BENCH_FULL_subset.json"
    spins = (start["spin_s"], end["spin_s"])
    if max(spins) > SPIN_RATIO_MAX * min(spins):
        return "BENCH_FULL_contaminated.json"
    return "BENCH_FULL.json"


def _spin_calibration() -> float:
    """Fixed CPU-bound micro-workload, timed.

    A loaded host stretches this the same way it stretches the
    measured queries, so recording it at sweep start and end makes a
    contended sweep machine-checkable. The LCG loop is pure-Python
    integer work — no allocation, no libm — so its wall time tracks
    scheduler pressure, not memory or I/O state.
    """
    t0 = time.perf_counter()
    x = 1
    for _ in range(2_000_000):
        x = (x * 1103515245 + 12345) & 0xFFFFFFFF
    assert x  # keep the loop un-eliminable
    return round(time.perf_counter() - t0, 4)


def _load_sentinel() -> dict[str, object]:
    """/proc/loadavg + the spin calibration, one snapshot."""
    try:
        with open("/proc/loadavg") as fh:
            load = [float(v) for v in fh.read().split()[:3]]
    except OSError:
        load = []
    return {"loadavg": load, "spin_s": _spin_calibration()}


#: plan-shape counts: profile key -> physical node name
_PLAN_NODES = {
    "exchanges": "Exchange",
    "broadcast_joins": "BroadcastHashJoin",
    "sortmerge_joins": "SortMergeJoin",
    "windows": "Window",
}


def plan_shape(plan: str) -> dict[str, int]:
    """Node counts of a ``formatted`` physical plan, read from its
    per-node detail headers (``(7) BroadcastHashJoin [codegen id : 2]``)
    so each node counts once. ``codegen_stages`` counts the distinct
    codegen ids; an adaptive plan fuses its stages as they run, so
    before execution only materialized cached sub-plans show any."""
    nodes = re.findall(r"^\(\d+\) (\w+)", plan, re.M)
    shape = {k: nodes.count(v) for k, v in _PLAN_NODES.items()}
    shape["codegen_stages"] = len(set(re.findall(r"\[codegen id : (\d+)\]", plan)))
    return shape


def main() -> None:
    # The driver parses the TAIL of the combined stdout+stderr capture
    # for the single JSON line. The JVM writes noise to BOTH streams
    # (log4j to stderr, occasional banners to fd 1) bypassing
    # sys.stdout, and the java launcher itself prints the
    # jdk.incubator.vector incubator-module warning to stderr before
    # log4j even loads (the option is baked into spark-launcher's
    # JavaModuleOptions, unremovable from here). So: save the real
    # stdout fd, then point BOTH fd 1 and fd 2 at a sidecar noise log
    # BEFORE the JVM launches; the JVM inherits the redirected fds and
    # every byte of its noise lands in the file. The JSON line alone is
    # written to the saved fd at the end, so the combined capture IS
    # the bare JSON line.
    real_stdout = os.dup(1)
    here = os.path.dirname(os.path.abspath(__file__))
    noise_path = os.path.join(here, "BENCH_NOISE.log")
    noise_fd = os.open(
        noise_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644
    )
    os.dup2(noise_fd, 1)
    os.dup2(noise_fd, 2)
    os.close(noise_fd)
    # python-level prints still target fd 1/2 → the noise file; keep
    # the stdout name pointing at stderr so stray print() calls and
    # tracebacks share one stream ordering
    sys.stdout = sys.stderr
    try:
        _run(real_stdout, noise_path)
    except BaseException as e:
        # the traceback lands in the noise file (fd 2); give the
        # driver's capture a parseable breadcrumb pointing there
        crumb = json.dumps(
            {"error": f"{type(e).__name__}: {e}"[:500],
             "noise_log": "BENCH_NOISE.log"},
            separators=(",", ":"),
        )
        os.write(real_stdout, (crumb + "\n").encode())
        raise


def _profiled(spark, stats, listener, name: str, fn, sf_dir: str):
    """Time one query — ``fn()`` plus the noop write, in job group
    ``name`` — and profile it. Returns (seconds or -1.0, profile).

    The plan string is taken after the timed run and kept out of its
    total. Streaming bridges run their micro-batches under each
    stream's run id, so those groups count too."""
    from cassandra_log_analyzer_mcp_spark.plans.explain import plan_string

    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    w0 = time.time()
    t0 = time.perf_counter()
    try:
        df = fn(spark, sf_dir)
        build_s = time.perf_counter() - t0
        df.write.format("noop").mode("overwrite").save()
        total = round(time.perf_counter() - t0, 3)
    except Exception as e:  # a broken query should not hide the rest
        print(f"bench error in {name}: {e}", file=sys.stderr)
        return -1.0, {"error": type(e).__name__}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    w1 = time.time()
    stats.drain()
    st = stats.group([name] + listener.runs_between(w0, w1), w0, w1)
    t0 = time.perf_counter()
    plan = plan_string(df)
    return total, {
        "build_s": round(build_s, 3),
        "plan_s": round(time.perf_counter() - t0, 3),
        **plan_shape(plan),
        "jobs": st.jobs,
        "stages": st.stages,
        "tasks": st.tasks,
        "shuffle_write_mb": round(st.shuffle_write_mb, 3),
        "spill_mb": round(st.spill_mb, 3),
        "executor_s": round(st.executor_run_s, 3),
    }


def _run(real_stdout: int, noise_path: str) -> None:

    # Silence the pandas concat FutureWarning at the source: it leaked
    # ahead of the JSON line in the driver's tail capture. The env var
    # reaches the forked Python UDF workers (the in-process filter
    # alone would not); set before the JVM and worker pool launch.
    import warnings

    warnings.filterwarnings("ignore", category=FutureWarning)
    warnings.filterwarnings(
        "ignore", message="Cannot infer the eval type"
    )
    # message is a REGEX: the literal '+' in the advisory text made
    # the unescaped pattern unmatchable — escape it
    warnings.filterwarnings(
        "ignore", message=re.escape("In Python 3.6+ and Spark 3.0+")
    )
    # the message filters target pyspark's two benign driver-side
    # pandas-UDF advisories (eval-type inference; SPARK-28264 type
    # hints), which otherwise land LAST on stderr — exactly where a
    # combined-stream tail capture would put them in front of the
    # JSON line
    os.environ.setdefault(
        "PYTHONWARNINGS",
        "ignore::FutureWarning,"
        "ignore::UserWarning:pyspark.sql.pandas.group_ops",
    )

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    # Host-contention sentinel, taken BEFORE the JVM exists and again
    # after the sweep: two clean snapshots bracketing the measurement.
    sentinel_start = _load_sentinel()

    from cassandra_log_analyzer_mcp_spark.plans import registry
    from cassandra_log_analyzer_mcp_spark.session import local_spark
    from perfbench.tracing import ProgressListener, SparkStats

    spark = local_spark("bench")

    qs = registry.queries()
    # Optional slate restriction (a scaling leg or a worker-width run
    # times a named slate only): comma-separated query names, unknown
    # names rejected loudly.
    subset = os.environ.get("SPARK_GRAFT_QUERIES")
    if subset:
        names = [n.strip() for n in subset.split(",") if n.strip()]
        unknown = [n for n in names if n not in qs]
        if unknown:
            raise SystemExit(f"unknown queries in SPARK_GRAFT_QUERIES: {unknown}")
        qs = {n: qs[n] for n in names}
    # Warm EVERY query once at the smallest SF: JVM codegen compilation,
    # parquet footer reads, and the Python worker pool are one-time
    # session costs, and paying them inside the measured run would make
    # the numbers reflect compile time instead of plan quality. The
    # warm pass uses different input files (sf0.001), so no DATA is
    # pre-cached for the measured sf — only code paths.
    # A query that fails here is timed cold below: name it on stderr
    # (BENCH_NOISE.log) so the stdout line stays unchanged.
    warm_dir = "/root/testdata/sf0.001"
    for name, fn in qs.items():
        try:
            fn(spark, warm_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception as e:
            print(f"warm-up failed: {name}: {type(e).__name__}", file=sys.stderr)
    # Build the shared build-once layers at the measured SF before
    # timing, each recorded by name in the sidecar: per-query timings
    # are then the MARGINAL cost of each query on top of shared
    # infrastructure (load ≠ query), and a layer's cost does not land
    # on whichever consumer happens to run first.
    shared_build_s = registry.prebuild_shared_layers(spark, sf_dir)

    stats = SparkStats(spark)
    listener = ProgressListener()
    spark.streams.addListener(listener)
    timings: dict[str, float] = {}
    profile: dict[str, dict] = {}
    for name, fn in qs.items():
        timings[name], profile[name] = _profiled(
            spark, stats, listener, name, fn, sf_dir
        )
    spark.streams.removeListener(listener)

    sentinel_end = _load_sentinel()

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # Full per-query detail goes to a sidecar file; the stdout line is
    # tail-capture-limited (see STDOUT_BYTE_BUDGET).
    here = os.path.dirname(os.path.abspath(__file__))
    sidecar = sidecar_name(bool(subset), sentinel_start, sentinel_end)
    with open(os.path.join(here, sidecar), "w") as f:
        json.dump(
            {
                "metric": f"total_wall_sec_{len(timings)}_queries",
                "value": round(
                    sum(t for t in timings.values() if t >= 0), 3
                ),
                "unit": "sec",
                "queries": timings,
                "profile": profile,
                "sf": sf_val,
                "shared_build_s": shared_build_s,
                # contention evidence: loadavg + a fixed pure-Python
                # spin timing at sweep start/end (see sidecar_name)
                "load_sentinel": {
                    "start": sentinel_start,
                    "end": sentinel_end,
                },
                "noise_log": os.path.basename(noise_path),
                # full runs say "full"; subset runs name their slate
                # so downstream readers can refuse a mismatched file
                "slate": sorted(timings) if subset else "full",
            },
            f,
            indent=1,
            sort_keys=True,
        )
    out = build_stdout_payload(timings, sf_val, sidecar)
    # Exactly one compact JSON line on the REAL stdout, nothing else
    # (Spark noise went to stderr via the fd redirect above).
    line = (json.dumps(out, separators=(",", ":")) + "\n").encode()
    if len(line) > 2000:  # survives python -O, measures bytes
        raise RuntimeError(
            f"stdout JSON line is {len(line)} bytes (driver tails 2000)"
        )
    os.write(real_stdout, line)
    os.close(real_stdout)


if __name__ == "__main__":
    main()
