#!/usr/bin/env python3
"""Benchmark of the log analyzer, end to end and layer by layer.

    python3 perfbench/run.py --workload tool_calls --seed 1 --seconds 21 --trace 0

Run from the repository root. Workloads (see NOTES.md for why each
exists and its input size):

- ``tool_calls``     six MCP read tools over 4 nodes x 12.5k log lines
- ``query_slate``    six registry queries on the sf0.01 testdata, oracle-checked
- ``log_refresh``    writes beside ``compare_report`` on one LogStore
- ``stream_bridges`` all ``streaming_*`` registry queries

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics from spans, Spark's status store and a streaming
listener. The last stdout line is one JSON object; the whole record
(every operation, failures by cause, span self times, host load) is
written to ``perfbench/out/``. Everything the run writes stays inside
the checkout and is removed at exit, apart from that record.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["tool_calls", "query_slate", "log_refresh", "stream_bridges"]

#: per-layer metric -> (unit, better, the end-to-end metric it should move)
LAYER_METRICS: dict[str, tuple[str, str, str]] = {
    "session.get_spark_s": ("s", "lower", "setup_s, every workload"),
    **{f"api.{t}_s": ("s", "lower", "op_p50_s, pass_s on tool_calls") for t in (
        "analyze_cluster_report", "search_report", "errors_report",
        "compare_report", "issues_report", "health_report")},
    "api.LogStore.flagged_s": ("s", "lower", "op_p50_s on tool_calls and log_refresh"),
    "spark.jobs_per_call": ("count", "lower", "op_p50_s on tool_calls"),
    "spark.stages_per_call": ("count", "lower", "op_p50_s on tool_calls"),
    "spark.tasks_per_call": ("count", "lower", "op_p50_s on tool_calls"),
    "spark.driver_s": ("s", "lower", "op_p50_s on tool_calls"),
    "api.LogStore.add_pasted_s": ("s", "lower", "op_p50_s on log_refresh; setup_s on tool_calls"),
    "sources.logfiles.read_log_dir_s": ("s", "lower", "op_p50_s on log_refresh; not tool_calls"),
    "functions.parsing.parse_flag_s": ("s", "lower", "op_p50_s on log_refresh; not tool_calls"),
    "refresh.rebuilds": ("count", "higher", "failed ops on log_refresh"),
    "refresh.useful_frac": ("ratio", "higher", "failed ops on log_refresh"),
    "cache.entries": ("count", "lower", "memory held (no bounded metric)"),
    "cache.storage_mb": ("MB", "lower", "memory held (no bounded metric)"),
    **{f"registry.{m}.{k}": (u, "lower", "pass_s, op_p50_s on query_slate")
       for m in ("analysis", "analytics", "dedup", "textops", "similarity", "silver")
       for k, u in (("build_s", "s"), ("plan_s", "s"), ("exec_s", "s"),
                    ("jobs", "count"), ("stages", "count"))},
    "spark.shuffle_write_mb": ("MB", "lower", "pass_s on query_slate"),
    "spark.spill_mb": ("MB", "lower", "pass_s on query_slate"),
    "spark.executor_run_s": ("s", "lower", "pass_s on query_slate"),
    "spark.jvm_gc_s": ("s", "lower", "pass_s on query_slate"),
    "spark.failed_tasks": ("count", "lower", "failed ops on query_slate"),
    **{f"shared.{k}_s": ("s", "lower", "setup_s on query_slate and stream_bridges") for k in (
        "logs_flagged", "shingle_arrays", "batch_silver", "kmeans_index")},
    "shared.silver_stream_s": ("s", "lower", "setup_s on stream_bridges"),
    "streaming.batches": ("count", "lower", "pass_s on stream_bridges"),
    "streaming.input_rows": ("count", "lower", "pass_s on stream_bridges"),
    "streaming.empty_batch_frac": ("ratio", "lower", "pass_s on stream_bridges"),
    "streaming.trigger_s": ("s", "lower", "pass_s, op_p50_s on stream_bridges"),
    "streaming.add_batch_s": ("s", "lower", "pass_s, op_p50_s on stream_bridges"),
    "streaming.state_rows": ("count", "lower", "pass_s on stream_bridges"),
    "streaming.harness_s": ("s", "lower", "pass_s, op_p50_s on stream_bridges"),
    "trace.overhead_s": ("s", "lower", "none: traced minus untraced pass"),
}
E2E_UNITS = {"setup_s": "s", "op_p50_s": "s", "pass_s": "s"}


def _environment(work: str, traced: bool) -> None:
    """Keep every file Spark, the JVM and the package write in ``work``;
    set before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYTHONWARNINGS"] = "ignore"
    if traced:  # keep every job and stage of the run in the status store
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.ui.retainedJobs=100000 --conf spark.ui.retainedStages=100000 "
            "pyspark-shell")
    sys.path[:0] = [ROOT]


def _keep_silver_in(work: str) -> None:
    """The silver tables' default location (``silver._default_path``)
    is a ``/tmp`` path; point it into ``work``. Every caller looks the
    function up on the module when it calls it."""
    from cassandra_log_analyzer_mcp_spark.sources import silver

    def default_path(sf_dir: str) -> str:
        return os.path.join(
            work, "silver_" + os.path.basename(sf_dir.rstrip("/")).replace(".", "_"))

    silver._default_path = default_path


def _layer_metrics(run, spark) -> dict[str, float]:
    """Per-layer figures of a traced run; 0 where the workload does not
    reach the layer. Per-call times are medians per call, per-pass
    figures medians over the traced passes."""
    from workloads import owning_module, median, storage

    from cassandra_log_analyzer_mcp_spark.plans import registry

    qs = registry.queries()
    tr, ls = run.tracer, run.listener
    windows = [w for w, t in zip(run.pass_windows, run.traced_passes) if t]
    m = {k: 0.0 for k in LAYER_METRICS}
    for k in list(m):
        if k.startswith(("api.", "session.", "sources.")):
            m[k] = median(tr.durations(k[:-2], windows))
    m["functions.parsing.parse_flag_s"] = median(
        tr.durations("functions.parsing.parse_lines", windows)
        + tr.durations("functions.parsing.with_issue_flags", windows))
    traced_ops = [o for o in run.ops if o.stats is not None]
    if traced_ops:
        n = len(traced_ops)
        m["spark.jobs_per_call"] = sum(o.stats.jobs for o in traced_ops) / n
        m["spark.stages_per_call"] = sum(o.stats.stages for o in traced_ops) / n
        m["spark.tasks_per_call"] = sum(o.stats.tasks for o in traced_ops) / n
        m["spark.driver_s"] = median([o.seconds - o.stats.stage_busy_s for o in traced_ops])
    writes = run.extra.get("refresh.writes", 0)
    m["refresh.rebuilds"] = run.extra.get("refresh.rebuilds", 0)
    m["refresh.useful_frac"] = m["refresh.rebuilds"] / writes if writes else 0.0
    m["cache.entries"], m["cache.storage_mb"] = storage(spark)
    for k, v in run.layers.items():
        m[f"shared.{k}_s"] = median(v)

    per_pass: dict[str, list[float]] = {}
    for p, ((w0, w1), traced) in enumerate(zip(run.pass_windows, run.traced_passes)):
        if not traced:
            continue
        acc: dict[str, float] = {}
        ops = [o for o in traced_ops if o.pass_no == p]
        for s in tr.spans:
            if s.name.startswith("registry.") and w0 <= s.start <= w1:
                k = s.name + "_s"
                acc[k] = acc.get(k, 0.0) + s.end - s.start
        for o in ops:
            for k, v in (("spark.shuffle_write_mb", o.stats.shuffle_write_mb),
                         ("spark.spill_mb", o.stats.spill_mb),
                         ("spark.executor_run_s", o.stats.executor_run_s),
                         ("spark.jvm_gc_s", o.stats.jvm_gc_s),
                         ("spark.failed_tasks", o.stats.failed_tasks)):
                acc[k] = acc.get(k, 0.0) + v
            if o.name in qs:
                mod = owning_module(qs[o.name])
                acc[f"registry.{mod}.jobs"] = acc.get(f"registry.{mod}.jobs", 0) + o.stats.jobs
                acc[f"registry.{mod}.stages"] = acc.get(f"registry.{mod}.stages", 0) + o.stats.stages
            runs = ls.runs_between(*o.window)
            prog = [b for r in runs for b in ls.progress.get(r, [])]
            if not prog:
                continue
            trig = sum(b[1] for b in prog)
            acc["streaming.batches"] = acc.get("streaming.batches", 0) + len(prog)
            acc["streaming.empty"] = acc.get("streaming.empty", 0) + sum(b[0] == 0 for b in prog)
            acc["streaming.input_rows"] = acc.get("streaming.input_rows", 0) + sum(b[0] for b in prog)
            acc["streaming.trigger_s"] = acc.get("streaming.trigger_s", 0) + trig
            acc["streaming.add_batch_s"] = acc.get("streaming.add_batch_s", 0) + sum(b[2] for b in prog)
            acc["streaming.state_rows"] = acc.get("streaming.state_rows", 0) + sum(
                ls.progress[r][-1][3] for r in runs if ls.progress.get(r))
            acc["streaming.harness_s"] = acc.get("streaming.harness_s", 0) + o.seconds - trig
        if acc.get("streaming.batches"):
            acc["streaming.empty_batch_frac"] = acc.pop("streaming.empty") / acc["streaming.batches"]
        for k, v in acc.items():
            per_pass.setdefault(k, []).append(v)
    for k, v in per_pass.items():
        if k in m:
            m[k] = median(v)
    # the first pass is untraced and cold; it is not a baseline
    untraced = [t for t, tr_ in zip(run.passes[1:], run.traced_passes[1:]) if not tr_]
    traced = [t for t, tr_ in zip(run.passes, run.traced_passes) if tr_]
    m["trace.overhead_s"] = median(traced) - median(untraced)
    return m


def _patch(tracer, api, session) -> None:
    """Spans around calls into the package, patched where the caller
    looks the function up."""
    tracer.patch(session, "get_spark", "session.get_spark")
    for t in ("analyze_cluster_report", "search_report", "errors_report",
              "compare_report", "issues_report", "health_report"):
        tracer.patch(api, t, f"api.{t}")
    tracer.patch(api.LogStore, "flagged", "api.LogStore.flagged")
    tracer.patch(api.LogStore, "add_pasted", "api.LogStore.add_pasted")
    tracer.patch(api, "read_log_dir", "sources.logfiles.read_log_dir")
    tracer.patch(api, "parse_lines", "functions.parsing.parse_lines")
    tracer.patch(api, "with_issue_flags", "functions.parsing.with_issue_flags")


def bench(args, work: str) -> dict:
    """Run one workload; returns the run's record. The session is
    stopped, and its JVM gone, when this returns or raises."""
    from tracing import ProgressListener, SparkStats, Tracer

    import workloads as W
    from cassandra_log_analyzer_mcp_spark import api, session

    t_start = time.perf_counter()
    _keep_silver_in(work)
    tracer = Tracer() if args.trace else None
    if tracer:
        _patch(tracer, api, session)
    cpus = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    spark = session.get_spark(master=f"local[{cpus}]", shuffle_partitions=cpus)
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    listener = None
    if tracer:
        listener = ProgressListener()
        spark.streams.addListener(listener)
    run = W.Run(spark, args.seed, args.seconds, work, tracer,
                SparkStats(spark) if tracer else None, listener)
    try:
        return _measure(args, run, session_s, cpus, t_start)
    finally:
        _stop(spark)


def _measure(args, run, session_s: float, cpus: int, t_start: float) -> dict:
    """The workload's set-up and timed phase, then its record."""
    import workloads as W
    from cassandra_log_analyzer_mcp_spark import api
    from cassandra_log_analyzer_mcp_spark.plans import registry

    spark, tracer, listener = run.spark, run.tracer, run.listener

    try:
        if args.workload == "tool_calls":
            W.tool_calls(run, api)
        elif args.workload == "log_refresh":
            W.log_refresh(run, api)
        elif args.workload == "query_slate":
            W.slate(run, registry, W.QUERY_SLATE, nominal_pass_s=7.0)
        else:
            bridges = [n for n in registry.queries() if n.startswith("streaming_")]
            W.slate(run, registry, bridges, nominal_pass_s=60.0)
        layer = _layer_metrics(run, spark) if tracer else None
    finally:
        if tracer:
            tracer.restore()
            spark.streams.removeListener(listener)
    ok = [o.seconds for o in run.ops if o.ok and o.pass_no >= 0]
    failed = [o for o in run.ops if not o.ok]
    e2e = {
        "setup_s": session_s + W.median(run.rounds),
        "op_p50_s": W.median(ok),
        "pass_s": W.median(run.passes),
    }
    if args.workload == "log_refresh":  # stale answers are not timings; no pass wall
        del e2e["pass_s"]
    by_cause: dict[str, int] = {}
    for o in failed:
        key = f"{o.kind}: {o.reason}" if o.kind else o.reason
        by_cause[key] = by_cause.get(key, 0) + 1
    by_kind: dict[str, list[int]] = {}  # log_refresh: [attempted, failed] per write kind
    for o in run.ops:
        if o.kind:
            by_kind.setdefault(o.kind, [0, 0])[0] += 1
            by_kind[o.kind][1] += not o.ok
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": cpus,
        "attempted": len(run.ops), "failed": len(failed),
        "failed_frac": len(failed) / len(run.ops) if run.ops else 0.0,
        "failures_by_cause": by_cause,
        "ops_by_write_kind": by_kind,
        "end_to_end": e2e,
        "cache_mb": W.storage(spark)[1],
        "setup": {"session_s": session_s, "rounds_s": run.rounds, "warmup_s": run.warmup_s},
        "passes_s": run.passes, "traced_passes": run.traced_passes,
        "ops": [[o.name, o.pass_no, round(o.seconds, 4), o.ok, o.kind] for o in run.ops],
        "run_wall_s": time.perf_counter() - t_start,
    }
    if tracer:
        record["per_layer"] = layer
        record["per_layer_moves"] = {k: v[2] for k, v in LAYER_METRICS.items()}
        record["span_self_times"] = {
            k: {"calls": n, "total_s": round(tot, 4), "self_s": round(own, 4)}
            for k, (n, tot, own) in sorted(tracer.self_times().items())}
    return record


def _stop(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(HERE, ".work", f"{tag}-{os.getpid()}")
    os.makedirs(work)
    # Spark and the JVM write to fd 1 and 2 on their own; the result
    # line must be the last line of stdout, so both go to a log file
    # and only this script writes to the saved stdout.
    real_out = os.dup(1)
    log_path = os.path.join(out_dir, f"{tag}.log")
    log_fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(log_fd, 1)
    os.dup2(log_fd, 2)
    os.close(log_fd)
    sys.stdout = sys.stderr = os.fdopen(os.dup(1), "w", buffering=1)
    try:
        _environment(work, bool(args.trace))
        from bench import _load_sentinel as host_load  # loadavg + spin calibration

        load_before = host_load()
        os.chdir(work)
        record = bench(args, work)
        record["host_load"] = {"before": load_before, "after": host_load()}
    except Exception:  # noqa: BLE001 - report the cause, exit non-zero
        traceback.print_exc()
        os.write(real_out, f"benchmark failed; see {log_path}\n".encode())
        return 1
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(os.path.dirname(work)):
            os.rmdir(os.path.dirname(work))

    with open(os.path.join(out_dir, f"{tag}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    if args.trace:
        metrics = {k: {"value": record["per_layer"][k], "unit": LAYER_METRICS[k][0]}
                   for k in LAYER_METRICS}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in record["end_to_end"].items()}
    lines = [
        f"{args.workload} seed={args.seed}: {record['attempted']} ops, "
        f"{record['failed']} failed, passes={len(record['passes_s'])}, "
        f"host load {record['host_load']}",
    ]
    lines += [f"  failed x{n}: {cause}" for cause, n in record["failures_by_cause"].items()]
    lines += [f"  {kind}: {f} of {a} failed" for kind, (a, f) in record["ops_by_write_kind"].items()]
    if args.trace:
        lines += [f"  {k} = {record['per_layer'][k]:.4g} {LAYER_METRICS[k][0]}"
                  f"  (moves {LAYER_METRICS[k][2]})" for k in LAYER_METRICS]
        lines += [f"  span {k}: self {v['self_s']:.3f} s of {v['total_s']:.3f} s, {v['calls']} calls"
                  for k, v in record["span_self_times"].items()]
    result = {
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": metrics,
    }
    lines.append(json.dumps(result))
    os.write(real_out, ("\n".join(lines) + "\n").encode())
    return 0


if __name__ == "__main__":
    sys.exit(main())
