"""The benchmark's workloads.

Every workload is a closed loop: one client in one process waits for
each answer before it sends the next request. The timed phase runs a
number of whole passes over the workload's fixed cycle of operations
set by ``seconds``, so every run measures the same mix.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field

import loggen
from oracle import Oracle, result_key
from reference import Reference
from tracing import NO_SPAN, OpStats, ProgressListener, SparkStats, Tracer

#: set-up rounds per run; ``setup_s`` reports their median
SETUP_ROUNDS = 2
NODES = 4
LINES_PER_NODE = 12_500
REFRESH_LINES_PER_NODE = 5_000
PASTE_NODE = "pasted0"
TOOL_WARMUP_PASSES = 1
#: the repository's sf0.01 testdata, the tables its correctness gate
#: checks the oracles on; the same in every run, the seed sets only
#: the query order
TABLES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata", "sf0.01")
SEARCH_PATTERNS = [
    "timeout", "Compaction failed", "tombstone", r"GC pause of \d+ms",
    r"Dropped \d+ MUTATION", "QUORUM", "refused", "heap pressure",
]
SEVERITIES = ["all", "critical", "high", "medium"]
TOOLS = [
    "analyze_cluster_report", "search_report", "errors_report",
    "compare_report", "issues_report", "health_report",
]

#: Registry slate for ``query_slate``, fixed in advance by one rule.
#: Candidates: each module's oracled queries in registry order, less
#: the ``streaming_*`` bridges (``stream_bridges`` runs them), the
#: ``*_big`` regimes (they generate their own inputs), every query
#: whose code writes a literal ``/tmp`` path (the benchmark stays inside
#: its checkout; ``silver._default_path``, which the run points into
#: its work dir, does not count) and oracles slower than 0.5 s in
#: DuckDB. Six slots go to modules by largest remainder of their share
#: of BENCH_FULL.json bench time; a module takes the candidate in the
#: middle of its list. Six is what a run's time budget allows; curation
#: (6% of the non-streaming time) and multimodal (2%) get none.
QUERY_SLATE = [
    "dominant_part_suppliers",  # operators.analytics
    "impute_hourly_locf",  # operators.analysis, through the registry
    "dedup_editdist",  # operators.dedup
    "doc_length_quartiles_by_lang",  # operators.textops
    "semantic_dedup",  # operators.similarity
    "node_summary_silver",  # sources.silver, over the batch silver layer
]


@dataclass
class Op:
    name: str
    pass_no: int
    seconds: float
    ok: bool
    reason: str | None = None
    stats: OpStats | None = None
    kind: str | None = None  # log_refresh: the write kind
    window: tuple[float, float] = (0.0, 0.0)  # wall-clock start and end


@dataclass
class Run:
    """What every workload shares: session, tracing and the records."""

    spark: object
    seed: int
    seconds: float
    work: str
    tracer: Tracer | None
    stats: SparkStats | None
    listener: ProgressListener | None
    ops: list[Op] = field(default_factory=list)
    passes: list[float] = field(default_factory=list)
    traced_passes: list[bool] = field(default_factory=list)
    pass_windows: list[tuple[float, float]] = field(default_factory=list)
    rounds: list[float] = field(default_factory=list)
    layers: dict[str, list[float]] = field(default_factory=dict)
    extra: dict[str, float] = field(default_factory=dict)
    warmup_s: float = 0.0

    @property
    def tracing(self) -> bool:
        return self.tracer is not None and self.tracer.enabled

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer is not None else NO_SPAN

    def op(self, name: str, pass_no: int, fn, check, kind: str | None = None) -> Op:
        """Time ``fn()``, then check its output outside the timing. A
        raised error or a wrong answer is a failed operation."""
        group = f"op{len(self.ops)}"
        if self.tracing:
            sc = self.spark.sparkContext
            sc.setJobGroup(group, name)
        w0, t0 = time.time(), time.perf_counter()
        try:
            with self.span(f"op.{name}"):
                out = fn()
            reason = None
        except Exception as e:  # noqa: BLE001 - a failing call is a result
            first = (str(e).splitlines() or [""])[0]
            out, reason = None, f"{type(e).__name__}: {first[:300]}"
        dt, w1 = time.perf_counter() - t0, time.time()
        stats = None
        if self.tracing:
            sc.setLocalProperty("spark.jobGroup.id", None)
            self.stats.drain()
            groups = [group] + self.listener.runs_between(w0, w1)
            stats = self.stats.group(groups, w0, w1)
        if reason is None:
            reason = check(out)
        rec = Op(name, pass_no, dt, reason is None, reason, stats, kind, (w0, w1))
        self.ops.append(rec)
        return rec

    def n_passes(self, nominal_pass_s: float) -> int:
        """As many whole passes as fit ``seconds`` at the workload's
        nominal pass time, so every run on one host does the same work;
        at least three, a traced run at least four."""
        return max(4 if self.tracer is not None else 3, round(self.seconds / nominal_pass_s))

    def warm_up(self, one_pass, n_passes: int) -> None:
        """Untraced passes before the timed phase, numbered -1, -2, ...:
        their answers are checked, their times are left out of every
        metric."""
        if self.tracer is not None:
            self.tracer.enabled = False
        t0 = time.perf_counter()
        for n in range(n_passes):
            one_pass(-1 - n)
        self.warmup_s = time.perf_counter() - t0
        if self.tracer is not None:
            self.tracer.enabled = True

    def timed(self, one_pass, n_passes: int) -> None:
        """The timed phase, passes 0, 1, ... Its first pass may still
        meet cold JIT and codegen; the medians the metrics take are not
        moved by one slow pass. A traced run alternates untraced and
        traced passes, starting untraced, for ``trace.overhead_s``."""
        for n in range(n_passes):
            if self.tracer is not None:
                self.tracer.enabled = n % 2 == 1
            w0 = time.time()
            one_pass(n)
            # the pass's own time: its operations, not the checks between them
            self.passes.append(sum(o.seconds for o in self.ops if o.pass_no == n))
            self.pass_windows.append((w0, time.time()))
            self.traced_passes.append(self.tracing)
        if self.tracer is not None:
            self.tracer.enabled = True

    def setup_round(self, name: str, fn) -> None:
        t0 = time.perf_counter()
        with self.span(f"setup.{name}"):
            fn()
        self.rounds.append(time.perf_counter() - t0)

    def layer(self, name: str, fn):
        t0 = time.perf_counter()
        with self.span(f"shared.{name}"):
            out = fn()
        self.layers.setdefault(name, []).append(time.perf_counter() - t0)
        return out


def _write_noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# tool_calls and log_refresh: the MCP tool surface over a LogStore
# ---------------------------------------------------------------------------


def _tool_args(rng: random.Random, nodes: list[str]) -> dict[str, tuple]:
    return {
        "analyze_cluster_report": (),
        "search_report": (
            rng.choice(SEARCH_PATTERNS), rng.random() < 0.5, rng.choice([None] + nodes),
        ),
        "errors_report": (rng.choice([None] + nodes),),
        "compare_report": (rng.choice([None, sorted(rng.sample(nodes, 3))]),),
        "issues_report": (rng.choice(SEVERITIES),),
        "health_report": (),
    }


def _store(run: Run, api, glob: str, paste: str | None):
    store = api.LogStore(run.spark)
    store.add_glob(glob)
    if paste is not None:
        store.add_pasted(PASTE_NODE, paste)
    return store


def tool_calls(run: Run, api) -> None:
    """Read-only MCP session: a fixed round-robin over the six read
    tools, each called as ``server.call_tool`` calls it, on a cached
    parsed layer built once in set-up."""
    rng = random.Random(run.seed)
    logs = os.path.join(run.work, "logs")
    srcs = loggen.make_cluster(logs, run.seed, NODES, LINES_PER_NODE)
    paste = srcs["node0"].lines(LINES_PER_NODE // 10)
    paste_text = "\n".join(paste)
    ref = Reference()
    for node in sorted(srcs):
        ref.add_dir(node, os.path.join(logs, node))
    ref.add_lines(PASTE_NODE, paste)
    nodes = sorted(ref.nodes)
    expected: dict[tuple, str] = {}

    def check(tool: str, args: tuple):
        def judge(out: str) -> str | None:
            key = (tool, repr(args))
            if key not in expected:
                expected[key] = getattr(ref, tool)(*args)
            return None if out == expected[key] else f"{tool}{args}: report differs from reference"
        return judge

    def call(store, tool: str, args: tuple):
        return lambda: getattr(api, tool)(store.flagged(), *args)

    box = {}

    def build():
        run.spark.catalog.clearCache()
        box["store"] = _store(run, api, f"{logs}/*/system.log*", paste_text)
        with run.span("api.LogStore.flagged.count"):
            box["store"].flagged().count()

    for _ in range(SETUP_ROUNDS):
        run.setup_round("tool_calls", build)
    store = box["store"]

    warm_rng = random.Random(run.seed + 10_000)

    def one_pass(n: int) -> None:
        args = _tool_args(warm_rng if n < 0 else rng, nodes)
        for tool in TOOLS:
            run.op(tool, n, call(store, tool, args[tool]), check(tool, args[tool]))

    # Set-up never plans the tools' queries: on a 4-core host the first
    # pass took 1.5-2.5 times as long as the third. A warm-up pass with
    # other arguments comes first.
    run.warm_up(one_pass, TOOL_WARMUP_PASSES)
    run.timed(one_pass, run.n_passes(7.0))


def log_refresh(run: Run, api) -> None:
    """Writes beside reads on one LogStore: each operation is one
    seeded write (a rotated file lands, lines are appended to a live
    file, or a node's logs are pasted through ``load_logs``) followed
    by ``compare_report``, which must count every line written so far."""
    rng = random.Random(run.seed)
    logs = os.path.join(run.work, "logs")
    srcs = loggen.make_cluster(logs, run.seed, NODES, REFRESH_LINES_PER_NODE)
    ref = Reference()
    for node in sorted(srcs):
        ref.add_dir(node, os.path.join(logs, node))
    nodes = sorted(srcs)
    box = {}

    def build():
        run.spark.catalog.clearCache()
        box["store"] = _store(run, api, f"{logs}/*/system.log*", None)
        box["store"].flagged().count()

    for _ in range(SETUP_ROUNDS):
        run.setup_round("log_refresh", build)
    store = box["store"]
    rotated = {n: len(loggen.ROTATED) for n in nodes}

    pasted: set[str] = set()

    def write(kind: str, node: str, lines: list[str]) -> None:
        if kind == "rotate":
            loggen.write(os.path.join(logs, node, f"system.log.{rotated[node]}"), lines)
            rotated[node] += 1
        elif kind == "append":
            loggen.write(os.path.join(logs, node, "system.log"), lines, mode="a")
        else:
            store.add_pasted(node, "\n".join(lines))

    def one_pass(n: int) -> None:
        for kind in ("rotate", "append", "paste"):
            node = rng.choice(nodes)
            label = kind if kind != "paste" else (
                "paste again" if node in pasted else "first paste")
            # generating the lines and the reference's parse of them
            # are the benchmark's work, done before the timing starts
            lines = srcs[node].lines(rng.randrange(50, 400))
            ref.add_lines(node, lines)
            if kind == "paste":
                pasted.add(node)

            def op(kind=kind, node=node, lines=lines):
                with run.span(f"write.{kind}"):
                    write(kind, node, lines)
                return api.compare_report(store.flagged())

            before = storage(run.spark)[0]
            run.op("compare_report", n, op,
                   lambda out: None if out == ref.compare_report() else
                   "stale compare_report", kind=label)
            rebuilt = storage(run.spark)[0] > before
            run.extra["refresh.rebuilds"] = run.extra.get("refresh.rebuilds", 0) + rebuilt
            run.extra["refresh.writes"] = run.extra.get("refresh.writes", 0) + 1

    run.timed(one_pass, run.n_passes(3.0))


def storage(spark) -> tuple[int, float]:
    """(cached RDDs, MB held in memory and on disk) from the JVM."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return len(infos), sum(i.memSize() + i.diskSize() for i in infos) / 2**20


# ---------------------------------------------------------------------------
# query_slate and stream_bridges: registry queries at the sf0.01 testdata
# ---------------------------------------------------------------------------


def owning_module(fn) -> str:
    """The module that owns a registry query; queries registered
    through ``_on_logs`` belong to ``operators.analysis``."""
    if fn.__qualname__.startswith("_on_logs."):
        return "analysis"
    return fn.__module__.rsplit(".", 1)[-1]


def _shared_layers(run: Run, sf: str, streaming: bool) -> None:
    """Build the shared build-once layers, as bench.py does; the silver
    ingest stream only for a set of ``streaming_*`` bridges, the one
    kind of query that reads it."""
    from cassandra_log_analyzer_mcp_spark.operators.dedup import _doc_shingle_arrays
    from cassandra_log_analyzer_mcp_spark.operators.similarity import (
        kmeans_assignments, kmeans_centroid_state,
    )
    from cassandra_log_analyzer_mcp_spark.sources.silver import silver_path
    from cassandra_log_analyzer_mcp_spark.sources.tables import logs_flagged
    from cassandra_log_analyzer_mcp_spark.streaming.batch_bridge import _landed_silver_dir

    spark = run.spark
    run.layer("logs_flagged", lambda: _write_noop(logs_flagged(spark, sf)))
    run.layer("shingle_arrays", lambda: _write_noop(_doc_shingle_arrays(spark, sf)))
    if streaming:
        run.layer("silver_stream", lambda: _landed_silver_dir(spark, sf))
    run.layer("batch_silver", lambda: silver_path(spark, sf))
    run.layer("kmeans_index", lambda: (
        _write_noop(kmeans_assignments(spark, sf)), kmeans_centroid_state(spark, sf)))


def slate(run: Run, registry, names: list[str], nominal_pass_s: float) -> None:
    """Registry queries in a seeded order, each built, planned and
    collected; every result is hashed and compared with its DuckDB
    oracle twin after the timed phase."""
    qs = registry.queries()
    streaming = any(n.startswith("streaming_") for n in names)
    order = list(names)
    random.Random(run.seed).shuffle(order)

    def query(name: str, sf: str):
        q = qs[name]
        mod = owning_module(q)

        def go():
            with run.span(f"registry.{mod}.build"):
                df = q(run.spark, sf)
            with run.span(f"registry.{mod}.plan"):
                df._jdf.queryExecution().executedPlan()
            with run.span(f"registry.{mod}.exec"):
                return df.toPandas()
        return go

    # Layers, memos and cached frames are keyed by the sf dir, so each
    # set-up round builds the shared layers over its own copy of the
    # tables; the timed passes run on the last copy.
    copies = [os.path.join(run.work, f"sf0.01-{k}") for k in range(SETUP_ROUNDS)]
    for sf in copies:
        shutil.copytree(TABLES, sf)
        run.setup_round("shared_layers", lambda sf=sf: _shared_layers(run, sf, streaming))

    results: dict[str, list[tuple]] = {}

    def keep(name: str):
        def judge(df) -> None:
            results.setdefault(name, []).append(result_key(df))
        return judge

    def one_pass(n: int) -> None:
        for name in order:
            run.op(name, n, query(name, copies[-1]), keep(name))

    run.timed(one_pass, run.n_passes(nominal_pass_s))

    # oracle comparison, outside the timed phase: a mismatch turns
    # every operation of that query into a failure, reported by name
    sql = registry.oracle_sql()
    orc = Oracle(TABLES, sql)
    try:
        for name, got in results.items():
            if name not in sql:
                continue  # rows-only query: no oracle twin
            want = orc.key(name)
            for op, key in zip([o for o in run.ops if o.name == name and o.ok], got):
                if key != want:
                    op.ok = False
                    op.reason = f"{name}: result differs from DuckDB oracle"
    finally:
        orc.close()


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0
