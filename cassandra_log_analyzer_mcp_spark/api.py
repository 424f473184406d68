"""Report/tool surface — parity with the reference MCP server's tools.

The reference renders analysis as markdown text for an LLM client
(ref handle_call_tool :582-857). This module is that surface on top of
the Spark engine: each function mirrors one tool's report shape. Only
final small aggregates are collected to the driver — every scan stays
distributed.

``LogStore`` replaces the reference's in-memory ``logs_storage`` dict:
nodes register log *paths* (local/HDFS/S3 globs or pasted content
landed to disk), and analysis reads them through the distributed
sources. That is the design change that takes the tool surface from
one-machine-RAM to 100 TB.

Every read tool runs over ONE cached parsed layer per store
(``LogStore.flagged``), rebuilt only when the store's version changes:
a registered file's path, length or modification time, or a paste.
Each glob's lister is chosen once, at registration: a glob on the
local file system is listed with Python's ``glob`` and ``os.stat``
(no JVM round trip), and any other glob (HDFS/S3, or local with
syntax only Hadoop reads) through its Hadoop FileSystem, so every
glob versions. A call on an unchanged store pays that listing and one
JVM call chain to see the layer still cached. A rebuild unpersists
the superseded layer first, so a store holds one cache entry however
often its logs change. ``session.clear_caches`` is safe: the next
call finds the layer uncached and rebuilds it.

Four of the six read tools render from small per-node rollups kept
next to that layer (``_ROLLUPS``), each collected the first time a
tool needs it for the layer's version: ``"nodes"`` (errors, warnings,
lines, error rate and every issue's count per node) answers
analyze_cluster, compare_nodes and detect_issues; ``"health"`` (the
ranked ``node_health_score`` rows) answers cluster_health. They go
when their layer does: a rebuild supersedes the frame (its entry is
freed with it), ``clear_caches`` empties the map, and a layer found
uncached drops its entry and is rolled up directly. Frames that are
not a store's layer are never memoized. search_logs and get_errors
depend on their arguments, so each call is one Spark job over the
cached layer: a per-partition top-k plus a merge, with no shuffle of
the layer. search's per-node line numbers are the layer's
``line_number`` column, numbered once at ingest (``read_log_dir``).
"""

from __future__ import annotations

import functools
import glob
import logging
import os
import re
import weakref
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .memo import work_dir
from .functions.parsing import (
    ALL_PATTERNS,
    RECOMMENDATION_RULES,
    parse_lines,
    with_issue_flags,
)
from .operators import analysis
from .sources.logfiles import read_log_dir

_log = logging.getLogger(__name__)

#: glob syntax that Python's ``glob`` reads otherwise than Hadoop's:
#: brace alternation, a backslash escape, a ``[^…]`` class
_HADOOP_ONLY_SYNTAX = re.compile(r"[{}\\]|\[\^")


class LogStore:
    """Registered log locations, one or more per node."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        #: registered glob -> its lister, in registration order
        self._globs: dict[str, Callable[[], list[tuple]]] = {}
        self._paste_dir: str | None = None
        self._pastes = 0
        self._layer: DataFrame | None = None
        self._layer_version: tuple | None = None

    def add_glob(self, path_glob: str) -> None:
        """Register a directory glob whose paths encode the node name
        (…/<node>/<file>.log). A glob already registered is ignored:
        read twice, its lines would count twice."""
        if path_glob not in self._globs:
            self._globs[path_glob] = _glob_lister(self.spark, path_glob)

    def add_pasted(self, node_name: str, content: str) -> None:
        """Parity with the reference's manual load_logs tool (ref
        :724-736): land pasted content to a local staging dir."""
        if self._paste_dir is None:
            self._paste_dir = work_dir("logstore")
            self.add_glob(f"{self._paste_dir}/*/*.log")
        d = os.path.join(self._paste_dir, node_name)
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "pasted.log"), "a") as fh:
            fh.write(content if content.endswith("\n") else content + "\n")
        self._pastes += 1

    def _version(self) -> tuple:
        """(pastes, (path, length, mtime) of every file the globs
        match, each glob listed by the lister ``add_glob`` chose)."""
        return self._pastes, tuple(f for ls in self._globs.values() for f in ls())

    def lines(self) -> DataFrame:
        """Every registered glob read as one source: a node's line
        numbers continue across globs in registration order, so a
        paste follows the node's files."""
        if not self._globs:
            raise ValueError("no logs loaded — register a glob or paste content")
        return read_log_dir(self.spark, list(self._globs))

    def flagged(self) -> DataFrame:
        """The store's cached parsed + issue-flagged layer. The same
        frame comes back while ``_version()`` is unchanged and the frame
        is still cached; otherwise the old frame is unpersisted (its
        plan names the same files, so a stale CacheManager entry would
        otherwise answer for the new one) and the layer is rebuilt."""
        version = self._version()
        if (
            self._layer is not None
            and version == self._layer_version
            and _cached(self._layer)
        ):
            return self._layer
        if self._layer is not None:
            self._layer.unpersist()
        self._layer = with_issue_flags(parse_lines(self.lines())).cache()
        self._layer_version = version
        _ROLLUPS[self._layer] = {}
        return self._layer

    def nodes(self) -> list[str]:
        """The nodes of the store's layer, from its "nodes" rollup."""
        return sorted(r.node for r in _rollup(self.flagged(), "nodes"))


def _glob_lister(spark: SparkSession, path_glob: str) -> Callable[[], list[tuple]]:
    """How ``LogStore._version`` lists the files ``path_glob`` matches
    as (path, length, mtime); a matched directory contributes its
    entries, as ``spark.read.text`` reads them. The glob's Hadoop
    FileSystem is resolved here, once. A local (``file``) glob whose
    syntax Python's ``glob`` reads as Hadoop does (``*``, ``?``,
    ``[…]`` without ``^``) is qualified as Hadoop resolves it and then
    listed without a JVM round trip; any other glob is listed through
    its FileSystem. A local glob kept on that listing for its syntax
    is logged here."""
    path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path_glob)
    fs = path.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    uri = fs.makeQualified(path).toUri()
    if uri.getScheme() == "file":
        pattern = uri.getPath()
        if not _HADOOP_ONLY_SYNTAX.search(pattern):
            return functools.partial(_local_files, pattern)
        _log.warning(
            "LogStore: %s uses glob syntax Python's glob reads otherwise; "
            "it is versioned through the Hadoop FileSystem, a few py4j "
            "calls per file on every tool call", path_glob,
        )
    return functools.partial(_hadoop_files, fs, path)


def _local_files(pattern: str) -> list[tuple]:
    """``_hadoop_files``' (path, length, mtime in ms) triples for a
    local glob, from ``os.stat``. Unlike ``LocalFileSystem`` it also
    lists the ``.*.crc`` checksum files a wildcard or directory
    matches; those change only with the file they guard. A file that
    goes between the match and its ``stat`` (a rotation) is left out,
    as a Hadoop listing taken after it would leave it out."""
    files = []
    for match in sorted(glob.glob(pattern, include_hidden=True)):
        if os.path.isdir(match):
            entries = sorted(e.path for e in os.scandir(match))
        else:
            entries = [match]
        for p in entries:
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            files.append((f"file:{p}", st.st_size, st.st_mtime_ns // 1_000_000))
    return files


def _hadoop_files(fs, path) -> list[tuple]:
    """(path, length, mtime in ms) per file ``path`` matches, listed
    through the Hadoop FileSystem ``fs`` — driver-side metadata calls,
    no Spark job — so HDFS/S3 globs version too."""
    files = []
    for st in fs.globStatus(path) or []:
        for f in fs.listStatus(st.getPath()) if st.isDirectory() else [st]:
            files.append((f.getPath().toString(), f.getLen(), f.getModificationTime()))
    return files


def _cached(df: DataFrame) -> bool:
    """``df.storageLevel != StorageLevel.NONE`` in one JVM call chain;
    pyspark's ``storageLevel`` makes six py4j calls."""
    return df._jdf.storageLevel().isValid()


def _cluster_markdown(summary, issues, recs) -> str:
    """analyze_cluster's markdown from node rows (node, errors,
    warnings, total_lines) in node order, (issue, n) pairs in (-n,
    issue) order and fired (issue, severity, recommendation) rules in
    rule order."""
    out = ["# Cassandra Cluster Analysis", "", "## Summary by Node"]
    for r in summary:
        out += [
            f"\n### {r.node}",
            f"- Errors: {r.errors}",
            f"- Warnings: {r.warnings}",
            f"- Total lines: {r.total_lines}",
        ]
    out += ["", "## Detected Issues"]
    for issue, n in issues:
        out.append(f"- {issue}: {n} occurrences")
    if recs:
        out += ["", "## Recommendations"]
        for issue, severity, rec in recs:
            out += [f"\n**{issue}** ({severity})", f"→ {rec}"]
    return "\n".join(out)


def _node_rollup(flagged: DataFrame) -> list:
    """Per node: errors, warnings, total_lines, each issue's count
    (from the cached ``issues`` array) and error_rate, rounded in Spark
    as ``analysis.compare_nodes`` rounds it."""
    return analysis.node_summary(
        flagged,
        *[
            F.sum(F.array_contains("issues", i).cast("long")).alias(i)
            for i in ALL_PATTERNS
        ],
    ).withColumn(
        "error_rate", F.round(F.col("errors") / F.col("total_lines"), 4)
    ).collect()


def _health_rollup(flagged: DataFrame) -> list:
    return analysis.node_health_score(flagged).orderBy("rank").collect()


_ROLLUP_PARTS = {"nodes": _node_rollup, "health": _health_rollup}

#: LogStore layer frame -> {rollup part: collected rows}. ``flagged()``
#: registers each layer it builds; an entry is freed with its frame.
_ROLLUPS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _rollup(flagged: DataFrame, part: str) -> list:
    """The ``part`` rollup of ``flagged``, collected once per
    registered, still-cached layer; any other frame is rolled up on
    every call."""
    memo = _ROLLUPS.get(flagged)
    if memo is not None and not _cached(flagged):
        del _ROLLUPS[flagged]
        memo = None
    if memo is None:
        return _ROLLUP_PARTS[part](flagged)
    if part not in memo:
        memo[part] = _ROLLUP_PARTS[part](flagged)
    return memo[part]


def _fired_rules(rows) -> tuple[dict, list]:
    """Cluster-wide issue totals over node rollup rows, and the
    RECOMMENDATION_RULES they fire as (issue, severity, recommendation)
    in rule order — what ``analysis.recommendations`` computes."""
    totals = {i: sum(r[i] for r in rows) for i in ALL_PATTERNS}
    recs = [
        (issue, sev, rec)
        for issue, thr, sev, rec in RECOMMENDATION_RULES
        if totals[issue] > thr
    ]
    return totals, recs


def analyze_cluster_report(flagged: DataFrame) -> str:
    """Markdown parity with the reference's analyze_cluster (ref :738-771).

    Rendered from the ``"nodes"`` rollup: the cluster-wide issue counts
    and the fired RECOMMENDATION_RULES derive from its ≤ N-node rows —
    the same numbers ``analysis.node_summary`` / ``issue_counts`` /
    ``recommendations`` compute as three separate jobs."""
    rows = sorted(_rollup(flagged, "nodes"), key=lambda r: r.node)
    totals, recs = _fired_rules(rows)
    issues = sorted(
        ((i, n) for i, n in totals.items() if n), key=lambda x: (-x[1], x[0])
    )
    return _cluster_markdown(rows, issues, recs)


def search_report(flagged: DataFrame, pattern: str, case_sensitive: bool = False,
                  node_filter: str | None = None, limit: int = 100) -> str:
    """Markdown parity with search_logs (ref :773-799).

    One top-k scan: the first ``limit`` hits in (node, line_number)
    order, with the total hit count observed on the same scan. A
    ``LogStore`` layer carries ``line_number`` from ingest; any other
    frame is numbered on the call (``analysis._numbered_lines``)."""
    df = flagged
    if node_filter:
        df = df.filter(F.col("node") == node_filter)
    if "line_number" not in df.columns:
        df = analysis._numbered_lines(df)
    total = Observation()
    # a limit of 0 would plan no scan, so the observation would not fill
    shown = (
        df.filter(analysis.search_match(pattern, case_sensitive))
        .select("node", "line_number", "raw")
        .observe(total, F.count(F.lit(1)).alias("n"))
        .orderBy("node", "line_number").limit(max(limit, 1)).collect()
    )[:limit]
    n = total.get["n"]
    out = [f"# Search results: '{pattern}'", "", f"Total: {n}", ""]
    for r in shown:
        out += [f"**{r.node}** (line {r.line_number})", "```", r.raw, "```", ""]
    if n > limit:
        out.append(f"... and {n - limit} more results")
    return "\n".join(out)


def errors_report(flagged: DataFrame, node_name: str | None = None,
                  limit: int = 50) -> str:
    """Markdown parity with get_errors (ref :801-826): ONE list
    truncated to ``limit`` across nodes (the reference slices the
    concatenated per-node lists, ref :816-819) — served by
    get_errors_global, whose oracle pins exactly these semantics: one
    top-k scan of the layer."""
    df = flagged
    if node_name:
        df = df.filter(F.col("node") == node_name)
    errs = analysis.get_errors_global(df, limit=limit).orderBy("rn").collect()
    out = [f"# Errors ({len(errs)})", ""]
    for r in errs:
        out += [f"**{r.node}** [{r.ts_str}]", "```", r.message, "```", ""]
    return "\n".join(out)


def compare_report(flagged: DataFrame, nodes: list[str] | None = None) -> str:
    """Markdown parity with compare_nodes (ref :828-842): the
    ``"nodes"`` rollup in compare_nodes' rank order (errors desc,
    node)."""
    rows = sorted(_rollup(flagged, "nodes"), key=lambda r: (-r.errors, r.node))
    if nodes:
        rows = [r for r in rows if r.node in nodes]
    out = [
        "# Node Comparison",
        "",
        "| Node | Errors | Warnings | Lines | Error rate |",
        "|------|--------|----------|-------|------------|",
    ]
    for r in rows:
        out.append(
            f"| {r.node} | {r.errors} | {r.warnings} | {r.total_lines} | {r.error_rate} |"
        )
    return "\n".join(out)


def issues_report(flagged: DataFrame, severity: str = "all") -> str:
    """Markdown parity with detect_issues (ref :844-857): the rules the
    ``"nodes"`` rollup fires, in rule order."""
    _, recs = _fired_rules(_rollup(flagged, "nodes"))
    out = ["# Detected Issues", ""]
    for issue, sev, rec in recs:
        if severity == "all" or sev.lower() == severity.lower():
            out += [f"**{issue}** ({sev})", f"→ {rec}", ""]
    return "\n".join(out)


def health_report(flagged: DataFrame) -> str:
    """Markdown report over node_health_score (the ``"health"``
    rollup) — the composed report-card narrative the reference's
    analyze_cluster implies (who needs attention, ranked, with the
    penalty breakdown)."""
    rows = _rollup(flagged, "health")
    out = [
        "# Cluster Health",
        "",
        "| Rank | Node | Grade | Penalty | Errors | Warnings | Bursts | Dropped |",
        "|------|------|-------|---------|--------|----------|--------|---------|",
    ]
    for r in rows:
        out.append(
            f"| {r.rank} | {r.node} | {r.grade} | {r.penalty} |"
            f" {r.errors} | {r.warnings} | {r.n_bursts} | {r.n_dropped} |"
        )
    flagged_rows = [r for r in rows if r.grade != "ok"]
    if flagged_rows:
        out += ["", "Needs attention: " + ", ".join(
            f"{r.node} ({r.grade})" for r in flagged_rows
        )]
    return "\n".join(out)
