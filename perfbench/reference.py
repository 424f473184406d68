"""Pure-Python reference for the six read tools' markdown reports.

A port of the reference server's ``parse_log_line`` regex, its
``ERROR_PATTERNS``/``WARNING_PATTERNS`` tables and its recommendation
threshold rules, kept independent of the engine so that a wrong or
stale engine answer shows as a mismatch. Where the engine deliberately
differs from the reference, this follows the engine:

- a line is parsed when the regex matches anywhere in it (Spark
  ``regexp_extract``), so stack-trace continuation lines are dropped;
- line ids count every raw line of a node's files, files taken in
  name order (``system.log`` before ``system.log.1``), and search line
  numbers rank the parsed lines of a node by that id;
- error lists are ordered by (node, timestamp, line id).
"""

from __future__ import annotations

import bisect
import os
import re
from dataclasses import dataclass, field
from datetime import datetime, timezone
from decimal import ROUND_HALF_UP, Decimal

LOG_LINE_REGEX = re.compile(
    r"(\w+)\s+\[([^\]]+)\]\s+\[([^\]]+)\]\s+([^:]+):(\d+)\s+-\s+(.*)"
)
ERROR_PATTERNS = {
    "timeout": r"(?i)(timeout|timed out|TimedOut)",
    "oom": r"(?i)(OutOfMemory|java\.lang\.OutOfMemoryError)",
    "connection": r"(?i)(connection.*(?:refused|failed|lost|closed))",
    "compaction": r"(?i)(compaction.*(?:error|failed))",
    "repair": r"(?i)(repair.*(?:error|failed))",
    "gc": r"(?i)(GC.*(?:pause|exceeded))",
    "tombstone": r"(?i)(tombstone.*(?:warning|exceeded))",
    "dropped": r"(?i)(dropped.*messages?)",
    "unavailable": r"(?i)(UnavailableException)",
    "coordinator": r"(?i)(coordinator.*(?:timeout|failed))",
}
WARNING_PATTERNS = {
    "heap": r"(?i)(heap.*(?:pressure|warning))",
    "slow_query": r"(?i)(slow.*query)",
    "batch": r"(?i)(batch.*(?:too large|warning))",
    "streaming": r"(?i)(streaming.*(?:failed|error))",
}
PATTERNS = {k: re.compile(v) for k, v in {**ERROR_PATTERNS, **WARNING_PATTERNS}.items()}
SEVERITY = {**{k: "ERROR" for k in ERROR_PATTERNS}, **{k: "WARNING" for k in WARNING_PATTERNS}}
# (issue, threshold, severity, recommendation): fires when count > threshold
RULES = [
    ("timeout", 10, "HIGH", "Check network latency, increase timeouts, or optimize queries"),
    ("oom", 0, "CRITICAL", "Increase JVM heap or reduce load; check for memory leaks"),
    ("tombstone", 5, "MEDIUM", "Review the data model, adjust gc_grace_seconds, or raise "
     "tombstone_warn_threshold"),
    ("gc", 5, "HIGH", "Tune the JVM heap, consider G1GC, or reduce load"),
    ("dropped", 10, "HIGH", "Cluster overloaded: add nodes or optimize queries"),
]
DROPPED = re.compile(r"Dropped (\d+) (\w+) messages")
BURST_GAP_S = 300
HEALTH_WEIGHTS = (5, 1, 50, 2)  # errors, warnings, bursts, dropped messages


@dataclass
class Entry:
    line_id: int
    raw: str
    level: str
    ts_str: str
    message: str
    issues: list[str]
    is_error: bool
    is_warning: bool

    @property
    def ts(self) -> datetime:
        return datetime.strptime(self.ts_str.replace(",", "."), "%Y-%m-%d %H:%M:%S.%f").replace(
            tzinfo=timezone.utc
        )


def parse(line_id: int, raw: str) -> Entry | None:
    m = LOG_LINE_REGEX.search(raw)
    if m is None:
        return None
    level, ts_str, msg = m.group(1), m.group(2), m.group(6)
    issues = [k for k, p in PATTERNS.items() if p.search(msg)]
    return Entry(
        line_id, raw, level, ts_str, msg, issues,
        level == "ERROR" or any(SEVERITY[i] == "ERROR" for i in issues),
        level == "WARN" or any(SEVERITY[i] == "WARNING" for i in issues),
    )


def _round4(x: float) -> float:
    return float(Decimal(repr(x)).quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP))


@dataclass
class Reference:
    """Parsed entries per node, each list ordered by line id."""

    nodes: dict[str, list[Entry]] = field(default_factory=dict)

    def add_dir(self, node: str, node_dir: str) -> None:
        """Read one node directory the way the engine numbers it."""
        offset = 0
        for name in sorted(os.listdir(node_dir)):
            with open(os.path.join(node_dir, name)) as fh:
                raws = fh.read().splitlines()
            self.add_lines(node, raws, offset)
            offset += len(raws)

    def add_lines(self, node: str, raws: list[str], first_id: int | None = None) -> None:
        """Parse ``raws`` as lines ``first_id + 1, ...`` of ``node``;
        by default they follow the node's last line."""
        out = self.nodes.setdefault(node, [])
        if first_id is None:
            first_id = out[-1].line_id if out else 0
        for i, raw in enumerate(raws, start=first_id + 1):
            e = parse(i, raw)
            if e is None:
                continue
            if not out or out[-1].line_id < e.line_id:
                out.append(e)
            else:
                bisect.insort(out, e, key=lambda x: x.line_id)

    def _all(self):
        for node in sorted(self.nodes):
            yield from ((node, e) for e in self.nodes[node])

    def summary(self) -> dict[str, tuple[int, int, int]]:
        return {
            n: (sum(e.is_error for e in es), sum(e.is_warning for e in es), len(es))
            for n, es in sorted(self.nodes.items())
        }

    def recommendations(self) -> list[tuple[str, str, str]]:
        counts = {i: 0 for i, *_ in RULES}
        for _, e in self._all():
            for i in e.issues:  # the patterns that matched the message
                if i in counts:
                    counts[i] += 1
        return [(i, sev, rec) for i, thr, sev, rec in RULES if counts[i] > thr]

    # -- the six reports, rendered exactly as the tool surface renders them --

    def analyze_cluster_report(self) -> str:
        out = ["# Cassandra Cluster Analysis", "", "## Summary by Node"]
        for n, (err, warn, total) in self.summary().items():
            out += [f"\n### {n}", f"- Errors: {err}", f"- Warnings: {warn}", f"- Total lines: {total}"]
        counts: dict[str, int] = {}
        for _, e in self._all():
            for i in e.issues:
                counts[i] = counts.get(i, 0) + 1
        out += ["", "## Detected Issues"]
        for i, c in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0])):
            out.append(f"- {i}: {c} occurrences")
        recs = self.recommendations()
        if recs:
            out += ["", "## Recommendations"]
            for i, sev, rec in recs:
                out += [f"\n**{i}** ({sev})", f"→ {rec}"]
        return "\n".join(out)

    def search_report(self, pattern: str, case_sensitive: bool = False,
                      node_filter: str | None = None, limit: int = 100) -> str:
        rx = re.compile(pattern if case_sensitive else f"(?i){pattern}")
        hits = []
        for node in sorted(self.nodes):
            if node_filter and node != node_filter:
                continue
            for num, e in enumerate(self.nodes[node], start=1):
                if rx.search(e.raw):
                    hits.append((node, num, e.raw))
        out = [f"# Search results: '{pattern}'", "", f"Total: {len(hits)}", ""]
        for node, num, raw in hits[:limit]:
            out += [f"**{node}** (line {num})", "```", raw, "```", ""]
        if len(hits) > limit:
            out.append(f"... and {len(hits) - limit} more results")
        return "\n".join(out)

    def errors_report(self, node_name: str | None = None, limit: int = 50) -> str:
        errs = sorted(
            ((n, e.ts, e.line_id, e) for n, e in self._all()
             if e.is_error and (not node_name or n == node_name)),
            key=lambda t: t[:3],
        )[:limit]
        out = [f"# Errors ({len(errs)})", ""]
        for n, _, _, e in errs:
            out += [f"**{n}** [{e.ts_str}]", "```", e.message, "```", ""]
        return "\n".join(out)

    def compare_report(self, nodes: list[str] | None = None) -> str:
        rows = sorted(self.summary().items(), key=lambda kv: (-kv[1][0], kv[0]))
        out = [
            "# Node Comparison",
            "",
            "| Node | Errors | Warnings | Lines | Error rate |",
            "|------|--------|----------|-------|------------|",
        ]
        for n, (err, warn, total) in rows:
            if not nodes or n in nodes:
                out.append(f"| {n} | {err} | {warn} | {total} | {_round4(err / total)} |")
        return "\n".join(out)

    def issues_report(self, severity: str = "all") -> str:
        out = ["# Detected Issues", ""]
        for i, sev, rec in self.recommendations():
            if severity == "all" or sev.lower() == severity.lower():
                out += [f"**{i}** ({sev})", f"→ {rec}", ""]
        return "\n".join(out)

    def health_report(self) -> str:
        scored = []
        for n, (err, warn, _) in self.summary().items():
            secs = sorted(int(e.ts.timestamp() // 1) for e in self.nodes[n] if e.is_error)
            bursts = sum(1 for a, b in zip([None] + secs, secs) if a is None or b - a > BURST_GAP_S)
            dropped = sum(
                int(m.group(1)) for e in self.nodes[n] if (m := DROPPED.search(e.message))
            )
            we, ww, wb, wd = HEALTH_WEIGHTS
            scored.append((we * err + ww * warn + wb * bursts + wd * dropped, n, err, warn, bursts, dropped))
        top = max(s[0] for s in scored)
        out = [
            "# Cluster Health",
            "",
            "| Rank | Node | Grade | Penalty | Errors | Warnings | Bursts | Dropped |",
            "|------|------|-------|---------|--------|----------|--------|---------|",
        ]
        attention = []
        for rank, (pen, n, err, warn, bursts, dropped) in enumerate(
            sorted(scored, key=lambda s: (-s[0], s[1])), start=1
        ):
            grade = "attention" if 4 * pen >= 3 * top else "watch" if 2 * pen >= top else "ok"
            out.append(f"| {rank} | {n} | {grade} | {pen} | {err} | {warn} | {bursts} | {dropped} |")
            if grade != "ok":
                attention.append(f"{n} ({grade})")
        if attention:
            out += ["", "Needs attention: " + ", ".join(attention)]
        return "\n".join(out)
