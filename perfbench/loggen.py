"""Seeded Cassandra ``system.log`` generator.

Lines follow the format the reference parser reads
(``LEVEL [timestamp] [thread] Class:line - message``). About one ERROR
in three is followed by a Java stack trace whose continuation lines the
parser must drop. Each node's history is split over rotated files,
oldest in ``system.log.2``, newest in ``system.log``.
"""

from __future__ import annotations

import os
import random
from datetime import datetime, timedelta

ERRORS = [
    ("StorageProxy", "Operation timed out - received only {a} responses"),
    ("JVMStabilityInspector", "java.lang.OutOfMemoryError: Java heap space"),
    ("OutboundTcpConnection", "Connection to /10.0.{a}.{b} refused"),
    ("CompactionManager", "Compaction failed for sstable nb-{n}-big-Data.db"),
    ("StorageProxy", "UnavailableException: Cannot achieve consistency level QUORUM"),
    ("RepairSession", "Repair session {n} failed on range ({a},{b}]"),
    ("MessagingService", "Dropped {a} MUTATION messages in the last 5000ms"),
    ("ReadCallback", "Coordinator timeout for read at LOCAL_QUORUM"),
    ("CassandraDaemon", "Exception in thread Thread[CompactionExecutor:{a},1,main]"),
]
WARNS = [
    ("GCInspector", "G1 Old Generation GC pause of {n}ms exceeded threshold"),
    ("ReadCommand", "Read {n} live rows and {m} tombstone cells, tombstone warning threshold hit"),
    ("MonitoringTask", "Slow query: SELECT * FROM ks.t{a} took {n}ms"),
    ("BatchStatement", "Batch for [ks.t{a}] is of size {n}KiB, batch too large"),
    ("HeapUtils", "Heap pressure warning: memtable flush triggered at {a}%"),
    ("StreamSession", "Streaming session {n} failed with peer /10.0.{a}.{b}"),
    ("NoSpamLogger", "Maximum memory usage reached, cannot allocate chunk of {n}B"),
]
INFOS = [
    ("Memtable", "Completed flushing nb-{n}-big-Data.db ({a} KiB) for commitlog position {m}"),
    ("OutboundTcpConnection", "Handshaking version with /10.0.{a}.{b}"),
    ("ColumnFamilyStore", "Enqueuing flush of t{a}: {n} bytes on-heap"),
    ("CompactionTask", "Compacted {a} sstables to [nb-{n}-big] in {m}ms"),
    ("HintsService", "Dropped {a} HINT messages during drain"),
    ("Gossiper", "InetAddress /10.0.{a}.{b} is now UP"),
    ("StatusLogger", "Pool Name Active Pending Completed Blocked ({n})"),
    ("GCInspector", "ParNew GC in {a}ms. Eden space used {n}"),
]
INFO_WEIGHTS = [6, 6, 6, 6, 1, 6, 6, 6]
THREADS = ["ReadStage-{}", "MutationStage-{}", "CompactionExecutor:{}", "GossipStage:{}",
           "ScheduledTasks:{}", "MemtableFlushWriter:{}", "Native-Transport-Requests-{}"]
STACK = [
    "java.lang.RuntimeException: {msg}",
    "\tat org.apache.cassandra.db.ColumnFamilyStore.apply(ColumnFamilyStore.java:{a})",
    "\tat org.apache.cassandra.concurrent.SEPWorker.run(SEPWorker.java:{b})",
    "\tat java.base/java.lang.Thread.run(Thread.java:829)",
]
START = datetime(2024, 3, 1)
ROTATED = ["system.log.2", "system.log.1", "system.log"]


class NodeLog:
    """One node's line source: a seeded clock and message stream."""

    def __init__(self, seed: int, node: str):
        self.rng = random.Random(f"{seed}:{node}")
        self.now = START + timedelta(seconds=self.rng.randrange(600))

    def lines(self, n: int) -> list[str]:
        """The next ``n`` log entries (plus any stack-trace lines)."""
        rng, out = self.rng, []
        for _ in range(n):
            # mostly steady traffic with occasional quiet spells, so
            # error bursts (300 s gap) start and end inside a file
            self.now += timedelta(milliseconds=rng.randrange(1, 900 if rng.random() < 0.995 else 900_000))
            r = rng.random()
            if r < 0.04:
                level, (clazz, tmpl) = "ERROR", ERRORS[rng.randrange(len(ERRORS))]
            elif r < 0.13:
                level, (clazz, tmpl) = "WARN", WARNS[rng.randrange(len(WARNS))]
            else:
                level, (clazz, tmpl) = "INFO", rng.choices(INFOS, INFO_WEIGHTS)[0]
            msg = tmpl.format(a=rng.randrange(1, 99), b=rng.randrange(1, 255),
                              n=rng.randrange(1000, 99999), m=rng.randrange(10, 9999))
            ts = self.now.strftime("%Y-%m-%d %H:%M:%S,") + f"{self.now.microsecond // 1000:03d}"
            thread = THREADS[rng.randrange(len(THREADS))].format(rng.randrange(1, 32))
            out.append(f"{level} [{ts}] [{thread}] {clazz}:{rng.randrange(40, 900)} - {msg}")
            if level == "ERROR" and rng.random() < 0.35:
                out += [s.format(msg=msg, a=rng.randrange(100, 999), b=rng.randrange(90, 140)) for s in STACK]
        return out


def write(path: str, lines: list[str], mode: str = "w") -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, mode) as fh:
        fh.write("\n".join(lines) + "\n")


def make_cluster(root: str, seed: int, nodes: int, lines_per_node: int) -> dict[str, NodeLog]:
    """Write ``nodes`` node directories under ``root``, each holding
    ``lines_per_node`` entries over the rotated files; returns each
    node's line source, positioned after its last written entry."""
    sources = {}
    for i in range(nodes):
        node = f"node{i}"
        src = sources[node] = NodeLog(seed, node)
        per_file = lines_per_node // len(ROTATED)
        for k, name in enumerate(ROTATED):
            n = per_file if k < len(ROTATED) - 1 else lines_per_node - per_file * (len(ROTATED) - 1)
            write(os.path.join(root, node, name), src.lines(n))
    return sources
