#!/usr/bin/env python3
"""Cache-footprint budget gate (round 7 — VERDICT r6 ask #5).

The r6 sf0.1 sweep OOM'd the pyspark-default 1g driver heap: the
designed session caches (parsed silver, shingle arrays, quantized
vectors, k-means assignment, big-ANN index) plus ~25 streaming memory
sinks accumulate silently in local mode, where executor blocks AND
driver-resident sink rows share one JVM. This gate makes the
footprint a MEASURED number with a budget:

1. build every designed cache layer + a representative memory-sink
   set (or the FULL registry surface with --full),
2. walk the CacheManager (RDDStorageInfo: per-RDD memory/disk bytes)
   and every ``stream_*`` memory-sink view (rows + Catalyst
   sizeInBytes estimate),
3. assert the total under SPARK_GRAFT_CACHE_BUDGET_MB (default 3072),
4. call session.clear_caches and assert everything released —
   zero cached blocks, zero stream_* views, an empty session memo.

Usage: python tools/cache_census.py [sf_dir] [--json PATH] [--full]
Exit 1 if over budget or if clear_caches leaves residue.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BUDGET_MB = int(os.environ.get("SPARK_GRAFT_CACHE_BUDGET_MB", "3072"))


def census(spark) -> dict:
    """Measured snapshot of everything the package parks in memory."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    rdds = [
        {
            "name": str(i.name()).splitlines()[0][:100]
            if i.name()
            else "(unnamed)",
            "mem_bytes": int(i.memSize()),
            "disk_bytes": int(i.diskSize()),
            "cached_partitions": int(i.numCachedPartitions()),
        }
        for i in infos
    ]
    sinks = []
    for t in spark.catalog.listTables():
        if not (t.isTemporary and t.name.startswith("stream_")):
            continue
        df = spark.table(t.name)
        est = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        sinks.append(
            {"name": t.name, "rows": df.count(), "est_bytes": est}
        )
    return {
        "cached_rdd_bytes": sum(r["mem_bytes"] + r["disk_bytes"] for r in rdds),
        "n_cached_rdds": len(rdds),
        "sink_est_bytes": sum(s["est_bytes"] for s in sinks),
        "n_sinks": len(sinks),
        "rdds": sorted(rdds, key=lambda r: -r["mem_bytes"])[:40],
        "sinks": sorted(sinks, key=lambda s: -s["est_bytes"]),
    }


#: the designed cache-building queries (one per cache layer) — the
#: representative set; --full sweeps the whole registry instead
REPRESENTATIVE = [
    "node_summary",            # logs_flagged silver cache
    "dedup_minhash_lsh",       # shingle arrays + band index
    "minhash_dedup_pr_eval",   # sampled truth pairs memo
    "kmeans_embeddings",       # k-means assignment cache
    "ann_ivf_kmeans",          # + trained centroid state
    "ann_ivf_probe_sweep_big",  # big-ANN assignment + brute caches
    "ann_ivf_pq_recall_big",   # + 8-bit code cache
    "dedup_minhash_recall_big",  # big-documents shingle-array cache
    "bpe_encode",              # BPE fold memo
    # six memory-sink bridges (complete-mode aggs, state folds)
    "streaming_issue_counts",
    "streaming_rack_counts",
    "streaming_windowed_alerts",
    "streaming_error_sessions",
    "streaming_funnel_state",
    "streaming_trend_state",
]


def main() -> int:
    argv = list(sys.argv[1:])
    json_path = None
    full = "--full" in argv
    if full:
        argv.remove("--full")
    if "--json" in argv:
        i = argv.index("--json")
        json_path = argv[i + 1]
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.1"

    from cassandra_log_analyzer_mcp_spark import memo
    from cassandra_log_analyzer_mcp_spark.plans import registry
    from cassandra_log_analyzer_mcp_spark.session import (
        clear_caches,
        local_spark,
    )

    spark = local_spark("cache_census")

    qs = registry.queries()
    names = list(qs) if full else REPRESENTATIVE
    t0 = time.perf_counter()
    errors: dict[str, str] = {}
    for name in names:
        try:
            qs[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception as e:  # keep walking; the census still counts
            errors[name] = str(e)[:200]
    build_s = round(time.perf_counter() - t0, 3)

    loaded = census(spark)
    total = loaded["cached_rdd_bytes"] + loaded["sink_est_bytes"]
    under = total <= BUDGET_MB * 1024 * 1024

    loaded["memo_entries"] = len(memo.entries())

    clear_caches(spark)
    after = census(spark)
    memos_empty = not memo.entries()
    released = (
        after["cached_rdd_bytes"] == 0
        and after["n_sinks"] == 0
        and memos_empty
    )

    out = {
        "sf_dir": sf_dir,
        "mode": "full" if full else "representative",
        "n_queries_built": len(names),
        "build_s": build_s,
        "budget_mb": BUDGET_MB,
        "total_bytes": total,
        "total_mb": round(total / 1024 / 1024, 1),
        "under_budget": under,
        "loaded": loaded,
        "after_clear_caches": {
            "cached_rdd_bytes": after["cached_rdd_bytes"],
            "n_cached_rdds": after["n_cached_rdds"],
            "n_sinks": after["n_sinks"],
            "module_memos_empty": memos_empty,
        },
        "released": released,
        "errors": errors,
        "ok": under and released and not errors,
    }
    text = json.dumps(out, indent=1)
    if json_path:
        with open(json_path, "w") as fh:
            fh.write(text)
    print(text)
    return 0 if out["ok"] else 1


if __name__ == "__main__":
    sys.exit(main())
