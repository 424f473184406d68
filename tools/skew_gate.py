#!/usr/bin/env python3
"""Measured skew-stress gate (round 6 — VERDICT r5 ask #2).

The plan-shape asserts in tests/test_skew.py prove the skew
treatments EXIST (salted exchanges, broadcast hot arms); this gate
proves they WORK at sf0.1 volume: it builds two derived drops with
IDENTICAL work volume but opposite key distributions, runs the
treated operators end-to-end on both, and asserts the pathological
drop costs no more than ~2x the spread drop.

Drops (both rewritten through the same write pipeline so file layout
and compression are identical — only the key distribution differs):

- events: SPREAD = the sf0.1 events as shipped (nodes uniform via
  user_id % 4); SKEW = user_id remapped so ONE node carries 90% of
  all 600k synthesized log lines (event_id % 10 < 9 -> node0).
- documents: both drops append a 9-token boilerplate sentence to
  every doc — SPREAD keys it by doc_id % 64 (64 medium grams, each
  duplicated across ~1/64 of docs), SKEW keys every doc identically
  (ONE mega-gram duplicated across the whole corpus). Total
  duplicated-gram occurrences are equal; only the bucket shape
  changes.

Operators under test (the salted/split treatments from the registry):
node_summary_salted (salted two-stage agg), doc_surprisal +
repeated_span_coverage + repeated_spans_merged (df-tier skew split:
hot grams broadcast, cold grams shuffle).

ROUND 8 (VERDICT r7 ask #3) — the minhash BAND-INDEX join itself:
a third drop pair plants a boilerplate band. 20% of docs get a
110-token boilerplate block appended — BANDSKEW keys every planted
doc identically (their boilerplate-dominated minhash bands collapse
into ONE mega-bucket holding ~10% of the corpus, the Σc·(c−1)/2
blow-up minhash_big_band_census measures), BANDSPREAD suffixes the
block's tokens by doc_id % 64 (64 medium bands). Identical added
text volume; only the bucket shape differs. Gated ops:
dedup_minhash_lsh and dedup_incremental, whose shared
BAND_MAX_OCCUPANCY broadcast-hot-arm guard must hold the
pathological drop to ≤2× the spread twin; the gate also times the
UNCAPPED candidate join on the skew drop (the counterfactual the
guard removes) and asserts the guard is inert on the spread drop
(capped output == uncapped output, exact).

Usage: python tools/skew_gate.py [sf_dir] [--json PATH]
Writes one JSON object with per-op timings, ratios and pass flags;
exit code 1 if any op fails its budget.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession, functions as F  # noqa: E402

#: skew budget: the pathological drop may cost at most this multiple
#: of the spread drop (plus an absolute slack for sub-second noise)
RATIO_BUDGET = 2.0
ABS_SLACK_S = 1.0
#: spread drop's gram fan-out (64 medium grams vs 1 mega-gram)
SPREAD_MOD = 64
HOT_NODE_SHARE_MIN = 0.85


def build_drops(spark: SparkSession, sf_dir: str, root: str) -> dict:
    """Write the spread/skew derived drops; returns their stats."""
    from cassandra_log_analyzer_mcp_spark.sources.tables import table

    ev = table(spark, sf_dir, "events")
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    sentence = " ".join(f"zq{i}" for i in range(1, 8))  # 7 shared tokens

    def doc_rewrite(mod: int):
        v = F.concat(F.lit("zv"), (F.col("doc_id") % mod).cast("string"))
        return docs.select(
            "doc_id",
            F.concat_ws(" ", "text", v, F.lit(sentence), v).alias("text"),
            "lang", "source", "n_chars",
        )

    hot_user = F.col("user_id") - (F.col("user_id") % 4)  # -> node0
    variants = {
        "spread": (ev, doc_rewrite(SPREAD_MOD)),
        "skew": (
            ev.withColumn(
                "user_id",
                F.when(F.col("event_id") % 10 < 9, hot_user).otherwise(
                    F.col("user_id")
                ),
            ),
            doc_rewrite(1),
        ),
    }
    stats: dict[str, dict] = {}
    for name, (e, d) in variants.items():
        out = os.path.join(root, name)
        e.write.mode("overwrite").parquet(os.path.join(out, "events.parquet"))
        d.write.mode("overwrite").parquet(
            os.path.join(out, "documents.parquet")
        )
        node_rows = (
            spark.read.parquet(os.path.join(out, "events.parquet"))
            .groupBy((F.col("user_id") % 4).alias("n"))
            .count()
            .collect()
        )
        total = sum(r["count"] for r in node_rows)
        stats[name] = {
            "dir": out,
            "n_events": total,
            "hot_node_share": round(
                max(r["count"] for r in node_rows) / total, 4
            ),
        }
    return stats


#: band-skew plant: every 5th doc (20%) gets the boilerplate block
BAND_PLANT_MOD = 5
#: boilerplate length ≈ 2× the median doc (54 tokens at sf0.1), so
#: planted docs' minhash bands are boilerplate-dominated
BAND_BOILER_TOKENS = 110
#: spread twin's boilerplate fan-out (64 variants vs 1)
BAND_SPREAD_MOD = 64


def build_band_drops(spark: SparkSession, sf_dir: str, root: str) -> dict:
    """Write the bandspread/bandskew documents drops; returns stats
    including each drop's max band-bucket occupancy (the planted
    mega-bucket must exist in skew and must NOT exist in spread)."""
    from cassandra_log_analyzer_mcp_spark.operators.dedup import (
        _band_buckets,
        _doc_shingle_arrays,
    )

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    planted = F.col("doc_id") % BAND_PLANT_MOD == 0

    def rewrite(mod: int):
        v = (F.col("doc_id") % mod).cast("string")
        block = F.concat_ws(
            " ",
            *[
                F.concat(F.lit(f"zband{i}v"), v)
                for i in range(BAND_BOILER_TOKENS)
            ],
        )
        return docs.select(
            "doc_id",
            F.when(planted, F.concat_ws(" ", "text", block))
            .otherwise(F.col("text"))
            .alias("text"),
            "lang", "source", "n_chars",
        )

    stats: dict[str, dict] = {}
    for name, mod in (("bandspread", BAND_SPREAD_MOD), ("bandskew", 1)):
        out = os.path.join(root, name)
        rewrite(mod).write.mode("overwrite").parquet(
            os.path.join(out, "documents.parquet")
        )
        occ = (
            _band_buckets(
                _doc_shingle_arrays(spark, out)
            )
            .groupBy("band")
            .count()
            .agg(F.max("count").alias("mx"))
            .collect()[0]
            .mx
        )
        spark.catalog.clearCache()  # per-drop shingle layer, not shared
        stats[name] = {"dir": out, "max_band_occupancy": int(occ)}
    return stats


def run_band_gate(spark: SparkSession, sf_dir: str, root: str) -> dict:
    """Plant the band drops, gate the capped band-join operators, and
    measure the uncapped counterfactual."""
    from cassandra_log_analyzer_mcp_spark.operators import dedup as D
    from cassandra_log_analyzer_mcp_spark.plans import registry
    from cassandra_log_analyzer_mcp_spark.session import clear_caches

    stats = build_band_drops(spark, sf_dir, root)
    n_docs = spark.read.parquet(
        os.path.join(stats["bandskew"]["dir"], "documents.parquet")
    ).count()
    # the plant worked: one bucket holds ~10% of the corpus in skew;
    # spread's largest bucket sits under the production cap
    assert stats["bandskew"]["max_band_occupancy"] >= n_docs // 20
    assert (
        stats["bandspread"]["max_band_occupancy"] <= D.BAND_MAX_OCCUPANCY
    )

    qs = registry.queries()
    ops = ["dedup_minhash_lsh", "dedup_incremental"]

    def uncapped_minhash(d: str):
        arrs = D._doc_shingle_arrays(spark, d)
        buckets = D._band_buckets(arrs)
        cand = (
            buckets.select(F.col("doc_id").alias("da"), "band")
            .join(
                buckets.select(F.col("doc_id").alias("db"), "band"),
                "band",
            )
            .filter(F.col("da") < F.col("db"))
            .select("da", "db")
            .distinct()
        )
        from cassandra_log_analyzer_mcp_spark.operators.dedup import (
            MINHASH_VERIFY_MIN,
            _verified_pairs,
        )

        return _verified_pairs(arrs, cand).filter(
            F.col("jaccard") >= MINHASH_VERIFY_MIN
        )

    def timed_cold(build) -> float:
        """min-of-2 with a cache clear before each run: the band ops
        cache their verified-pair sets and shingle layers, so a warm
        second run would time a cached read, not the join."""
        best = float("inf")
        for _ in range(2):
            clear_caches(spark)
            t0 = time.perf_counter()
            build().write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        return best

    results: dict[str, dict] = {}
    ok = True
    for op in ops:
        spread_s = timed_cold(
            lambda: qs[op](spark, stats["bandspread"]["dir"])
        )
        skew_s = timed_cold(
            lambda: qs[op](spark, stats["bandskew"]["dir"])
        )
        budget = max(RATIO_BUDGET * spread_s, spread_s + ABS_SLACK_S)
        passed = skew_s <= budget
        ok &= passed
        results[op] = {
            "spread_s": round(spread_s, 3),
            "skew_s": round(skew_s, 3),
            "ratio": round(skew_s / spread_s, 3) if spread_s else None,
            "budget_s": round(budget, 3),
            "pass": passed,
        }
    # the counterfactual: the same candidate join WITHOUT the
    # hot-bucket guard on the pathological drop
    uncapped_skew_s = timed_cold(
        lambda: uncapped_minhash(stats["bandskew"]["dir"])
    )

    # correctness of the guard: inert on the spread drop (no bucket
    # over the cap → capped result == uncapped result, exact), and on
    # the skew drop the capped result is a subset of the uncapped one
    clear_caches(spark)
    spread_capped = {
        (r.da, r.db)
        for r in qs["dedup_minhash_lsh"](
            spark, stats["bandspread"]["dir"]
        ).collect()
    }
    spread_uncapped = {
        (r.da, r.db)
        for r in uncapped_minhash(stats["bandspread"]["dir"])
        .select("da", "db")
        .collect()
    }
    clear_caches(spark)
    skew_capped = {
        (r.da, r.db)
        for r in qs["dedup_minhash_lsh"](
            spark, stats["bandskew"]["dir"]
        ).collect()
    }
    skew_uncapped = {
        (r.da, r.db)
        for r in uncapped_minhash(stats["bandskew"]["dir"])
        .select("da", "db")
        .collect()
    }
    clear_caches(spark)
    inert_on_spread = spread_capped == spread_uncapped
    subset_on_skew = skew_capped <= skew_uncapped
    ok &= inert_on_spread and subset_on_skew

    return {
        "drops": {
            k: {kk: vv for kk, vv in v.items() if kk != "dir"}
            for k, v in stats.items()
        },
        "n_docs": n_docs,
        "band_max_occupancy_cap": D.BAND_MAX_OCCUPANCY,
        "ops": results,
        "minhash_uncapped_skew_s": round(uncapped_skew_s, 3),
        "uncapped_vs_capped_skew_ratio": round(
            uncapped_skew_s / results["dedup_minhash_lsh"]["skew_s"], 3
        ),
        "cap_inert_on_spread": inert_on_spread,
        "capped_subset_on_skew": subset_on_skew,
        # VERIFIED-tier pairs (J >= 0.5 via the shared boilerplate
        # block alone) the guard trades away on the pathological
        # drop — the documented boilerplate-vs-throughput trade; see
        # BAND_MAX_OCCUPANCY's comment in operators/dedup.py
        "n_verified_pairs_dropped_on_skew": len(
            skew_uncapped - skew_capped
        ),
        "pass": ok,
    }


def main() -> int:
    argv = list(sys.argv[1:])
    json_path = None
    if "--json" in argv:
        i = argv.index("--json")
        json_path = argv[i + 1]
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.1"

    from cassandra_log_analyzer_mcp_spark.plans import registry
    from cassandra_log_analyzer_mcp_spark.session import local_spark

    spark = local_spark("skew_gate")

    root = os.path.join("/tmp", f"spark_graft_skewgate_{os.getpid()}")
    stats = build_drops(spark, sf_dir, root)
    assert stats["skew"]["hot_node_share"] >= HOT_NODE_SHARE_MIN
    assert stats["spread"]["hot_node_share"] <= 0.5

    qs = registry.queries()
    ops = [
        "node_summary_salted",
        "doc_surprisal",
        "repeated_span_coverage",
        "repeated_spans_merged",
    ]

    # codegen/parquet-footer warm pass at the smallest available SF
    # (same accounting as bench.py). Derived from the supplied sf_dir
    # instead of a hard-coded fixture path (ADVICE r6): prefer a
    # sibling sf0.001 drop when it exists, else warm on sf_dir itself;
    # skip warming entirely when neither is readable.
    warm_dir = os.environ.get(
        "SPARK_GRAFT_WARM_DIR",
        os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001"),
    )
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir if os.path.isdir(sf_dir) else None
    if warm_dir:
        for op in ops:
            qs[op](spark, warm_dir).write.format("noop").mode(
                "overwrite"
            ).save()

    def timed(op: str, d: str) -> float:
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            qs[op](spark, d).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        return best

    results: dict[str, dict] = {}
    ok = True
    for op in ops:
        spread_s = timed(op, stats["spread"]["dir"])
        skew_s = timed(op, stats["skew"]["dir"])
        budget = max(RATIO_BUDGET * spread_s, spread_s + ABS_SLACK_S)
        passed = skew_s <= budget
        ok &= passed
        results[op] = {
            "spread_s": round(spread_s, 3),
            "skew_s": round(skew_s, 3),
            "ratio": round(skew_s / spread_s, 3) if spread_s else None,
            "budget_s": round(budget, 3),
            "pass": passed,
        }

    # correctness on the pathological drop: the salted two-stage agg
    # must equal the direct single-exchange aggregation, integer-exact
    from cassandra_log_analyzer_mcp_spark.sources.tables import logs_flagged

    logs = logs_flagged(spark, stats["skew"]["dir"])
    direct = {
        r.node: (r.errors, r.warnings, r.total_lines)
        for r in logs.groupBy("node")
        .agg(
            F.sum(F.col("is_error").cast("long")).alias("errors"),
            F.sum(F.col("is_warning").cast("long")).alias("warnings"),
            F.count("*").alias("total_lines"),
        )
        .collect()
    }
    salted = {
        r.node: (r.errors, r.warnings, r.total_lines)
        for r in qs["node_summary_salted"](
            spark, stats["skew"]["dir"]
        ).collect()
    }
    salted_exact = salted == direct
    ok &= salted_exact

    band = run_band_gate(spark, sf_dir, root)
    ok &= band["pass"]

    out = {
        "sf_dir": sf_dir,
        "ratio_budget": RATIO_BUDGET,
        "abs_slack_s": ABS_SLACK_S,
        "drops": {
            k: {kk: vv for kk, vv in v.items() if kk != "dir"}
            for k, v in stats.items()
        },
        "ops": results,
        "salted_agg_exact_on_skew": salted_exact,
        "band_index_gate": band,
        "pass": ok,
    }
    line = json.dumps(out, indent=1, sort_keys=True)
    print(line)
    if json_path:
        with open(json_path, "w") as fh:
            fh.write(line + "\n")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
