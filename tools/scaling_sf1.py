#!/usr/bin/env python3
"""Measure the SF-scaling legs for SCALING.md (round 9).

Runs ``bench.py`` as a subprocess per (slate, sf_dir) leg — three
clean processes per slate, back-to-back in ONE measurement window,
single process at a time — and writes the per-leg query timings and
the decade step ratios to ``plans/SCALING_SF1.json`` (git-ignored;
pass ``out_json`` to write elsewhere). Two slates:

- ``headline20``: round 8's exact 20-query slate (comparable row).
- ``wide43``: the round-9 CHECK_SF1_r09 gate slate — the widened
  decade coverage (streaming, silver lifecycle, ANN on the scaled
  embeddings, spans/rewrite, drift family).

Usage: python tools/scaling_sf1.py [out_json]
(expects /tmp/spark_graft_sf1.0 to exist — tools/make_sf1.py)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

HEADLINE20 = [
    "log_parse", "issue_counts", "node_summary", "error_timeline",
    "compare_nodes", "search_logs", "recommendations", "pricing_summary",
    "shipping_priority", "regional_revenue", "promo_revenue",
    "returned_item_customers", "top_suppliers", "large_orders",
    "idle_customers", "shipmode_priority", "customer_order_distribution",
    "dedup_exact", "dedup_minhash_lsh", "streaming_issue_counts",
]

WIDE43 = HEADLINE20 + [
    "band_occupancy_census", "doc_oov_rate", "error_trend_mannkendall",
    "streaming_purchase_error_join", "silver_merge_upsert",
    "silver_cdc_apply", "silver_dpp_join", "ann_ivf_probe_sweep",
    "knn_cosine_brute", "dedup_simhash", "dedup_winnow",
    "repeated_spans_merged", "dedup_spans_rewrite", "value_ks_drift",
    "mann_whitney_drift", "error_independence_chi2", "token_count",
    "lang_id", "tfidf_keywords", "user_sessions", "retention_cohorts",
    "event_funnel", "dedup_guard_report",
]

#: the round-10 CHECK_SF1_r10 gate slate: wide43 + the six EXTRAS_R10
#: additions + six more families not previously gated at the decade
#: (cluster contraction + quality keeper election, the Gopher rule
#: battery, packing, and the multiprobe pair gate)
WIDE55 = WIDE43 + [
    "corpus_token_budget_by_lang", "quality_lang_crosstab",
    "dedup_survivorship_by_source", "doc_length_quartiles_by_lang",
    "bucketed_digest_dedup", "embedding_label_coherence",
    "dedup_clusters", "dedup_canonical", "quality_score",
    "gopher_quality_flags", "sequence_packing",
    "dedup_embedding_multiprobe",
]

SF_DIRS = {
    "sf0.01": "/root/testdata/sf0.01",
    "sf0.1": "/root/testdata/sf0.1",
    "sf1.0": "/tmp/spark_graft_sf1.0",
}


def run_leg(slate: list[str], sf_dir: str) -> dict:
    env = dict(os.environ)
    env["SPARK_GRAFT_SF_DIR"] = sf_dir
    env["SPARK_GRAFT_QUERIES"] = ",".join(slate)
    # capture the leg's output for diagnostics (ADVICE r9: DEVNULL +
    # check=True aborted the sweep with nothing to read on failure)
    log_path = os.path.join(
        REPO, "BENCH_NOISE.log"  # bench redirects its own JVM noise
    )
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        env=env,
        cwd=REPO,
        stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT,
    )
    if proc.returncode != 0:
        raise SystemExit(
            f"bench leg failed (sf_dir={sf_dir}):\n"
            f"{proc.stdout.decode()[-4000:]}\n(see {log_path})"
        )
    # slate runs write BENCH_FULL_subset.json (never the committed
    # full-surface sidecar); read it immediately, sequentially, and
    # verify it carries OUR slate — a concurrent bench run with a
    # different slate would fail this check instead of being
    # silently consumed
    with open(os.path.join(REPO, "BENCH_FULL_subset.json")) as fh:
        full = json.load(fh)
    if full.get("slate") != sorted(slate):
        raise SystemExit(
            f"stale/foreign sidecar: slate {full.get('slate')!r} != "
            f"expected {sorted(slate)!r}"
        )
    return full


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        REPO, "plans", "SCALING_SF1.json"
    )
    os.makedirs(os.path.dirname(os.path.abspath(out_path)), exist_ok=True)
    out: dict = {
        "protocol": (
            "one measurement window, clean bench.py subprocess per "
            "leg, single process at a time, local[32]; TWO slates — "
            "headline20 (round 8's exact slate, comparable row) and "
            "wide43 (the CHECK_SF1_r09 gate slate: + streaming "
            "joins, silver lifecycle, ANN over the sign-mask-scaled "
            "embeddings, spans/rewrite, drift family); sf1.0 from "
            "tools/make_sf1.py; load_sentinel recorded per leg"
        ),
        "slates": {},
    }
    for slate_name, slate in (("headline20", HEADLINE20),
                              ("wide43", WIDE43)):
        legs = {}
        for sf_name, sf_dir in SF_DIRS.items():
            full = run_leg(slate, sf_dir)
            legs[sf_name] = {
                "total_sec": full["value"],
                "queries": full["queries"],
                "shared_build_s": full["shared_build_s"],
                "load_sentinel": full.get("load_sentinel"),
            }
            print(f"{slate_name} {sf_name}: {full['value']}s")
        t = {k: v["total_sec"] for k, v in legs.items()}
        out["slates"][slate_name] = {
            "legs": legs,
            "steps": {
                "sf0.01_to_sf0.1_10x_data": round(t["sf0.1"] / t["sf0.01"], 3),
                "sf0.1_to_sf1.0_10x_data": round(t["sf1.0"] / t["sf0.1"], 3),
                "sf0.01_to_sf1.0_100x_data": round(
                    t["sf1.0"] / t["sf0.01"], 3
                ),
            },
        }
    with open(out_path, "w") as fh:
        json.dump(out, fh, indent=1)
    print("wrote", out_path)


if __name__ == "__main__":
    main()
