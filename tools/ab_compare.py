#!/usr/bin/env python3
"""Compose BENCH_AB_r{N}.json from two BENCH_FULL.json sidecars.

Usage: python tools/ab_compare.py OLD_FULL NEW_FULL OUT round_note

Compares the common-query totals, lists the new-only queries, the top
wins, and flags regressions (>25% AND >0.75s slower) for the isolated
re-probe protocol (both orders, plan-md5) before any adjudication.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import SPIN_RATIO_MAX  # noqa: E402


def _calibration_flag(old_full: dict, new_full: dict) -> dict | None:
    """Cross-leg host-contention rule: if the two legs' fixed spin
    calibrations differ by more than ``SPIN_RATIO_MAX``, wall-clock
    ratios are comparing hosts/loads, not code — flag the comparison
    as contaminated instead of leaving the adjudication to prose."""
    spins = []
    for full in (old_full, new_full):
        sent = full.get("load_sentinel")
        if not sent:
            return {"verdict": "no_sentinel_in_one_or_both_legs"}
        legs = [sent["start"]["spin_s"], sent["end"]["spin_s"]]
        spins.append(sum(legs) / len(legs))
    ratio = max(spins) / min(spins) if min(spins) > 0 else float("inf")
    return {
        "old_leg_mean_spin_s": round(spins[0], 4),
        "new_leg_mean_spin_s": round(spins[1], 4),
        "ratio": round(ratio, 3),
        "verdict": (
            f"CONTAMINATED: legs ran under >{SPIN_RATIO_MAX}x different host load"
            if ratio > SPIN_RATIO_MAX
            else "clean: comparable host load across legs"
        ),
    }


def main() -> int:
    old_p, new_p, out_p, note = sys.argv[1:5]
    old_full = json.load(open(old_p))
    new_full = json.load(open(new_p))
    old = old_full["queries"]
    new = new_full["queries"]
    common = sorted(set(old) & set(new))
    # Totals and deltas use the SAME set — queries timed (>= 0) on
    # BOTH sides (ADVICE r6): a query errored on one side only must
    # not be summed into the other side's total.
    both_ok = [q for q in common if old[q] >= 0 and new[q] >= 0]
    o_tot = round(sum(old[q] for q in both_ok), 1)
    n_tot = round(sum(new[q] for q in both_ok), 1)
    deltas = {q: round(new[q] - old[q], 3) for q in both_ok}
    wins = dict(
        (q, {"old": old[q], "new": new[q]})
        for q, d in sorted(deltas.items(), key=lambda kv: kv[1])[:8]
        if d < -0.5
    )
    regressions = dict(
        (q, {"old": old[q], "new": new[q]})
        for q, d in sorted(deltas.items(), key=lambda kv: -kv[1])
        if d > 0.75 and new[q] > 1.25 * old[q]
    )
    out = {
        "protocol": note
        + " | accounting note: since r6 the shared silver/shingle/"
        "streaming-landing builds are pre-paid OUTSIDE the timed loop"
        " and recorded under shared_build_s in the sidecar — sidecars"
        " from r5 and earlier charge those builds to the first"
        " consuming query, so cross-era per-query ratios on those"
        " queries reflect the accounting move, not code.",
        f"common_{len(both_ok)}_total_sec": {
            "old_code": o_tot,
            "new_code": n_tot,
        },
        "ratio_new_over_old": round(n_tot / o_tot, 3),
        "new_only_queries": {
            q: new[q] for q in sorted(set(new) - set(old))
        },
        "top_wins": wins,
        "regression_flags": regressions,
        "load_sentinel_check": _calibration_flag(old_full, new_full),
    }
    with open(out_p, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=False)
    print(json.dumps(out, indent=1)[:1500])
    return 0


if __name__ == "__main__":
    sys.exit(main())
