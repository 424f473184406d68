#!/usr/bin/env python3
"""Scale the generated BIG dedup/ANN regimes one more notch
(VERDICT r9 ask #4): the 100 TB claim's weakest rung was the
50k-doc / 50k-vector top scale, so this sweep re-runs the big-regime
slate at SPARK_GRAFT_BIG_SCALE=1 and =3 (150k docs / 150k vectors)
in clean subprocesses and records, per scale leg:

- wall per query (after one warm pass — the same index-build/read
  accounting bench.py uses for these queries),
- the candidate/occupancy censuses (the cost drivers),
- a pure-Python re-derivation of sample docs and vector components
  at SCALE-3-ONLY ids (the pinned-recipe discipline at the new
  decade: the md5 recipes are id-parametric, so scale 3 is a strict
  superset and new ids must replay byte-exactly),
- the load sentinel (loadavg + fixed spin) bracketing each leg.

The parent then grades wall growth against each family's candidate-
growth DESIGN bound: minhash banding re-buckets with the corpus
(candidates ~linear in N); the semantic band index keeps 4096 fixed
buckets (per-bucket pairs ~quadratic in occupancy → ~9x at 3x); IVF
cells grow as sqrt(N) (scanned candidates ~sqrt(scale) per query).
PASS per family = wall ratio <= measured candidate ratio x 1.6
(slack for fixed per-query overheads), with the raw numbers recorded
either way.

Usage: python tools/scaling_big.py [out_json]
       (default ``plans/SCALING_BIG.json``, git-ignored)
       python tools/scaling_big.py --leg <scale> <leg_json>  (internal)
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

#: the big-regime slate: every rows-only generated-drop query
SLATE = [
    "dedup_minhash_recall_big",
    "minhash_big_band_census",
    "dedup_simhash_recall_big",
    "dedup_winnow_recall_big",
    "dedup_semantic_recall_big",
    "sem_big_band_census",
    "ann_ivf_probe_sweep_big",
    "ann_ivf_big_cell_stats",
    "ann_ivf_pq_recall_big",
]

SCALES = (1, 3, 10)

#: the semantic VERIFY join is excluded at scale >= 10 by its own
#: census number: the fixed 12-bit bands hold candidate pairs
#: ~quadratic in occupancy (191.6M at 3x), so 10x projects ~2.1B —
#: the in-design answer at that scale is stepping the band bits with
#: the corpus, and sem_big_band_census (which STAYS in the slate: it
#: is two occupancy rollups, never the join) pins the exact number
#: that forces the step. The semantic family's wall-vs-bound verdict
#: is therefore graded on the 1->3 legs, the sub-quadratic families
#: on 1->10.
SEM_VERIFY_MAX_SCALE = 3


def _h6_py(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:6], 16)


def _expected_doc_text(doc_id: int) -> str:
    """Pure-Python twin of dedup._big_documents_dir's md5 recipe
    (tests/test_big_dedup.py discipline, id-parametric)."""
    from cassandra_log_analyzer_mcp_spark.operators import dedup as D

    r = doc_id % D.BIG_DOC_GROUP
    is_copy = r in D.BIG_DOC_MUT_PERMILLE
    seed = doc_id - r if is_copy else doc_id
    n_tok = D.BIG_DOC_LEN_MIN + _h6_py(f"bdl:{seed}") % D.BIG_DOC_LEN_SPAN
    rate = D.BIG_DOC_MUT_PERMILLE.get(r, 0)
    toks = []
    for j in range(n_tok):
        if _h6_py(f"bdm:{doc_id}:{j}") % 1000 < rate:
            toks.append(f"m{_h6_py(f'bdr:{doc_id}:{j}') % D.BIG_DOC_VOCAB}")
        else:
            toks.append(f"w{_h6_py(f'bdt:{seed}:{j}') % D.BIG_DOC_VOCAB}")
    return " ".join(toks)


def _expected_vec_component(vec_id: int, j: int) -> float:
    """Pure-Python twin of similarity._big_embeddings_dir's recipe
    (tests/test_big_ann.py discipline, id-parametric)."""
    import numpy as np

    from cassandra_log_analyzer_mcp_spark.operators import similarity as S

    lab = vec_id % S.BIG_EMB_CLUSTERS
    center = _h6_py(f"bigc:{lab}:{j}") % 65 - 32
    noise = _h6_py(f"bign:{vec_id}:{j}") % 511 - 255
    return float(np.float32((center + noise) / 512.0))


def _load_sentinel() -> dict:
    with open("/proc/loadavg") as fh:
        loadavg = [float(x) for x in fh.read().split()[:3]]
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i
    return {"loadavg": loadavg, "spin_s": round(time.perf_counter() - t0, 4)}


def run_leg(scale: int, out_path: str) -> None:
    assert int(os.environ.get("SPARK_GRAFT_BIG_SCALE", "1")) == scale
    from cassandra_log_analyzer_mcp_spark.operators import dedup as D
    from cassandra_log_analyzer_mcp_spark.operators import similarity as S
    from cassandra_log_analyzer_mcp_spark.plans import registry
    from cassandra_log_analyzer_mcp_spark.session import local_spark

    spark = local_spark(f"scaling_big_s{scale}", shuffle_partitions=32)

    # pinned-recipe re-derivation at ids EXCLUSIVE to this scale's
    # tail group (base doc, light copy, independent doc; 3 vector
    # components) — proves the generated drop at this scale, not a
    # cached smaller one
    base = D.BIG_DOC_N - D.BIG_DOC_GROUP  # last group's base id
    doc_ids = [base, base + 1, base + 7]
    d = D._big_documents_dir(spark)
    got_docs = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{d}/documents.parquet")
        .filter(f"doc_id IN ({','.join(str(i) for i in doc_ids)})")
        .collect()
    }
    rederive = {"docs_checked": doc_ids, "docs_ok": True}
    for i in doc_ids:
        if got_docs[i] != _expected_doc_text(i):
            rederive["docs_ok"] = False
    vec_id = S.BIG_EMB_N - 1
    ed = S._big_embeddings_dir(spark)
    vec = (
        spark.read.parquet(f"{ed}/embeddings.parquet")
        .filter(f"vec_id = {vec_id}")
        .collect()[0]
        .embedding
    )
    rederive["vec_checked"] = vec_id
    rederive["vec_ok"] = all(
        vec[j] == _expected_vec_component(vec_id, j) for j in (0, 7, 63)
    )

    qs = registry.queries()
    slate = [
        q for q in SLATE
        if not (scale > SEM_VERIFY_MAX_SCALE
                and q == "dedup_semantic_recall_big")
    ]
    sentinel_start = _load_sentinel()
    walls: dict[str, float] = {}
    census: dict[str, list] = {}
    for name in slate:
        fn = qs[name]
        # warm pass: generation, index build, codegen — the same
        # pre-paid accounting bench.py applies to these queries
        fn(spark, "/root/testdata/sf0.01").write.format("noop").mode(
            "overwrite"
        ).save()
        t0 = time.perf_counter()
        rows = fn(spark, "/root/testdata/sf0.01").collect()
        walls[name] = round(time.perf_counter() - t0, 3)
        census[name] = [r.asDict() for r in rows]
    sentinel_end = _load_sentinel()

    with open(out_path, "w") as fh:
        json.dump(
            {
                "scale": scale,
                "n_docs": D.BIG_DOC_N,
                "n_vectors": S.BIG_EMB_N,
                "ivf_cells": S.BIG_IVF_CELLS,
                "rederive": rederive,
                "walls": walls,
                "census": census,
                "load_sentinel": {
                    "start": sentinel_start,
                    "end": sentinel_end,
                },
            },
            fh,
            indent=1,
            default=str,
        )


def _family_ratios(legs: dict[int, dict]) -> dict:
    """Measured candidate-growth per family + the wall-vs-bound
    verdicts. Endpoint legs per family: the semantic VERIFY family
    grades on 1->SEM_VERIFY_MAX_SCALE (its 10x join is excluded by
    census — see SEM_VERIFY_MAX_SCALE), every sub-quadratic family
    on 1->SCALES[-1]."""
    lo = legs[SCALES[0]]
    hi = legs[SCALES[-1]]
    hi_sem = legs[min(SEM_VERIFY_MAX_SCALE, SCALES[-1])]

    def census_val(leg, q, col, agg=max):
        rows = leg["census"][q]
        return agg(r[col] for r in rows)

    fams = {
        "minhash": {
            "queries": [
                "dedup_minhash_recall_big",
                "minhash_big_band_census",
            ],
            "cand_ratio": census_val(hi, "minhash_big_band_census",
                                     "n_candidate_pairs")
            / census_val(lo, "minhash_big_band_census",
                         "n_candidate_pairs"),
            "design": "banding re-buckets with the corpus: ~linear",
        },
        "semantic": {
            "queries": [
                "dedup_semantic_recall_big",
                "sem_big_band_census",
            ],
            "hi_leg": hi_sem,
            "hi_scale": min(SEM_VERIFY_MAX_SCALE, SCALES[-1]),
            "cand_ratio": census_val(hi_sem, "sem_big_band_census",
                                     "n_multiprobe_pairs")
            / census_val(lo, "sem_big_band_census",
                         "n_multiprobe_pairs"),
            "design": "fixed 4096-bucket bands: ~quadratic occupancy"
                      " (verify graded to 3x; 10x census pins the"
                      " band-bit step)",
        },
        "ivf": {
            "queries": [
                "ann_ivf_probe_sweep_big",
                "ann_ivf_pq_recall_big",
            ],
            "cand_ratio": census_val(hi, "ann_ivf_probe_sweep_big",
                                     "n_candidates", sum)
            / census_val(lo, "ann_ivf_probe_sweep_big",
                         "n_candidates", sum),
            "design": "cells ~ sqrt(N): scanned ~ sqrt(scale)",
        },
        # the hash-banded text families track minhash's bound
        "simhash_winnow": {
            "queries": [
                "dedup_simhash_recall_big",
                "dedup_winnow_recall_big",
            ],
            "cand_ratio": census_val(hi, "minhash_big_band_census",
                                     "n_candidate_pairs")
            / census_val(lo, "minhash_big_band_census",
                         "n_candidate_pairs"),
            "design": "hash banding, re-buckets with the corpus",
        },
    }
    for fam in fams.values():
        fam_hi = fam.pop("hi_leg", hi)
        fam.setdefault("hi_scale", SCALES[-1])
        wall_lo = sum(lo["walls"][q] for q in fam["queries"])
        wall_hi = sum(fam_hi["walls"][q] for q in fam["queries"])
        fam["wall_lo_s"] = round(wall_lo, 3)
        fam["wall_hi_s"] = round(wall_hi, 3)
        fam["wall_ratio"] = round(wall_hi / wall_lo, 3)
        fam["cand_ratio"] = round(fam["cand_ratio"], 3)
        fam["bound"] = round(max(fam["cand_ratio"], 1.0) * 1.6, 3)
        fam["pass"] = fam["wall_ratio"] <= fam["bound"]
    return fams


def main() -> None:
    if len(sys.argv) >= 2 and sys.argv[1] == "--leg":
        run_leg(int(sys.argv[2]), sys.argv[3])
        return
    out_path = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        REPO, "plans", "SCALING_BIG.json"
    )
    os.makedirs(os.path.dirname(os.path.abspath(out_path)), exist_ok=True)
    legs: dict[int, dict] = {}
    for scale in SCALES:
        leg_path = f"/tmp/scaling_big_leg_s{scale}.json"
        env = dict(os.environ)
        env["SPARK_GRAFT_BIG_SCALE"] = str(scale)
        # local[] holds all 32 executor threads in ONE JVM: the 500k
        # leg's shuffles + generated-drop caches need a bigger heap
        # than the 8g default (observed OOM at 10x; on a cluster the
        # per-executor memory comes from the deployment)
        if scale >= 10 and "SPARK_GRAFT_DRIVER_MEM" not in os.environ:
            env["SPARK_GRAFT_DRIVER_MEM"] = "24g"
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--leg",
             str(scale), leg_path],
            env=env,
            cwd=REPO,
            stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT,
        )
        if proc.returncode != 0:
            raise SystemExit(
                f"scale-{scale} leg failed:\n{proc.stdout.decode()[-4000:]}"
            )
        with open(leg_path) as fh:
            legs[scale] = json.load(fh)
        print(f"scale {scale}: {legs[scale]['n_docs']} docs, "
              f"total wall {sum(legs[scale]['walls'].values()):.1f}s")
    fams = _family_ratios(legs)
    out = {
        "protocol": (
            "clean subprocess per scale leg, sequential, local[32]; "
            "one warm pass per query (generation/index build "
            "pre-paid, bench.py accounting), measured collect; "
            "pure-Python recipe re-derivation at scale-exclusive "
            "ids; candidate censuses drive each family's growth "
            "bound (x1.6 slack). Scale legs 1/3/10 (50k/150k/500k "
            "docs+vectors); the semantic VERIFY join runs to 3x and "
            "is excluded at 10x BY ITS OWN CENSUS (fixed 12-bit "
            "bands project ~2.1B multiprobe candidates at 10x - the "
            "sem_big_band_census leg pins that number and the "
            "in-design answer is stepping band bits with the "
            "corpus); sub-quadratic families grade on 1->10"
        ),
        "legs": {str(s): legs[s] for s in SCALES},
        "families": fams,
        "all_pass": all(f["pass"] for f in fams.values()),
        "rederive_ok": all(
            legs[s]["rederive"]["docs_ok"] and legs[s]["rederive"]["vec_ok"]
            for s in SCALES
        ),
    }
    with open(out_path, "w") as fh:
        json.dump(out, fh, indent=1)
    print("wrote", out_path)
    for name, fam in fams.items():
        print(f"{name}: wall x{fam['wall_ratio']} vs cand x"
              f"{fam['cand_ratio']} (bound {fam['bound']}) -> "
              f"{'PASS' if fam['pass'] else 'FAIL'}")


if __name__ == "__main__":
    main()
