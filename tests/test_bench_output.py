"""bench.py stdout contract: the driver records only a 2000-byte TAIL
of stdout (BENCH_r01.json: ``tail`` is exactly 2000 bytes, ``parsed``
null — the full per-query dict was ~3.3 KB, so the line's head fell
outside the capture window). The emitted line must always fit the
window and still parse, regardless of how many queries the registry
grows to.

No Spark needed — the payload builder is pure.
"""

from __future__ import annotations

import json
import random

import bench
from cassandra_log_analyzer_mcp_spark.plans import registry


def _line(payload: dict) -> str:
    return json.dumps(payload, separators=(",", ":")) + "\n"


def test_real_registry_names_fit_capture_window() -> None:
    rng = random.Random(7)
    timings = {
        name: round(rng.uniform(0.1, 7.0), 3) for name in registry.queries()
    }
    out = bench.build_stdout_payload(timings, 0.1)
    line = _line(out)
    # the pinned contract (VERDICT r7 hygiene #2): the line fits the
    # 2000-byte capture with ≥150 bytes of tail headroom to spare
    assert bench.CAPTURE_WINDOW_BYTES - bench.STDOUT_BYTE_BUDGET >= 150
    assert len(line) <= bench.STDOUT_BYTE_BUDGET
    parsed = json.loads(line)
    assert parsed["n_queries"] == len(timings)
    assert parsed["value"] == round(sum(timings.values()), 3)
    assert parsed["unit"] == "sec"
    # the slowest query is always reported by name
    slowest = max(timings, key=timings.__getitem__)
    assert parsed["queries"][slowest] == timings[slowest]
    # kept entries are exactly the top-k slowest (no cherry-picking)
    floor = min(parsed["queries"].values())
    dropped_faster = [
        t for n, t in timings.items() if n not in parsed["queries"]
    ]
    assert all(t <= floor for t in dropped_faster)


def test_quiet_log4j_profile_wired(spark) -> None:
    """The session builder must point the driver JVM at the packaged
    quiet log4j2 profile — the at-source fix for the NativeCodeLoader
    notice that kept preceding bench's JSON line in the driver's
    combined-stream tail capture."""
    import os

    opts = spark.conf.get("spark.driver.extraJavaOptions", "")
    assert "log4j2-quiet.properties" in opts
    path = opts.split("log4j2.configurationFile=file:", 1)[1]
    assert os.path.exists(path)


def test_small_surface_is_untrimmed() -> None:
    timings = {"q1": 1.0, "q2": 2.0}
    out = bench.build_stdout_payload(timings, 0.01)
    assert out["queries"] == timings


def test_combined_capture_tail_is_bare_json() -> None:
    """Run bench.py as the driver does — ONE process, stdout+stderr
    COMBINED — and assert the whole combined capture is the bare JSON
    line (VERDICT r8 ask #2: the java launcher's incubator-module
    warning must not precede it; noise belongs in BENCH_NOISE.log).
    Restricted to a 2-query slate at sf0.001 so the subprocess stays
    cheap; the fd plumbing under test is slate-independent."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ)
    env["SPARK_GRAFT_SF_DIR"] = "/root/testdata/sf0.001"
    env["SPARK_GRAFT_CPUS"] = "4"
    env["SPARK_GRAFT_QUERIES"] = "issue_counts,token_count"
    # a subset run must NOT touch the committed full-surface sidecar
    # (VERDICT r9 "what's wrong" #1)
    full_sidecar = os.path.join(repo, "BENCH_FULL.json")
    with open(full_sidecar, "rb") as fh:
        full_before = fh.read()
    proc = subprocess.run(
        [sys.executable, os.path.join(repo, "bench.py")],
        stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT,
        env=env,
        cwd=repo,
        timeout=600,
    )
    combined = proc.stdout.decode()
    assert proc.returncode == 0, combined[-2000:]
    # the full combined capture IS the one JSON line — so ANY tail of
    # it begins with '{' and parses
    assert combined.startswith("{"), combined[:200]
    assert combined.endswith("}\n"), combined[-200:]
    parsed = json.loads(combined)
    assert parsed["n_queries"] == 2
    # the noise log absorbed the JVM streams (it at least exists;
    # content varies by JVM version)
    assert os.path.exists(os.path.join(repo, "BENCH_NOISE.log"))
    # the subset run wrote its OWN slate-marked sidecar and left the
    # full-surface artifact byte-identical
    assert parsed["full"] == "BENCH_FULL_subset.json"
    with open(full_sidecar, "rb") as fh:
        assert fh.read() == full_before
    with open(os.path.join(repo, "BENCH_FULL_subset.json")) as fh:
        full = json.load(fh)
    assert full["slate"] == ["issue_counts", "token_count"]
    # the sidecar carries the load sentinel (VERDICT r8 ask #3)
    sent = full["load_sentinel"]
    for leg in ("start", "end"):
        assert sent[leg]["spin_s"] > 0
        assert len(sent[leg]["loadavg"]) == 3
    # one profile per timed query: the build part of its total, the
    # plan string's seconds (outside the total), its job-group counts
    for name in full["slate"]:
        prof = full["profile"][name]
        assert 0 <= prof["build_s"] <= full["queries"][name], prof
        assert prof["plan_s"] >= 0
        for key in ("exchanges", "broadcast_joins", "sortmerge_joins",
                    "windows", "codegen_stages", "stages", "tasks",
                    "shuffle_write_mb", "spill_mb", "executor_s"):
            assert prof[key] >= 0, (name, key)
    assert full["profile"]["issue_counts"]["jobs"] >= 1
    # the shared layers are recorded under the prebuild's own names
    assert set(full["shared_build_s"]) == set(registry.SHARED_LAYERS)


def test_contaminated_full_sweep_gets_its_own_sidecar() -> None:
    """A full sweep whose own spin calibrations differ by more than
    SPIN_RATIO_MAX cannot overwrite the committed sidecar."""
    clean = ({"spin_s": 0.20}, {"spin_s": 0.25})
    dirty = ({"spin_s": 0.20}, {"spin_s": 0.35})
    assert bench.sidecar_name(False, *clean) == "BENCH_FULL.json"
    assert bench.sidecar_name(False, *dirty) == "BENCH_FULL_contaminated.json"
    assert bench.sidecar_name(True, *dirty) == "BENCH_FULL_subset.json"


def test_plan_shape_counts_each_node_once() -> None:
    plan = (
        "== Physical Plan ==\n"
        "AdaptiveSparkPlan (5)\n+- Window (4)\n   +- Exchange (3)\n\n\n"
        "(1) Scan parquet \n(2) Filter [codegen id : 1]\n"
        "(3) Exchange\nArguments: hashpartitioning(k#1, 4)\n"
        "(4) Window\n(5) AdaptiveSparkPlan\n"
    )
    assert bench.plan_shape(plan) == {
        "exchanges": 1, "broadcast_joins": 0, "sortmerge_joins": 0,
        "windows": 1, "codegen_stages": 1,
    }


def test_pathologically_long_names_never_overflow() -> None:
    timings = {f"{'x' * 120}_{i}": float(i) for i in range(200)}
    out = bench.build_stdout_payload(timings, "custom")
    assert len(_line(out)) <= bench.STDOUT_BYTE_BUDGET
    # negative (errored) timings never inflate the headline value
    timings["broken"] = -1.0
    out = bench.build_stdout_payload(timings, "custom")
    assert out["value"] == round(sum(range(200)), 3)


def test_ab_compare_flags_contaminated_host_load(tmp_path) -> None:
    """tools/ab_compare.py must adjudicate cross-leg host contention
    from the load sentinel (VERDICT r8 ask #3): legs whose fixed spin
    calibrations differ >1.5x are flagged CONTAMINATED; comparable
    legs read clean; sentinel-less legacy sidecars are named as such."""
    import subprocess
    import sys

    def run(old_sent, new_sent):
        legs = []
        for i, sent in enumerate((old_sent, new_sent)):
            full = {"queries": {"q1": 1.0 + i}}
            if sent is not None:
                full["load_sentinel"] = sent
            p = tmp_path / f"leg{i}.json"
            p.write_text(json.dumps(full))
            legs.append(str(p))
        out = tmp_path / "ab.json"
        subprocess.run(
            [sys.executable, "tools/ab_compare.py", *legs, str(out), "t"],
            check=True,
            cwd="/root/repo",
            stdout=subprocess.DEVNULL,
        )
        return json.loads(out.read_text())["load_sentinel_check"]

    def sent(spin):
        return {
            "start": {"loadavg": [1, 1, 1], "spin_s": spin},
            "end": {"loadavg": [1, 1, 1], "spin_s": spin},
        }

    assert "CONTAMINATED" in run(sent(0.2), sent(0.35))["verdict"]
    assert run(sent(0.2), sent(0.25))["verdict"].startswith("clean")
    assert "no_sentinel" in run(None, sent(0.2))["verdict"]


def test_scaling_big_semantic_verify_gated_by_scale() -> None:
    """tools/scaling_big.py: the semantic VERIFY join leaves the
    slate only past SEM_VERIFY_MAX_SCALE (its census at 10x measures
    ~2.1B candidate pairs — by design, the quadratic-occupancy
    family steps band bits instead of running that join), while the
    census itself stays in at every scale; and _family_ratios grades
    the semantic family on the capped leg, sub-quadratic families on
    the top leg."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "scaling_big", "tools/scaling_big.py"
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)

    assert m.SCALES == (1, 3, 10)
    assert m.SEM_VERIFY_MAX_SCALE == 3

    def slate_at(scale):
        return [
            q for q in m.SLATE
            if not (scale > m.SEM_VERIFY_MAX_SCALE
                    and q == "dedup_semantic_recall_big")
        ]

    assert "dedup_semantic_recall_big" in slate_at(3)
    assert "dedup_semantic_recall_big" not in slate_at(10)
    assert all("sem_big_band_census" in slate_at(s) for s in m.SCALES)

    def leg(scale, factor):
        walls = {q: 1.0 * factor for q in slate_at(scale)}
        return {
            "walls": walls,
            "census": {
                "minhash_big_band_census": [
                    {"n_candidate_pairs": 1000 * factor}
                ],
                "sem_big_band_census": [
                    {"n_multiprobe_pairs": 1000 * factor * factor}
                ],
                "ann_ivf_probe_sweep_big": [
                    {"n_candidates": 100 * factor}
                ],
            },
        }

    legs = {1: leg(1, 1), 3: leg(3, 3), 10: leg(10, 10)}
    fams = m._family_ratios(legs)
    # semantic endpoints capped at scale 3: quadratic census 9x,
    # wall 3x on its synthetic legs
    assert fams["semantic"]["hi_scale"] == 3
    assert fams["semantic"]["cand_ratio"] == 9.0
    assert fams["semantic"]["wall_ratio"] == 3.0
    # sub-quadratic families grade on the 10x endpoint
    assert fams["minhash"]["hi_scale"] == 10
    assert fams["minhash"]["cand_ratio"] == 10.0
    assert fams["ivf"]["cand_ratio"] == 10.0
    assert all(f["pass"] for f in fams.values())
