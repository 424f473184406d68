"""Source hygiene for the package."""

import re
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "cassandra_log_analyzer_mcp_spark"


def test_no_trailing_whitespace():
    bad = [
        f"{path.relative_to(PKG.parent)}:{n}"
        for path in sorted(PKG.rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if line != line.rstrip()
    ]
    assert not bad, "trailing whitespace at " + ", ".join(bad)


#: what only ``memo.py`` may do: build-once state goes through its
#: memo and scratch files under its work root
_MEMO_ONLY = {
    "id(spark)": re.compile(r"\bid\(spark\)"),
    '"/tmp" literal': re.compile(r"""["']/tmp\b"""),
    "mkdtemp": re.compile(r"\bmkdtemp\("),
    "module-level dict memo": re.compile(
        r"^_?[A-Z][A-Z0-9_]*\s*(:[^=]*)?=\s*(\{\}|dict\(\))\s*(#.*)?$"
    ),
}


def test_memo_and_scratch_go_through_memo_module():
    bad = [
        f"{path.relative_to(PKG.parent)}:{n}: {what}"
        for path in sorted(PKG.rglob("*.py"))
        if path.name != "memo.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        for what, pat in _MEMO_ONLY.items()
        if pat.search(line)
    ]
    assert not bad, "outside memo.py: " + ", ".join(bad)


def test_tests_make_scratch_dirs_through_pytest():
    """A test's scratch dir comes from ``tmp_path`` /
    ``tmp_path_factory``, which pytest bounds; a ``mkdtemp`` result
    outlives the run."""
    tests = Path(__file__).resolve().parent
    bad = [
        f"{path.name}:{n}"
        for path in sorted(tests.rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if _MEMO_ONLY["mkdtemp"].search(line)
    ]
    assert not bad, "mkdtemp in tests: " + ", ".join(bad)


#: the shared-layer builders ``registry.prebuild_shared_layers`` owns
_LAYER_BUILDERS = (
    "_doc_shingle_arrays",
    "_landed_silver_dir",
    "silver_path",
    "kmeans_assignments",
    "kmeans_centroid_state",
)


def test_harnesses_prebuild_through_the_registry():
    """bench.py and the driver entry build the shared layers through
    the one prebuild, never by naming a layer builder."""
    root = PKG.parent
    bad = [
        f"{name}: {builder}"
        for name in ("bench.py", "__spark_entry__.py")
        for builder in _LAYER_BUILDERS
        if builder in (root / name).read_text()
    ]
    assert not bad, "layer builder named outside the prebuild: " + ", ".join(bad)


#: the pair-scoring kit of the dedup and ANN families: each step is
#: written once, in the helper named, and every call site goes
#: through it (counts over operators/similarity.py + operators/dedup.py)
_SCORING_KIT = {
    'Window.partitionBy("q_id")': 1,  # similarity._ranked
    "F.floor(x * QUANT_SCALE)": 1,  # similarity._codes
    'alias("adc")': 1,  # similarity._adc_rerank
    'alias("arr_a")': 1,  # dedup._pair_sides
    'alias(f"a{k}")': 1,  # dedup._signature_sides
    "F.floor(EDIT_NUM * mx / EDIT_DEN)": 1,  # dedup._edit_candidates
}
#: package-wide: the core-count spread (sources.tables.spread) and the
#: two-stage per-key top-N (functions.frames.two_stage_top_n)
_PACKAGE_ONCE = ("getNumPartitions() <", 'withColumn("pre_rn"')


def test_pair_scoring_kit_has_one_copy():
    ops = PKG / "operators"
    text = "".join(
        (ops / name).read_text() for name in ("similarity.py", "dedup.py")
    )
    got = {pat: text.count(pat) for pat in _SCORING_KIT}
    assert got == _SCORING_KIT
    package = "".join(p.read_text() for p in sorted(PKG.rglob("*.py")))
    assert {pat: package.count(pat) for pat in _PACKAGE_ONCE} == dict.fromkeys(
        _PACKAGE_ONCE, 1
    )
