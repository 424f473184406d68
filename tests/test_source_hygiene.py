"""Source hygiene for the package."""

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
