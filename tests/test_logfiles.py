"""Raw log-file source: multi-file-per-node line numbering must be
pinned to (file name, in-file position) — the day a node ships rotated
logs (``system.log.1``) the numbers must not depend on Spark's
size-ordered split packing."""

import pytest


@pytest.fixture(scope="module")
def two_file_dir(tmp_path_factory):
    root = tmp_path_factory.mktemp("logs")
    for node in ("node0", "node1"):
        d = root / node
        d.mkdir()
        # a.log sorts before b.log; sizes chosen so size-ordered split
        # packing would REVERSE them (b.log is larger)
        (d / "a.log").write_text(
            f"INFO [ts] [t] C:1 - {node} a line 1\n"
            f"INFO [ts] [t] C:1 - {node} a line 2\n"
        )
        (d / "b.log").write_text(
            "".join(
                f"INFO [ts] [t] C:1 - {node} b line {i}\n"
                for i in range(1, 6)
            )
        )
    return str(root)


def test_line_numbers_continue_across_files_in_name_order(
    spark, two_file_dir
):
    from cassandra_log_analyzer_mcp_spark.sources.logfiles import (
        read_log_dir,
    )

    rows = read_log_dir(spark, f"{two_file_dir}/*/*.log").collect()
    by_node = {}
    for r in rows:
        by_node.setdefault(r.node, {})[r.line_id] = r.raw
    for node in ("node0", "node1"):
        lines = by_node[node]
        # per-node numbering is 1..7, dense
        assert sorted(lines) == list(range(1, 8))
        # a.log's two lines first, then b.log's five, each in file order
        expected = [f"{node} a line 1", f"{node} a line 2"] + [
            f"{node} b line {i}" for i in range(1, 6)
        ]
        got = [lines[i].split(" - ")[1] for i in range(1, 8)]
        assert got == expected


def test_numbering_has_no_per_node_global_window(spark, two_file_dir):
    import re

    from cassandra_log_analyzer_mcp_spark.sources.logfiles import (
        read_log_dir,
    )

    df = read_log_dir(spark, f"{two_file_dir}/*/*.log")
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "_fname" in spec, f"per-node global window: {spec}"


def test_python_datasource_matches_builtin_text_reader(spark, tmp_path):
    """The logdir DataSource plans one partition per file and returns
    exactly the same (node, raw) multiset as spark.read.text over the
    same tree."""
    from cassandra_log_analyzer_mcp_spark.sources.pyds import (
        LogDirDataSource,
        LogDirReader,
    )

    root = tmp_path / "logs"
    for node, fname, lines in [
        ("n0", "a.log", ["l1", "l2"]),
        ("n0", "b.log", ["l3"]),
        ("n1", "a.log", ["x1", "x2", "x3"]),
    ]:
        d = root / f"node={node}"
        d.mkdir(parents=True, exist_ok=True)
        (d / fname).write_text("\n".join(lines) + "\n")
    (root / "_SUCCESS").parent.mkdir(exist_ok=True)
    (root / "node=n0" / "_hidden").write_text("skip me")

    reader = LogDirReader({"path": str(root)})
    parts = reader.partitions()
    assert len(parts) == 3  # one per visible file, _hidden skipped
    assert {p.node for p in parts} == {"n0", "n1"}

    spark.dataSource.register(LogDirDataSource)
    got = sorted(
        (r.node, r.raw)
        for r in spark.read.format("logdir")
        .option("path", str(root))
        .load()
        .collect()
    )
    assert got == [
        ("n0", "l1"), ("n0", "l2"), ("n0", "l3"),
        ("n1", "x1"), ("n1", "x2"), ("n1", "x3"),
    ]


def _entry(node: str, i: int) -> str:
    level = ("ERROR", "WARN", "INFO")[i % 3]
    return f"{level} [2025-01-01 10:00:{i % 60:02d},000] [T-1] C:{i} - {node} entry {i}"


@pytest.fixture(scope="module")
def rotated_dir(tmp_path_factory):
    """Two nodes, three rotated files each, with stack-trace
    continuation lines (which the parser drops) between entries; the
    file that sorts first is the smallest."""
    root = tmp_path_factory.mktemp("rotated")
    for node, sizes in (("node0", (3, 20, 9)), ("node1", (5, 4, 11))):
        (root / node).mkdir()
        i = 0
        for name, n in zip(("system.log", "system.log.1", "system.log.2"), sizes):
            lines = []
            for _ in range(n):
                lines.append(_entry(node, i))
                if i % 4 == 1:
                    lines += ["\tat org.apache.cassandra.Foo.run(Foo.java:1)", ""]
                i += 1
            (root / node / name).write_text("\n".join(lines) + "\n")
    return root


def _expected_numbers(root, node: str) -> list[tuple[int, int | None, str]]:
    """(line_id, line_number, raw) per line of ``node``'s files in name
    order; line_number is the rank among lines the parse regex
    matches, None for the others."""
    import re

    from cassandra_log_analyzer_mcp_spark.functions.parsing import (
        LOG_LINE_REGEX,
    )

    rx = re.compile(LOG_LINE_REGEX)
    out, ranked = [], 0
    for f in sorted((root / node).iterdir()):
        for raw in f.read_text().splitlines():
            parsed = rx.search(raw) is not None
            ranked += parsed
            out.append((len(out) + 1, ranked if parsed else None, raw))
    return out


def test_line_number_ranks_parseable_lines_across_rotated_files(
    spark, rotated_dir
):
    from cassandra_log_analyzer_mcp_spark.functions.parsing import parse_lines
    from cassandra_log_analyzer_mcp_spark.sources.logfiles import (
        read_log_dir,
    )

    df = read_log_dir(spark, f"{rotated_dir}/*/system.log*")
    got = {
        (r.node, r.line_id): (r.line_number, r.raw) for r in df.collect()
    }
    parsed = {
        (r.node, r.line_id): r.line_number
        for r in parse_lines(df).collect()
    }
    for node in ("node0", "node1"):
        want = _expected_numbers(rotated_dir, node)
        assert len(want) == sum(n == node for n, _ in got)
        assert sum(lid is None for _, lid, _ in want) > 0, "no continuation lines"
        for line_id, number, raw in want:
            assert got[(node, line_id)][1] == raw
            if number is None:
                assert (node, line_id) not in parsed
            else:
                assert got[(node, line_id)][0] == number
                assert parsed[(node, line_id)] == number


def test_several_globs_number_as_one_in_the_order_given(spark, tmp_path):
    """A node with files under two globs (log files, then a paste)
    numbers on from its first glob's last line: line_id and
    line_number both continue, and neither restarts per glob."""
    from cassandra_log_analyzer_mcp_spark.sources.logfiles import (
        read_log_dir,
    )

    for glob_dir, lines in (
        ("files", {"node0": [0, 1, 2], "node1": [3]}),
        ("paste", {"node0": [4, 5]}),
    ):
        for node, ids in lines.items():
            d = tmp_path / glob_dir / node
            d.mkdir(parents=True)
            body = [_entry(node, i) for i in ids]
            if glob_dir == "files" and node == "node0":
                body.insert(1, "\tat org.apache.cassandra.Foo.run(Foo.java:1)")
            (d / "a.log").write_text("\n".join(body) + "\n")
    df = read_log_dir(
        spark, [f"{tmp_path}/files/*/*.log", f"{tmp_path}/paste/*/*.log"]
    )
    rows = sorted(
        (r.node, r.line_id, r.line_number, r.raw.split(" - ")[-1])
        for r in df.collect()
    )
    assert rows == [
        ("node0", 1, 1, "node0 entry 0"),
        ("node0", 2, 1, "\tat org.apache.cassandra.Foo.run(Foo.java:1)"),
        ("node0", 3, 2, "node0 entry 1"),
        ("node0", 4, 3, "node0 entry 2"),
        ("node0", 5, 4, "node0 entry 4"),
        ("node0", 6, 5, "node0 entry 5"),
        ("node1", 1, 1, "node1 entry 3"),
    ]
