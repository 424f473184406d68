#!/usr/bin/env python3
"""Full-surface correctness sweep: every registry query against its
DuckDB oracle twin.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given sf dir, then compares row count, lower-cased column
names, and an order-insensitive value hash (columns sorted by name,
doubles rounded to 9 significant places before hashing). Rows-only
queries report their Spark row count.

Tier-1 runs the same comparison (``oracle_connection`` + ``problems``)
on every oracled query at sf0.001 in ``tests/test_oracle_surface.py``;
this CLI is the sweep at the larger drops (sf0.01, sf0.1) and over
generated ones (``tools/make_sf1.py``).

Usage: python tools/check.py [sf_dir] [--json PATH] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def canonical_hash(df: pd.DataFrame) -> str:
    df = df.reindex(sorted(df.columns), axis=1)

    def norm(v):
        if v is None or v != v:
            return "NULL"
        if isinstance(v, float):
            return f"{v:.9g}"
        if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
            return "[" + ",".join(norm(x) for x in v) + "]"
        return str(v)

    rows = sorted(
        ",".join(norm(v) for v in row) for row in df.itertuples(index=False, name=None)
    )
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per testdata table of ``sf_dir``."""
    from cassandra_log_analyzer_mcp_spark.sources.tables import TABLE_NAMES

    con = duckdb.connect()
    for t in TABLE_NAMES:
        # shipped drops are single parquet FILES; generated drops
        # (tools/make_sf1.py) are Spark-written DIRECTORIES — glob
        # the part files in that case
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):
            p = f"{p}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


HASH_MISMATCH = "value-hash mismatch"


def problems(sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    """Why a Spark result differs from its oracle result; empty when
    row count, lower-cased column names and ``canonical_hash`` agree.
    The hash is compared only when the columns agree."""
    found = []
    if len(sdf) != len(odf):
        found.append(f"rows {len(sdf)} vs {len(odf)}")
    if sorted(map(str.lower, sdf.columns)) != sorted(map(str.lower, odf.columns)):
        found.append(f"cols {sorted(sdf.columns)} vs {sorted(odf.columns)}")
    elif canonical_hash(sdf) != canonical_hash(odf):
        found.append(HASH_MISMATCH)
    return found


def main() -> int:
    argv = list(sys.argv[1:])
    json_path = None
    if "--json" in argv:
        i = argv.index("--json")
        if i + 1 >= len(argv):
            print("usage: check.py [sf_dir] [--json PATH] [query ...]")
            return 2
        json_path = argv[i + 1]
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    results: dict[str, dict] = {}

    import __spark_entry__ as entry_mod

    from cassandra_log_analyzer_mcp_spark.session import local_spark

    spark = local_spark("check")
    con = oracle_connection(sf_dir)

    qs = entry_mod.queries()
    os_ = entry_mod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            results[name] = {"err": f"spark error: {e}"}
            failures += 1
            continue
        t_spark = time.time() - t0
        if name not in os_:
            print(f"SKIP {name}: rows-only ({len(sdf)} rows, {t_spark:.1f}s)")
            results[name] = {
                "rows_only": True,
                "spark_rows": len(sdf),
                "err": None,
            }
            continue
        try:
            odf = con.execute(os_[name]).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            results[name] = {"err": f"oracle error: {e}"}
            failures += 1
            continue
        found = problems(sdf, odf)
        schema_ok = not any(p.startswith("cols ") for p in found)
        results[name] = {
            "rows_match": len(sdf) == len(odf),
            "schema_match": schema_ok,
            # null in JSON when the hash was never compared
            "hash_match": HASH_MISMATCH not in found if schema_ok else None,
            "spark_rows": len(sdf),
            "oracle_rows": len(odf),
            "err": "; ".join(found) or None,
        }
        if found:
            failures += 1
            print(f"FAIL {name}: {'; '.join(found)}")
            if HASH_MISMATCH in found and len(sdf) == len(odf):
                cols = sorted(sdf.columns)
                a = sdf.reindex(cols, axis=1).astype(str).sort_values(cols).reset_index(drop=True)
                b = odf.reindex(cols, axis=1).astype(str).sort_values(cols).reset_index(drop=True)
                diff = a.compare(b) if a.shape == b.shape else None
                if diff is not None and not diff.empty:
                    print(diff.head(5).to_string())
        else:
            print(f"OK   {name}: {len(sdf)} rows ({t_spark:.1f}s)")
    print("failures:", failures)
    if json_path:
        import json

        with open(json_path, "w") as f:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "n_queries": len(results),
                    "failures": failures,
                    "results": results,
                },
                f,
                indent=1,
            )
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
