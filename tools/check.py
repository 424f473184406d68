#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given sf dir, then compares row count, column names/types,
and an order-insensitive value hash (columns sorted by name, doubles
rounded to 9 significant places before hashing).

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

    from cassandra_log_analyzer_mcp_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CHECK_CPUS", "8")
    spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=int(cpus))
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        # shipped drops are single parquet FILES; generated drops
        # (tools/make_sf1.py) are Spark-written DIRECTORIES — glob
        # the part files in that case
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):
            p = f"{p}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

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
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rows {len(sdf)} vs {len(odf)}")
        schema_ok = sorted(map(str.lower, sdf.columns)) == sorted(
            map(str.lower, odf.columns)
        )
        hash_ok = None  # null in JSON when the hash was never compared
        if not schema_ok:
            problems.append(f"cols {sorted(sdf.columns)} vs {sorted(odf.columns)}")
        else:
            hash_ok = canonical_hash(sdf) == canonical_hash(odf)
            if not hash_ok:
                problems.append("value-hash mismatch")
        results[name] = {
            "rows_match": len(sdf) == len(odf),
            "schema_match": schema_ok,
            "hash_match": hash_ok,
            "spark_rows": len(sdf),
            "oracle_rows": len(odf),
            "err": "; ".join(problems) or None,
        }
        if problems:
            failures += 1
            print(f"FAIL {name}: {'; '.join(problems)}")
            if "value-hash mismatch" in problems and len(sdf) == len(odf):
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
