"""Local stand-in for the driver's correctness gate: run every queries()
entry via Spark AND its oracle_sql() twin via DuckDB on the same parquet,
compare row count, column names, and order-insensitive values.

Usage: python tools/check_parity.py [--json OUT.json] [sf_dir] [query ...]

--json writes a machine-readable artifact (the PARITY_r{N}.json the judge
asked for): {"sf_dir", "testdata_mtime", "generated_unix", "queries":
{name: {"rows", "match", "seconds"}}} covering every executed query.
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, ".")

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def canon(rows, columns):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = ["\x01".join(norm_cell(r[i]) for i in order) for r in rows]
    out.sort()
    return out


def main() -> int:
    import duckdb

    import __spark_entry__ as entry_mod
    from entity_etl_spark.session import get_spark

    args = sys.argv[1:]
    json_out = None
    if args and args[0] == "--json":
        json_out = args[1]
        args = args[2:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    # 16g default heap; sf10 spot runs pass SPARK_DRIVER_MEMORY=48g-64g —
    # the bench-harness sizing lesson applied to this harness too
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "16g")

    def new_session():
        s = get_spark(app_name="check-parity")
        s.sparkContext.setLogLevel("ERROR")
        return s

    spark = new_session()
    con = duckdb.connect()
    # keep oracle spill OUT of the repo (r5 committed 4.6 GB of
    # .tmp/duckdb_temp_storage-* into history) and bound it: an oracle
    # that needs more than 4 GB of temp at these SFs is itself a scale
    # bug we want surfaced as an error, not absorbed by the disk
    con.execute("SET temp_directory='/tmp/duckdb_parity_spill'")
    con.execute("SET max_temp_directory_size='"
            + os.environ.get("PARITY_DUCKDB_TEMP_CAP", "4GB") + "'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    results = {}

    def run_spark_side(fn, name):
        """Run one query, retrying ONCE in a fresh session on a Spark
        failure. Root cause observed twice before the 16g driver-memory
        fix above: the default 1g heap OOM'd on the registry's heaviest
        shuffles at sf0.1 late in a ~1400-job session (first surfacing
        as a lost in-flight shuffle file, then as an explicit
        java.lang.OutOfMemoryError), crashing the SparkContext and
        cascading spurious FAILs to every remaining query. The retry
        rebuilds the session so one harness crash can't taint the
        artifact; a query that fails twice in a row is a real failure.
        (driver.memory in the retry session is a no-op — the JVM is
        already up — the real sizing is the first session's.)"""
        nonlocal spark
        try:
            sdf = fn(spark, sf_dir)
            return sdf.columns, [tuple(r) for r in sdf.collect()], None
        except Exception as first_err:
            try:
                spark.stop()
            except Exception:
                pass
            spark = new_session()
            print(f"RETRY {name} in a fresh session after: "
                  f"{type(first_err).__name__}")
            try:
                sdf = fn(spark, sf_dir)
                return sdf.columns, [tuple(r) for r in sdf.collect()], None
            except Exception as e:
                return None, None, e

    for name, fn in queries.items():
        if only and name not in only:
            continue
        # queries that persist internally (item_item_cosine_topk's cp
        # set) must not pin executor storage across the rest of a
        # ~250-query sweep — clear before each (no-op when empty)
        spark.catalog.clearCache()
        t0 = time.time()
        s_cols, s_rows, err = run_spark_side(fn, name)
        if err is not None:
            print(f"FAIL  {name}: spark error: {err}")
            failures.append(name)
            results[name] = {"rows": None, "match": False,
                             "seconds": round(time.time() - t0, 2)}
            continue
        if name not in oracles:
            print(f"ROWS-ONLY  {name}: {len(s_rows)} rows ({time.time()-t0:.1f}s)")
            # record the weaker evidence honestly: the artifact must cover
            # every executed query, and an oracle-less one is not a match
            results[name] = {"rows": len(s_rows), "match": None,
                             "rows_only": True,
                             "seconds": round(time.time() - t0, 2)}
            continue
        try:
            res = con.execute(oracles[name])
            d_cols = [d[0] for d in res.description]
            d_rows = res.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            results[name] = {"rows": len(s_rows), "match": False,
                             "seconds": round(time.time() - t0, 2)}
            continue
        problems = []
        if len(s_rows) != len(d_rows):
            problems.append(f"rowcount spark={len(s_rows)} duck={len(d_rows)}")
        if sorted(s_cols) != sorted(d_cols):
            problems.append(f"columns spark={sorted(s_cols)} duck={sorted(d_cols)}")
        if not problems:
            cs, cd = canon(s_rows, s_cols), canon(d_rows, d_cols)
            if cs != cd:
                diff = next(
                    (i for i, (a, b) in enumerate(zip(cs, cd)) if a != b), None
                )
                detail = (
                    f"first diff @sorted-row {diff}:\n  spark={cs[diff]!r}\n  duck ={cd[diff]!r}"
                    if diff is not None
                    else "length mismatch after canon"
                )
                problems.append("values differ; " + detail)
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            failures.append(name)
        else:
            print(f"MATCH {name}: {len(s_rows)} rows ({time.time()-t0:.1f}s)")
        results[name] = {"rows": len(s_rows), "match": name not in failures,
                         "seconds": round(time.time() - t0, 2)}

    if json_out:
        import json as _json
        import os as _os

        artifact = {
            "sf_dir": sf_dir,
            "testdata_mtime": int(
                _os.path.getmtime(f"{sf_dir}/events.parquet")
            ),
            "generated_unix": int(time.time()),
            "n_queries": len(results),
            "n_match": sum(1 for r in results.values() if r["match"]),
            "queries": results,
        }
        with open(json_out, "w") as fh:
            _json.dump(artifact, fh, indent=1, sort_keys=True)
        print(f"wrote {json_out}")

    print()
    if failures:
        print(f"{len(failures)} FAILURES: {failures}")
        return 1
    print("all queries MATCH")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
