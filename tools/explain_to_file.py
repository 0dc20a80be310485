"""Dump full `.explain("formatted")` for named queries to files.

Usage: python tools/explain_to_file.py SF_DIR OUT_DIR QUERY [QUERY...]

Writes OUT_DIR/<query>.txt with the formatted physical plan (the
round-deliverable `plans/r*/<query>_{before,after}.txt` evidence), planned
in the bench session (``bench.bench_spark``) so the plan is the one the
bench times.
Queries that trigger driver-side work during plan build (streaming
micro-batch runners, state materialization) still produce the plan of
the RESULT DataFrame — the artifact documents the declared query's
final read shape in those cases.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from bench import bench_spark
    from entity_etl_spark.queries import REGISTRY

    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    os.makedirs(out_dir, exist_ok=True)
    spark = bench_spark(sf_dir)
    jvm_mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    for name in names:
        df = REGISTRY[name].fn(spark, sf_dir)
        txt = df._jdf.queryExecution().explainString(jvm_mode)
        path = os.path.join(out_dir, f"{name}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({len(txt.splitlines())} lines)")
    spark.stop()


if __name__ == "__main__":
    main()
