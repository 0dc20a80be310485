"""Solo query timer: fresh JVM, the bench session (``bench.bench_spark``),
one or more queries.

Usage: python tools/time_query.py SF_DIR QUERY [QUERY...]

Runs each query twice, exactly as bench.py's timed loop does. Prints one
JSON line {query: best_sec, ...} on stdout — the fragment format
tools/assemble_bench.py min-merges — and, per query, one
``## name: {"sec", "jobs", "stages", "tasks"}`` line on stderr with run
1's executed Spark job/stage/task counts (``bench.job_stats``): the
evidence for "this change removed N Spark jobs" claims, where wall-clock
alone is noise-bound at sf0.1. Size the run with SPARK_GRAFT_CPUS and
SPARK_DRIVER_MEMORY, as for bench.py.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from bench import bench_spark, job_stats, next_job_id
    from entity_etl_spark.queries import REGISTRY

    sf_dir = sys.argv[1]
    names = sys.argv[2:]
    spark = bench_spark(sf_dir)
    REGISTRY["incremental_scan"].fn(spark, sf_dir).count()  # warm-up

    out = {}
    for name in names:
        best = float("inf")
        for run in range(2):
            j0 = next_job_id(spark)
            t0 = time.perf_counter()
            REGISTRY[name].fn(spark, sf_dir).count()
            best = min(best, time.perf_counter() - t0)
            if run == 0:
                stats = job_stats(spark, j0, next_job_id(spark))
        out[name] = round(best, 3)
        print(f"## {name}: {json.dumps({'sec': out[name], **stats})}",
              file=sys.stderr, flush=True)
        spark.catalog.clearCache()
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
