"""Convert a near-dup ingest state directory to the two-table layout.

Usage: python tools/migrate_neardup_state.py STATE_DIR

``ext.prep.run_streaming_neardup_prep`` reads and writes one state
layout: ``doc_shingles`` ``(doc, sh)`` plus ``doc_sizes`` ``(doc, n)``.
Older directories hold ``doc_shingles`` alone, as ``(doc, sh, n)`` rows,
as bare ``(doc, sh)`` rows, or as a mix of both that appends across the
layout change left behind (schema inference then reads ``n`` as NULL on
the older files' rows). This tool reads ``doc_shingles`` in any of those
shapes, keeps the deduped ``(doc, sh)`` rows and derives ``n`` as each
doc's row count, its distinct-shingle-set size; a stored ``n`` is never
trusted. It writes ``doc_sizes`` first and ``doc_shingles`` second, each
through ``state.save_state``'s temp-dir swap, so an interrupted run can
simply be repeated. A two-table directory comes out with the same rows,
minus replay-duplicated rows and size rows without shingles.

Run it once per directory, with no ingest running on it. Size the
session with SPARK_GRAFT_CPUS and SPARK_DRIVER_MEMORY.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from entity_etl_spark.state import load_state, save_state  # noqa: E402


def migrate(spark, state_dir: str) -> None:
    """Rewrite ``state_dir``'s near-dup state as ``doc_sizes`` +
    ``doc_shingles``; idempotent."""
    shingles = load_state(spark, state_dir, "doc_shingles")
    if shingles is None:
        raise FileNotFoundError(f"no doc_shingles state under {state_dir!r}")
    shingles = shingles.select("doc", "sh").dropDuplicates(["doc", "sh"])
    # int, the type ext.dedup._shingle_rows_with_size gives n, so later
    # appends keep one schema
    sizes = shingles.groupBy("doc").agg(
        F.count(F.lit(1)).cast("int").alias("n")
    )
    save_state(sizes, state_dir, "doc_sizes")
    save_state(shingles, state_dir, "doc_shingles")


def main() -> None:
    from entity_etl_spark.session import get_spark

    if len(sys.argv) != 2:
        sys.exit(__doc__)
    state_dir = sys.argv[1]
    spark = get_spark(app_name="migrate-neardup-state")
    migrate(spark, state_dir)
    n_docs = load_state(spark, state_dir, "doc_sizes").count()
    n_rows = load_state(spark, state_dir, "doc_shingles").count()
    print(f"{state_dir}: {n_docs} docs, {n_rows} shingle rows")
    spark.stop()


if __name__ == "__main__":
    main()
