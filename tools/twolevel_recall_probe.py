"""Two-level assignment recall artifact (r12, VERDICT r11 item 3).

The k >= ivf.TWO_LEVEL_MIN_K coarse-quantized assignment is approximate:
a vector's true nearest cell can hide under an unprobed super-cell, so
the SemDeDup candidate recall at scale was asserted, not measured. This
probe MEASURES it: semantic_pair_gate (exact tiled-matmul truth vs the
shared-probed-cell candidate policy) runs over the sf1 embedding corpus
at auto-scale k (ceil(n/256) >= 256 -> the two-level path is live — the
gate calls the SAME ivf._coarse_index/_nearest_cells the distributed
assigner uses), and again with the two-level path forcibly DISABLED
(flat argmax) so the recall attributable to the coarse quantization is
the difference between the two rows.

Usage: python tools/twolevel_recall_probe.py SF_DIR OUT.json
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from entity_etl_spark.ext import ivf, semdedup
    from entity_etl_spark.session import get_spark

    sf_dir = sys.argv[1]
    out_path = sys.argv[2]
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "48g")
    spark = get_spark(app_name="twolevel-recall")
    spark.sparkContext.setLogLevel("ERROR")
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    n = emb.count()
    k = max(1, math.ceil(n / 256))
    assert k >= ivf.TWO_LEVEL_MIN_K, (
        f"corpus too small to engage the two-level path (k={k} < "
        f"{ivf.TWO_LEVEL_MIN_K}); pass a bigger SF dir"
    )

    results: dict = {
        "sf_dir": sf_dir,
        "n_vectors": n,
        "k": k,
        "n_probe": 3,
        "threshold": 0.4,
        "coarse_probes": ivf._COARSE_PROBES,
        "two_level_min_k": ivf.TWO_LEVEL_MIN_K,
    }

    def gate_row(label: str) -> dict:
        t0 = time.perf_counter()
        row = semdedup.semantic_pair_gate(
            emb, n_clusters=k, n_probe=3, threshold=0.4,
            return_counts=True,
        ).collect()[0]
        d = {
            "n_exact_pairs": row["n_exact_pairs"],
            "n_found_pairs": row["n_found_pairs"],
            "recall": round(row["n_found_pairs"] / max(row["n_exact_pairs"], 1), 6),
            "recall_ok": row["recall_ok"],
            "precision_ok": row["precision_ok"],
            "seconds": round(time.perf_counter() - t0, 1),
        }
        print(f"{label}: {d}", file=sys.stderr, flush=True)
        return d

    results["two_level"] = gate_row("two_level")

    # flat-argmax control: disable the coarse index so the identical
    # corpus/centroids/probe policy assigns by exhaustive argmax
    saved = ivf.TWO_LEVEL_MIN_K
    # both modules alias the constant; patch the one the gate reads
    ivf.TWO_LEVEL_MIN_K = 1 << 60
    semdedup.TWO_LEVEL_MIN_K = 1 << 60
    try:
        results["flat"] = gate_row("flat")
    finally:
        ivf.TWO_LEVEL_MIN_K = saved
        semdedup.TWO_LEVEL_MIN_K = saved

    with open(out_path, "w", encoding="utf-8") as fh:
        json.dump(results, fh, indent=1)
    print(json.dumps(results))
    spark.stop()


if __name__ == "__main__":
    main()
