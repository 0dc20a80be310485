#!/bin/bash
# Widened sf10 parity spot (VERDICT r7 item 6): every registry query
# that is feasible at sf10 on one box, chunked so each chunk gets a
# fresh JVM + DuckDB process (the r7/r8 lesson: one long sf10 session
# accumulates state until the kernel OOM-kills the JVM); merge with
# tools/merge_parity.py afterwards.
#
# Selection = the full registry MINUS:
#  - bench.SF10_EXCLUDED (exact shingle-pair / wedge contracts whose
#    join output is ~25G rows at sf10 — cluster-feasible, not one-box)
#  - bench.QUADRATIC_CONTRACT (exact-truth measurement gates)
#  - the 200s+ one-box monsters (training_data_prep,
#    item_item_cosine_topk) — bench-measured at sf10, spot-checked at
#    sf1 in PARITY_sf1_full_r6; their capped/production twins ARE here
#  - the exact pair-family cousins (prefix_filter, ngram_jaccard,
#    embedding_neardup, split_leakage, contamination_check,
#    neardup_groups, repeated_substring_windows) — same sum C(df,2)
#    blowup on the one-vocabulary corpus
#  - outputs over ~500k rows at sf10 (collect-side canon cost, not an
#    engine limit): rows read from PARITY_r8.json at sf0.1, x100
set -u
cd /root/repo
SF=${1:-/root/repo/testdata_gen/sf10}
OUT=${2:-/tmp/sf10_sweep}
mkdir -p "$OUT"
python - "$OUT" <<'EOF'
import sys, json
sys.path.insert(0, ".")
import __spark_entry__ as e
from bench import SF10_EXCLUDED, QUADRATIC_CONTRACT

rows_sf01 = {n: v["rows"]
             for n, v in json.load(open("PARITY_r8.json"))["queries"].items()}
exclude = set(SF10_EXCLUDED) | set(QUADRATIC_CONTRACT) | {
    "training_data_prep", "item_item_cosine_topk",
    "prefix_filter_pairs", "ngram_jaccard_pairs",
    "embedding_neardup_pairs", "split_leakage_neardups",
    "contamination_check", "neardup_groups", "repeated_substring_windows",
    # rides jaccard_pairs' exact shingle-pair join (measured: killed the
    # sf10 Spark side, and the oracle restates the same quadratic join)
    "fuzzy_verify_levenshtein",
    # parity-profile (uncapped) band buckets degenerate on the
    # one-vocabulary corpus: the band join's C(bucket,2) fan-out filled
    # ~78 GB of shuffle spill twice (measured in this sweep's chunk 8).
    # The production profile's max_bucket_size cap is the at-scale path;
    # sf1 full-sweep parity covers the operator (PARITY_sf1_full_r6).
    "minhash_dedup_incremental",
    # pagerank_customer_supplier is back IN the sweep since r9: the
    # oracle's per-iteration CTEs are MATERIALIZED now, which keeps
    # DuckDB inside the 24 GB temp cap (measured 471 s at sf10). Spark
    # side measured 402 s in r7 — budget ~15 min for its chunk.
}
names = [n for n in e.queries()
         if n not in exclude and rows_sf01.get(n, 0) <= 5000]
K = 16  # chunks
chunks = [names[i::K] for i in range(K)]  # interleave heavy/light
with open(sys.argv[1] + "/chunks.json", "w") as fh:
    json.dump(chunks, fh)
print(f"{len(names)} queries in {K} chunks")
EOF
N=$(python -c "import json;print(len(json.load(open('$OUT/chunks.json'))))")
for i in $(seq 0 $((N-1))); do
  Q=$(python -c "import json;print(' '.join(json.load(open('$OUT/chunks.json'))[$i]))")
  echo "=== chunk $i: starting $(date -u +%H:%M:%S) ==="
  SPARK_GRAFT_CPUS=16 SPARK_DRIVER_MEMORY=48g PARITY_DUCKDB_TEMP_CAP=24GB \
  timeout 7200 python tools/check_parity.py --json "$OUT/chunk$i.json" "$SF" $Q \
    > "$OUT/chunk$i.log" 2>&1
  echo "=== chunk $i: exit $? $(date -u +%H:%M:%S) ==="
done
echo "SWEEP DONE"
