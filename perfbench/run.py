"""Cron-tick benchmark for entity_etl_spark's incremental pipeline.

Run from the repository root:

    python3 perfbench/run.py --workload steady_tick --seed 1 --seconds 20 --trace 0

See perfbench/README.md for the workloads and metrics.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.runner import main  # noqa: E402

if __name__ == "__main__":
    sys.exit(main())
