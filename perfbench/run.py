#!/usr/bin/env python3
"""Repository benchmark: corpus curation and the warehouse ETL, timed end
to end and per layer.

    python3 perfbench/run.py --workload warehouse_etl --seed 1 --seconds 10 --trace 0

Workloads: ``corpus_curation`` (registry dedup and text-scoring queries,
which cross into Python workers) and ``warehouse_etl`` (``run_full_etl``,
an SCD2 merge, a one-year fact reload and datamart reads through
``TableReadAPI``). All inputs are generated from ``--seed`` under
``.perfbench_work/`` at the repository root. ``--trace 0`` prints the
end-to-end metrics, ``--trace 1`` the per-layer ones (see
``perfbench/metrics.py`` and ``perfbench/README.md``); the last line of
output is the JSON result.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.harness import main  # noqa: E402

if __name__ == "__main__":
    raise SystemExit(main())
