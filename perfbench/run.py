"""Run one benchmark workload.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. See perfbench/NOTES.md for the
workloads and metrics.
"""

import sys
from pathlib import Path

# Import the benchmark as the ``perfbench`` package from the checkout root,
# not as loose modules from this directory.
sys.path[0] = str(Path(__file__).resolve().parent.parent)

from perfbench.main import main  # noqa: E402

if __name__ == "__main__":
    sys.exit(main())
