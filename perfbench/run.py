#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload nightly_etl --seed 1 --seconds 20 --trace 0

Run from the root of a checkout; see ``perfbench/README.md``.
"""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench.harness import main  # noqa: E402

if __name__ == "__main__":
    raise SystemExit(main())
