"""Measured share of planted near-duplicates and excerpts in a workload's
generated corpus.

    python3 perfbench/shares.py --workload simjoin --seed 1
"""

from __future__ import annotations

import argparse
import json
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from gen import generate, measured_shares  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()
    w = WORKLOADS[args.workload]
    with tempfile.TemporaryDirectory() as d:
        planted = generate(Path(d), args.seed, w.corpus)
        print(json.dumps({"planted_rows": planted, **measured_shares(Path(d))}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
