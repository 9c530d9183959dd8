"""Median, quartiles and spread of each end-to-end metric across the
untraced runs of one workload that ``run.py`` saved in ``.perfbench_out``.

    python3 perfbench/summarize.py oltp_point

Spread is (Q3 - Q1) / median, the figure a metric's bound is checked
against.
"""

from __future__ import annotations

import glob
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common, stats  # noqa: E402
from perfbench.run import OUT_DIR  # noqa: E402


def main(argv) -> int:
    if len(argv) != 1:
        print(__doc__, file=sys.stderr)
        return 2
    paths = sorted(glob.glob(os.path.join(OUT_DIR, f"{argv[0]}.seed*.trace0.json")))
    runs = []
    for p in paths:
        with open(p) as f:
            r = json.load(f)
        if all(name in r for name in common.E2E_UNITS):  # skip older formats
            runs.append(r)
    if len(runs) < 2:
        print(f"need at least 2 untraced runs of {argv[0]} in {OUT_DIR}", file=sys.stderr)
        return 2
    print(f"{argv[0]}: {len(runs)} runs")
    for name, unit in common.E2E_UNITS.items():
        values = [r[name]["value"] for r in runs]
        q1, q2, q3 = stats.quartiles(values)
        print(f"  {name:20s} median {q2:10.4f} {unit:5s} Q1 {q1:10.4f} Q3 {q3:10.4f} "
              f"spread {stats.spread(values):.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
