#!/usr/bin/env python3
"""Tracing overhead: traced minus untraced end-to-end medians.

    python3 perfbench/spread.py --workload cdc_churn --seeds 1-5 --trace 0
    python3 perfbench/spread.py --workload cdc_churn --seeds 1-5 --trace 1
    python3 perfbench/overhead.py --workload cdc_churn

Every run writes its end-to-end metrics to its report in
``.perfbench_work/reports/`` whether or not it was traced; this compares
the medians of the two kinds of report on the seeds both have.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    args = ap.parse_args()
    reports: dict[int, dict[int, dict]] = {0: {}, 1: {}}
    pattern = os.path.join(ROOT, ".perfbench_work", "reports", f"{args.workload}-seed*-report.json")
    for path in glob.glob(pattern):
        with open(path) as f:
            r = json.load(f)
        reports[r["trace"]][r["seed"]] = r
    seeds = sorted(set(reports[0]) & set(reports[1]))
    if not seeds:
        print(f"no seed has both a traced and an untraced report for {args.workload}")
        return 1
    print(f"{args.workload}: seeds {seeds}")
    for name in reports[0][seeds[0]]["end_to_end"]:
        off, on = (
            statistics.median(reports[t][s]["end_to_end"][name]["value"] for s in seeds)
            for t in (0, 1)
        )
        unit = reports[0][seeds[0]]["end_to_end"][name]["unit"]
        print(f"{name:14s} untraced {off:10.4f}  traced {on:10.4f}  overhead {on - off:+.4f} {unit} ({(on - off) / off:+.1%})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
