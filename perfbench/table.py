"""Print the layer x workload self-time table and the tracing overhead.

    python3 perfbench/table.py [RESULTS_DIR]

Reads the run records ``run.py`` writes (default ``perfbench/results``).
Self time is per timed call, the median over the traced records of each
workload. Tracing overhead is the traced runs' median ``stmt_per_s`` minus
the untraced runs' median (both from the records' facts).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

from tracing import LAYERS


def main() -> None:
    here = os.path.dirname(os.path.abspath(__file__))
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.join(here, "results")
    runs: dict = {}
    for path in glob.glob(os.path.join(root, "*.json")):
        if path.endswith(".spans.json"):
            continue
        with open(path) as fh:
            rec = json.load(fh)
        f = rec["facts"]
        runs.setdefault(f["workload"], {0: [], 1: []})[f["trace"]].append(
            dict(rec["metrics"], stmt_per_s={
                "value": f["latency"]["stmt_per_s"]}))

    def med(recs, key):
        vals = [r[key]["value"] for r in recs if key in r]
        return statistics.median(vals) if vals else float("nan")

    names = sorted(runs)
    print("| layer (self s/call) | " + " | ".join(names) + " |")
    print("|---" * (len(names) + 1) + "|")
    for layer in LAYERS:
        cells = [f"{med(runs[w][1], f'self.{layer}_s'):.4f}" for w in names]
        print(f"| {layer} | " + " | ".join(cells) + " |")
    print()
    print("| workload | untraced stmt_per_s | traced stmt_per_s | overhead |")
    print("|---|---|---|---|")
    for w in names:
        off = med(runs[w][0], "stmt_per_s")
        on = med(runs[w][1], "stmt_per_s")
        print(f"| {w} (n={len(runs[w][0])}/{len(runs[w][1])}) | {off:.4f} "
              f"| {on:.4f} | {on - off:+.4f} ({(on - off) / off:+.1%}) |")


if __name__ == "__main__":
    main()
