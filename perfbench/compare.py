"""Compare two sets of benchmark runs (or summarise one).

    python3 perfbench/compare.py RUNS_A [RUNS_B]

Each argument is a directory of JSON files written by
``run.py --save``. For every workload and end-to-end metric it prints
each side's median, quartiles and quartile spread as a share of the
median (``statistics.quantiles(values, n=4)``), and with two sides the
change of B's median against A's, flagged when it exceeds the metric's
bound in BENCHMARK.json in the worse direction. Traced runs add their
per-layer metrics (no bounds) and still carry their end-to-end numbers,
so ``compare.py UNTRACED TRACED`` prints the tracing overhead.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

from common import ROOT


def load(directory: str) -> dict[str, dict[str, list[float]]]:
    """workload -> metric -> values over the runs."""
    out: dict[str, dict[str, list[float]]] = {}
    for path in sorted(glob.glob(os.path.join(directory, "*.json"))):
        with open(path) as fh:
            run = json.load(fh)
        metrics = out.setdefault(run["workload"], {})
        values = {
            **{k: v[0] for k, v in run["detail"].items()},
            **run["e2e"],
            **{k: m["value"] for k, m in run["result"]["metrics"].items()},
        }
        for name, v in values.items():
            metrics.setdefault(name, []).append(v)
    return out


def summary(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, (q3 - q1) / median)."""
    med = statistics.median(values)
    if len(values) < 2:
        return med, med, med, 0.0
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main(argv: list[str]) -> int:
    if not 1 <= len(argv) <= 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bound = {m["name"]: m for m in spec["end_to_end"]}
    better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}
    sides = [load(d) for d in argv]
    worst = 0
    for key in sorted(set().union(*sides)):
        print(f"== {key}")
        names = sorted(set().union(*(s.get(key, {}) for s in sides)))
        for name in names:
            cells, meds = [], []
            for s in sides:
                vals = s.get(key, {}).get(name)
                if not vals:
                    cells.append(f"{'-':>40}")
                    meds.append(None)
                    continue
                med, q1, q3, spread = summary(vals)
                meds.append(med)
                cells.append(f"{med:12.4f} [{q1:11.4f},{q3:11.4f}] {spread:6.1%} n={len(vals)}")
            line = f"  {name:<48} " + " | ".join(cells)
            if len(sides) == 2 and None not in meds and meds[0]:
                change = (meds[1] - meds[0]) / meds[0]
                worse = -change if better.get(name) == "higher" else change
                line += f" | {change:+7.1%}"
                b = bound.get(name)
                if b is not None and worse > b["bound"]:
                    line += f" WORSE than bound {b['bound']:.0%}"
                    worst = 1
            print(line)
    return worst


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
