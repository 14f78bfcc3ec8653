#!/usr/bin/env python3
"""Steadiness of saved benchmark results.

    python3 perfbench/spread.py DIR

DIR holds one file per run, named `<set>-<workload>-<seed>.json`, each the
result line `run.py` printed. For every workload, set and end-to-end metric
it prints the median and the spread — (Q3 − Q1) / median over the set's runs,
quartiles from `statistics.quantiles(values, n=4)` — against the metric's
bound in BENCHMARK.json; with two sets, how far the second median moved from
the first. It exits 1 when a spread or a median move exceeds its bound.
"""
import json
import statistics
import sys
from collections import defaultdict
from pathlib import Path


def main(d):
    spec = json.loads(Path("BENCHMARK.json").read_text())
    values = defaultdict(lambda: defaultdict(lambda: defaultdict(list)))
    for f in sorted(Path(d).glob("*-*-*.json")):
        run_set, workload, _ = f.stem.split("-", 2)
        res = json.loads(f.read_text().strip().splitlines()[-1])
        for name, m in res["metrics"].items():
            values[workload][run_set][name].append(m["value"])
    ok = True
    for workload, sets in sorted(values.items()):
        for m in spec["end_to_end"]:
            medians = []
            for run_set, vals in sorted(sets.items()):
                v = vals[m["name"]]
                if len(v) < 2:
                    print(f"{workload:12} {m['name']:17} set {run_set}: fewer than two runs")
                    continue
                q = statistics.quantiles(v, n=4)
                med = statistics.median(v)
                spread = (q[2] - q[0]) / med
                medians.append(med)
                over = spread > m["bound"]
                ok &= not over
                print(f"{workload:12} {m['name']:17} set {run_set}: n={len(v)} median={med:.4g} "
                      f"spread={spread:.3f} bound={m['bound']}{'  OVER' if over else ''}")
            if len(medians) == 2:
                moved = (medians[1] - medians[0]) / medians[0]
                worse = -moved if m["better"] == "higher" else moved
                ok &= worse <= m["bound"]
                print(f"{workload:12} {m['name']:17} median moved {moved:+.3f}"
                      f"{'  OVER' if worse > m['bound'] else ''}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
