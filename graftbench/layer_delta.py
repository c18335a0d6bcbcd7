"""Per-layer deltas between two traced benchmark runs of one workload.

    python3 graftbench/layer_delta.py BEFORE.json AFTER.json

BEFORE and AFTER are trace files written by `run.py --trace 1`
(.bench_build/graftbench/trace-<workload>-<seed>.json). Prints every
per-layer metric that differs as before, after, delta and delta in
percent. Counts that repeat exactly between two runs of the same commit
(jobs, compiles per analytics call) print no line at all.
"""
import json
import sys


def main(argv):
    if len(argv) != 2:
        raise SystemExit(__doc__)
    runs = []
    for path in argv:
        with open(path) as f:
            runs.append(json.load(f))
    before, after = runs
    print(f"== {before['workload']} seed {before['seed']} -> "
          f"{after['workload']} seed {after['seed']}")
    print(f"{'metric':48s} {'before':>14s} {'after':>14s} {'delta':>14s} {'%':>8s}")
    a, b = before["per_layer"], after["per_layer"]
    for k in sorted(set(a) | set(b)):
        x, y = a.get(k, 0.0), b.get(k, 0.0)
        if x == y:
            continue
        pct = f"{100.0 * (y - x) / x:8.1f}" if x else f"{'':>8s}"
        print(f"{k:48s} {x:14.3f} {y:14.3f} {y - x:14.3f} {pct}")


if __name__ == "__main__":
    main(sys.argv[1:])
