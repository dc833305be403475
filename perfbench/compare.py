#!/usr/bin/env python3
"""Compare two sets of benchmark runs, or summarize one.

    python3 perfbench/compare.py BASE_DIR [NEW_DIR]

A set is a directory of `*.out` files, one per run, each holding the
run's stdout (its last line is the run's JSON result).  A file belongs to
the workload whose name appears in its file name, e.g.
`serve_daily-seed3.out`; runs of a set are paired with the other set's
runs of the same workload in file-name order.

For each workload and metric it prints each side's median and quartiles
(`statistics.quantiles(n=4)`), the spread (quartile distance over the
median), the share of failed operations, and with two sets the pair win
count and a verdict against the metric's bound:

  improved    the new side wins at least 9 in 10 pairs and the medians
              differ by more than the base side's quartile distance
  worse       the new median is worse than the base median by more than
              the bound
  unresolved  either side's spread exceeds the bound and the new side
              does not read better than the base in every run
  no worse    otherwise
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import WORKLOADS  # noqa: E402


def load_set(path, workloads):
    runs = {}
    for name in sorted(os.listdir(path)):
        w = next((w for w in sorted(workloads, key=len, reverse=True) if w in name), None)
        if w is None or not name.endswith(".out"):
            continue
        lines = [ln for ln in open(os.path.join(path, name)).read().splitlines() if ln.strip()]
        try:
            res = json.loads(lines[-1])
        except (IndexError, ValueError):
            print(f"skipping {name}: no JSON result line", file=sys.stderr)
            continue
        runs.setdefault(w, []).append(res)
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / abs(q2) if q2 else float("inf")


def verdict(base, new, better, bound):
    sign = -1 if better == "lower" else 1
    pairs = list(zip(base, new))
    wins = sum(1 for b, n in pairs if sign * (n - b) > 0)
    if bound is None:
        return wins, len(pairs), "-"
    q1, mb, q3 = quartiles(base)
    _, mn, _ = quartiles(new)
    all_better = all(sign * (n - b) > 0 for b in base for n in new)
    if wins >= 0.9 * len(pairs) and abs(mn - mb) > (q3 - q1):
        v = "improved"
    elif sign * (mn - mb) < -bound * abs(mb):
        v = "worse"
    elif max(spread(base), spread(new)) > bound and not all_better:
        v = "unresolved"
    else:
        v = "no worse"
    return wins, len(pairs), v


def main():
    if len(sys.argv) not in (2, 3):
        print(__doc__, file=sys.stderr)
        sys.exit(2)
    spec = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
    metrics = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    workloads = list(WORKLOADS)
    sets = [load_set(p, workloads) for p in sys.argv[1:]]
    for w in workloads:
        sides = [s.get(w, []) for s in sets]
        if not any(sides):
            continue
        print(f"== {w}: " + ", ".join(f"{len(s)} runs" for s in sides))
        for i, s in enumerate(sides):
            att = sum(r["attempted"] for r in s)
            fail = sum(r["failed"] for r in s)
            shares = sorted({round(r["failed"] / r["attempted"], 9) for r in s})
            print(f"   set {i + 1}: {fail}/{att} operations failed; per-run shares {shares}; "
                  f"correct in {sum(1 for r in s if r['correct'])}/{len(s)} runs")
        sides = [s for s in sides if s]
        names = [n for n in metrics if all(n in r["metrics"] for s in sides for r in s)]
        for n in names:
            m = metrics[n]
            cols = []
            vals = [[r["metrics"][n]["value"] for r in s] for s in sides]
            for v in vals:
                q1, q2, q3 = quartiles(v)
                cols.append(f"{q2:12.4f} [{q1:.4f}, {q3:.4f}] spread {spread(v):.3f}")
            line = f"   {n:34s} {m['unit']:6s} " + " | ".join(cols)
            if len(vals) == 2:
                wins, pairs, v = verdict(vals[0], vals[1], m["better"], m.get("bound"))
                line += f" | wins {wins}/{pairs} {v}"
            elif m.get("bound") is not None:
                line += f" | bound {m['bound']}"
            print(line)


if __name__ == "__main__":
    main()
