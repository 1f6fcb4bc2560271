#!/usr/bin/env python3
"""Compare two sets of benchmark runs: a parent and a change.

    python3 perfbench/compare.py <parent results dir> <change results dir>

Each directory holds the result files run.py writes to .bench_run/results
(`<workload>-s<seed>-t0.json`); copy them aside between the two sides.
For every workload and end-to-end metric it prints each side's median and
quartiles, the pair wins (runs paired by seed), and a verdict:

  gain         the change wins at least 9 of 10 pairs (ties count for
               neither) and the medians differ by more than the parent's
               own interquartile range;
  regression   the change's median is worse than the parent's by more
               than the metric's bound in BENCHMARK.json;
  unresolved   the parent's spread (IQR over median) exceeds the bound,
               unless every change run is better than every parent run;
  same         none of the above.

Metrics without a bound in BENCHMARK.json get only the gain test.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
HIGHER = {"ops_per_s", "scenes_per_s"}


def load_side(d):
    """{workload: {seed: {metric: value}}} from a results directory."""
    out = {}
    for p in sorted(glob.glob(os.path.join(d, "*-t0.json"))):
        with open(p) as f:
            r = json.load(f)
        vals = {k: v["value"] for k, v in r["end_to_end"].items()}
        out.setdefault(r["workload"], {})[r["seed"]] = vals
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(parent, change, pairs, better, bound):
    """Verdict for one metric; `pairs` are (parent, change) values."""
    def is_better(c, p):
        return c > p if better == "higher" else c < p

    wins = sum(1 for p, c in pairs if is_better(c, p))
    p1, pm, p3 = quartiles(parent)
    cm = statistics.median(change)
    iqr = p3 - p1
    if pairs and wins * 10 >= 9 * len(pairs) and abs(cm - pm) > iqr:
        return "gain", wins
    if bound is None:
        return "same", wins
    worse = ((pm - cm) if better == "higher" else (cm - pm)) / pm if pm else 0.0
    if worse > bound:
        return "regression", wins
    if pm and iqr / abs(pm) > bound and not all(
            is_better(c, p) for c in change for p in parent):
        return "unresolved", wins
    return "same", wins


def main(parent_dir, change_dir):
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = {m["name"]: m for m in json.load(f)["end_to_end"]}
    parent, change = load_side(parent_dir), load_side(change_dir)
    bad = 0
    for w in sorted(set(parent) & set(change)):
        seeds = sorted(set(parent[w]) & set(change[w]))
        names = sorted(set.intersection(*(set(v) for v in parent[w].values()),
                                        *(set(v) for v in change[w].values())))
        print(f"== {w}: {len(parent[w])} parent runs, {len(change[w])} change runs, "
              f"{len(seeds)} pairs")
        print(f"  {'metric':<16} {'parent q1/med/q3':>32} {'change q1/med/q3':>32} "
              f"{'bound':>6} {'wins':>6}  verdict")
        for n in names:
            pv = [v[n] for v in parent[w].values()]
            cv = [v[n] for v in change[w].values()]
            pairs = [(parent[w][s][n], change[w][s][n]) for s in seeds]
            m = spec.get(n)
            better = m["better"] if m else ("higher" if n in HIGHER else "lower")
            bound = m["bound"] if m else None
            v, wins = verdict(pv, cv, pairs, better, bound)
            bad += v == "regression"
            fmt = "/".join(f"{x:.4g}" for x in quartiles(pv))
            cfmt = "/".join(f"{x:.4g}" for x in quartiles(cv))
            print(f"  {n:<16} {fmt:>32} {cfmt:>32} "
                  f"{'-' if bound is None else bound:>6} {wins:>3}/{len(pairs):<2}  {v}")
    return 1 if bad else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
