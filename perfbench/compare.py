#!/usr/bin/env python3
"""A/B compare of two benchmark result sets: parent and change.

    python3 perfbench/compare.py PARENT/.bench_runs CHANGE/.bench_runs

A result set is the `.bench_runs` directory of a checkout after runs of
perfbench/run.py; each `<workload>-s<seed>-t<trace>/metrics.json` is one run.
Runs pair up by workload, seed and trace. Make at least ten pairs per
workload, alternating which checkout runs first.

For every workload x metric it prints each side's median and quartiles, the
share of pairs the change won (ties count for neither) and a verdict, by
the rules of the choosing-metrics guide, section 8, with the bounds of
BENCHMARK.json:
  improved    the change won at least 9 of 10 pairs, and the medians differ
              by more than the parent's own spread (Q3 - Q1)
  regressed   the change's median is worse than the parent's by more than the
              metric's bound (per-layer metrics, which have no bound: the
              parent won 9 of 10 pairs and the medians differ by more than
              the parent's spread)
  unresolved  neither, and the parent's spread is wider than the bound, so a
              change within the bound cannot be told from noise (unless every
              change run is better than every parent run)
  unchanged   neither, and the spread is within the bound
"""
import argparse
import glob
import json
import os
import re
import statistics
import sys


def load(root):
    """{(workload, trace): {seed: {metric: value}}}"""
    out = {}
    for f in glob.glob(os.path.join(root, "*", "metrics.json")):
        m = re.fullmatch(r"(.+)-s(-?\d+)-t([01])", os.path.basename(os.path.dirname(f)))
        if not m:
            continue
        with open(f) as fh:
            metrics = json.load(fh)["metrics"]
        out.setdefault((m[1], int(m[3])), {})[int(m[2])] = {
            k: v["value"] for k, v in metrics.items()}
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(par, chg, lower_better, bound):
    """(verdict, share of pairs won by the change)"""
    def better(a, b):  # a better than b
        return a < b if lower_better else a > b
    pairs = list(zip(par, chg))
    won = sum(1 for p, c in pairs if better(c, p)) / len(pairs)
    lost = sum(1 for p, c in pairs if better(p, c)) / len(pairs)
    p1, pm, p3 = quartiles(par)
    cm = statistics.median(chg)
    spread = p3 - p1
    if won >= 0.9 and better(cm, pm) and abs(cm - pm) > spread:
        return "improved", won
    if bound is None:
        if lost >= 0.9 and better(pm, cm) and abs(cm - pm) > spread:
            return "regressed", won
        return "unresolved", won
    worse = (cm - pm if lower_better else pm - cm) / abs(pm) if pm else 0.0
    if worse > bound:
        return "regressed", won
    all_better = all(better(c, p) for c in chg for p in par)
    if pm and spread / abs(pm) > bound and not all_better:
        return "unresolved", won
    return "unchanged", won


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--benchmark", default="BENCHMARK.json")
    a = ap.parse_args()
    with open(a.benchmark) as fh:
        bench = json.load(fh)
    spec = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    par, chg = load(a.parent), load(a.change)
    rows = []
    for key in sorted(set(par) & set(chg)):
        seeds = sorted(set(par[key]) & set(chg[key]))
        if not seeds:
            continue
        workload, trace = key
        for name in sorted(par[key][seeds[0]]):
            if name not in spec:
                continue
            p = [par[key][s][name] for s in seeds]
            c = [chg[key][s][name] for s in seeds]
            v, won = verdict(p, c, spec[name]["better"] == "lower", spec[name].get("bound"))
            rows.append((workload, name, spec[name]["unit"], quartiles(p), quartiles(c),
                         won, len(seeds), v))
    if not rows:
        sys.exit("no runs of the same workload, seed and trace in both result sets")
    print(f"{'workload':<18} {'metric':<34} {'parent median [Q1, Q3]':>34} "
          f"{'change median [Q1, Q3]':>34} {'won':>5} {'n':>3}  verdict")
    for w, name, unit, (p1, pm, p3), (c1, cm, c3), won, n, v in rows:
        print(f"{w:<18} {name:<34} {f'{pm:.4g} [{p1:.4g}, {p3:.4g}] {unit}':>34} "
              f"{f'{cm:.4g} [{c1:.4g}, {c3:.4g}] {unit}':>34} {won:5.0%} {n:>3}  {v}")
    sys.exit(1 if any(r[-1] == "regressed" for r in rows) else 0)


if __name__ == "__main__":
    main()
