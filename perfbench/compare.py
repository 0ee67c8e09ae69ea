#!/usr/bin/env python3
"""Compare two sets of benchmark result files: parent and change.

    python3 perfbench/compare.py <parent_dir> <change_dir>

Each directory holds result files written by perfbench/run.py
(<workload>_seed<seed>_trace<trace>.json, as in perfbench/.work/results/).

For every workload and end-to-end metric of BENCHMARK.json it prints each
side's median and quartiles, the fraction of seed-matched pairs the change
wins (ties count for neither side), and a verdict against the metric's
bound (runs of the same seed are paired; sets run on different seeds pair in
seed order):

  improved    the change wins at least 9 in 10 pairs and its median is
              better than the parent's by more than the parent's own
              quartile spread
  worse       the change's median is worse than the parent's by more than
              the bound
  unresolved  neither, and the parent's quartile spread is wider than the
              bound, unless every change run beats every parent run
  unchanged   otherwise

Then, from the traced runs, each per-layer metric's median on both sides
and the change relative to the parent.
"""
import glob
import json
import os
import re
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME = re.compile(r"(?P<workload>.+)_seed(?P<seed>-?\d+)_trace(?P<trace>[01])\.json$")


def load(directory):
    """{(workload, trace): {seed: result}}"""
    out = {}
    for path in sorted(glob.glob(os.path.join(directory, "*.json"))):
        m = NAME.search(os.path.basename(path))
        if not m:
            continue
        with open(path) as f:
            result = json.load(f)
        out.setdefault((m["workload"], int(m["trace"])), {})[int(m["seed"])] = result
    return out


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def verdict(parent, change, pairs, lower_is_better, bound):
    sign = 1 if lower_is_better else -1
    p1, pm, p3 = quartiles(parent)
    _, cm, _ = quartiles(change)
    wins = sum(1 for p, c in pairs if sign * (p - c) > 0)
    win_frac = wins / len(pairs) if pairs else float("nan")
    gain = sign * (pm - cm)
    if pairs and win_frac >= 0.9 and gain > p3 - p1:
        return "improved", win_frac
    if -gain > bound * pm:
        return "worse", win_frac
    all_better = all(sign * (p - c) > 0 for p in parent for c in change)
    if pm and (p3 - p1) / pm > bound and not all_better:
        return "unresolved", win_frac
    return "unchanged", win_frac


def fmt(x):
    return f"{x:.4g}"


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    parent, change = load(sys.argv[1]), load(sys.argv[2])

    print("end to end (untraced runs)")
    print(f"{'workload':16} {'metric':15} {'parent q1/med/q3':>28} {'change q1/med/q3':>28}"
          f" {'n':>5} {'wins':>5}  verdict")
    for w in spec["workloads"]:
        ps, cs = parent.get((w["name"], 0), {}), change.get((w["name"], 0), {})
        if not ps or not cs:
            print(f"{w['name']:16} (missing untraced runs on one side)")
            continue
        for m in spec["end_to_end"]:
            name = m["name"]
            pv = [r["end_to_end"][name]["value"] for r in ps.values()]
            cv = [r["end_to_end"][name]["value"] for r in cs.values()]
            # pair runs of the same seed; sets run on different seeds pair in seed order
            common = sorted(set(ps) & set(cs))
            keys = list(zip(common, common)) or list(zip(sorted(ps), sorted(cs)))
            pairs = [(ps[p]["end_to_end"][name]["value"], cs[c]["end_to_end"][name]["value"])
                     for p, c in keys]
            v, win = verdict(pv, cv, pairs, m["better"] == "lower", m["bound"])
            pq, cq = quartiles(pv), quartiles(cv)
            print(f"{w['name']:16} {name:15} {'/'.join(map(fmt, pq)):>28} "
                  f"{'/'.join(map(fmt, cq)):>28} {len(pv):>2}/{len(cv):<2} {win:>5.2f}  {v}")

    print("\nper layer (traced runs, medians)")
    for w in spec["workloads"]:
        ps, cs = parent.get((w["name"], 1), {}), change.get((w["name"], 1), {})
        if not ps or not cs:
            print(f"{w['name']}: missing traced runs on one side")
            continue
        print(f"{w['name']} ({len(ps)} parent, {len(cs)} change)")
        for m in spec["per_layer"]:
            name = m["name"]
            p = statistics.median(r["per_layer"][name]["value"] for r in ps.values())
            c = statistics.median(r["per_layer"][name]["value"] for r in cs.values())
            rel = f"{(c - p) / p:+.1%}" if p else ("=" if c == p else "new")
            print(f"  {name:34} {fmt(p):>12} {fmt(c):>12} {rel:>8} {m['unit']}")


if __name__ == "__main__":
    main()
