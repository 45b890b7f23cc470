#!/usr/bin/env python3
"""Compare two sets of benchmark runs: a parent and a change.

Usage: python3 perfbench/compare.py <parent results dir> <change results dir>

Each directory holds the result files `perfbench/run.py` writes to
`.bench_build/results/` (`<workload>-seed<n>-trace<t>.json`). Runs are
paired by workload, trace mode and seed. For every workload x metric the
tool prints both sides' median and quartiles (Python's
`statistics.quantiles(values, n=4)`, the definition the harness's own
`Stats.quantile` follows), the fraction of pairs the change
wins (ties count for neither side), and a verdict:

  better      the change wins at least 9 of 10 pairs and the medians
              differ by more than the parent's quartile spread
  worse       the change's median is worse than the parent's by more
              than the metric's bound (a share of the parent's median)
  unresolved  a side's quartile spread, as a share of its median, is
              wider than the bound, and the runs do not separate fully
  same        none of the above: within the bound

Per-layer metrics have no bound; they get `better`, `worse` (the mirror
of the `better` rule) or `same`.
"""
import json
import statistics
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def load(d):
    runs = {}
    for f in sorted(Path(d).glob("*.json")):
        if f.name.endswith("-spans.json"):
            continue
        r = json.loads(f.read_text())
        if "metrics" not in r:
            continue
        for name, m in r["metrics"].items():
            runs.setdefault((r["workload"], name), {})[r["seed"]] = m["value"]
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(parent, change, better, bound):
    """(verdict, pair win fraction) under the rules in the module docstring."""
    sign = 1.0 if better == "higher" else -1.0
    seeds = sorted(set(parent) & set(change))
    wins = sum(1 for s in seeds if sign * (change[s] - parent[s]) > 0)
    losses = sum(1 for s in seeds if sign * (change[s] - parent[s]) < 0)
    win_frac = wins / len(seeds) if seeds else float("nan")
    loss_frac = losses / len(seeds) if seeds else float("nan")
    p, c = list(parent.values()), list(change.values())
    pq1, pmed, pq3 = quartiles(p)
    cq1, cmed, cq3 = quartiles(c)
    diff = sign * (cmed - pmed)
    if seeds and win_frac >= 0.9 and diff > (pq3 - pq1):
        return "better", win_frac
    if bound is not None:
        separated = (min(sign * x for x in c) > max(sign * x for x in p) or
                     max(sign * x for x in c) < min(sign * x for x in p))
        spread = max((pq3 - pq1) / abs(pmed) if pmed else float("inf"),
                     (cq3 - cq1) / abs(cmed) if cmed else float("inf"))
        if -diff > bound * abs(pmed):
            return ("worse" if spread <= bound or separated else "unresolved"), win_frac
        if spread > bound and not separated:
            return "unresolved", win_frac
        return "same", win_frac
    if seeds and loss_frac >= 0.9 and -diff > (pq3 - pq1):
        return "worse", win_frac
    return "same", win_frac


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    specs = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    parent, change = load(argv[1]), load(argv[2])
    print(f"{'workload':<13} {'metric':<36} {'parent q1/med/q3':>30} {'change q1/med/q3':>30} "
          f"{'wins':>5} verdict")
    worse = 0
    for key in sorted(set(parent) & set(change)):
        wl, name = key
        spec = specs.get(name)
        if spec is None:
            continue
        v, win = verdict(parent[key], change[key], spec["better"], spec.get("bound"))
        worse += v == "worse" and "bound" in spec
        pq, cq = quartiles(list(parent[key].values())), quartiles(list(change[key].values()))
        fmt = lambda q: "/".join(f"{x:.4g}" for x in q)  # noqa: E731
        print(f"{wl:<13} {name:<36} {fmt(pq):>30} {fmt(cq):>30} {win:>5.2f} {v}"
              f" (n={len(parent[key])}/{len(change[key])})")
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
