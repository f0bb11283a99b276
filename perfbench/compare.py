#!/usr/bin/env python3
"""Compare two benchmark result files (parent and change).

Usage: python3 perfbench/compare.py PARENT.jsonl CHANGE.jsonl [--movers 0.10]

Each file is a results.jsonl written by run.py (one record per run). For
every workload and end-to-end metric (untraced runs) it prints both
medians and quartiles, the run counts, the fraction of pairs the change
wins, and a verdict:

  improved     the change wins at least 9/10 of all pairs and the medians
               differ by more than the parent's own quartile distance;
  worse        the same test with the roles swapped, or the change's median
               is worse than the parent's by more than the metric's bound;
  unresolved   the parent's spread is wider than the bound and neither of
               the above holds;
  same         within the bound, with a spread inside the bound.

Pairs are all (parent run, change run) combinations; ties count for neither
side. Runs whose output check failed still count; the failure tallies of
both sides are printed first, and a change that fails a larger share of its
operations than the parent gets no "improved" verdict. From traced runs it
then lists per-layer movers: metrics whose medians differ by more than
--movers (default 10 %), with both bases.
"""
import argparse
import json
import os
import statistics
from collections import defaultdict

BENCHMARK = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                         "BENCHMARK.json")


def load(path):
    """Returns (metric values by (workload, trace), run tallies by workload).
    Every run counts, failed ones included; a run without metrics (it
    errored before measuring) adds to the tallies only."""
    runs = defaultdict(lambda: defaultdict(list))    # (workload, trace) -> metric -> values
    tally = defaultdict(lambda: {"runs": 0, "bad_runs": 0, "attempted": 0, "failed": 0})
    with open(path) as f:
        for line in f:
            if not line.strip():
                continue
            r = json.loads(line)
            res = r["result"]
            t = tally[r["workload"]]
            t["runs"] += 1
            t["bad_runs"] += 0 if res.get("correct") else 1
            t["attempted"] += res.get("attempted", 0)
            t["failed"] += res.get("failed", 0)
            for name, m in res["metrics"].items():
                runs[(r["workload"], r["trace"])][name].append(m["value"])
    return runs, tally


def failed_frac(t):
    return t["failed"] / t["attempted"] if t["attempted"] else 0.0


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def verdict(parent, change, better, bound):
    sign = 1 if better == "lower" else -1
    wins = losses = 0
    for p in parent:
        for c in change:
            if sign * (p - c) > 0:
                wins += 1
            elif sign * (c - p) > 0:
                losses += 1
    pairs = len(parent) * len(change)
    mp, mc = statistics.median(parent), statistics.median(change)
    q1, q3 = quartiles(parent)
    spread = q3 - q1
    if pairs and wins >= 0.9 * pairs and abs(mc - mp) > spread:
        v = "improved"
    elif pairs and losses >= 0.9 * pairs and abs(mc - mp) > spread:
        v = "worse"
    elif sign * (mc - mp) > bound * abs(mp):
        v = "worse"
    elif spread > bound * abs(mp):
        v = "unresolved"
    else:
        v = "same"
    return wins / pairs if pairs else 0.0, v


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--movers", type=float, default=0.10)
    a = ap.parse_args()
    spec = json.load(open(BENCHMARK))
    (parent, ptally), (change, ctally) = load(a.parent), load(a.change)
    print("failures (failed/attempted operations; runs with a failed check):")
    for w in [x["name"] for x in spec["workloads"]]:
        p, c = ptally[w], ctally[w]
        print(f"  {w:18s} parent {p['failed']}/{p['attempted']} ops, {p['bad_runs']}/{p['runs']} "
              f"runs   change {c['failed']}/{c['attempted']} ops, {c['bad_runs']}/{c['runs']} runs")
    print()
    print(f"{'workload':18s} {'metric':12s} {'parent med [q1,q3] n':34s} "
          f"{'change med [q1,q3] n':34s} {'win':>5s}  verdict")
    for w in [x["name"] for x in spec["workloads"]]:
        for m in spec["end_to_end"]:
            p = parent[(w, 0)].get(m["name"], [])
            c = change[(w, 0)].get(m["name"], [])
            if not p or not c:
                print(f"{w:18s} {m['name']:12s} missing runs (parent {len(p)}, change {len(c)})")
                continue
            win, v = verdict(p, c, m["better"], m["bound"])
            if v == "improved" and failed_frac(ctally[w]) > failed_frac(ptally[w]):
                v = "unresolved (more failures)"

            def cell(xs):
                q1, q3 = quartiles(xs)
                return f"{statistics.median(xs):.4g} [{q1:.4g},{q3:.4g}] n={len(xs)}"
            print(f"{w:18s} {m['name']:12s} {cell(p):34s} {cell(c):34s} {win:5.2f}  {v}")
    print(f"\nper-layer movers (traced runs, |change/parent - 1| > {a.movers:.0%}):")
    for w in [x["name"] for x in spec["workloads"]]:
        rows = []
        for m in spec["per_layer"]:
            p = parent[(w, 1)].get(m["name"], [])
            c = change[(w, 1)].get(m["name"], [])
            if not p or not c:
                continue
            mp, mc = statistics.median(p), statistics.median(c)
            if mp == 0 and mc == 0:
                continue
            ratio = mc / mp if mp else float("inf")
            if abs(ratio - 1) > a.movers:
                rows.append((abs(ratio - 1), m["name"], mp, mc, ratio, m["unit"], len(p), len(c)))
        for _, name, mp, mc, ratio, unit, np_, nc in sorted(rows, reverse=True):
            print(f"  {w:18s} {name:34s} {mp:.4g} -> {mc:.4g} {unit} "
                  f"(x{ratio:.3f}, n={np_}/{nc})")


if __name__ == "__main__":
    main()
