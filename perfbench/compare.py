#!/usr/bin/env python3
"""Compare two sets of benchmark runs (A = parent, B = change).

    python3 perfbench/compare.py runs/parent runs/change

Each directory holds the standard output of perfbench/run.py, one file
per run (any names). A run's first line names its workload, seed and
trace flag; its last line is the JSON result.

For each workload x end-to-end metric the tool prints both sides'
median and quartiles, the share of pairs B won (runs paired by seed,
else by order; ties count for neither side) and a verdict against the
metric's bound in BENCHMARK.json:

  better      B won at least 9/10 of the pairs and the medians differ
              by more than A's own quartile spread
  worse       B's median is worse than A's by more than the bound
  unresolved  A's or B's quartile spread is wider than the bound
  same        none of the above

Then, for traced runs, it diffs the per-layer counters (jobs, stages,
tasks, bytes, files, filesystem metadata ops): host steal cannot move
them, so a change there is a change in the work done.
"""
import json
import os
import re
import statistics
import sys

HEADER = re.compile(r"^perfbench (\S+) seed=(-?\d+) .*trace=(\d)")
COUNTER_UNITS = {"count", "MB"}


def load(directory):
    """{(workload, trace): {seed: metrics}} from a directory of outputs."""
    runs = {}
    for name in sorted(os.listdir(directory)):
        path = os.path.join(directory, name)
        if not os.path.isfile(path):
            continue
        lines = [l for l in open(path).read().splitlines() if l.strip()]
        head = next((HEADER.match(l) for l in lines if HEADER.match(l)), None)
        if head is None or not lines[-1].startswith("{"):
            continue
        res = json.loads(lines[-1])
        key = (head.group(1), int(head.group(3)))
        runs.setdefault(key, {})[int(head.group(2)) * 1000 + len(runs.get(key, {}))] = res
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def pairs(a, b):
    """Pair runs by seed when both sides share seeds, else by order."""
    shared = sorted(set(k // 1000 for k in a) & set(k // 1000 for k in b))
    if shared:
        pick = lambda side, s: next(v for k, v in sorted(side.items()) if k // 1000 == s)
        return [(pick(a, s), pick(b, s)) for s in shared]
    return list(zip([v for _, v in sorted(a.items())], [v for _, v in sorted(b.items())]))


def main():
    if len(sys.argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    spec = json.load(open("BENCHMARK.json"))
    a, b = load(sys.argv[1]), load(sys.argv[2])
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    layer = {m["name"]: m for m in spec["per_layer"]}
    for (workload, trace) in sorted(set(a) & set(b)):
        ra, rb = a[(workload, trace)], b[(workload, trace)]
        print(f"== {workload} ({'traced' if trace else 'untraced'}): "
              f"{len(ra)} runs A, {len(rb)} runs B")
        fa = sum(r["failed"] for r in ra.values())
        fb = sum(r["failed"] for r in rb.values())
        ca = sum(not r["correct"] for r in ra.values())
        cb = sum(not r["correct"] for r in rb.values())
        print(f"   failed ops A={fa} B={fb}; runs with a failed check A={ca} B={cb}")
        if not trace:
            for name, m in e2e.items():
                xa = [r["metrics"][name]["value"] for r in ra.values() if name in r["metrics"]]
                xb = [r["metrics"][name]["value"] for r in rb.values() if name in r["metrics"]]
                if not xa or not xb:
                    continue
                qa, qb = quartiles(xa), quartiles(xb)
                lower = m["better"] == "lower"
                sign = 1 if lower else -1
                won = tied = 0
                ps = [(x["metrics"][name]["value"], y["metrics"][name]["value"])
                      for x, y in pairs(ra, rb) if name in x["metrics"] and name in y["metrics"]]
                for x, y in ps:
                    if x == y:
                        tied += 1
                    elif (y - x) * sign < 0:
                        won += 1
                spread_a = (qa[2] - qa[0]) / qa[1] if qa[1] else 0.0
                spread_b = (qb[2] - qb[0]) / qb[1] if qb[1] else 0.0
                worse_by = (qb[1] - qa[1]) / qa[1] * sign if qa[1] else 0.0
                if spread_a > m["bound"] or spread_b > m["bound"]:
                    verdict = "unresolved"
                elif worse_by > m["bound"]:
                    verdict = "worse"
                elif ps and won >= 0.9 * len(ps) and abs(qb[1] - qa[1]) > qa[2] - qa[0]:
                    verdict = "better"
                else:
                    verdict = "same"
                print(f"   {name:20s} A {qa[1]:.5g} [{qa[0]:.5g}, {qa[2]:.5g}]  "
                      f"B {qb[1]:.5g} [{qb[0]:.5g}, {qb[2]:.5g}] {m['unit']}  "
                      f"B won {won}/{len(ps)}  bound {m['bound']}  -> {verdict}")
        else:
            for name, m in layer.items():
                if m["unit"] not in COUNTER_UNITS:
                    continue
                xa = [r["metrics"][name]["value"] for r in ra.values() if name in r["metrics"]]
                xb = [r["metrics"][name]["value"] for r in rb.values() if name in r["metrics"]]
                if not xa or not xb:
                    continue
                ma, mb = statistics.median(xa), statistics.median(xb)
                if ma == 0 and mb == 0:
                    continue
                ratio = f"x{mb / ma:.3f}" if ma else "new"
                print(f"   {name:34s} A {ma:.5g}  B {mb:.5g} {m['unit']}  {ratio}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
