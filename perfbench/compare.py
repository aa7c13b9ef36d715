"""Compare two sets of benchmark runs, metric by metric and workload by
workload.

    python3 perfbench/sweep.py --out base.jsonl --seeds 1-10
    python3 perfbench/sweep.py --out change.jsonl --seeds 1-10
    python3 perfbench/compare.py base.jsonl change.jsonl

For each end-to-end metric × workload it prints both sets' medians and
quartiles, the share of seed-paired runs the second set wins, and a
verdict:

* ``better`` — the second set wins at least 9 of 10 pairs and the
  medians differ by more than the first set's interquartile distance;
* ``regression`` — the second median is worse than the first by more
  than the metric's bound;
* ``unresolved`` — either set's spread (interquartile distance over
  median) exceeds the bound, unless every run of one set beats every
  run of the other;
* ``no change`` — otherwise.

``agree`` is the same-code check: both spreads within the bound
(``setup_s`` exempt from the spread test) and the second median no worse
than the first by more than the bound.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
if os.path.dirname(HERE) not in sys.path:
    sys.path.insert(0, os.path.dirname(HERE))

from perfbench.stats import quartiles, spread  # noqa: E402


def load(path: str) -> dict[str, dict[int, dict[str, float]]]:
    """{workload: {seed: {metric: value}}} from a sweep file."""
    out: dict[str, dict[int, dict[str, float]]] = {}
    with open(path) as f:
        for line in f:
            rec = json.loads(line)
            res = rec["result"]
            if res is None:
                continue
            out.setdefault(rec["workload"], {})[rec["seed"]] = {
                k: v["value"] for k, v in res["metrics"].items()
            }
    return out


def verdict(a: list[float], b: list[float], wins: float, better: str, bound: float) -> str:
    sign = 1 if better == "higher" else -1
    q1a, ma, q3a = quartiles(a)
    _, mb, _ = quartiles(b)
    worse_by = sign * (ma - mb) / ma if ma else 0.0
    separated = (min(b) > max(a) or max(b) < min(a)) if a and b else False
    if (spread(a) > bound or spread(b) > bound) and not separated:
        return "unresolved"
    if wins >= 0.9 and sign * (mb - ma) > (q3a - q1a):
        return "better"
    if worse_by > bound:
        return "regression"
    return "no change"


def agree(a: list[float], b: list[float], name: str, better: str, bound: float) -> bool:
    sign = 1 if better == "higher" else -1
    ma, mb = quartiles(a)[1], quartiles(b)[1]
    spreads_ok = name == "setup_s" or (spread(a) <= bound and spread(b) <= bound)
    return spreads_ok and sign * (ma - mb) / ma <= bound


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="compare two sets of benchmark runs")
    ap.add_argument("first")
    ap.add_argument("second")
    ap.add_argument("--bench", default="BENCHMARK.json")
    args = ap.parse_args(argv)
    with open(args.bench) as f:
        spec = json.load(f)
    a_all, b_all = load(args.first), load(args.second)
    print(f"{'workload':12s} {'metric':12s} {'median A':>10s} {'q1-q3 A':>19s} {'spread A':>8s} "
          f"{'median B':>10s} {'q1-q3 B':>19s} {'spread B':>8s} {'wins':>5s}  verdict       agree")
    all_agree = True
    for w in spec["workloads"]:
        a_runs, b_runs = a_all.get(w["name"], {}), b_all.get(w["name"], {})
        for m in spec["end_to_end"]:
            name, better, bound = m["name"], m["better"], m["bound"]
            a = [r[name] for r in a_runs.values() if name in r]
            b = [r[name] for r in b_runs.values() if name in r]
            if not a or not b:
                print(f"{w['name']:12s} {name:12s} missing runs")
                all_agree = False
                continue
            pairs = [(a_runs[s][name], b_runs[s][name]) for s in sorted(set(a_runs) & set(b_runs))]
            sign = 1 if better == "higher" else -1
            wins = sum(sign * (y - x) > 0 for x, y in pairs) / len(pairs) if pairs else 0.0
            qa, qb = quartiles(a), quartiles(b)
            ok = agree(a, b, name, better, bound)
            all_agree &= ok
            print(f"{w['name']:12s} {name:12s} {qa[1]:10.4g} {qa[0]:9.4g}-{qa[2]:<9.4g} {spread(a):8.3f} "
                  f"{qb[1]:10.4g} {qb[0]:9.4g}-{qb[2]:<9.4g} {spread(b):8.3f} {wins:5.2f}  "
                  f"{verdict(a, b, wins, better, bound):12s}  {'yes' if ok else 'NO'}")
    print(f"sets agree within bounds: {'yes' if all_agree else 'NO'}")
    return 0 if all_agree else 1


if __name__ == "__main__":
    sys.exit(main())
