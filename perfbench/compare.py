#!/usr/bin/env python3
"""Compare two sets of benchmark results.

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR
    python3 perfbench/compare.py --overhead UNTRACED_DIR TRACED_DIR

Each directory holds result files written by perfbench/run.py (one JSON
file per run). The first form prints one row per workload and end-to-end
metric of BENCHMARK.json: each side's median and quartiles, the fraction
of seed-paired runs the change wins, each side's failed and attempted
operations, and a verdict by the rule every performance claim in this
repository uses:

  improved      the change wins at least 9/10 of the pairs (ties count
                for neither), the medians differ, in the better
                direction, by more than the parent's quartile spread, and
                no more operations fail than at the parent;
  worse         the change's median is worse than the parent's by more
                than the metric's bound;
  unresolved    the parent's own spread (quartile distance over median)
                is wider than the bound, unless every change run reads
                better than every parent run;
  within bound  otherwise.

The second form prints the tracing overhead: traced median minus
untraced median per workload and metric.
"""
import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spec():
    """name -> (bound, better) of every end-to-end metric in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: (float(m["bound"]), m["better"]) for m in json.load(f)["end_to_end"]}


def load(d):
    """workload -> seed -> {"metrics": name -> value, "failed", "attempted"}."""
    runs = {}
    for p in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(p) as f:
            r = json.load(f)
        if "workload" not in r:
            continue
        runs.setdefault(r["workload"], {})[r["seed"]] = {
            "metrics": {k: v["value"] for k, v in r["metrics"].items()},
            "failed": r["failed"], "attempted": r["attempted"]}
    return runs


def quart(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def verdict(pv, cv, pairs, bound, better, more_failures):
    sign = 1 if better == "higher" else -1
    p1, pm, p3 = quart(pv)
    _, cm, _ = quart(cv)
    wins = sum(1 for a, b in pairs if sign * (b - a) > 0)
    frac = wins / len(pairs) if pairs else 0.0
    spread = (p3 - p1) / pm if pm else float("inf")
    if pairs and frac >= 0.9 and sign * (cm - pm) > (p3 - p1) and not more_failures:
        v = "improved"
    elif pm and -sign * (cm - pm) / pm > bound:
        v = "worse"
    elif spread > bound and not (sign * (min(cv) if sign > 0 else max(cv)) >
                                 sign * (max(pv) if sign > 0 else min(pv))):
        v = "unresolved"
    else:
        v = "within bound"
    return frac, v


def compare(parent_dir, change_dir):
    ps, cs, sp = load(parent_dir), load(change_dir), spec()
    print(f"{'workload':14} {'metric':15} {'parent q1/med/q3':>30} {'change q1/med/q3':>30} "
          f"{'wins':>6} {'bound':>6} {'failed p/c':>14}  verdict")
    for w in sorted(set(ps) & set(cs)):
        seeds = sorted(set(ps[w]) & set(cs[w]))
        pf, cf = (sum(r["failed"] for r in x[w].values()) for x in (ps, cs))
        pa, ca = (sum(r["attempted"] for r in x[w].values()) for x in (ps, cs))
        # failure rates, so that sides with a different number of runs compare
        more_failures = cf / max(1, ca) > pf / max(1, pa)
        for m, (bound, better) in sp.items():
            pv = [r["metrics"][m] for r in ps[w].values() if m in r["metrics"]]
            cv = [r["metrics"][m] for r in cs[w].values() if m in r["metrics"]]
            if not pv or not cv:
                continue
            pairs = [(ps[w][s]["metrics"][m], cs[w][s]["metrics"][m]) for s in seeds
                     if m in ps[w][s]["metrics"] and m in cs[w][s]["metrics"]]
            frac, v = verdict(pv, cv, pairs, bound, better, more_failures)
            fq = lambda xs: "/".join(f"{x:.4g}" for x in quart(xs))
            print(f"{w:14} {m:15} {fq(pv):>30} {fq(cv):>30} {frac:6.2f} {bound:6.2f} "
                  f"{f'{pf}/{pa} {cf}/{ca}':>14}  {v}")


def overhead(untraced_dir, traced_dir):
    us, ts = load(untraced_dir), load(traced_dir)
    print(f"{'workload':14} {'metric':15} {'untraced':>12} {'traced':>12} {'overhead':>12} {'rel':>8}")
    for w in sorted(set(us) & set(ts)):
        for m in spec():
            uv = [r["metrics"][m] for r in us[w].values() if m in r["metrics"]]
            tv = [r["metrics"][m] for r in ts[w].values() if m in r["metrics"]]
            if uv and tv:
                um, tm = statistics.median(uv), statistics.median(tv)
                rel = (tm - um) / um if um else float("nan")
                print(f"{w:14} {m:15} {um:12.4g} {tm:12.4g} {tm - um:12.4g} {rel:8.2%}")


def main():
    args = sys.argv[1:]
    if len(args) == 3 and args[0] == "--overhead":
        overhead(args[1], args[2])
    elif len(args) == 2:
        compare(args[0], args[1])
    else:
        sys.exit(__doc__)


if __name__ == "__main__":
    main()
