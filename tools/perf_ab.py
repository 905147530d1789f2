#!/usr/bin/env python3
"""Alternating parent/change A/B of the repository benchmark.

    python3 tools/perf_ab.py PARENT_REV [--pairs 10] [--workdir DIR]

Exports PARENT_REV (`git archive`) into a temporary directory, then runs
each workload BENCHMARK.json lists for its run_seconds, once per seed
from both checkouts through `perfbench/run.py --out`, seed by seed,
alternating which side goes first. The change side is this working
tree, uncommitted edits included. Result files land in WORKDIR/parent
and WORKDIR/change. Then it runs `perfbench/compare.py` on the two sets,
whose verdict rule wants ten seed pairs, and prints each call kind's
median latency per side from the result files' `calls_ms`.
"""
import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SEED0 = 801


def spec():
    """(run_seconds, workload names) from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return b["run_seconds"], [w["name"] for w in b["workloads"]]


def export(rev):
    """A fresh directory holding the files of `rev`."""
    d = tempfile.mkdtemp(prefix="perf_ab-parent-")
    archive = subprocess.run(["git", "-C", ROOT, "archive", "--format=tar", rev],
                             stdout=subprocess.PIPE, check=True).stdout
    subprocess.run(["tar", "-x", "-C", d], input=archive, check=True)
    return d


def run_one(checkout, workload, seed, seconds, out):
    cmd = [sys.executable, os.path.join(checkout, "perfbench", "run.py"),
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--out", out]
    r = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    last = r.stdout.strip().splitlines()[-1:] or ["(no output)"]
    print(f"  {os.path.basename(os.path.dirname(out)):6} {workload} seed {seed}: "
          f"exit {r.returncode} {last[0][:160]}", flush=True)


def call_medians(d):
    """workload -> call kind -> every call's ms over all result files in d."""
    calls = {}
    for p in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(p) as f:
            r = json.load(f)
        for kind, ms in (r.get("calls_ms") or {}).items():
            calls.setdefault(r["workload"], {}).setdefault(kind, []).extend(ms)
    return calls


def print_calls(parent_dir, change_dir):
    ps, cs = call_medians(parent_dir), call_medians(change_dir)
    print(f"\n{'workload':14} {'call':22} {'parent p50 ms':>14} {'change p50 ms':>14} "
          f"{'rel':>8} {'calls p/c':>12}")
    for w in sorted(set(ps) | set(cs)):
        for k in sorted(set(ps.get(w, {})) | set(cs.get(w, {}))):
            pv, cv = ps.get(w, {}).get(k, []), cs.get(w, {}).get(k, [])
            pm = statistics.median(pv) if pv else float("nan")
            cm = statistics.median(cv) if cv else float("nan")
            rel = (cm - pm) / pm if pv and cv and pm else float("nan")
            print(f"{w:14} {k:22} {pm:14.1f} {cm:14.1f} {rel:8.1%} "
                  f"{f'{len(pv)}/{len(cv)}':>12}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent_rev")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--workdir", help="result directory (default: a new temporary one)")
    a = ap.parse_args()
    seconds, workloads = spec()
    workdir = a.workdir or tempfile.mkdtemp(prefix="perf_ab-")
    parent = export(a.parent_rev)
    sides = {"parent": parent, "change": ROOT}
    try:
        for side in sides:
            os.makedirs(os.path.join(workdir, side), exist_ok=True)
        for i in range(a.pairs):
            seed = SEED0 + i
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            for w in workloads:
                for side in order:
                    run_one(sides[side], w, seed, seconds,
                            os.path.join(workdir, side, f"{w}-{seed}.json"))
        print(f"\nresults in {workdir}")
        subprocess.run([sys.executable, os.path.join(ROOT, "perfbench", "compare.py"),
                        os.path.join(workdir, "parent"), os.path.join(workdir, "change")])
        print_calls(os.path.join(workdir, "parent"), os.path.join(workdir, "change"))
    finally:
        shutil.rmtree(parent, ignore_errors=True)


if __name__ == "__main__":
    main()
