#!/usr/bin/env python3
"""Interleaved A/B of the repo benchmark: runs `perfbench/run.py --trace 0`
alternately in two checkouts and compares their end-to-end metrics.

    python3 scripts/ab_bench.py <parent_dir> <change_dir> \
        --workload dag_ticks --seeds 41 42 43 44 45 [--seconds 26]

Each seed runs once in each checkout. The order alternates by seed
(parent first on the first seed, change first on the second, ...), so a
drift in host speed during the session does not land on one side only.
The one-minute load average is recorded before every run. For every
`end_to_end` metric in the parent's BENCHMARK.json it prints each side's
median and quartiles, the change/parent ratio of the medians, how many
seeds the change won (by the metric's `better` direction; ties count for
neither side), the per-seed ratios and a verdict:

  gain        the change won at least 9 of 10 pairs and its median beats
              the parent's by more than the parent's interquartile range
  regression  the change's median is worse than the parent's by more than
              the metric's `bound` (a fraction of the parent's median)
  flat        the medians differ by no more than the parent's IQR, and
              that IQR is within the bound
  unresolved  anything else: a move beyond the IQR that is neither, or a
              parent spread wider than the bound

Exits 1 if any run is incorrect or produces no result line.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def ratio(parent, change):
    return change / parent if parent else float("nan")


def verdict(pairs, better, bound):
    """The verdict line of one metric from its (parent, change) pairs."""
    parent = [p for p, _ in pairs]
    pm = statistics.median(parent)
    cm = statistics.median(c for _, c in pairs)
    sign = 1 if better == "higher" else -1
    gap = sign * (cm - pm)  # > 0: the change is better
    q = statistics.quantiles(parent, n=4) if len(parent) > 1 else [pm] * 3
    iqr = q[2] - q[0]
    wins = sum(1 for p, c in pairs if sign * (c - p) > 0)
    if wins >= 0.9 * len(pairs) and gap > iqr:
        return "gain"
    if -gap > bound * abs(pm):
        return "regression"
    if abs(gap) <= iqr <= bound * abs(pm):
        return "flat"
    return "unresolved"


def run_once(checkout, workload, seed, seconds):
    """One plain benchmark run; returns (result dict or None, load before)."""
    load = loadavg()
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [x for x in p.stdout.splitlines() if x.startswith("{")]
    result = json.loads(lines[-1]) if p.returncode == 0 and lines else None
    if result is None or "metrics" not in result:
        sys.stderr.write(f"{checkout} seed {seed}: exit {p.returncode}\n"
                         f"{p.stdout[-2000:]}{p.stderr[-2000:]}\n")
        result = None
    return result, load


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent", type=Path)
    ap.add_argument("change", type=Path)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=float, default=None,
                    help="default: run_seconds of BENCHMARK.json")
    a = ap.parse_args()

    bench = json.loads((a.parent / "BENCHMARK.json").read_text())
    seconds = a.seconds if a.seconds is not None else bench["run_seconds"]
    metrics = [m["name"] for m in bench["end_to_end"]]
    sides = {"parent": a.parent, "change": a.change}
    values = {s: {m: [] for m in metrics} for s in sides}
    ok = True

    for i, seed in enumerate(a.seeds):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            result, load = run_once(sides[side], a.workload, seed, seconds)
            good = result is not None and result["correct"]
            ok = ok and good
            tail = result["metrics"]["op_tail_s"]["value"] if result else float("nan")
            print(f"seed {seed} {side:6s} load {load:5.2f} correct {good} "
                  f"op_tail_s {tail:.3f}", flush=True)
            for m in metrics:
                values[side][m].append(result["metrics"][m]["value"] if result else None)

    print(f"\n{a.workload}, {len(a.seeds)} seeds {a.seeds}")
    print(f"{'metric':28s} {'parent median [q1, q3]':>30s} {'change median [q1, q3]':>30s} "
          f"{'ratio':>6s} {'wins':>5s} {'verdict':>10s}  per-seed ratios")
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    bound = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for m in metrics:
        pairs = [(p, c) for p, c in zip(values["parent"][m], values["change"][m])
                 if p is not None and c is not None]
        if not pairs:
            continue
        cols = []
        for side in (0, 1):
            v = [x[side] for x in pairs]
            q = statistics.quantiles(v, n=4) if len(v) > 1 else [v[0]] * 3
            cols.append(f"{statistics.median(v):.4g} [{q[0]:.4g}, {q[2]:.4g}]")
        pm = statistics.median(p for p, _ in pairs)
        cm = statistics.median(c for _, c in pairs)
        sign = 1 if better[m] == "higher" else -1
        wins = sum(1 for p, c in pairs if sign * (c - p) > 0)
        per_seed = " ".join(f"{ratio(p, c):.3f}" for p, c in pairs)
        print(f"{m:28s} {cols[0]:>30s} {cols[1]:>30s} {ratio(pm, cm):6.3f} "
              f"{wins:2d}/{len(pairs):<2d} {verdict(pairs, better[m], bound[m]):>10s}  "
              f"{per_seed}")
    if not ok:
        print("at least one run was incorrect or failed", file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
