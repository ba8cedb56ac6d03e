#!/usr/bin/env python3
"""Per-layer diff of two traced runs.

    python3 perfbench/diff.py BEFORE.json AFTER.json [--min-share 0.05]

BEFORE and AFTER are trace files written by `run.py --trace 1`
(.bench_build/traces/<workload>-<seed>.json). Prints every per-layer
metric that changed by more than --min-share of its BEFORE value, then
names the layer whose time moved most: the layer prefix (everything
before the last dot) with the largest absolute change in its time metrics
(wall_s, driver_s, build_s, plan_s, exec_s, task_s). A single pair of
traced runs is one sample each; use it to locate a change, not to claim
one.
"""
import argparse
import json

TIME_KEYS = ("wall_s", "driver_s", "build_s", "plan_s", "exec_s", "task_s")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("before")
    ap.add_argument("after")
    ap.add_argument("--min-share", type=float, default=0.05)
    a = ap.parse_args()
    b, c = (json.load(open(p)) for p in (a.before, a.after))
    if b["workload"] != c["workload"]:
        raise SystemExit(f"different workloads: {b['workload']} vs {c['workload']}")
    mb, mc = b["metrics"], c["metrics"]
    print(f"{'metric':46} {'before':>14} {'after':>14} {'change':>8}")
    moved = {}
    for k in sorted(set(mb) | set(mc)):
        x, y = mb.get(k, 0.0), mc.get(k, 0.0)
        share = (y - x) / abs(x) if x else (0.0 if y == x else float("inf"))
        if abs(share) > a.min_share:
            print(f"{k:46} {x:14.4g} {y:14.4g} {share:+8.1%}")
        layer, _, key = k.rpartition(".")
        if key in TIME_KEYS and layer:
            moved[layer] = moved.get(layer, 0.0) + (y - x)
    if moved:
        layer = max(moved, key=lambda l: abs(moved[l]))
        print(f"\nlayer that moved most: {layer} ({moved[layer]:+.3f} s summed "
              f"over its time metrics)")
    bw = [r["wall_s"] for r in b["rounds"]]
    cw = [r["wall_s"] for r in c["rounds"]]
    print(f"traced round wall: {sum(bw) / len(bw):.3f} s -> {sum(cw) / len(cw):.3f} s")


if __name__ == "__main__":
    main()
