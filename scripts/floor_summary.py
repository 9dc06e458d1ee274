#!/usr/bin/env python3
"""Aggregate two FloorAudit outputs (a small and a large scale factor)
into the per-query fixed-floor decomposition table for SCALE.md:
suite-level component sums at each scale factor, the cross-scale deltas
that separate fixed from marginal cost, and the outlier queries on each
component.

    python3 scripts/floor_summary.py FLOOR_AUDIT_sf0.001.json FLOOR_AUDIT_sf0.1.json
"""
import json
import sys


def load(path):
    with open(path) as f:
        d = json.load(f)
    return {q["query"]: q for q in d["queries"]}


def comp(q):
    return {
        "build": q["build_ms"],
        "catalyst": q["plan_ms"],
        "codegen_jit": max(0.0, q["exec1_ms"] - q["exec2_ms"]),
        "steady_exec": q["exec2_ms"],
        "cold_total": q["build_ms"] + q["plan_ms"] + q["exec1_ms"],
        "jobs": q["jobs"],
        "tasks": q["tasks"],
        "task_ms": q["task_ms"],
    }


def main():
    if len(sys.argv) != 3:
        sys.exit("usage: floor_summary.py <small-sf FLOOR_AUDIT.json> <large-sf FLOOR_AUDIT.json>")
    small = load(sys.argv[1])
    big = load(sys.argv[2])
    shared = sorted(set(small) & set(big))
    print(f"queries in both: {len(shared)}  (sf0.001 only: {len(set(small)-set(big))}, sf0.1 only: {len(set(big)-set(small))})")

    for label, data in (("sf0.001", small), ("sf0.1", big)):
        cs = [comp(data[n]) for n in shared]
        tot = {k: sum(c[k] for c in cs) for k in cs[0]}
        print(f"\n== {label} suite sums over {len(cs)} queries ==")
        for k in ("build", "catalyst", "codegen_jit", "steady_exec", "cold_total"):
            print(f"  {k:12s} {tot[k]/1000:8.1f} s   (median {sorted(c[k] for c in cs)[len(cs)//2]:7.1f} ms)")
        print(f"  jobs {tot['jobs']} tasks {tot['tasks']} task_time {tot['task_ms']/1000:.1f} s")

    print("\n== cross-scale growth (sf0.001 -> sf0.1, 100x data) ==")
    for k in ("build", "catalyst", "codegen_jit", "steady_exec"):
        a = sum(comp(small[n])[k] for n in shared)
        b = sum(comp(big[n])[k] for n in shared)
        print(f"  {k:12s} {a/1000:7.1f} s -> {b/1000:7.1f} s  ({b/a:4.2f}x)")

    print("\n== top 10 by steady-exec growth (the data-bound queries) ==")
    grow = sorted(shared, key=lambda n: -(comp(big[n])["steady_exec"] - comp(small[n])["steady_exec"]))
    for n in grow[:10]:
        a, b = comp(small[n])["steady_exec"], comp(big[n])["steady_exec"]
        print(f"  {n:24s} {a:8.1f} -> {b:8.1f} ms")

    print("\n== top 10 fixed floor at sf0.1 (build+catalyst+codegen) ==")
    fixed = sorted(shared, key=lambda n: -(comp(big[n])["build"] + comp(big[n])["catalyst"] + comp(big[n])["codegen_jit"]))
    for n in fixed[:10]:
        c = comp(big[n])
        print(f"  {n:24s} build {c['build']:7.1f}  catalyst {c['catalyst']:6.1f}  codegen {c['codegen_jit']:7.1f} ms")

    print("\n== top 10 by job count at sf0.1 ==")
    for n in sorted(shared, key=lambda n: -big[n]["jobs"])[:10]:
        print(f"  {n:24s} jobs {big[n]['jobs']:3d}  tasks {big[n]['tasks']:5d}")


if __name__ == "__main__":
    main()
