#!/usr/bin/env python3
"""Compare two traced sidecars of perfbench/run.py (--trace 1):

    python3 perfbench/counters_diff.py BEFORE.json AFTER.json

Lists every item whose exact counters moved (a counter counts as exact for an
item when it repeated between the two traced passes of both runs), then the
per-layer self-time deltas per item and in total, then the per-layer metrics.
Exits 1 when any exact counter moved.
"""
import json
import sys


def load(path):
    with open(path) as fh:
        r = json.load(fh)
    if not r.get("items"):
        sys.exit(f"{path}: not a traced sidecar (run with --trace 1)")
    return r


def mean_self(item):
    keys = {k for p in ("pass1", "pass2") for k in item[p] if k.startswith("self.")}
    return {k[5:]: (item["pass1"].get(k, 0.0) + item["pass2"].get(k, 0.0)) / 2 for k in keys}


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a, b = load(sys.argv[1]), load(sys.argv[2])
    for name, r in (("before", a), ("after", b)):
        e = r["env"]
        print(f"{name}: {e['workload']} seed={e['seed']} commit={e['commit']} tree={e['tree']} "
              f"cpus={e['cpus']} heap={e['heap_max_mb']}MB "
              f"loadavg={e['loadavg_start']}->{e['loadavg_end']}")

    moved = []
    for item in sorted(set(a["items"]) | set(b["items"])):
        ia, ib = a["items"].get(item), b["items"].get(item)
        if ia is None or ib is None:
            moved.append((item, "(item only in one run)", "", ""))
            continue
        for k in sorted(set(ia["repeated"]) & set(ib["repeated"])):
            va, vb = ia["pass1"].get(k, 0.0), ib["pass1"].get(k, 0.0)
            if va != vb:
                moved.append((item, k, va, vb))
    print(f"\nexact counters that moved: {len(moved)}")
    for item, k, va, vb in moved:
        print(f"  {item:40s} {k:28s} {va} -> {vb}")
    inexact = sorted({i for r in (a, b) for i, v in r["items"].items() if v["work_moved"]})
    if inexact:
        print(f"  (jobs, stages, tasks, shuffle or SQL counters that moved between one run's own "
              f"traced passes are not compared: {inexact})")

    print("\nself-time deltas (s, mean of the two traced passes):")
    totals = {}
    rows = []
    for item in sorted(set(a["items"]) & set(b["items"])):
        sa, sb = mean_self(a["items"][item]), mean_self(b["items"][item])
        for layer in sorted(set(sa) | set(sb)):
            d = sb.get(layer, 0.0) - sa.get(layer, 0.0)
            totals[layer] = totals.get(layer, 0.0) + d
            rows.append((abs(d), item, layer, sa.get(layer, 0.0), sb.get(layer, 0.0), d))
    for _, item, layer, va, vb, d in sorted(rows, reverse=True)[:30]:
        print(f"  {item:40s} {layer:36s} {va:8.3f} -> {vb:8.3f} ({d:+.3f})")
    print("  totals by layer:")
    for layer, d in sorted(totals.items(), key=lambda kv: -abs(kv[1])):
        print(f"    {layer:36s} {d:+.3f}")

    print("\nper-layer metrics:")
    for k in a["layers"]:
        va, vb = a["layers"][k], b["layers"].get(k)
        rel = f"{(vb - va) / va:+.1%}" if vb is not None and va else ""
        print(f"  {k:36s} {va:14.4f} -> {vb if vb is None else f'{vb:14.4f}'} {rel}")
    return 1 if moved else 0


if __name__ == "__main__":
    sys.exit(main())
