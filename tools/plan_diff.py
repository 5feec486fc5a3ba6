#!/usr/bin/env python3
"""Diff two PlanSummary artifacts: prints every query whose plan-shape
counters differ (or that exists in only one file). Exits 0 when the two
snapshots planned every query identically, 1 when any query differs.

Usage: python3 tools/plan_diff.py <old.json> <new.json>
"""
import json
import sys


def main(old_path, new_path):
    old = json.load(open(old_path))
    new = json.load(open(new_path))
    old_q = {k: v for k, v in old.items() if k.startswith("q")}
    new_q = {k: v for k, v in new.items() if k.startswith("q")}
    n_diff = 0
    for k in sorted(set(old_q) | set(new_q)):
        if k not in old_q:
            print(f"{k}: only in {new_path}")
            n_diff += 1
        elif k not in new_q:
            print(f"{k}: only in {old_path}")
            n_diff += 1
        elif old_q[k] != new_q[k]:
            delta = {f: (old_q[k].get(f), new_q[k].get(f))
                     for f in set(old_q[k]) | set(new_q[k])
                     if old_q[k].get(f) != new_q[k].get(f)}
            print(f"{k}: {delta}")
            n_diff += 1
    print(f"-- {n_diff} differing / {len(set(old_q) & set(new_q))} common "
          f"({len(old_q)} old, {len(new_q)} new)")
    return 1 if n_diff else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
