#!/usr/bin/env python3
"""Compare two bench ledgers per query, normalised by the anchor.

Usage: bench_diff.py OLD.json NEW.json [min_abs_delta]
Reads the full per-query map (the "queries" object of BENCH_LOCAL-style
files) and the `anchor.dedup_exact` floor both ledgers carry. Raw times from
two boxes (or two runs on a drifting box) are not comparable, so every NEW
time is divided by the anchor ratio new/old before it is compared. A ledger
without the anchor is refused (exit 2) rather than compared raw. Prints
regressions (new slower) and wins, plus totals, all anchor-normalised.
"""
import json
import sys


def load(p):
    d = json.load(open(p))
    anchor = (d.get("anchor") or {}).get("dedup_exact")
    return d.get("queries", {}), d.get("min_of_3", {}), anchor


def main():
    old_q, old_m, old_a = load(sys.argv[1])
    new_q, new_m, new_a = load(sys.argv[2])
    thr = float(sys.argv[3]) if len(sys.argv) > 3 else 0.25
    missing = [p for p, a in ((sys.argv[1], old_a), (sys.argv[2], new_a))
               if not a]
    if missing:
        print(f"no anchor.dedup_exact in {', '.join(missing)}: refusing to "
              "compare raw times across runs")
        sys.exit(2)
    r = new_a / old_a
    print(f"anchor dedup_exact: {old_a} -> {new_a}  (ratio {r:.3f}; "
          "new times below are divided by it)")
    new_q = {k: v / r for k, v in new_q.items()}
    new_m = {k: v / r for k, v in new_m.items()}
    common = sorted(set(old_q) & set(new_q), key=lambda k: old_q[k] - new_q[k])
    print(f"common-query sum: {sum(old_q[k] for k in common):.1f} -> "
          f"{sum(new_q[k] for k in common):.1f}")
    print(f"only-old: {sorted(set(old_q) - set(new_q))}")
    print(f"only-new: {sorted(set(new_q) - set(old_q))}")

    def row(k, sign):
        extra = ""
        if k in old_m and k in new_m:
            extra = f"  (min {old_m[k]:.2f} -> {new_m[k]:.2f})"
        d = abs(new_q[k] - old_q[k])
        return f"{k:32s} {old_q[k]:7.2f} -> {new_q[k]:7.2f}  ({sign}{d:.2f}){extra}"

    print("\n-- regressions (new slower) --")
    for k in reversed(common):
        if new_q[k] - old_q[k] >= thr:
            print(row(k, "+"))
    print("\n-- wins (new faster) --")
    for k in common:
        if old_q[k] - new_q[k] >= thr:
            print(row(k, "-"))


if __name__ == "__main__":
    main()
