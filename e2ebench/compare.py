#!/usr/bin/env python3
"""Compares two benchmark result files of the same workload.

    python3 e2ebench/compare.py OLD.json NEW.json

Result files are written by run.py under .bench_build/results/. The tool
flags every end-to-end metric that got worse by more than its bound in
BENCHMARK.json, and, for traced results, every exact work counter that
rose (on journal_sync those repeat exactly on the same seed, so any rise
is a real change in work, whatever the machine's load). Exits 1 when
anything is flagged. Compare only results taken on the same machine:
each file records its machine context.
"""

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from layers import EXACT  # noqa: E402


def load_bounds(path=os.path.join(os.path.dirname(HERE), "BENCHMARK.json")):
    with open(path) as f:
        spec = json.load(f)
    return {m["name"]: m for m in spec["end_to_end"]}


def compare(old, new, bounds):
    """Lines describing each metric; the second value is True when flagged."""
    out = []
    if old["workload"] != new["workload"]:
        return [(f"workloads differ: {old['workload']} vs {new['workload']}", True)]
    for key in ("nproc", "mem_total"):
        if old["context"].get(key) != new["context"].get(key):
            out.append((f"machine differs on {key}: results are not comparable", True))
    for name, m in bounds.items():
        a, b = old["metrics"].get(name), new["metrics"].get(name)
        if a is None or b is None:
            continue
        worse = (b - a) / a if m["better"] == "lower" else (a - b) / a
        flag = worse > m["bound"]
        out.append((f"{name}: {a:.6g} -> {b:.6g} {m['unit']} "
                    f"({worse:+.1%} worse, bound {m['bound']:.0%})", flag))
    if old["seed"] != new["seed"]:
        out.append(("seeds differ: exact counters are compared on one seed only", False))
        return out
    for name in EXACT:
        a, b = old["metrics"].get(name), new["metrics"].get(name)
        if a is None or b is None:
            continue
        out.append((f"{name}: {a} -> {b} (exact counter)", b > a))
    return out


def main(argv):
    if len(argv) != 2:
        print(__doc__)
        return 2
    old, new = (json.load(open(p)) for p in argv)
    lines = compare(old, new, load_bounds())
    for text, flag in lines:
        print(("FLAG " if flag else "ok   ") + text)
    return 1 if any(flag for _, flag in lines) else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
