#!/usr/bin/env python3
"""Compares two sets of benchmark reports (the JSON line before the result).

    python3 perfbench/compare.py A.json [A.json ...] -- B.json [B.json ...]

Each file holds one report, as kept under .bench_build/perfbench/results/.
Reports from hosts with different fingerprints are refused (exit 2): their
numbers do not compare. Contended reports are listed and left out. For
each workload and end-to-end metric, prints both sides' median and
quartiles and B's median relative to A's.
"""
import json
import statistics
import sys

# What must match for two reports to compare; the commit and the source
# digest are what a comparison is about, so they are not part of it.
HOST_KEY = ("nproc", "mem_total_mb", "master", "tables", "jdk", "spark")


def load(paths):
    reports = []
    for p in paths:
        with open(p) as f:
            reports.append((p, json.load(f)))
    return reports


def main(argv):
    if "--" not in argv:
        sys.exit(__doc__)
    cut = argv.index("--")
    sides = [load(argv[:cut]), load(argv[cut + 1:])]
    keys = {tuple(r["host"].get(k) for k in HOST_KEY) for side in sides for _, r in side}
    if len(keys) > 1:
        print("refused: the reports come from different host fingerprints:", file=sys.stderr)
        for k in sorted(keys, key=str):
            print("  " + ", ".join(f"{n}={v}" for n, v in zip(HOST_KEY, k)), file=sys.stderr)
        sys.exit(2)
    kept = []
    for side in sides:
        for p, r in side:
            if r["contended"]:
                print(f"left out (contended, ext_cpu_s={r['ext_cpu_s']:.2f}): {p}")
        kept.append([r for _, r in side if not r["contended"] and not r["trace"]])
    for w in sorted({r["workload"] for side in kept for r in side}):
        a = [r for r in kept[0] if r["workload"] == w]
        b = [r for r in kept[1] if r["workload"] == w]
        if not a or not b:
            print(f"{w}: one side has no uncontended runs")
            continue
        print(f"{w}: {len(a)} vs {len(b)} runs")
        for m in a[0]["end_to_end"]:
            va = [r["end_to_end"][m] for r in a]
            vb = [r["end_to_end"][m] for r in b]
            ma, mb = statistics.median(va), statistics.median(vb)
            print(f"  {m:18s} A {ma:10.4g} [{quart(va)}]  B {mb:10.4g} [{quart(vb)}]"
                  f"  B/A {mb / ma:.3f}")


def quart(xs):
    if len(xs) < 2:
        return "-"
    q = statistics.quantiles(xs, n=4)
    return f"{q[0]:.4g}..{q[2]:.4g}"


if __name__ == "__main__":
    main(sys.argv[1:])
