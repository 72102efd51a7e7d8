#!/usr/bin/env python3
"""Compare two sets of benchmark run records (`.bench_build/results/*.json`).

    python3 perfbench/compare.py <dirA> <dirB>

Each record carries a box and config fingerprint: nproc, -Xmx, JDK,
Spark version, the resolved spark.local.dir and any SPARK_GRAFT_* or
SPARK_LOCAL_DIRS overrides. Sets whose fingerprints differ in anything
but the source commit are refused (exit 2): their numbers come from
different boxes or settings. Otherwise it prints, per workload and
end-to-end metric, each side's median and the change.
"""
import glob
import json
import os
import statistics
import sys


def load(d):
    recs = [json.load(open(f)) for f in sorted(glob.glob(os.path.join(d, "*-trace0.json")))]
    if not recs:
        sys.exit(f"no untraced run records in {d}")
    return recs


def box(rec):
    return {k: v for k, v in rec["fingerprint"].items() if k != "commit"}


def main(a, b):
    ra, rb = load(a), load(b)
    prints = {json.dumps(box(r), sort_keys=True) for r in ra + rb}
    if len(prints) > 1:
        print("refused: the runs come from different boxes or settings:", file=sys.stderr)
        for p in sorted(prints):
            print("  " + p, file=sys.stderr)
        return 2
    for w in sorted({r["workload"] for r in ra} & {r["workload"] for r in rb}):
        ma = [r["metrics"] for r in ra if r["workload"] == w]
        mb = [r["metrics"] for r in rb if r["workload"] == w]
        for k in ma[0]:
            x = statistics.median(m[k] for m in ma)
            y = statistics.median(m[k] for m in mb)
            print(f"{w:8s} {k:12s} {x:12.4g} -> {y:12.4g}  ({(y / x - 1) * 100:+.1f}%, "
                  f"n={len(ma)}/{len(mb)})")
    return 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
