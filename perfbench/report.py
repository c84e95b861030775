#!/usr/bin/env python3
"""Compare benchmark result records (the `<workload>_s<seed>_t<trace>.json`
files that perfbench/run.py writes under .bench_build/perfbench-out/).

Layer delta, between two traced runs of the same workloads (e.g. a
parent checkout's output directory and this one's):

    python3 perfbench/report.py delta <before_dir> <after_dir>

prints, per workload and per-layer metric, the value before and after and
the ratio after/before with its base, so a perf change can name the layer
it moved. Records of the same workload are pooled by median over seeds.

Tracing overhead, within one output directory: every seed run both
untraced (t0) and traced (t1) is paired on the same seed:

    python3 perfbench/report.py overhead <dir>

prints traced vs untraced latency_p50_s and ops_per_s per workload.
"""
import glob
import json
import os
import statistics
import sys
from collections import defaultdict


def load(d, trace):
    """{workload: [record, ...]} for one trace mode."""
    out = defaultdict(list)
    for p in sorted(glob.glob(os.path.join(d, f"*_t{trace}.json"))):
        with open(p) as f:
            r = json.load(f)
        out[r["workload"]].append(r)
    return out


def pooled(records, key="metrics"):
    vals = defaultdict(list)
    for r in records:
        for k, m in r[key].items():
            vals[k].append((m["value"], m["unit"]))
    return {k: (statistics.median(v for v, _ in xs), xs[0][1])
            for k, xs in vals.items()}


def delta(before_dir, after_dir):
    before, after = load(before_dir, 1), load(after_dir, 1)
    for w in sorted(set(before) | set(after)):
        b, a = pooled(before.get(w, [])), pooled(after.get(w, []))
        print(f"== {w}: {len(before.get(w, []))} before, "
              f"{len(after.get(w, []))} after")
        print(f"{'metric':44} {'unit':>6} {'before':>14} {'after':>14} ratio")
        for k in sorted(set(b) | set(a)):
            bv, unit = b.get(k, (None, a.get(k, (0, ""))[1]))
            av = a.get(k, (None, ""))[0]
            if bv is None or av is None:
                ratio = "n/a"
            elif bv == 0:
                ratio = "base 0" if av == 0 else "new"
            else:
                ratio = f"{av / bv:.3f}x of {bv:.6g}"
            fmt = lambda v: "-" if v is None else f"{v:.6g}"
            print(f"{k:44} {unit:>6} {fmt(bv):>14} {fmt(av):>14} {ratio}")


def overhead(d):
    plain, traced = load(d, 0), load(d, 1)
    for w in sorted(set(plain) & set(traced)):
        seeds = {r["seed"] for r in plain[w]} & {r["seed"] for r in traced[w]}
        if not seeds:
            continue
        p = pooled([r for r in plain[w] if r["seed"] in seeds])
        t = pooled([r for r in traced[w] if r["seed"] in seeds], "report")
        print(f"== {w}: {len(seeds)} seed(s) run both ways")
        for k in ("latency_p50_s", "ops_per_s"):
            if k in p and k in t:
                print(f"{k:16} untraced {p[k][0]:.6g}  traced {t[k][0]:.6g}"
                      f"  traced/untraced {t[k][0] / p[k][0]:.3f}")


if __name__ == "__main__":
    if len(sys.argv) == 4 and sys.argv[1] == "delta":
        delta(sys.argv[2], sys.argv[3])
    elif len(sys.argv) == 3 and sys.argv[1] == "overhead":
        overhead(sys.argv[2])
    else:
        sys.exit(__doc__)
