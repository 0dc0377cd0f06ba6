#!/usr/bin/env python3
"""Steadiness and comparison tool for run artifacts.

    python3 perfbench/compare.py A_DIR [B_DIR]

Each directory holds artifacts written by run.py (.bench_run/artifacts/
by default). For every (workload, metric) it prints the median, the
quartiles and the spread (IQR / median) of set A; with a second set it
also prints B's median and how much worse B is than A. The verdict
applies the bounds in BENCHMARK.json: `spread` fails when A's spread
exceeds the bound, `worse` fails when B's median is worse than A's by
more than the bound. The tracing overhead is the traced runs' median of
each traced.* metric against the untraced median of the same metric.
"""
import glob
import json
import os
import statistics
import sys

import stats

SPEC = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def worse(a, b, better):
    """Share by which b is worse than a (negative when better)."""
    if not a:
        return 0.0
    return (b - a) / a if better == "lower" else (a - b) / a


def load(d):
    runs = {}
    for f in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(f) as fh:
            raw = json.load(fh)
        if "metrics" in raw:
            runs.setdefault((raw["workload"], raw["trace"]), []).append(raw)
    return runs


def main(argv):
    spec = json.load(open(SPEC))
    a = load(argv[1])
    b = load(argv[2]) if len(argv) > 2 else None
    bad = 0
    for m in spec["end_to_end"]:
        for (wl, tr), runs in sorted(a.items()):
            if tr:
                continue
            vals = [r["metrics"][m["name"]] for r in runs]
            if len(vals) < 2:
                continue
            med, q1, q3, sp = spread(vals)
            line = (f"{wl:16} {m['name']:18} n={len(vals):2} med={med:11.4f} q1={q1:11.4f} "
                    f"q3={q3:11.4f} spread={sp:6.3f}")
            ok = sp <= m["bound"]
            if b is not None and (wl, tr) in b:
                bmed = statistics.median(r["metrics"][m["name"]] for r in b[(wl, tr)])
                w = worse(med, bmed, m["better"])
                line += f" B.med={bmed:11.4f} worse={w:+.3f}"
                ok = ok and w <= m["bound"]
            bad += not ok
            print(line + f" bound={m['bound']} {'ok' if ok else 'FAIL'}")
    for (wl, tr), runs in sorted(a.items()):
        if not tr or (wl, 0) not in a:
            continue
        for k in ("latency_p50_ms", "wall_s", "throughput_per_s"):
            traced = statistics.median(r["metrics"][f"traced.{k}"] for r in runs)
            plain = statistics.median(stats.end_to_end(r)[k] for r in a[(wl, 0)])
            better = "higher" if k == "throughput_per_s" else "lower"
            print(f"{wl:16} tracing overhead on {k:18} {worse(plain, traced, better):+.3f}"
                  f" ({plain:.4f} -> {traced:.4f})")
    if a:
        env = next(iter(a.values()))[0]
        print(f"env: nproc={env['nproc']} master={env['master']} heap_max_mb={env['heap_max_mb']:.0f} "
              f"jvm={env['jvm']} spark={env['spark']}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
