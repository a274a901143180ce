#!/usr/bin/env python3
"""Compares two benchmark artifacts (or two directories of them) and says,
per workload, where a change in time went.

    python3 perfbench/layerdiff.py <before> <after>

Each argument is an artifact written by run.py (.bench_build/artifacts/
<workload>-s<seed>-t<trace>.json) or a directory of them; directories are
paired by workload, and several seeds of one workload are pooled by median.
For each workload it prints:
  - every end-to-end metric, its delta and the bound BENCHMARK.json sets;
  - the per-layer deltas of the traced runs, per call, ranked by the share
    of the change in call latency each accounts for (executor task and GC
    time are summed over parallel tasks, so their share can pass 100%);
  - the tracing overhead (traced vs untraced first-call p50) when both exist;
  - every calibration window flagged as contended.
"""
import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# layers whose values are seconds of the call's critical path or busy time
TIME_LAYERS = ["ops.build_s", "driver.analyze_s", "driver.optimize_s", "driver.plan_s",
               "scheduler.job_self_s", "scheduler.driver_gap_s", "scheduler.delay_s",
               "executor.task_s", "executor.gc_s", "sources.write_s"]


def load(path):
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    by = {}
    for f in files:
        with open(f) as fh:
            a = json.load(fh)
        by.setdefault(a["workload"], {}).setdefault(a["trace"], []).append(a)
    return by


def pooled(arts, key):
    vals = [a["metrics"][key]["value"] for a in arts if key in a["metrics"]]
    return statistics.median(vals) if vals else None


def per_call_layers(arts):
    """Per-call mean of every layer, pooled over the traced artifacts."""
    calls = [c for a in arts for c in a["calls"] if "layers" in c]
    if not calls:
        return {}, 0.0
    keys = calls[0]["layers"]
    lat = statistics.mean(c["latency_s"] for c in calls)
    return {k: statistics.mean(c["layers"][k] for c in calls) for k in keys}, lat


def bounds():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m for m in spec["end_to_end"]}


def report(name, before, after, spec):
    print(f"== {name}")
    b0, a0 = before.get(0, []), after.get(0, [])
    for key, m in spec.items():
        x, y = pooled(b0, key), pooled(a0, key)
        if x is None or y is None:
            continue
        worse = (y - x) / x if m["better"] == "lower" else (x - y) / x
        flag = "REGRESSED" if worse > m["bound"] else ""
        print(f"  {key:22s} {x:12.4f} -> {y:12.4f} {m['unit']:6s} "
              f"{100 * (y - x) / x:+7.1f}%  bound {100 * m['bound']:.0f}% {flag}")
    bl, blat = per_call_layers(before.get(1, []))
    al, alat = per_call_layers(after.get(1, []))
    if bl and al:
        dlat = alat - blat
        print(f"  per call (traced): latency {blat:.4f} -> {alat:.4f} s ({dlat:+.4f} s)")
        rows = []
        for k in bl:
            d = al[k] - bl[k]
            share = d / dlat if k in TIME_LAYERS and abs(dlat) > 1e-9 else None
            rows.append((abs(share) if share is not None else -1, k, bl[k], al[k], d, share))
        for _, k, x, y, d, share in sorted(rows, reverse=True):
            s = f"{100 * share:+6.0f}% of change" if share is not None else ""
            print(f"    {k:28s} {x:12.4f} -> {y:12.4f}  {d:+.4f}  {s}")
    for side, arts in (("before", b0 + before.get(1, [])), ("after", a0 + after.get(1, []))):
        for a in arts:
            bad = [wd for wd in a.get("windows", []) if wd["contended"]]
            if bad:
                print(f"  contended ({side}, seed {a['seed']}, trace {a['trace']}): " +
                      ", ".join(f"after call {wd['after_call']} cal {wd['scalar_s']:.3f} s" for wd in bad))
    for side, arts in (("before", before), ("after", after)):
        p0, p1 = pooled(arts.get(0, []), "first_call_p50_s"), None
        traced = [c["latency_s"] for a in arts.get(1, []) for c in a["calls"] if c["kind"] == "first"]
        if traced:
            p1 = statistics.median(traced)
        if p0 and p1:
            print(f"  tracing overhead ({side}): first-call p50 {p0:.4f} s untraced, "
                  f"{p1:.4f} s traced ({100 * (p1 - p0) / p0:+.1f}%)")


def main(argv):
    if len(argv) != 2:
        print(__doc__)
        return 2
    before, after = load(argv[0]), load(argv[1])
    spec = bounds()
    for name in sorted(set(before) & set(after)):
        report(name, before[name], after[name], spec)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
