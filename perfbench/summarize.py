#!/usr/bin/env python3
"""Summarise traced benchmark runs, one table per workload.

    python3 perfbench/summarize.py [perfbench/out]

Reads every `<workload>-<seed>.spans.jsonl` span file and its result
copy `<workload>-<seed>-trace1.json` that `run.py --trace 1` leaves in
the output directory. For each workload it prints:

- the layer table (the rows of the ROADMAP's per-layer baseline): time
  spent building DataFrames, in Catalyst outside jobs, with at least one
  job running, driver-only time, and catalog descriptor reads, each with
  its share of statement wall time;
- the self time of each span kind (a span's duration minus the part of
  it that its children cover);
- every per-layer metric of the traced run;
- the tracing overhead, when the untraced result of the same seed
  (`<workload>-<seed>-trace0.json`) is there: traced `trace.wall_s` minus
  untraced `wall_s`.

Only measured statements count; set-up, warm-up and raw-parquet twins do
not.
"""
import glob
import json
import os
import sys
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))


def union(intervals):
    """Total length of the union of (start, end) intervals."""
    total, end = 0.0, None
    start = None
    for s, e in sorted(intervals):
        if end is None or s > end:
            if end is not None:
                total += end - start
            start, end = s, e
        else:
            end = max(end, e)
    if end is not None:
        total += end - start
    return total


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def overlap(a, b):
    """Length of the union of `a` that is also covered by `b`."""
    return union(a) + union(b) - union(a + b)


def self_times(spans):
    """Self time per span name: duration minus the union of the spans it
    strictly contains (same statement, nested in time)."""
    out = defaultdict(float)
    ordered = sorted(spans, key=lambda s: (s["start"], -(s["end"] - s["start"])))
    for i, s in enumerate(ordered):
        inner = [(c["start"], c["end"]) for c in ordered[i + 1:]
                 if c["start"] < s["end"] and c is not s and c["end"] <= s["end"]]
        out[s["name"]] += (s["end"] - s["start"]) - union(clip(inner, s["start"], s["end"]))
    return out


def summarize(spans, metrics):
    by_stmt = defaultdict(list)
    for s in spans:
        if s["stmt"]:
            by_stmt[s["stmt"]].append(s)
    rows = defaultdict(float)
    selfs = defaultdict(float)
    for stmt, ss in by_stmt.items():
        for root in (s for s in ss if s["name"].startswith("stmt.") and s["name"] != "stmt.extra"):
            lo, hi = root["start"], root["end"]
            inside = [s for s in ss if s["start"] >= lo - 1 and s["end"] <= hi + 1]
            jobs = clip([(s["start"], s["end"]) for s in inside if s["name"] == "exec.job"], lo, hi)
            cat = clip([(s["start"], s["end"]) for s in inside
                        if s["name"].startswith("catalyst.") or s["name"] == "plan"], lo, hi)
            build = [(s["start"], s["end"]) for s in inside if s["name"] == "build"]
            rows["statement wall"] += hi - lo
            rows["DataFrame build (eager work before the final action)"] += union(build)
            rows["Catalyst analysis + optimization + planning, outside jobs"] += \
                union(cat) - overlap(cat, jobs)
            rows["time with >= 1 job running"] += union(jobs)
            rows["driver-only time (no job running)"] += (hi - lo) - union(jobs)
            for k, v in self_times(inside).items():
                selfs[k] += v
    wall = rows["statement wall"] / 1000.0
    print(f"  {'layer':<60} {'seconds':>9} {'share':>7}")
    for k, v in rows.items():
        if k != "statement wall":
            print(f"  {k:<60} {v / 1000.0:9.3f} {v / 1000.0 / wall:7.1%}")
    dr = metrics.get("catalog.descriptor_read_s", {}).get("value", 0.0)
    n = metrics.get("catalog.descriptor_reads", {}).get("value", 0.0)
    print(f"  {f'catalog descriptor reads ({n:.0f} reads)':<60} {dr:9.3f} {dr / wall:7.1%}")
    print(f"  {'statement wall':<60} {wall:9.3f}")
    print("  self time by span kind (s):")
    for k, v in sorted(selfs.items(), key=lambda kv: -kv[1]):
        print(f"    {k:<26} {v / 1000.0:9.3f}")


def main():
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(HERE, "out")
    files = sorted(glob.glob(os.path.join(out, "*.spans.jsonl")))
    if not files:
        raise SystemExit(f"no span files in {out}; run run.py with --trace 1 first")
    for path in files:
        base = path[: -len(".spans.jsonl")]
        traced = base + "-trace1.json"
        if not os.path.isfile(traced):
            continue
        with open(path) as f:
            spans = [json.loads(line) for line in f if line.strip()]
        with open(traced) as f:
            metrics = json.load(f)["metrics"]
        print(f"== {os.path.basename(base)}")
        summarize(spans, metrics)
        print("  per-layer metrics:")
        for k, v in metrics.items():
            print(f"    {k:<34} {v['value']:>16.6g} {v['unit']}")
        untraced = base + "-trace0.json"
        if os.path.isfile(untraced):
            with open(untraced) as f:
                wall0 = json.load(f)["metrics"]["wall_s"]["value"]
            wall1 = metrics["trace.wall_s"]["value"]
            print(f"  tracing overhead: traced wall_s {wall1:.3f} - untraced {wall0:.3f} "
                  f"= {wall1 - wall0:+.3f} s ({(wall1 - wall0) / wall0:+.1%})")
        print()


if __name__ == "__main__":
    main()
