#!/usr/bin/env python3
"""Per-statement and per-family time split of a traced benchmark run.

    python3 tools/stmt_spans.py perfbench/out/churn_curate-7.spans.jsonl [more.spans.jsonl ...]

Reads a span file that `perfbench/run.py --trace 1` writes and prints,
for every measured statement (each `stmt.<kind>` span; set-up, warm-up,
checks and `stmt.extra` passes do not count):

- wall: the statement span's length;
- jobs: the `exec.job` spans that start inside it;
- job-covered: the union of those job spans, clipped to the statement;
- driver-only: wall minus job-covered (no job running);
- catalyst: Catalyst analysis, optimization and planning outside jobs,
  as `perfbench/summarize.py` counts it;
- before-jobs: the first job's start minus the statement's start (all of
  the wall when the statement runs no job);
- after-jobs: the statement's end minus the last job's end. For a write
  this is the commit's tail: `_SUCCESS`, the descriptor publish and the
  snapshot record, after the write job.

Then it prints the same columns summed per family, where a statement's
family is its id without a trailing `_<n>` (`update_mor_17` and
`update_mor_31` are both `update_mor`), ordered by driver-only time, with
each family's share of the run's driver-only time. Seconds throughout.
"""
import json
import os
import re
import sys
from collections import defaultdict

sys.dont_write_bytecode = True  # leave no cache files in perfbench/
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench"))

from summarize import clip, overlap, union  # noqa: E402

COLUMNS = ("wall", "jobs", "job-covered", "driver-only", "catalyst", "before-jobs", "after-jobs")


def statements(spans):
    """One (id, {column: value}) per measured statement, in time order."""
    by_stmt = defaultdict(list)
    for s in spans:
        if s["stmt"]:
            by_stmt[s["stmt"]].append(s)
    out = []
    for stmt, ss in by_stmt.items():
        for root in ss:
            if not root["name"].startswith("stmt.") or root["name"] == "stmt.extra":
                continue
            lo, hi = root["start"], root["end"]
            inside = [s for s in ss if s["start"] >= lo - 1 and s["end"] <= hi + 1]
            job_spans = [s for s in ss if s["name"] == "exec.job" and lo <= s["start"] <= hi]
            jobs = clip([(s["start"], s["end"]) for s in job_spans], lo, hi)
            cat = clip([(s["start"], s["end"]) for s in inside
                        if s["name"].startswith("catalyst.") or s["name"] == "plan"], lo, hi)
            covered = union(jobs)
            first = min((a for a, _ in jobs), default=hi)
            last = max((b for _, b in jobs), default=hi)
            out.append((lo, stmt, {
                "wall": (hi - lo) / 1000.0,
                "jobs": len(job_spans),
                "job-covered": covered / 1000.0,
                "driver-only": (hi - lo - covered) / 1000.0,
                "catalyst": (union(cat) - overlap(cat, jobs)) / 1000.0,
                "before-jobs": (first - lo) / 1000.0,
                "after-jobs": (hi - last) / 1000.0,
            }))
    return [(stmt, row) for _, stmt, row in sorted(out, key=lambda t: t[0])]


def fmt(row):
    return " ".join(f"{row[c]:>11d}" if c == "jobs" else f"{row[c]:>11.3f}" for c in COLUMNS)


def report(path):
    with open(path) as f:
        spans = [json.loads(line) for line in f if line.strip()]
    rows = statements(spans)
    header = " ".join(f"{c:>11}" for c in COLUMNS)
    print(f"== {os.path.basename(path)}")
    print(f"  {'statement':<28} {header}")
    for stmt, row in rows:
        print(f"  {stmt:<28} {fmt(row)}")
    families = defaultdict(lambda: dict.fromkeys(COLUMNS, 0))
    count = defaultdict(int)
    for stmt, row in rows:
        fam = re.sub(r"_\d+$", "", stmt)
        count[fam] += 1
        for c in COLUMNS:
            families[fam][c] += row[c]
    total = sum(r["driver-only"] for r in families.values()) or 1.0
    print(f"  {'family':<24} {'stmts':>5} {header} {'share':>7}")
    for fam, row in sorted(families.items(), key=lambda kv: -kv[1]["driver-only"]):
        print(f"  {fam:<24} {count[fam]:>5} {fmt(row)} {row['driver-only'] / total:>7.1%}")
    all_rows = {c: sum(r[c] for r in families.values()) for c in COLUMNS}
    print(f"  {'total':<24} {len(rows):>5} {fmt(all_rows)}")
    print()


def main():
    if len(sys.argv) < 2:
        raise SystemExit(__doc__)
    for path in sys.argv[1:]:
        report(path)


if __name__ == "__main__":
    main()
