#!/usr/bin/env python3
"""Steadiness check: run one commit as two sets of runs and compare.

    python3 perfbench/steady.py [--runs 10] [--workloads read_scan,churn_curate]

Each set runs every workload `--runs` times with a different seed per run
(set one: seeds 1..runs, set two: seeds 101..100+runs), untraced, for
BENCHMARK.json's `run_seconds`. For every end-to-end metric and workload
it prints the median and quartiles of each set (`statistics.quantiles`,
n=4), the spread (Q3 - Q1) / median against the metric's bound, and how
far the two medians lie apart. A metric passes when each set's spread
stays within its bound and the two medians differ by no more than the
bound in either direction (the larger over the smaller, minus one), so
that either set could have been the parent's; a spread under a third of
its bound is reported as steady. Exits nonzero on any failed
run or check. Results go to perfbench/out/steady-<set>-<workload>.json, each
run's log to perfbench/out/steady-<set>-<workload>-<seed>.log.
"""
import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_set(name, workloads, seeds, seconds):
    results = {}
    for w in workloads:
        results[w] = []
        for seed in seeds:
            t0 = time.time()
            log = os.path.join(HERE, "out", f"steady-{name}-{w}-{seed}.log")
            with open(log, "w") as err:
                p = subprocess.Popen([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                                      w, "--seed", str(seed), "--seconds", str(seconds),
                                      "--trace", "0"],
                                     cwd=ROOT, stdout=subprocess.PIPE, stderr=err, text=True)
                try:
                    out = p.communicate()[0]
                finally:
                    if p.poll() is None:
                        p.terminate()  # run.py stops its JVM on SIGTERM
                        p.wait()
            lines = out.strip().splitlines()
            if p.returncode != 0 or not lines:
                raise SystemExit(f"{w} seed {seed} failed (exit {p.returncode}), see {log}")
            res = json.loads(lines[-1])
            results[w].append(res)
            print(f"  set {name} {w} seed {seed}: {time.time() - t0:5.1f} s  " +
                  " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        with open(os.path.join(HERE, "out", f"steady-{name}-{w}.json"), "w") as f:
            json.dump(results[w], f)
    return results


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    a = ap.parse_args()
    workloads = a.workloads.split(",")
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    sets = [run_set(str(i + 1), workloads, range(1 + 100 * i, 1 + 100 * i + a.runs),
                    bench["run_seconds"]) for i in range(2)]
    ok = True
    print(f"\n{'workload':<14} {'metric':<12} {'set':>3} {'median':>10} {'q1':>10} {'q3':>10} "
          f"{'spread':>7} {'bound':>6} {'drift':>7}  verdict")
    for w in workloads:
        for m in bench["end_to_end"]:
            k, bound = m["name"], m["bound"]
            meds = []
            for i, s in enumerate(sets):
                vals = [r["metrics"][k]["value"] for r in s[w]]
                q1, med, q3 = statistics.quantiles(vals, n=4)
                meds.append(med)
                spread = (q3 - q1) / med
                drift = max(meds) / min(meds) - 1
                verdict = []
                if spread > bound:
                    verdict.append("SPREAD")
                if i == 1 and drift > bound:
                    verdict.append("DRIFT")
                ok = ok and not verdict
                if not verdict:
                    verdict.append("steady" if spread < bound / 3 else "ok")
                print(f"{w:<14} {k:<12} {i + 1:>3} {med:10.4f} {q1:10.4f} {q3:10.4f} "
                      f"{spread:7.1%} {bound:6.0%} {drift if i else 0.0:7.1%}  {' '.join(verdict)}")
    return 0 if ok else 1


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main())
