#!/usr/bin/env python3
"""Steadiness report: do two sets of runs of the same commit agree?

  python3 perfbench/steadiness.py run SET [--runs 10] [--workloads refresh,catalog]
      runs run.py once per seed 1..runs for each workload, tagging every
      record in .bench_build/runs.jsonl with SET;
  python3 perfbench/steadiness.py report [SET_A SET_B]
      prints, per workload and end-to-end metric, each set's median,
      quartiles and spread (IQR / median), the gap between the two
      medians, and the metric's bound from BENCHMARK.json. A spread over
      a third of the bound, or a gap over the bound, is flagged. The
      loadavg recorded before and after each run explains outliers.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = os.path.join(ROOT, ".bench_build", "runs.jsonl")


def load(path=RUNS):
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


def spread(v):
    q1, q2, q3 = statistics.quantiles(v, n=4)
    return q1, statistics.median(v), q3, (q3 - q1) / statistics.median(v)


def run_set(name, runs, workloads):
    env = dict(os.environ, PERFBENCH_SET=name)
    for w in workloads:
        for seed in range(1, runs + 1):
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", "1", "--trace", "0"],
                               cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True)
            last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
            print(f"{name} {w} seed={seed} exit={p.returncode} {last[:160]}", flush=True)


def report(sets):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    recs = [r for r in load() if r.get("trace") == 0 and r.get("set") in sets]
    for w in [x["name"] for x in bench["workloads"]]:
        print(f"\n== {w}")
        shares = {s: sorted({(r["failed"], r["attempted"]) for r in recs
                             if r["workload"] == w and r["set"] == s}) for s in sets}
        print(f"   failed/attempted per set: {shares}")
        for s in sets:
            loads = [(r["loadavg_before"] or [0])[0] for r in recs
                     if r["workload"] == w and r["set"] == s]
            if loads:
                print(f"   loadavg(1m) before runs, set {s}: min {min(loads):.2f} max {max(loads):.2f}")
        print(f"   {'metric':14} {'set':6} {'q1':>10} {'median':>10} {'q3':>10} {'spread':>7}"
              f" {'gap':>7} {'bound':>6}")
        for m, bound in bounds.items():
            meds = []
            for s in sets:
                v = [r["metrics"][m] for r in recs if r["workload"] == w and r["set"] == s]
                if len(v) < 2:
                    continue
                q1, med, q3, sp = spread(v)
                meds.append(med)
                flag = " <- spread over bound/3" if sp > bound / 3 and m != "setup_s" else ""
                print(f"   {m:14} {s:6} {q1:10.4f} {med:10.4f} {q3:10.4f} {sp:7.3f}"
                      f" {'':>7} {bound:6.2f}{flag}")
            if len(meds) == 2:
                gap = (meds[1] - meds[0]) / meds[0]
                flag = " <- gap over bound" if abs(gap) > bound else ""
                print(f"   {m:14} {'gap':6} {'':>10} {'':>10} {'':>10} {'':>7} {gap:7.3f}"
                      f" {bound:6.2f}{flag}")


def main():
    ap = argparse.ArgumentParser(description="steadiness of the benchmark")
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("set")
    r.add_argument("--runs", type=int, default=10)
    r.add_argument("--workloads", default="refresh,catalog")
    p = sub.add_parser("report")
    p.add_argument("sets", nargs="*")
    a = ap.parse_args()
    if a.cmd == "run":
        run_set(a.set, a.runs, a.workloads.split(","))
    else:
        sets = a.sets or sorted({r.get("set") for r in load() if r.get("set")})[:2]
        report(sets)


if __name__ == "__main__":
    main()
