#!/usr/bin/env python3
"""Steadiness check of the benchmark.

    python3 perfbench/steady.py

For each workload of BENCHMARK.json, runs two sets of five untraced runs
(seeds 1-5 and 6-10), then one run on the held-out seed 9001. For every
end-to-end metric it prints the quartiles of each set and of all ten
runs, the quartile spread as a share of the median, whether that spread
is within the metric's bound, whether the second set's median is within
the bound of the first's, and where the held-out run falls. Every metric
is checked, `setup_s` included, and every run must report zero failed
operations. Exits 1 when any check fails. Raw results go to
.bench_build/perfbench/steady.json.
"""
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETS = 2
RUNS = 5
FIRST_SEED = 1
HOLDOUT_SEED = 9001


def run_once(workload, seed, seconds):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed} failed (exit {p.returncode}):\n{p.stderr[-3000:]}")
    return json.loads(lines[-1]), lines[-2] if len(lines) > 1 else ""


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    report, ok = {}, True
    seed = FIRST_SEED
    for w in [w["name"] for w in bench["workloads"]]:
        sets = []
        for _ in range(SETS):
            runs = []
            for _ in range(RUNS):
                res, host = run_once(w, seed, bench["run_seconds"])
                print(f"{w} seed={seed} failed={res['failed']}/{res['attempted']} {host}",
                      file=sys.stderr, flush=True)
                ok &= res["failed"] == 0
                runs.append(res)
                seed += 1
            sets.append(runs)
        hold, _ = run_once(w, HOLDOUT_SEED, bench["run_seconds"])
        ok &= hold["failed"] == 0
        report[w] = {"sets": sets, "holdout": hold}
        print(f"\n== {w}: {SETS} x {RUNS} runs, held-out seed {HOLDOUT_SEED} ==")
        print(f"{'metric':24} {'unit':9} {'bound':>6}  set  {'q1':>12} {'median':>12} "
              f"{'q3':>12} {'spread':>7} ok")
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            meds = []
            for label, runs in [(str(i + 1), r) for i, r in enumerate(sets)] + \
                    [("all", [r for s in sets for r in s])]:
                xs = [r["metrics"][name]["value"] for r in runs]
                q1, med, q3 = statistics.quantiles(xs, n=4)
                spread = (q3 - q1) / med if med else float("inf")
                fine = spread <= bound
                ok &= fine
                meds.append(med)
                print(f"{name:24} {m['unit']:9} {bound:6.2f}  {label:>3}  {q1:12.4f} "
                      f"{med:12.4f} {q3:12.4f} {spread:7.3f} {'yes' if fine else 'NO'}")
            worse = (meds[1] - meds[0]) / meds[0] if m["better"] == "lower" else \
                (meds[0] - meds[1]) / meds[0]
            fine = worse <= bound
            ok &= fine
            print(f"{'':24} set 2 vs 1: worse by {worse:+.3f} of the median "
                  f"{'yes' if fine else 'NO'}")
            hv = hold["metrics"][name]["value"]
            print(f"{'':24} held-out: {hv:.4f} ({(hv - meds[2]) / meds[2]:+.3f} vs all)")
    os.makedirs(os.path.join(ROOT, ".bench_build", "perfbench"), exist_ok=True)
    with open(os.path.join(ROOT, ".bench_build", "perfbench", "steady.json"), "w") as f:
        json.dump(report, f, indent=1)
    print("\nsteady: " + ("all checks hold" if ok else "SOME CHECKS FAILED"))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
