#!/usr/bin/env python3
"""Steadiness check: run two sets of ten benchmark runs of the same checkout
and report, for each workload and end-to-end metric, the spread of each set
and how far the second set's median moved from the first's, against the
bounds in BENCHMARK.json.

    python3 perfbench/steady.py

Every run gets its own seed. Runs are interleaved across workloads, so a
stretch of machine load does not land on one workload only. The spread is
(q3 - q1) / median over a set, with quartiles as statistics.quantiles(n=4)
gives them; the drift is |median2 - median1| / median1. A metric is steady
when both spreads and the drift are under a third of its bound, and within
bound when they are under the bound. The report also lands in
<build dir>/steady/. With a git checkout it checks that the runs left
`git status` as it found it.
"""
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

SETS = 2
SEEDS = 10
FIRST_SEED = 1000


def git_status():
    try:
        return subprocess.run(["git", "status", "--porcelain"], cwd=ROOT, check=True,
                              capture_output=True, text=True).stdout
    except (OSError, subprocess.CalledProcessError):
        return None


def spread(values: list) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = [w["name"] for w in bench["workloads"]]
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    before = git_status()

    values = {}  # (set, workload, metric) -> [value]
    runs = []
    seed = FIRST_SEED
    for s in range(SETS):
        for _ in range(SEEDS):
            for w in workloads:
                cmd = bench["command"] + ["--workload", w, "--seed", str(seed),
                                          "--seconds", str(bench["run_seconds"]), "--trace", "0"]
                t0 = time.monotonic()
                p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
                took = time.monotonic() - t0
                lines = p.stdout.strip().splitlines()
                if p.returncode != 0 or not lines:
                    sys.stderr.write(p.stderr[-3000:])
                    print(f"set {s + 1} {w} seed {seed}: FAILED (exit {p.returncode})")
                    return 1
                res = json.loads(lines[-1])
                runs.append({"set": s + 1, "workload": w, "seed": seed, "run_s": took, **res})
                for m in metrics:
                    values.setdefault((s, w, m), []).append(res["metrics"][m]["value"])
                print(f"set {s + 1} {w:<11} seed {seed}: {took:5.1f} s, correct={res['correct']} "
                      f"failed={res['failed']}/{res['attempted']} "
                      + " ".join(f"{m}={res['metrics'][m]['value']:.3f}" for m in metrics), flush=True)
            seed += 1

    report = []
    print(f"\n{'workload':<11} {'metric':<12} {'bound':>6}  {'median1':>9} {'spread1':>8}  "
          f"{'median2':>9} {'spread2':>8}  {'drift':>6}  verdict")
    ok = True
    for w in workloads:
        for m, spec in metrics.items():
            first, second = values[(0, w, m)], values[(1, w, m)]
            meds = [statistics.median(first), statistics.median(second)]
            spreads = [spread(first), spread(second)]
            drift = abs(meds[1] - meds[0]) / meds[0]
            worst, bound = max(spreads + [drift]), spec["bound"]
            verdict = ("steady" if worst < bound / 3 else "within bound" if worst <= bound
                       else "OUT OF BOUND")
            ok &= verdict != "OUT OF BOUND"
            report.append({"workload": w, "metric": m, "bound": bound, "medians": meds,
                           "spreads": spreads, "drift": drift, "verdict": verdict})
            print(f"{w:<11} {m:<12} {bound:6.2f}  {meds[0]:9.3f} {spreads[0]:8.3f}  "
                  f"{meds[1]:9.3f} {spreads[1]:8.3f}  {drift:6.3f}  {verdict}")
    out = os.path.join(build.build_dir(), "steady")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"report-{time.strftime('%Y%m%dT%H%M%S')}.json")
    with open(path, "w") as f:
        json.dump({"summary": report, "runs": runs}, f, indent=1)
    print(f"\nreport: {path}; mean run {statistics.mean(r['run_s'] for r in runs):.1f} s")
    after = git_status()
    if before is not None and after != before:
        print("git status changed during the runs:\n" + after)
        ok = False
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
