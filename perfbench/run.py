#!/usr/bin/env python3
"""graft benchmark: one workload per run, closed loop with one client.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds graft and the harness from source (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py), runs the harness in one
fresh JVM on local[<cores>], checks every key's result against the DuckDB
oracle (perfbench/oracle.py) and prints one JSON line as the last line of
stdout: end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
Everything it writes stays under the build directory (.bench_build/ or
$CARGO_TARGET_DIR): inputs and cached oracle results in data/, the last run
of each workload in last/<workload>/, and with --trace 1 the span tree in
traces/ for perfbench/trace_diff.py.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

BASE_DATA = os.path.join(HERE, "data", "sf0.01")
TIMEOUT_S = 170
KEEP_DATA = 8
MIN_PASSES = 5

# Each workload: replicas of the base data, the seconds of one steady pass on
# four cores, and keys in pass order with the ops module whose function
# SparkEntry.queries maps the key to. Each list is a small sample of the
# families it stands for: a run pays about 20 s of JVM set-up and cold pass
# before its first steady pass, and the benchmark's runs must fit a fixed
# time budget, so a pass is kept to a few seconds.
WORKLOADS = {
    # Heavy per-key work: iterative PageRank (many jobs, shuffles, a lazy
    # localCheckpoint loop) beside LLM-data pipeline operators: substring
    # dedup (CPU-bound shingling and hashing UDFs with few tasks per stage),
    # embedding-similarity dedup and benchmark decontamination. Scheduler,
    # shuffle, materialization and kernel changes show here.
    "graph_dedup": (1, 5.0, [("q_pagerank", "Graph"), ("q_dedup_substring", "Text"),
                             ("q_semantic_dedup", "Similarity"), ("q_decontaminate", "Pipeline")]),
    # One small key per relational module, a file roundtrip and a catalog
    # MERGE: the per-key fixed cost (driver round trips) dominates, and a
    # graph or dedup kernel change should not move it.
    "etl_floor": (1, 2.3, [
        ("q_agg_rollup", "Relational"), ("q_join_anti", "Joins"), ("q_window_rank", "Windows"),
        ("q_csv_roundtrip", "Etl"), ("q_merge_sql", "Merge"),
    ]),
}

JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def prune(parent: str, keep: int) -> None:
    """Keep only the `keep` newest generated inputs."""
    dirs = sorted((os.path.join(parent, d) for d in os.listdir(parent)),
                  key=os.path.getmtime, reverse=True)
    for d in dirs[keep:]:
        shutil.rmtree(d, ignore_errors=True)


def cores() -> int:
    n = len(os.sched_getaffinity(0))
    if n < 1:
        raise SystemExit(f"bad core count {n}")
    return n


def run_jvm(cmd: list, env: dict, log_path: str, timeout: float) -> int:
    """Run the harness in its own process group and always reap it."""
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, env=env, cwd=os.path.dirname(log_path), stdout=out,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=max(1.0, timeout))
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.strip().splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if a.seconds < 1 or a.seed < 0:
        ap.error("--seconds must be >= 1 and --seed >= 0")
    replicas, pass_s, keys = WORKLOADS[a.workload]
    # A fixed number of steady passes, about --seconds of them at the nominal
    # pass time: the timed passes then sit at the same point of the JIT's
    # warm-up in every run, whatever the load on the machine. A traced run
    # alternates traced and untraced passes and needs an odd count.
    passes = max(MIN_PASSES, round(a.seconds / pass_s))
    if a.trace and passes % 2 == 0:
        passes += 1

    # a terminated run still stops and reaps its JVM (see run_jvm)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    classpath = build.build()
    started = time.monotonic()
    out_root = build.build_dir()
    data = os.path.join(out_root, "data", f"r{replicas}-s{a.seed}")
    if not os.path.exists(os.path.join(data, "manifest.json")):
        shutil.rmtree(data, ignore_errors=True)
        gen.generate(BASE_DATA, data, replicas, a.seed)
        prune(os.path.dirname(data), KEEP_DATA)
    with open(os.path.join(data, "manifest.json")) as f:
        manifest = json.load(f)
    log(f"inputs {data}: {manifest['bytes']} bytes, "
        + ", ".join(f"{t} {v['rows']}" for t, v in sorted(manifest["tables"].items())))

    # the last run of each workload stays, for its log and `oracle.py --selftest`
    run = os.path.join(out_root, "last", a.workload)
    shutil.rmtree(run, ignore_errors=True)
    tmp = os.path.join(run, "tmp")
    os.makedirs(tmp)
    with open(os.path.join(run, "run.json"), "w") as f:
        json.dump({"workload": a.workload, "seed": a.seed, "data": data}, f)
    keys_file = os.path.join(run, "keys.tsv")
    with open(keys_file, "w") as f:
        f.write("".join(f"{k}\t{m}\n" for k, m in keys))
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    # The throughput collector: under G1 the wall time of the same seed spread
    # about three times wider between JVMs on four cores (driver-bound keys
    # share the cores with G1's concurrent threads).
    cmd = (["java", "-Xmx4g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JVM_OPENS]
           + ["-cp", classpath, "org.apache.spark.graftbench.GraftBench",
              "--data", data, "--keys", keys_file, "--cores", str(cores()),
              "--passes", str(passes), "--out", run, "--trace", str(a.trace),
              "--launch-ns", str(time.time_ns())])
    rc = run_jvm(cmd, env, os.path.join(run, "jvm.log"), TIMEOUT_S - (time.monotonic() - started))
    result_path = os.path.join(run, "result.json")
    if rc != 0 or not os.path.exists(result_path):
        log(f"harness failed with exit code {rc}; see {run}/jvm.log")
        return 1
    with open(result_path) as f:
        res = json.load(f)
    with open(os.path.join(run, "oracle_sql.json")) as f:
        sqls = json.load(f)

    names = [k for k, _ in keys]
    wrong = oracle.check(data, os.path.join(run, "verify"), sqls, names)
    calls, threw = res["calls"], res["threw"]
    attempted = sum(calls.values())
    # a key whose result disagrees with the oracle failed on every call
    failed = sum(calls[k] if k in wrong else threw.get(k, 0) for k in names)
    for k, why in sorted(res["errors"].items()):
        log(f"{k} threw: {why}")
    for k, why in sorted(wrong.items()):
        log(f"{k} disagrees with the oracle: {why}")
    log(f"{a.workload} seed {a.seed}: setup {res['setup_s']:.3f} s, cold {res['cold_s']:.3f} s, "
        f"wall {res['wall_s']:.3f} s (per-key medians of the second half of the "
        f"{len(res['pass_s'])} steady passes: "
        + ", ".join(f"{x:.3f}" for x in res["pass_s"])
        + f"), mem_peak {res['mem_peak_mb']:.1f} MB, fail_frac {failed / attempted:.4f} "
        f"({failed}/{attempted})")

    if a.trace:
        traces = os.path.join(out_root, "traces")
        os.makedirs(traces, exist_ok=True)
        trace_path = os.path.join(traces, f"{a.workload}-s{a.seed}-{time.strftime('%Y%m%dT%H%M%S')}.json")
        with open(os.path.join(run, "trace.json")) as f:
            trace = json.load(f)
        trace["run"].update(workload=a.workload, seed=a.seed, untraced_wall_s=res["wall_s"],
                            per_layer=res["per_layer"])
        with open(trace_path, "w") as f:
            json.dump(trace, f, indent=1)
        log(f"trace written to {trace_path}; tracing overhead "
            f"{res['per_layer']['trace.overhead_pct']:.1f}% over the untraced passes")
    # BENCHMARK.json names the metrics of each mode and their units
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if a.trace else "end_to_end"]
    values = res["per_layer"] if a.trace else res
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec}
    shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
