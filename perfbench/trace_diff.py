#!/usr/bin/env python3
"""Diff two traced benchmark runs, per layer and per key.

    python3 perfbench/trace_diff.py A.json B.json

A and B are trace files that `run.py --trace 1` writes under
<build dir>/traces/. Per layer it compares the per-layer metrics; per key it
compares the median over traced passes of each span and counter. Counts
(jobs, stages, tasks, blocks) are marked `=` when they repeat exactly, which
is the evidence that does not drift with machine load. The last block
reports each run's tracing overhead: its traced passes against the untraced
passes of the same run.
"""
import json
import statistics
import sys

SPAN_FIELDS = ("span_s", "build_s", "exec_s", "self_s")


def load(path: str) -> dict:
    with open(path) as f:
        return json.load(f)["run"]


def per_key(run: dict) -> dict:
    """key -> field -> median over the traced passes."""
    values = {}
    for p in run["passes"]:
        for k in p["keys"]:
            fields = values.setdefault(k["key"], {})
            for f in SPAN_FIELDS:
                fields.setdefault(f, []).append(k[f])
            fields.setdefault("jobs", []).append(len(k["jobs"]))
            for c, v in k["counters"].items():
                fields.setdefault(c, []).append(v)
    return {k: {f: statistics.median(v) for f, v in fs.items()} for k, fs in values.items()}


def row(name: str, a, b) -> str:
    if a is None or b is None:
        return f"  {name:<28} {a!s:>14} {b!s:>14}"
    mark = "=" if a == b else ("" if a == 0 else f"{(b - a) / abs(a):+8.1%}")
    return f"  {name:<28} {a:14.4f} {b:14.4f} {b - a:+14.4f} {mark:>8}"


def main(a_path: str, b_path: str) -> None:
    a, b = load(a_path), load(b_path)
    print(f"A = {a_path} ({a.get('workload')}, seed {a.get('seed')})")
    print(f"B = {b_path} ({b.get('workload')}, seed {b.get('seed')})")
    print(f"\nper layer{'':<21}{'A':>14} {'B':>14} {'B-A':>14} {'change':>8}")
    la, lb = a["per_layer"], b["per_layer"]
    for name in sorted(set(la) | set(lb)):
        print(row(name, la.get(name), lb.get(name)))
    ka, kb = per_key(a), per_key(b)
    for key in sorted(set(ka) | set(kb)):
        print(f"\nkey {key}")
        fa, fb = ka.get(key, {}), kb.get(key, {})
        for f in list(SPAN_FIELDS) + sorted((set(fa) | set(fb)) - set(SPAN_FIELDS)):
            print(row(f, fa.get(f), fb.get(f)))
    print("\ntracing overhead (traced vs untraced passes of the same run)")
    for tag, r in (("A", a), ("B", b)):
        print(f"  {tag}: median traced pass {r['per_layer']['trace.wall_s']:.3f} s vs untraced "
              f"{statistics.median(r['untraced_pass_s']):.3f} s = {r['per_layer']['trace.overhead_pct']:+.1f}%")


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__.strip().splitlines()[2].strip())
    main(sys.argv[1], sys.argv[2])
