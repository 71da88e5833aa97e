#!/usr/bin/env python3
"""DuckDB oracle for the benchmark's correctness check.

Each key's SparkEntry.oracleSql statement runs in DuckDB over the same
generated parquet files the program read. Both sides are normalized with
graft's tools/local_oracle.py: columns sorted by name, rows sorted, cells
compared strictly (floats by repr, decimals with their exact scale,
timestamps in ISO form). Expected rows are cached per data directory and SQL
text, so the oracle side runs once per seed and never inside a timed region.

Self-test of the check on the last run of a workload: every key matches as
written, and the check fires once one expected cell is altered:
    python3 perfbench/oracle.py --selftest .bench_build/last/<workload>
"""
import glob
import hashlib
import json
import os
import sys

import duckdb
import pandas as pd
import pyarrow.parquet as pq

# the comparison rules are graft's own, from tools/local_oracle.py; no
# bytecode cache is written beside it, outside the benchmark's directory
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
sys.dont_write_bytecode = True
from local_oracle import canon, unsafe_fields  # noqa: E402


def canonical(df: pd.DataFrame) -> dict:
    """Sorted column names and canonical rows, in JSON's list form."""
    return {"columns": sorted(df.columns), "rows": [list(r) for r in canon(df)]}


def expected(data_dir: str, key: str, sql: str) -> dict:
    """Canonical oracle result of one key, computed once and cached."""
    tag = hashlib.sha256(sql.encode()).hexdigest()[:16]
    path = os.path.join(data_dir, "oracle", f"{key}.{tag}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    con = duckdb.connect()
    for t in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(t)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{t}'")
    result = canonical(con.execute(sql).df())
    con.close()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(result, f)
    os.replace(path + ".tmp", path)
    return result


def actual(result_dir: str) -> dict:
    """Canonical Spark result of one key, from its verification parquet."""
    files = sorted(glob.glob(os.path.join(result_dir, "*.parquet")))
    if not files:
        raise ValueError("no result parquet")
    bad = unsafe_fields(pq.read_schema(files[0]))
    if bad:
        raise ValueError(f"unstable output column types {bad}")
    return canonical(pd.concat([pd.read_parquet(f) for f in files]))


def mismatch(exp: dict, act: dict):
    """None when equal, else a one-line reason."""
    if exp["columns"] != act["columns"]:
        return f"columns differ: oracle={exp['columns']} spark={act['columns']}"
    if exp["rows"] != act["rows"]:
        e, a = exp["rows"], act["rows"]
        first = next((i for i, (x, y) in enumerate(zip(e, a)) if x != y), min(len(e), len(a)))
        return f"rows differ (oracle {len(e)} vs spark {len(a)}), first at row {first}"
    return None


def check(data_dir: str, verify_dir: str, oracle_sql: dict, keys: list) -> dict:
    """Map each mismatching key to its reason; matching keys are absent."""
    bad = {}
    for key in keys:
        sql = oracle_sql.get(key) or ""
        try:
            if not sql:
                raise ValueError("no oracle SQL")
            why = mismatch(expected(data_dir, key, sql), actual(os.path.join(verify_dir, key)))
        except Exception as e:  # a missing or unreadable result is a failure, not a crash
            why = f"{type(e).__name__}: {e}"
        if why:
            bad[key] = why
    return bad


def selftest(run_dir: str) -> int:
    """Number of keys that do not match as written or do not fail once one
    expected cell is altered."""
    with open(os.path.join(run_dir, "run.json")) as f:
        data_dir = json.load(f)["data"]
    with open(os.path.join(run_dir, "oracle_sql.json")) as f:
        sqls = json.load(f)
    problems = 0
    for key, sql in sorted(sqls.items()):
        exp, act = expected(data_dir, key, sql), actual(os.path.join(run_dir, "verify", key))
        wrong = json.loads(json.dumps(exp))
        if wrong["rows"]:
            wrong["rows"][0][0] = wrong["rows"][0][0] + "x"
        else:
            wrong["rows"].append(["x"] * len(wrong["columns"]))
        ok, fired = mismatch(exp, act) is None, mismatch(wrong, act) is not None
        print(f"{key}: matches={ok} fires_on_wrong_expected={fired}")
        problems += (not ok) + (not fired)
    return problems


if __name__ == "__main__":
    if len(sys.argv) != 3 or sys.argv[1] != "--selftest":
        sys.exit(__doc__.strip().splitlines()[-1].strip())
    sys.exit(1 if selftest(sys.argv[2]) else 0)
