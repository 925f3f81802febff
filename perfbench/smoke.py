#!/usr/bin/env python3
"""The benchmark's own smoke test, at tiny sizes.

Usage (from the root of a checkout):  python3 perfbench/smoke.py

1. Runs every workload for two seconds, untraced and traced, and asserts
   that the last line is the result object and that every metric named in
   BENCHMARK.json is printed with its unit.
2. Runs perfbench.SelfTest, which hands each Scala-side output check a
   deliberately wrong result and fails unless the check rejects it.
3. Hands the analytics oracle comparison a wrong query output.
Exits non-zero on the first failure.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import run  # noqa: E402


def fail(msg):
    print(f"SMOKE FAIL: {msg}")
    sys.exit(1)


def check_result_lines():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in run.WORKLOADS:
        for trace in (0, 1):
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", "3", "--seconds", "2", "--trace", str(trace)],
                               cwd=run.ROOT, capture_output=True, text=True, timeout=900)
            if p.returncode != 0:
                fail(f"{w} trace={trace} exited {p.returncode}:\n{p.stderr[-3000:]}")
            res = json.loads(p.stdout.strip().splitlines()[-1])
            if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
                fail(f"{w}: result keys {sorted(res)}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                fail(f"{w} trace={trace}: {p.stdout.strip().splitlines()[-2]}")
            for m in spec["per_layer" if trace else "end_to_end"]:
                got = res["metrics"].get(m["name"])
                if got is None or got["unit"] != m["unit"] or not isinstance(got["value"], (int, float)):
                    fail(f"{w} trace={trace}: metric {m['name']} printed as {got}")
            print(f"ok   {w} trace={trace}: {len(res['metrics'])} metrics, "
                  f"{res['attempted']} operations")


def check_selftest():
    cp, _ = run.classpath(os.path.join(run.ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build"))
    p = subprocess.run(["java", "-cp", cp, "perfbench.SelfTest"], capture_output=True, text=True,
                       timeout=120)
    if p.returncode != 0:
        fail(f"SelfTest:\n{p.stdout}{p.stderr}")
    print("ok   Scala-side output checks reject wrong results")


def check_oracle_compare():
    import duckdb
    oc = run.load_oracle_check()
    con = duckdb.connect()
    data = os.path.join(HERE, "data", "sf0.001")
    truth = con.execute(f"SELECT n_regionkey, count(*) AS n FROM read_parquet('{data}/nation.parquet') "
                        "GROUP BY n_regionkey").fetchdf()
    if run.compare_frames(oc.norm, truth.iloc[::-1].copy(), truth) is not None:
        fail("oracle compare rejects a reordered but equal output")
    wrong = truth.copy()
    wrong.loc[0, "n"] += 1
    if run.compare_frames(oc.norm, wrong, truth) != "values":
        fail("oracle compare accepts a wrong value")
    if run.compare_frames(oc.norm, truth.iloc[1:].copy(), truth) != "rows":
        fail("oracle compare accepts a missing row")
    if run.compare_frames(oc.norm, truth.rename(columns={"n": "m"}), truth) != "schema":
        fail("oracle compare accepts a wrong schema")
    print("ok   analytics oracle compare rejects wrong outputs")


if __name__ == "__main__":
    check_selftest()
    check_oracle_compare()
    check_result_lines()
    print("SMOKE OK")
