#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload analytics|online|all \
        --seed N --seconds S --trace 0|1

Builds the repo and the harness with sbt on first use (the classpath is
kept under $CARGO_TARGET_DIR, default .bench_build), runs the workload in
one JVM, checks its outputs, and prints a stamp line, a report line and,
last, one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. `--workload all` runs both
workloads in turn and prints every workload's named report.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # importing scripts/oracle_check.py leaves no cache behind
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["analytics", "online"]
RUN_LIMIT_S = 160  # the JVM's share of a run's 180 s
HEAP = "3g"
# Per-layer metrics of layers a workload never calls: reported as 0.
UNEXERCISED = {
    "analytics": ("api.", "streaming.", "xai.gbt_", "xai.linear_", "gen."),
    "online": ("queries.", "llm.", "ml.", "analytics.", "xai.train."),
}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar", "java.management/sun.management",
]


CHILD = []  # the build or JVM process group this run is waiting on


def stop_child(*_):
    for p in CHILD:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
    sys.exit(1)


def wait(cmd, cwd, out, err, timeout, env=None):
    """Runs `cmd` in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=err, stdin=subprocess.DEVNULL,
                         start_new_session=True, env=env)
    CHILD.append(p)
    try:
        return p.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    finally:
        CHILD.remove(p)


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Digest of every file the build reads: the checkout has no git."""
    h = hashlib.sha256()
    for base in ["build.sbt", "project", "src/main", "perfbench/build.sbt",
                 "perfbench/project", "perfbench/src"]:
        top = os.path.join(ROOT, base)
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, ds, fs in os.walk(top)
            if "target" not in d.split(os.sep) for f in fs)
        for p in paths:
            if p.endswith((".scala", ".sbt", ".properties")):
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def classpath(build_dir):
    """The harness classpath, building with sbt when the sources changed."""
    digest = source_digest()
    cp_file = os.path.join(build_dir, f"classpath-{digest}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip(), digest
    os.makedirs(build_dir, exist_ok=True)
    log = os.path.join(build_dir, "build.log")
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "export Runtime/fullClasspath"]
    # offline, from the local repositories, as the repo's own test command runs sbt
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx4g")
    with open(log, "w") as out:
        code = wait(cmd, HERE, out, subprocess.STDOUT, 850, env)
    lines = open(log).read().strip().splitlines()
    if code != 0 or not lines or "perfbench" not in lines[-1]:
        die(f"build failed (see {log}):\n" + "\n".join(lines[-20:]))
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip(), digest


def run_jvm(cp, workload, seed, seconds, trace, work, cores, deadline):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += [f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}",
            "-cp", cp, "perfbench.Main", workload, str(seed), str(seconds),
            str(trace), work, os.path.join(HERE, "data", "sf0.001"), str(cores)]
    out_path, err_path = os.path.join(work, "stdout"), os.path.join(work, "stderr")
    with open(out_path, "w") as out, open(err_path, "w") as err:
        code = wait(cmd, work, out, err, deadline - time.time())
    if code is None:
        die(f"{workload} exceeded its time limit")
    result = None
    for line in open(out_path):
        if line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
    if code != 0 or result is None:
        tail = open(err_path).read().splitlines()[-30:]
        die(f"{workload} run failed (exit {code}):\n" + "\n".join(tail), 1)
    return result


def load_oracle_check():
    spec = importlib.util.spec_from_file_location(
        "oracle_check", os.path.join(ROOT, "scripts", "oracle_check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def compare_frames(norm, spark_df, duck_df):
    """The comparison scripts/oracle_check.py makes; None when equal."""
    a, b = norm(spark_df.copy()), norm(duck_df.copy())
    if list(a.columns) != list(b.columns):
        return "schema"
    if len(a) != len(b):
        return "rows"
    if not a.equals(b):
        return "values"
    return None


def check_outputs(outputs, data_dir):
    """Each sampled query's output against DuckDB running its oracle SQL
    over the same tables. Returns failures by cause."""
    import duckdb
    import pandas as pd
    oc = load_oracle_check()
    con = duckdb.connect()
    for t in oc.TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    failures = {}
    for o in outputs:
        if not o["oracle"]:
            cause = "query_no_oracle"
        else:
            try:
                files = [os.path.join(o["dir"], f) for f in os.listdir(o["dir"])
                         if f.endswith(".parquet")]
                spark_df = pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()
                why = compare_frames(oc.norm, spark_df, con.execute(o["oracle"]).fetchdf())
                cause = f"query_wrong_{why}" if why else None
            except Exception as e:  # an output the oracle cannot read is wrong
                cause = f"query_check_error:{type(e).__name__}"
        if cause:
            failures[cause] = failures.get(cause, 0) + 1
            print(f"perfbench: {o['name']}: {cause}", file=sys.stderr)
    return failures


def run_one(args, spec, cp, digest, cores):
    deadline = time.time() + RUN_LIMIT_S
    work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}-{args.workload}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_jvm(cp, args.workload, args.seed, args.seconds, args.trace, work, cores,
                      deadline)
        failures = dict(res["failures"])
        attempted = res["attempted"]
        if args.workload == "analytics":
            outputs = res["extra"]["outputs"]
            attempted += len(outputs)
            for k, v in check_outputs(outputs, res["extra"]["data"]).items():
                failures[k] = failures.get(k, 0) + v
    finally:
        shutil.rmtree(work, ignore_errors=True)
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    got = res["layers" if args.trace else "metrics"]
    metrics, problems = {}, []
    for m in wanted:
        v = got.get(m["name"])
        if v is None and args.trace and m["name"].startswith(UNEXERCISED[args.workload]):
            v = {"value": 0.0, "unit": m["unit"]}
        if v is None or v["value"] is None or v["unit"] != m["unit"]:
            problems.append(f"{m['name']}: {v}")
        else:
            metrics[m["name"]] = {"value": v["value"], "unit": m["unit"]}
    if problems:
        die(f"{args.workload} did not measure: " + "; ".join(problems), 1)
    failed = sum(failures.values())
    res["report"]["error_ratio"] = {"value": failed / max(1, attempted), "unit": "ratio"}
    stamp = dict(res["stamp"], workload=args.workload, seed=args.seed, seconds=args.seconds,
                 trace=args.trace, nproc=cores, heap=HEAP, source_digest=digest,
                 commit=git_commit())
    return {"stamp": stamp, "report": res["report"], "failures": failures,
            "failure_samples": res["failure_samples"],
            "accounting": {k: v for k, v in res["extra"].items() if k.endswith("accounting")} or None,
            "result": {"correct": failed == 0, "attempted": attempted, "failed": failed,
                       "metrics": metrics}}


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, stop_child)
    signal.signal(signal.SIGINT, stop_child)
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("the program's sources are not beside the benchmark; run from a full checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cores = len(os.sched_getaffinity(0))
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    cp, digest = classpath(build_dir)
    if args.workload != "all":
        out = run_one(args, spec, cp, digest, cores)
        print(json.dumps({"stamp": out["stamp"]}))
        print(json.dumps({"report": out["report"], "failures": out["failures"],
                          "failure_samples": out["failure_samples"],
                          "accounting": out["accounting"]}))
        print(json.dumps(out["result"]))
        return
    results = []
    for w in WORKLOADS:
        one = run_one(argparse.Namespace(**dict(vars(args), workload=w)), spec, cp, digest, cores)
        results.append(one)
        print(json.dumps({"stamp": one["stamp"]}))
        print(f"== {w}: correct={one['result']['correct']} attempted={one['result']['attempted']}"
              f" failed={one['result']['failed']} failures={one['failures']}")
        for name, v in list(one["report"].items()) + list(one["result"]["metrics"].items()):
            print(f"   {name:24s} {v['value']:12.4f} {v['unit']}")
        if one["accounting"]:
            print(f"   accounting: {json.dumps(one['accounting'])}")
    attempted = sum(r["result"]["attempted"] for r in results)
    failed = sum(r["result"]["failed"] for r in results)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {f"{w}.{k}": v for w, r in zip(WORKLOADS, results)
                                  for k, v in r["result"]["metrics"].items()}}))


if __name__ == "__main__":
    main()
