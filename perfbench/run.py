#!/usr/bin/env python3
"""graft benchmark launcher.

Builds graft and the harness from source (cached under .bench_build/), runs
one workload in a fresh JVM and prints one JSON result line last:

    python3 perfbench/run.py --workload consolidate_small --seed 1 \
        --seconds 10 --trace 0

Run it from the repository root. `--trace 0` reports the end-to-end metrics
of BENCHMARK.json, `--trace 1` the per-layer ones. The exit code is 0 only
when every output check passed. `--workload selftest` runs the harness's
own checks instead of a workload.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
MAIN = "graftbench.Main"
JVM_BUDGET_S = 170


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        fail("Spark jars not found: set SPARK_HOME")
    return jars


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        fail("no graft sources under src/main/scala: run from the repository root")
    return main + sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))


def build(root, jars):
    """Compiles graft's main sources plus the harness with scalac; reuses
    the classes while no source file or jar changed."""
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    base = os.path.join(root, ".bench_build", "graftbench")
    classes = os.path.join(base, "classes")
    stamp_file = os.path.join(base, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(base, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    rc = subprocess.call(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
                          "-cp", os.path.join(jars, "*"),
                          "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
                          "-d", tmp, "@" + argfile], stdout=sys.stderr)
    if rc != 0:
        fail(f"build failed ({rc})")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]


def run_jvm(root, classes, jars, args, work, budget):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # every scratch path inside the work directory; no JVM perf-data file
    cmd += ["-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.hadoop.hadoop.tmp.dir={os.path.join(work, 'hadoop')}",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", os.pathsep.join([classes, os.path.join(root, "src/main/resources"),
                                    os.path.join(jars, "*")]),
            MAIN, "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--tables-script", os.path.join(HERE, "gen_tables.py")]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, cwd=work, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=budget)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail(f"workload exceeded {budget:.0f} s", 3)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    lines = [l for l in out.splitlines() if l.startswith("GRAFTBENCH ")]
    if proc.returncode != 0 or not lines:
        fail(f"harness exited with {proc.returncode} and no result", 3)
    return json.loads(lines[-1][len("GRAFTBENCH "):])


def check_oracle():
    """The repository's oracle gate (tools/check_oracle.py): its table list
    and its frame hash."""
    tools = os.path.join(os.path.dirname(HERE), "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import check_oracle as co
    return co


def sorted_hash(df):
    """check_oracle's frame hash over the rows sorted, so the hash does not
    depend on row order (the noop-sink pass and the check pass need not
    order their rows alike)."""
    s = df[sorted(df.columns)].astype(str)
    s = s.sort_values(list(s.columns), kind="stable").reset_index(drop=True)
    return check_oracle().frame_hash(s)


def oracle_check(check):
    """Compares each query's checked output with its DuckDB oracle SQL over
    the same generated tables. Returns {query: reason} for mismatches."""
    import duckdb
    import pandas as pd
    co = check_oracle()
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in co.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{check['tables']}/{t}.parquet')")
    bad = {}
    for name, q in check["queries"].items():
        if q["rows"] < 0 or not q["oracle"]:
            continue  # the harness already failed it, or no oracle exists
        try:
            parts = sorted(glob.glob(os.path.join(check["dir"], name, "*.parquet")))
            got = pd.concat([pd.read_parquet(p) for p in parts], ignore_index=True)
            want = con.execute(q["oracle"]).df()
        except Exception as e:  # a broken output is a failed check
            bad[name] = f"oracle check error: {e}"
            continue
        if sorted(got.columns) != sorted(want.columns):
            bad[name] = f"columns {sorted(got.columns)} != {sorted(want.columns)}"
        elif len(got) != len(want):
            bad[name] = f"rows {len(got)} != {len(want)}"
        elif sorted_hash(got) != sorted_hash(want):
            bad[name] = f"value hash mismatch over {len(got)} rows"
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    root = os.getcwd()
    bench_file = os.path.join(root, "BENCHMARK.json")
    if not os.path.exists(bench_file):
        fail("BENCHMARK.json not found: run from the repository root")
    bench = json.load(open(bench_file))
    names = [w["name"] for w in bench["workloads"]]
    if args.workload not in names + ["selftest"]:
        fail(f"unknown workload {args.workload}; expected one of {names}")

    started = time.time()
    jars = spark_jars()
    classes = build(root, jars)
    work_root = os.path.join(root, ".bench_work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        budget = JVM_BUDGET_S if time.time() - started < 60 else 900 - (time.time() - started)
        res = run_jvm(root, classes, jars, args, work, budget)
        failed, attempted = res["failed"], res["attempted"]
        metrics = res["metrics"]
        if "check" in res:
            bad = oracle_check(res["check"])
            samples = []
            for name, q in res["check"]["queries"].items():
                if name in bad:
                    print(f"[perfbench] FAIL {name}: {bad[name]}", file=sys.stderr)
                    failed += 1 + len(q["times"])  # check pass + every timed run
                else:
                    samples += q["times"]
            if samples:
                metrics["op_p50_s"] = statistics.median(samples)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    declared_e2e = [m["name"] for m in bench["end_to_end"]]
    declared_layer = [m["name"] for m in bench["per_layer"]]
    if args.workload == "selftest":
        emitted = set(res["names"])
        declared = set(declared_e2e) | set(declared_layer)
        if emitted != declared:
            print(f"[perfbench] FAIL metric names: only emitted {sorted(emitted - declared)}, "
                  f"only declared {sorted(declared - emitted)}", file=sys.stderr)
            failed += 1
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": {}}))
        sys.exit(0 if failed == 0 else 1)

    wanted = declared_layer if args.trace else declared_e2e
    missing = [n for n in wanted if n not in metrics]
    if missing:
        fail(f"harness did not report {missing}", 4)
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    out = {n: {"value": metrics[n], "unit": units[n]} for n in wanted}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
