#!/usr/bin/env python3
"""Benchmark entry point: build, generate inputs, run one workload, check.

    python3 perfbench/run.py --workload olap|curate --seed N --seconds S --trace 0|1

Run from the repository root. It compiles the engine (`src/main/scala`)
and the benchmark runner (`perfbench/src`) with the Scala compiler that ships with
Spark (`$SPARK_HOME/jars`) into `.bench_build/` (reused while the sources
are unchanged), generates the workload's inputs from the seed
(`gen.py`), runs `perfbench.PerfBench` in one JVM with a session from
`graft.Bench.session()` at `local[nproc]`, checks the `olap` results
against DuckDB over the same files, and prints one JSON line:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end metrics of BENCHMARK.json, with `--trace 1`
its per-layer metrics (layers a workload does not touch read 0). The
traced run's spans are kept in `.bench_build/traces/`. Nothing is kept
between runs that a later run reads.
"""
import argparse
import fcntl
import glob
import hashlib
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]

sys.path.insert(0, HERE)
import gen  # noqa: E402


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    jars = sorted(glob.glob(os.path.join(os.environ.get("SPARK_HOME", ""), "jars", "*.jar")))
    if not any("scala-compiler" in j for j in jars):
        fail("SPARK_HOME/jars with the Scala compiler not found")
    return jars


def build(jars):
    """Compile engine + runner once per source state; return the class dir."""
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not engine:
        fail("engine sources (src/main/scala) not found; run from a repository checkout")
    sources = engine + sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))
    h = hashlib.sha256("\n".join(os.path.basename(j) for j in jars).encode())
    for s in sources:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp, classes = h.hexdigest(), os.path.join(BUILD, "classes")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = os.path.join(classes, ".stamp")
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            return classes
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        argfile = os.path.join(BUILD, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(sources))
        cp = os.pathsep.join(jars)
        res = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                              "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile],
                             stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if res.returncode != 0:
            fail("compile failed:\n" + res.stdout[-4000:])
        with open(os.path.join(tmp, ".stamp"), "w") as f:
            f.write(stamp)
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(tmp, classes)
    return classes


def canon_fn():
    """tools/check.py's canonicalization, the repository's DuckDB comparator."""
    spec = importlib.util.spec_from_file_location("check", os.path.join(ROOT, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon


def oracle_mismatches(inputs, out):
    """Names of the `olap` queries whose Spark result differs from DuckDB's,
    and how many queries were compared."""
    import duckdb
    import pyarrow.parquet as pq
    canon = canon_fn()
    con = duckdb.connect()
    for d in sorted(glob.glob(os.path.join(inputs, "*.parquet"))):
        name = os.path.basename(d)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{d}/*.parquet'")
    oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
    bad = []
    for name, sql in sorted(oracle.items()):
        dump = os.path.join(out, "check", name)
        if not os.path.isdir(dump):
            bad.append(name)
            continue
        res = con.sql(sql)
        t = pq.read_table(dump)
        spark_rows = [tuple(d.values()) for d in t.to_pylist()]
        if canon(res.fetchall(), res.columns)[0] != canon(spark_rows, t.column_names)[0]:
            bad.append(name)
    return bad, len(oracle)


def run_jvm(jars, classes, args, inputs, out, tmp):
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_LOCAL_DIRS"] = tmp
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
           ["-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", os.pathsep.join([classes] + jars), "perfbench.PerfBench",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--inputs", inputs, "--out", out])
    with open(os.path.join(out, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True, env=env)
        try:
            stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s (log: {log.name})")
    lines = [ln for ln in stdout.splitlines() if ln.startswith("PERFBENCH ")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(open(log.name).read()[-4000:])
        fail(f"benchmark JVM exited with {proc.returncode} and no result")
    return json.loads(lines[-1][len("PERFBENCH "):])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["olap", "curate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found at the repository root")
    spec = json.load(open(spec_path))

    jars = spark_jars()
    classes = build(jars)
    work = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    inputs, out, tmp = (os.path.join(work, d) for d in ("inputs", "out", "tmp"))
    for d in (out, tmp):
        os.makedirs(d, exist_ok=True)
    try:
        t0 = time.time()
        sizes = gen.generate(args.workload, args.seed, inputs)
        res = run_jvm(jars, classes, args, inputs, out, tmp)
        m = {k: v["value"] for k, v in res["metrics"].items()}
        units = {k: v["unit"] for k, v in res["metrics"].items()}
        checks = dict(res["checks"])
        attempted, failed = res["attempted"], res["failed"]
        if args.workload == "olap":
            bad, n_queries = oracle_mismatches(inputs, out)
            checks["olap.duckdb_hash_match"] = not bad
            # every timed execution of a mismatching query counts as failed
            failed = min(attempted, failed + len(bad) * attempted // max(1, n_queries))
        # set-up: input generation, JVM and session start, table load and
        # persist, warm-up, up to the instant the JVM marked as its end
        m["setup_s"] = m.pop("setup.end_epoch_s") - t0
        units["setup_s"] = "s"
        m["ops_failed_frac"] = failed / max(1, attempted)
        units["ops_failed_frac"] = "ratio"
        m["inputs.rows"] = float(sum(v for k, v in sizes.items() if k in
                                     ("region", "nation", "customer", "supplier", "part", "orders",
                                      "lineitem", "events", "documents", "embeddings")))
        units["inputs.rows"] = "count"
        if args.trace:
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            for f in glob.glob(os.path.join(out, "*spans.jsonl")):
                shutil.copy(f, os.path.join(BUILD, "traces", f"{args.workload}-{args.seed}-"
                                            + os.path.basename(f)))
    finally:
        if os.path.exists(os.path.join(out, "jvm.log")):
            os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
            shutil.copy(os.path.join(out, "jvm.log"), os.path.join(
                BUILD, "logs", f"{args.workload}-{args.seed}-trace{args.trace}.log"))
        shutil.rmtree(work, ignore_errors=True)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    for w in wanted:
        name = w["name"]
        if name not in m and not args.trace:
            fail(f"end-to-end metric {name} was not measured")
        if name in units and units[name] != w["unit"]:
            fail(f"metric {name}: measured unit {units[name]} != BENCHMARK.json unit {w['unit']}")
        metrics[name] = {"value": float(m.get(name, 0.0)), "unit": w["unit"]}
    for name, ok in checks.items():
        if not ok:
            print(f"perfbench: check failed: {name}", file=sys.stderr)
    print(json.dumps({"correct": all(checks.values()) and failed == 0,
                      "attempted": int(attempted), "failed": int(failed),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
