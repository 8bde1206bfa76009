#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

Usage (from the repository root):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the harness (perfbench/build.sbt, which compiles the program at the
repository root) when its sources changed, runs the workload in one JVM,
checks the outputs and prints, as the last line of stdout, one JSON object
with the keys correct, attempted, failed and metrics. With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1 its
per-layer metrics (0 for a layer the workload does not run).
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
import threading
import time

WORKLOADS = ("stream", "corpus_batch")
BUILD_DIR = ".bench_build"
WORK_DIR = ".bench_work"
HEAP = ["-Xms3g", "-Xmx3g"]
# every run ends within this many seconds, the first build excepted
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest(root):
    """Hash of everything the build reads: a changed file forces a rebuild."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project/build.properties", "src/main",
            "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src/main"]
    for top in tops:
        path = os.path.join(root, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root):
    """Compile when needed; return the JVM arguments (options and classpath)."""
    out = os.path.join(root, BUILD_DIR)
    os.makedirs(out, exist_ok=True)
    stamp, launch = os.path.join(out, "stamp"), os.path.join(out, "launch.txt")
    digest = source_digest(root)
    if os.path.exists(stamp) and os.path.exists(launch) and open(stamp).read() == digest:
        return open(launch).read().splitlines()
    log("building the program and the harness")
    if os.path.exists(os.path.join(out, "classes.jsa")):
        os.remove(os.path.join(out, "classes.jsa"))
    # sbt's repositories and options come from the environment (SBT_OPTS)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    with open(os.path.join(out, "build.log"), "w") as blog:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "launcher"],
                         os.path.join(root, "perfbench"), env, blog, BUILD_LIMIT_S)
    if rc != 0:
        log(f"build failed (exit {rc}); see {BUILD_DIR}/build.log")
        sys.exit(3)
    log(f"built in {time.time() - t0:.0f} s")
    shutil.copyfile(os.path.join(root, "perfbench", "target", "launch.txt"), launch)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return open(launch).read().splitlines()


def class_share_args(root):
    """Class-data sharing for the library jars: the first run after a build
    writes the archive at exit, later runs map it instead of loading and
    verifying the same classes again, which cuts JVM start-up."""
    jsa = os.path.join(root, BUILD_DIR, "classes.jsa")
    # the JVM's own log lines (archive warnings) would go to stdout
    if os.path.exists(jsa):
        return [f"-XX:SharedArchiveFile={jsa}", "-Xlog:disable"]
    return [f"-XX:ArchiveClassesAtExit={jsa}", "-Xlog:disable"]


def run_bounded(cmd, cwd, env, stdout, limit_s):
    """Run cmd in its own process group; kill the whole group at the limit."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=subprocess.STDOUT,
                         start_new_session=True)
    try:
        return p.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9


def load_oracle_check(root):
    spec = importlib.util.spec_from_file_location(
        "oracle_check", os.path.join(root, "tools", "oracle_check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def digest(df):
    """Row count and an order-independent hash of a normalized frame:
    floats compare by value, everything else by its text."""
    floats = {c for c in df.columns if str(df[c].dtype).startswith("float")}
    total = 0
    for row in df.itertuples(index=False):
        parts = []
        for c, v in zip(df.columns, row):
            if v is None or (isinstance(v, float) and v != v):
                parts.append("null")
            elif c in floats:
                parts.append(repr(float(v)))
            else:
                parts.append(str(v))
        total += int.from_bytes(hashlib.md5("\x1f".join(parts).encode()).digest()[:8], "little")
    return len(df), total % (1 << 64)


def check_corpus(root, check_dir):
    """Each query's Parquet output against its DuckDB oracle over the same
    corpus: same columns, row count and order-independent hash."""
    import duckdb
    oc = load_oracle_check(root)
    corpus = open(os.path.join(check_dir, "corpus_dir")).read()
    con = duckdb.connect()
    for t in oc.TABLES:
        # Spark writes each table as a directory of part files
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{corpus}/{t}.parquet/*.parquet'")
    verdicts = {}
    for name, sql in json.load(open(os.path.join(check_dir, "oracle_sql.json"))).items():
        try:
            got = oc.normalize(con.sql(
                f"SELECT * FROM read_parquet('{check_dir}/{name}/*.parquet')").df())
            if not sql:
                verdicts[name] = (False, "no oracle SQL registered")
                continue
            want = oc.normalize(con.sql(sql).df())
        except Exception as e:  # noqa: BLE001 - any failure is a failed check
            verdicts[name] = (False, f"error {e}")
            continue
        if list(got.columns) != list(want.columns):
            verdicts[name] = (False, f"columns {list(got.columns)} vs {list(want.columns)}")
            continue
        g, w = digest(got), digest(want)
        verdicts[name] = (g == w, f"rows {g[0]} vs {w[0]}, hash {g[1]:016x} vs {w[1]:016x}")
    return verdicts


def run_workload(root, a, jvm_args, work, limit):
    """Run the workload's JVM, stream its verdict lines, add the DuckDB
    checks; return the JVM's exit code and the result object."""
    out = os.path.join(work, "result.json")
    trace_out = os.path.join(root, WORK_DIR, f"trace-{a.workload}.jsonl")
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_MASTER", "SPARK_GRAFT_CPUS")}
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    cmd = (["java"] + jvm_args[:-2] + HEAP + class_share_args(root) +
           [f"-Djava.io.tmpdir={work}/tmp"] + jvm_args[-2:] +
           ["perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
            "--out", out, "--trace-out", trace_out])
    jvm_log = os.path.join(work, "jvm.log")
    with open(jvm_log, "w") as jlog:
        p = subprocess.Popen(cmd, env=env, stdout=subprocess.PIPE, stderr=jlog, text=True,
                             start_new_session=True)
        # kills the JVM and the generator it started if the run overstays
        watchdog = threading.Timer(limit, os.killpg, (p.pid, signal.SIGKILL))
        watchdog.start()
        try:
            for line in p.stdout:
                print(line.rstrip("\n"), flush=True)
            rc = p.wait()
        finally:
            watchdog.cancel()
    if rc != 0:
        shutil.copyfile(jvm_log, os.path.join(root, WORK_DIR, "last_failure.log"))
        log(f"the workload's JVM exited with {rc}; see {WORK_DIR}/last_failure.log")
    if not os.path.exists(out):
        sys.exit(1)
    result = json.load(open(out))
    if rc != 0:
        result["correct"] = False
    check_dir = os.path.join(work, "check")
    if a.workload == "corpus_batch" and os.path.exists(os.path.join(check_dir, "oracle_sql.json")):
        for name, (ok, detail) in sorted(check_corpus(root, check_dir).items()):
            result["attempted"] += 1
            print(f"check oracle.{name}: {'PASS' if ok else 'FAIL'} {detail}")
            if not ok:
                result["failed"] += 1
                result["correct"] = False
    return rc, result


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala/graft", "tools/oracle_check.py", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(root, need)):
            log(f"{need} is missing: run from the root of a checkout of the program")
            sys.exit(2)
    spec = json.load(open(os.path.join(root, "BENCHMARK.json")))
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    t_start = time.time()
    jvm_args = build(root)
    limit = RUN_LIMIT_S if time.time() - t_start < 5 else BUILD_LIMIT_S + 60 - (time.time() - t_start)

    work = os.path.join(root, WORK_DIR, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        rc, result = run_workload(root, a, jvm_args, work, limit)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    got = result["metrics"]
    undeclared = sorted(set(got) - {m["name"] for m in spec["per_layer"] + spec["end_to_end"]})
    if undeclared:
        log(f"measured but not declared in BENCHMARK.json: {', '.join(undeclared)}")
    metrics = {}
    for m in wanted:
        if m["name"] in got and got[m["name"]]["value"] is not None:
            metrics[m["name"]] = {"value": got[m["name"]]["value"], "unit": m["unit"]}
        elif a.trace:
            metrics[m["name"]] = {"value": 0, "unit": m["unit"]}
        else:
            log(f"end-to-end metric {m['name']} was not measured")
            result["correct"] = False
    for name, v in metrics.items():
        print(f"metric {name} = {v['value']} {v['unit']}")
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    sys.exit(0 if rc == 0 else 1)


if __name__ == "__main__":
    main()
