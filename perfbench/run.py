#!/usr/bin/env python3
"""Benchmark driver for the graft engine: see README.md.

    python3 perfbench/run.py --workload nightly_import --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark JVM from source when they changed
(`sbt writeClasspath` in this directory), runs one workload in a fresh
work directory, checks the outputs against DuckDB, writes a run record
under results/ and prints one JSON result line as the last line of
stdout. Exits 1 when any output is wrong, 2 when it cannot run.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("nightly_import", "dashboard_reads", "corpus_nightly")
DEADLINE_S = 170  # the whole run, build excluded
BUILD_TIMEOUT_S = 850
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_fingerprint():
    """Paths, sizes and mtimes of everything the build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile engine + benchmark unless the last build saw these sources."""
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    stamp_file = os.path.join(HERE, "target", "build.stamp")
    fp = source_fingerprint()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == fp:
                return open(cp_file).read().strip()
    log("building engine + benchmark (sbt writeClasspath)")
    # offline: resolve only from the local caches (and ~/.sbt/repositories)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true")
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not os.path.exists(cp_file):
        fail(f"build failed (sbt exit {r.returncode})")
    with open(stamp_file, "w") as f:
        f.write(fp)
    return open(cp_file).read().strip()


def load1():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def run_jvm(cp, args, work, result_file, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, "-Xms1g", "-Xmx1g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main", args.workload, str(args.seed),
            str(args.seconds), str(args.trace), work, result_file]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr,
                            stderr=sys.stderr, start_new_session=True)
    try:
        return proc.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail("benchmark JVM exceeded the deadline")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def normalize(cols, rows):
    """Columns by name, cells as repr, rows sorted: an exact compare
    that ignores row and column order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return ([cols[i] for i in order],
            sorted(tuple(repr(r[i]) for i in order) for r in rows))


def run_check(check):
    import duckdb
    con = duckdb.connect()
    try:
        for view, glob in check["views"].items():
            con.execute(f"CREATE VIEW {view} AS SELECT * FROM read_parquet('{glob}')")
        mine = con.execute(f"SELECT * FROM read_parquet('{check['spark']}')")
        mine = normalize([d[0] for d in mine.description], mine.fetchall())
        ref = con.execute(check["sql"])
        ref = normalize([d[0] for d in ref.description], ref.fetchall())
    except Exception as e:  # a broken output is a failed check
        return f"error: {e}"
    finally:
        con.close()
    if mine[0] != ref[0]:
        return f"columns {mine[0]} != {ref[0]}"
    if len(mine[1]) != len(ref[1]):
        return f"rows {len(mine[1])} != {len(ref[1])}"
    bad = sum(a != b for a, b in zip(mine[1], ref[1]))
    return f"{bad} differing rows" if bad else None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"engine sources not found under {ROOT}/src/main/scala")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set")
    cp = build()

    deadline = time.time() + DEADLINE_S
    work = os.path.join(HERE, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result_file = os.path.join(work, "result.json")
    load_before = load1()
    try:
        code = run_jvm(cp, args, work, result_file, deadline)
        if code != 0 or not os.path.exists(result_file):
            fail(f"benchmark JVM failed (exit {code})")
        with open(result_file) as f:
            res = json.load(f)
        failed = res["errors"] + res["wrong"]
        outcomes = {}
        t0 = time.time()
        for c in res["checks"]:
            problem = run_check(c)
            outcomes[c["name"]] = problem or "ok"
            if problem:
                log(f"check {c['name']} FAILED: {problem}")
                failed += max(1, c["ops"])
        log(f"{len(outcomes)} DuckDB checks in {time.time() - t0:.1f} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = max(1, res["attempted"])
    failed = min(failed, attempted)
    metrics = res["metrics"]
    if args.trace == 0:
        metrics["ok_frac"] = {"value": (attempted - failed) / attempted, "unit": "ratio"}
    record = dict(res["stamp"], load1_before=load_before, load1_after=load1(),
                  attempted=attempted, failed=failed, checks=outcomes,
                  metrics=metrics, spans=res["spans"])
    results = os.path.join(HERE, "results")
    os.makedirs(results, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(results, name), "w") as f:
        json.dump(record, f, indent=1)
    log("stamp: " + json.dumps({k: record[k] for k in (
        "workload", "seed", "cores", "load1_before", "load1_after", "spark", "jdk", "ops")}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
