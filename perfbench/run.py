#!/usr/bin/env python3
"""Benchmark of the graft streaming writer and analytics engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload <ingest_live|analytics_mix> \
        --seed <n> --seconds <s> --trace <0|1>

The first run compiles the program (src/main/scala) together with the
benchmark (perfbench/src) once into a jar in .bench_build/perfbench; later
runs reuse it. The first run of each workload also writes a class-data
archive of the classes its JVM loaded, which later runs of that workload
map at start-up. Each run starts its own JVM at local[4], prints every metric
by name with its unit, and prints as its last line one JSON object with the
keys correct, attempted, failed and metrics. With --trace 1 the JVM measures
once untraced and once traced and reports the per-layer metrics and the
tracing overhead; analytics_mix also runs a single-core pass for the scaling
ratio. The exit code is non-zero when a correctness check fails.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
# the analytics tables: the sf0.01 test data, read-only
DATA = os.path.join(HERE, "data", "sf0.01")
WORKLOADS = ["ingest_live", "analytics_mix"]
E2E = ["setup_s", "latency_s", "throughput_per_s", "complete_s"]
# a run must end within 180 s of its start, not counting the one-off build
DEADLINE_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME, else where spark-submit is."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail(f"no Spark/Scala jars under {jars}")
    return jars


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        fail(f"program sources not found at {main}")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not files:
        fail("no sources to build")
    return files


def build():
    """Compiles program + benchmark once per source state into one jar;
    returns the jar's path."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()[:16]
    classes = os.path.join(BUILD, f"classes-{stamp}")
    jar = os.path.join(classes, "perfbench.jar")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isfile(jar):
            return jar
        for old in glob.glob(os.path.join(BUILD, "classes-*")):
            shutil.rmtree(old, ignore_errors=True)
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(os.path.join(tmp, "out"))
        scala = [os.path.join(jars, n) for n in sorted(os.listdir(jars))
                 if n.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
        argfile = os.path.join(BUILD, "sources.txt")
        with open(argfile, "w") as fh:
            fh.write("\n".join(files))
        t = time.monotonic()
        r = subprocess.run(
            ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={BUILD}", "-cp", os.pathsep.join(scala),
             "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
             "-d", os.path.join(tmp, "out"), "@" + argfile],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            print(r.stdout[-4000:], file=sys.stderr)
            fail("build failed")
        # a jar, since the JVM's class-data archive takes classes from jars only
        shutil.make_archive(os.path.join(tmp, "perfbench"), "zip", os.path.join(tmp, "out"))
        shutil.rmtree(os.path.join(tmp, "out"))
        os.rename(os.path.join(tmp, "perfbench.zip"), os.path.join(tmp, "perfbench.jar"))
        os.rename(tmp, classes)
        print(f"perfbench: built {len(files)} sources in {time.monotonic() - t:.1f} s",
              file=sys.stderr)
        return jar


ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm(jar, work, workload, seed, seconds, trace, t0):
    """Runs one workload in its own JVM; returns its result.json.

    The JVM maps the classes it loads at start-up from a class-data archive
    of this build and workload, which the first untraced run of the
    workload writes at its exit (a traced run, the longest, leaves that to
    the next); later runs start their session 4-6 s sooner."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    archive = os.path.join(os.path.dirname(jar), f"{workload}.jsa")
    dump = not os.path.isfile(archive) and not trace
    cds = ([f"-XX:ArchiveClassesAtExit={archive}.tmp"] if dump
           else [f"-XX:SharedArchiveFile={archive}"] if os.path.isfile(archive) else [])
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData"] + cds + [
           "-Xlog:cds*=error", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([jar, os.path.join(spark_jars(), "*")]),
            "graftperf.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--work", work, "--tables", DATA]
    log = os.path.join(work, "jvm.log")
    left = DEADLINE_S - (time.monotonic() - t0)
    if left < 5:
        fail("out of time before launching a JVM")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=work)
        try:
            p.wait(timeout=left)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            tail(log)
            fail(f"{workload} JVM exceeded the time limit")
    res = os.path.join(work, "result.json")
    if p.returncode != 0 or not os.path.isfile(res):
        tail(log)
        fail(f"{workload} JVM exited with {p.returncode}")
    if dump and os.path.isfile(archive + ".tmp"):
        os.replace(archive + ".tmp", archive)
    with open(log, errors="replace") as fh:
        sys.stderr.write("".join(l for l in fh if l.startswith("[perfbench]")))
    with open(res) as fh:
        return json.load(fh)


def tail(log, n=60):
    with open(log, errors="replace") as fh:
        lines = fh.readlines()
    sys.stderr.write("".join(lines[-n:]))


# --- analytics correctness: each query's output against its DuckDB oracle ----

def oracle_answers(oracle, work):
    """The oracle's answer to every query (a canonically ordered frame, or
    the error it raised). DuckDB runs the oracle SQL on the tables once per
    SQL text and table contents; later runs read the answers back from
    .bench_build, so a run pays for its own outputs' compare only."""
    import duckdb
    import pandas as pd
    from check import TABLES, canon
    h = hashlib.sha256(json.dumps(oracle, sort_keys=True).encode())
    for t in TABLES:
        with open(os.path.join(DATA, t) + ".parquet", "rb") as fh:
            h.update(fh.read())
    path = os.path.join(BUILD, f"oracle-{h.hexdigest()[:16]}.pkl")
    if os.path.isfile(path):
        return pd.read_pickle(path)
    con = duckdb.connect()
    con.sql("SET threads=2")
    con.sql(f"SET temp_directory='{os.path.join(work, 'tmp')}'")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(DATA, t)}.parquet'")
    answers = {}
    for name, sql in sorted(oracle.items()):
        try:
            answers[name] = canon(con.sql(sql).df())
        except Exception as e:  # a failing oracle fails its query's check
            answers[name] = f"oracle failed: {str(e)[:300]}"
    for old in glob.glob(os.path.join(BUILD, "oracle-*.pkl")):
        os.remove(old)
    pd.to_pickle(answers, path + ".tmp")
    os.replace(path + ".tmp", path)
    return answers


def oracle_check(work):
    """Compares every query output of the untimed pass with DuckDB running
    the program's oracle SQL on the same tables, with the canonical order
    and bit-exact value compare of scripts/check.py. Returns {query: error}."""
    import pandas as pd
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    from check import canon, values_equal
    with open(os.path.join(work, "oracle.json")) as fh:
        oracle = json.load(fh)
    answers = oracle_answers(oracle, work)
    errors = {}
    for name in sorted(oracle):
        want = answers[name]
        if isinstance(want, str):
            errors[name] = want
            continue
        try:
            got = canon(pd.read_parquet(os.path.join(work, "qout", name)))
        except Exception as e:  # a missing output is a failure
            errors[name] = str(e)[:300]
            continue
        if list(got.columns) != list(want.columns):
            errors[name] = f"columns {list(got.columns)} vs oracle {list(want.columns)}"
        elif len(got) != len(want):
            errors[name] = f"{len(got)} rows vs oracle {len(want)}"
        else:
            for c in got.columns:
                bad = [i for i, (x, y) in enumerate(zip(got[c].tolist(), want[c].tolist()))
                       if not values_equal(x, y)]
                if bad:
                    i = bad[0]
                    errors[name] = f"column {c} row {i}: {got[c][i]!r} vs oracle {want[c][i]!r}"
                    break
    return errors


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    jar = build()
    t0 = time.monotonic()
    work_root = os.path.join(BUILD, f"work-{a.workload}-{os.getpid()}")
    shutil.rmtree(work_root, ignore_errors=True)
    try:
        work = os.path.join(work_root, "jvm")
        os.makedirs(work)
        r = jvm(jar, work, a.workload, a.seed, a.seconds, bool(a.trace), t0)
        t1 = time.monotonic()
        oracle_errors = oracle_check(work) if a.workload == "analytics_mix" else {}
        print(f"perfbench: JVM {t1 - t0:.1f} s, oracle check {time.monotonic() - t1:.1f} s",
              file=sys.stderr)
        metrics = r["layer"] if a.trace else {k: r["e2e"][k] for k in E2E}

        # a failed check or oracle mismatch counts as one failed operation
        attempted, failed = r["attempted"], r["failed"]
        for c in r["checks"]:
            if not c["ok"]:
                failed += 1
                print(f"CHECK FAILED {c['name']}: {c['detail']}")
        for q, err in sorted(oracle_errors.items()):
            failed += 1
            print(f"ORACLE MISMATCH {q}: {err}")
        failed = min(failed, attempted)

        info = r["info"]
        print(f"workload {a.workload} seed {a.seed} seconds {a.seconds} trace {a.trace}")
        for k, v in sorted(info.items()):
            print(f"  {k} = {v}")
        shown = dict(r["e2e"])
        shown.update(metrics)
        for k, m in shown.items():
            print(f"  {k} = {m['value']:.6g} {m['unit']}")
        print(f"  failed_ops_ratio = {failed / max(1, attempted):.6g} ({failed}/{attempted})")
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0 if failed == 0 else 1
    finally:
        spans = os.path.join(work_root, "jvm", "spans.jsonl")
        if os.path.isfile(spans):
            shutil.copy(spans, os.path.join(BUILD, f"spans-{a.workload}.jsonl"))
        shutil.rmtree(work_root, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
