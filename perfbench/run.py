#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print its figures.

Usage (from the repository root):

    python3 perfbench/run.py --workload dash-cold --seed 1 --seconds 10 --trace 0

Workloads: dash-cold and curation (see perfbench/README.md). The script builds the engine and the harness from
source when they changed (sbt, offline), runs the workload in one JVM
on its corpus under perfbench/corpus, checks its outputs, and prints as
its last line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every end-to-end metric of BENCHMARK.json (`--trace 0`) or every
per-layer metric (`--trace 1`). Everything it writes stays under
perfbench/.work and perfbench/target. It exits non-zero when the build
or the run fails, or when an output is wrong.
"""
import argparse
import fcntl
import hashlib
import importlib.util
import io
import json
import math
import os
import platform
import shutil
import signal
import subprocess
import sys
import time
from contextlib import redirect_stdout

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 600
# Each workload's corpus: copies of the repository's test-data scales.
# curation runs on sf0.01 because the DuckDB oracle of x99_dedup_funnel
# alone takes about 450 s over sf0.1's 5,000 documents.
CORPUS = {"dash-cold": os.path.join(HERE, "corpus", "sf0.1"),
          "curation": os.path.join(HERE, "corpus", "sf0.01")}
WORKLOADS = tuple(CORPUS)

# Spark 4 on JDK 17 outside spark-submit needs these module openings
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def spark_home():
    """The Spark distribution: $SPARK_HOME, else the one spark-submit is in."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark distribution found: set SPARK_HOME", 2)
    return home


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    dirs = [os.path.join(ROOT, "src", "main", "scala"),
            os.path.join(HERE, "src", "main", "scala")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names
                      if n.endswith((".scala", ".java"))]
    return sorted(files)


def source_hash():
    md = hashlib.sha256()
    for f in source_files():
        md.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            md.update(fh.read())
    return md.hexdigest()[:16]


def build(digest, log_dir):
    """Compile engine + harness with sbt unless the stamp matches."""
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(os.path.join(os.path.dirname(STAMP), "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(STAMP) and open(STAMP).read() == digest:
            return
        env = dict(os.environ)
        env["COURSIER_MODE"] = "offline"
        env["SPARK_HOME"] = spark_home()
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           "-Dsbt.repository.config=" +
                           os.path.expanduser("~/.sbt/repositories") +
                           " -Dsbt.offline=true -Xmx3g")
        log = os.path.join(log_dir, "build.log")
        with open(log, "w") as out:
            try:
                rc = subprocess.run(
                    ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                    cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                    stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S).returncode
            except subprocess.TimeoutExpired:
                rc = -1
        if rc != 0:
            tail = open(log).read()[-3000:]
            fail(f"build failed (see {log}):\n{tail}", 3)
        with open(STAMP, "w") as fh:
            fh.write(digest)


def run_jvm(args, corpus_dir, out_path, log_path, budget_s):
    spark_jars = os.path.join(spark_home(), "jars", "*")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{CLASSES}{os.pathsep}{spark_jars}", "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--corpus", corpus_dir, "--work", WORK, "--out", out_path]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=WORK, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"the run exceeded {budget_s:.0f} s (log: {log_path})", 4)
    if rc != 0:
        tail = open(log_path, errors="replace").read()[-3000:]
        fail(f"the JVM exited with {rc} (log: {log_path}):\n{tail}", 5)


def oracle_check(out_dir, corpus_dir, log_path):
    """Hash-compare the curation outputs against DuckDB over
    SparkEntry.oracleSql with the repository's own comparison."""
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    mod.TABLES = ["events", "documents", "embeddings"]  # the corpus' tables
    names = set(json.load(open(os.path.join(out_dir, "oracle_sql.json"))))
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = mod.main(out_dir, corpus_dir, subset=names)
    with open(log_path, "a") as log:
        log.write(buf.getvalue())
    fails = [ln for ln in buf.getvalue().splitlines() if ln.startswith("FAIL")]
    return rc == 0 and not fails, fails, len(names)


def cpu_model():
    try:
        with open("/proc/cpuinfo") as fh:
            for ln in fh:
                if ln.startswith("model name"):
                    return ln.split(":", 1)[1].strip()
    except OSError:
        pass
    return platform.processor() or "unknown"


def main():
    t_start = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corpus",
                    help="directory of events/documents/embeddings parquet "
                         "(default: the workload's copy under perfbench/corpus)")
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("the engine sources (src/main/scala) are missing next to perfbench/", 2)
    spec = json.load(open(spec_path))
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    digest = source_hash()
    build(digest, os.path.join(WORK, "logs"))
    corpus_dir = os.path.abspath(args.corpus or CORPUS[args.workload])
    for t in ("events", "documents", "embeddings"):
        if not os.path.isfile(os.path.join(corpus_dir, f"{t}.parquet")):
            fail(f"the corpus {corpus_dir} has no {t}.parquet", 2)

    tag = f"{args.workload}-{args.seed}-t{args.trace}"
    out_path = os.path.join(WORK, f"result-{tag}.json")
    log_path = os.path.join(WORK, "logs", f"{tag}.log")
    if os.path.exists(out_path):
        os.remove(out_path)
    budget = RUN_LIMIT_S - (time.monotonic() - t_start)
    if budget < 30:  # the first run also builds; give the JVM its own budget
        budget = RUN_LIMIT_S
    run_jvm(args, corpus_dir, out_path, log_path, budget)
    res = json.load(open(out_path))

    attempted, failed = int(res["attempted"]), int(res["failed"])
    problems = list(res["problems"])
    if args.workload == "curation":
        ok, fails, n = oracle_check(os.path.join(WORK, "curation_outputs"),
                                    corpus_dir, log_path)
        attempted += n
        if not ok:
            failed += max(1, len(fails))
            problems += fails or ["oracle check failed"]

    values = res["per_layer"] if args.trace else res["e2e"]
    metrics = {}
    for m in wanted:
        v = values.get(m["name"])
        if v is None or not math.isfinite(v):
            problems.append(f"metric {m['name']} was not measured")
            failed += 1
            continue
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    if not args.trace:
        for m in wanted:
            if m["name"] in metrics and metrics[m["name"]]["value"] <= 0:
                problems.append(f"metric {m['name']} is not positive")
                failed += 1

    record = dict(res["record"], workload=args.workload, trace=args.trace,
                  corpus=os.path.relpath(corpus_dir, ROOT), cpu=cpu_model(), nproc=os.cpu_count(),
                  source_hash=digest, python=platform.python_version())
    with open(os.path.join(WORK, f"record-{tag}.json"), "w") as fh:
        json.dump({"record": record, "result": res}, fh)
    print("run record: " + json.dumps(record, sort_keys=True))
    print("diagnostics: " + json.dumps(res["diagnostics"], sort_keys=True))
    print(f"error_rate: {failed / max(1, attempted):.6f} ({failed} of {attempted})")
    for p in problems:
        print(f"problem: {p}")
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": max(1, attempted),
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
