#!/usr/bin/env python3
"""Engine benchmark: build the library and the benchmark from source, run
one workload, print its result as the last line of stdout.

    python3 perfbench/run.py --workload bulk_update --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Run from the repository root. The library (src/main/scala) and the
benchmark (perfbench/src, perfbench/test) are compiled with the Scala
compiler that ships in Spark's jar directory ($SPARK_HOME/jars, or the
one next to spark-submit on PATH) into .bench_build/; a later run with
unchanged sources reuses that build. Each run works in its own directory
under .bench_run/, which is removed when the run ends, and leaves its
full record (and, when traced, its spans) under .bench_out/.
"""

import argparse
import fcntl
import glob
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
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
RUNS = os.path.join(ROOT, ".bench_run")
OUT = os.path.join(ROOT, ".bench_out")
WORKLOADS = ["bulk_update", "index_serve", "index_ingest", "corpus_curate"]

# Spark 4 on JDK 17 outside spark-submit needs these (the same list the
# root build passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
HEAP = "3g"
RUN_LIMIT_S = 175


def fail(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar"))) if home else []
    if not any("scala-compiler" in os.path.basename(j) for j in jars):
        fail(2, "no Spark jar directory with a Scala compiler found "
                "(set SPARK_HOME)")
    return jars


def scala_sources():
    lib = sorted(glob.glob(os.path.join(LIB_SRC, "**", "*.scala"), recursive=True))
    if not lib:
        fail(2, f"library sources not found under {os.path.relpath(LIB_SRC, ROOT)}; "
                "run from a full checkout of the repository")
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True) +
                   glob.glob(os.path.join(HERE, "test", "**", "*.scala"), recursive=True))
    return lib + bench


def digest(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    for j in jars:
        h.update(os.path.basename(j).encode())
    return h.hexdigest()


def build():
    jars = spark_jars()
    files = scala_sources()
    stamp = digest(files, jars)
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return compile_once(files, jars, stamp)


def compile_once(files, jars, stamp):
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "STAMP")
    cp = os.pathsep.join(jars)
    if os.path.exists(stamp_file) and open(stamp_file).read().strip() == stamp:
        return classes, cp, stamp
    fresh = classes + ".new"
    shutil.rmtree(fresh, ignore_errors=True)
    os.makedirs(fresh)
    t0 = time.time()
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr)
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", fresh, "-classpath", cp] + files)
    if r.returncode != 0:
        shutil.rmtree(fresh, ignore_errors=True)
        fail(3, "compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(fresh, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n")
    print(f"perfbench: compiled in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes, cp, stamp


def git_commit():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def java_cmd(classes, cp, run_dir, main_class, args):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
             f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false",
             f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}"] +
            opens + ["-cp", classes + os.pathsep + cp, main_class] + args)


def run_child(cmd, cwd, limit_s):
    """Run the JVM in its own process group; kill the group on timeout and
    wait until it has ended."""
    p = subprocess.Popen(cmd, cwd=cwd, start_new_session=True)
    try:
        return p.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {limit_s} s, stopping it", file=sys.stderr)
        return -1
    finally:
        if p.poll() is None:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="run the benchmark's own tests and exit")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    started = time.time()
    classes, cp, stamp = build()
    cores = len(os.sched_getaffinity(0))
    os.makedirs(RUNS, exist_ok=True)
    tag = "selftest" if a.selftest else f"{a.workload}-seed{a.seed}-trace{a.trace}"
    run_dir = os.path.join(RUNS, f"{tag}-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        if a.selftest:
            code = run_child(java_cmd(classes, cp, run_dir, "perfbench.SelfTest", []),
                             run_dir, RUN_LIMIT_S)
            sys.exit(0 if code == 0 else 1)
        os.makedirs(OUT, exist_ok=True)
        record = os.path.join(OUT, f"{tag}.json")
        if os.path.exists(record):
            os.remove(record)
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--dir", run_dir, "--record", record,
                "--cores", str(cores)]
        if a.trace:
            args += ["--spans", os.path.join(OUT, f"spans-{a.workload}-seed{a.seed}.jsonl")]
        limit = max(30, RUN_LIMIT_S - (time.time() - started))
        code = run_child(java_cmd(classes, cp, run_dir, "perfbench.Main", args),
                         run_dir, limit)
        if code != 0 or not os.path.exists(record):
            fail(4, f"run failed (exit {code})")
        with open(record) as fh:
            rec = json.load(fh)
        rec["provenance"]["git_commit"] = git_commit()
        rec["provenance"]["source_digest"] = stamp
        with open(record, "w") as fh:
            json.dump(rec, fh, indent=1)
        print(f"perfbench: record written to {os.path.relpath(record, ROOT)}")
        print(json.dumps(rec["result"]))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
