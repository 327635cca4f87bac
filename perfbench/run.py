#!/usr/bin/env python3
"""graft's benchmark: one command per workload.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

Builds graft and the harness from source with sbt (once per checkout;
rebuilt when a source file changes), writes the synthetic input tables
(once), runs the workload in one JVM at local[4] and prints the result
line last: the output-check verdict, attempted and failed operations,
and the end-to-end metrics (`--trace 0`) or the per-layer metrics
(`--trace 1`). See perfbench/README.md.

Everything it writes stays under perfbench/target/ in the checkout.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
WORKLOADS = ("relational", "corpus", "stream_events")
SCALE_FACTOR = "0.01"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def tree_hash(paths):
    h = hashlib.sha256()
    for base in paths:
        if os.path.isfile(base):
            files = [base]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(base)
                           for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """Compiles graft plus the harness; returns the runtime classpath."""
    sources = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(HERE, "src", "main"),
               os.path.join(HERE, "build.sbt"),
               os.path.join(HERE, "project", "build.properties")]
    stamp = tree_hash(sources)
    cp_file = os.path.join(TARGET, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            saved_stamp, cp = fh.read().split("\n")[:2]
        if saved_stamp == stamp:
            return cp
    log("building graft and the harness with sbt")
    os.makedirs(TARGET, exist_ok=True)
    out = os.path.join(TARGET, "export.txt")
    with open(out, "w") as fh:
        p = subprocess.Popen(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, stdout=fh, stderr=sys.stderr, start_new_session=True,
            # resolve only from the local dependency cache
            env=dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline")))
        try:
            rc = p.wait(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
    with open(out) as fh:
        lines = fh.read().splitlines()
    if rc != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit(f"sbt build failed with exit code {rc}")
    cp = [ln for ln in lines if ln.startswith(os.sep) and "scala-2.13" in ln][-1]
    with open(cp_file, "w") as fh:
        fh.write(f"{stamp}\n{cp}\n")
    return cp


def data_dir():
    """Writes the input tables once per generator version."""
    gen = os.path.join(HERE, "gendata.py")
    stamp = tree_hash([gen])[:16]
    d = os.path.join(TARGET, "data", f"sf{SCALE_FACTOR}-{stamp}")
    if not os.path.isdir(d):
        log(f"writing input tables at sf{SCALE_FACTOR}")
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run([sys.executable, gen, "--sf", SCALE_FACTOR, "--out", tmp],
                       check=True, stdout=sys.stderr)
        os.rename(tmp, d)
    return d


def java_cmd(tmp):
    """The JVM and the flags every graft JVM here runs with."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java,
           # the whole heap, paged in at start: a heap that grows as the
           # run goes faults its pages in during the measured loop
           "-Xmx3g", "-Xms3g", "-XX:+AlwaysPreTouch",
           # C1 only: C2 keeps compiling Spark's driver code for minutes,
           # so latencies drift through the measured loop at a pace set by
           # the host's load; C1 is done within set-up (README: JIT mode)
           "-XX:TieredStopAtLevel=1",
           # C1 alone reserves 48 MB for compiled code, which a batch run
           # nearly fills; sweeping cold code out of it brought recompile
           # bursts that slowed a few passes mid-run
           "-XX:ReservedCodeCacheSize=256m", "-XX:-UseCodeCacheFlushing",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd


def main():
    ap = argparse.ArgumentParser(description="graft's benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--record", help="write the batch outputs' expected "
                    "row counts and digests to this file instead of checking")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("graft's sources (src/main/scala/graft) are not "
                         "beside perfbench/; run from a full checkout")

    cp = classpath()
    data = data_dir()
    out = os.path.join(TARGET, "out")
    tmp = os.path.join(TARGET, "tmp")
    for d in (out, tmp):
        os.makedirs(d, exist_ok=True)
    cmd = java_cmd(tmp) + ["-cp", cp, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--data", data, "--out", out,
            "--expected", os.path.join(HERE, "expected", f"{a.workload}.tsv")]
    if a.record:
        cmd += ["--record", os.path.abspath(a.record)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(tmp, "spark"))

    p = subprocess.Popen(cmd, cwd=TARGET, stdout=subprocess.PIPE,
                         stderr=sys.stderr, env=env, start_new_session=True,
                         text=True)
    try:
        stdout, _ = p.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise SystemExit(f"benchmark JVM did not finish in {JVM_TIMEOUT_S} s")
    lines = [ln for ln in stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines:
        raise SystemExit(f"benchmark JVM exited with code {p.returncode}")
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    print(json.dumps(result))


if __name__ == "__main__":
    main()
