#!/usr/bin/env python3
"""Certifies the committed batch outputs against DuckDB.

    python3 perfbench/certify.py

Runs graft.Verify over the benchmark's input tables for every query
named in perfbench/expected/*.tsv, then tools/oracle_check.py, which
re-runs each query's declared DuckDB oracle on the same tables and
compares the results cell by cell. Queries without an oracle are
checked for a non-empty output only. Exits non-zero on any mismatch.

Run it after re-recording the expected files (run.py --record).
"""
import glob
import os
import subprocess
import sys

import run

OUT = os.path.join(run.TARGET, "certify")


def main():
    names = []
    for f in sorted(glob.glob(os.path.join(run.HERE, "expected", "*.tsv"))):
        with open(f) as fh:
            names += [ln.split("\t")[0] for ln in fh
                      if ln.strip() and not ln.startswith("#")]
    cp = run.classpath()
    data = run.data_dir()
    tmp = os.path.join(run.TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = run.java_cmd(tmp) + ["-cp", cp, "graft.Verify", data, OUT, ",".join(names)]
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    subprocess.run(cmd, cwd=run.TARGET, env=env, check=True, stdout=sys.stderr)
    rc = subprocess.run([sys.executable,
                         os.path.join(run.ROOT, "tools", "oracle_check.py"),
                         data, OUT]).returncode
    sys.exit(rc)


if __name__ == "__main__":
    main()
