#!/usr/bin/env python3
"""Regenerate perfbench/expected_sf0.001.tsv, the catalog's stored hashes.

    python3 perfbench/make_expected.py

Run from the root of the checkout. Builds the benchmark, runs
`graft.bench.ExpectedGen` (graft.Verify's dump of the benchmark's
queries, plus their hashes), then checks the dump against the DuckDB
oracles with tools/verify_local.py. The stored file is replaced only if
that check exits 0.
"""
import os
import shutil
import subprocess
import sys
import tempfile

import run

DATA = os.path.join(run.BENCH, "data", "sf0.001")
DEST = os.path.join(run.BENCH, "expected_sf0.001.tsv")


def main():
    classpath = run.build(run.source_digest())
    scratch = os.path.join(run.ROOT, ".bench_build", "expected")
    os.makedirs(scratch, exist_ok=True)
    out = tempfile.mkdtemp(dir=scratch)
    try:
        subprocess.run(["java"] + run.java_opts(os.path.join(out, "tmp"))
                       + ["-cp", classpath, "graft.bench.ExpectedGen",
                          DATA, os.path.join(out, "dump")],
                       cwd=out, check=True)
        check = subprocess.run(
            [sys.executable, os.path.join(run.ROOT, "tools", "verify_local.py"),
             DATA, os.path.join(out, "dump")])
        if check.returncode != 0:
            print("oracle check failed; stored hashes left unchanged")
            return 1
        shutil.copyfile(os.path.join(out, "dump", "expected.tsv"), DEST)
        print(f"wrote {os.path.relpath(DEST, run.ROOT)}")
        return 0
    finally:
        shutil.rmtree(out, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
