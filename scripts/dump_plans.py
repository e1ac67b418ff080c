#!/usr/bin/env python
"""Dump ``explain("formatted")`` for named queries to files.

Usage: python scripts/dump_plans.py OUTDIR SUFFIX name [name ...]

Writes ``OUTDIR/<name>_<SUFFIX>.txt`` per query — the round's
``plans/r{N}/<q>_{before,after}.txt`` evidence artifacts.  Queries whose
builder fn returns a materialized local relation (driver-side two-pass
shapes) dump the local-relation plan; their pass-level evidence lives in
the code and the profile numbers.  Run from the tree whose plans you
want (a ``git worktree`` of the old commit for the *before* files).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    outdir, suffix, *names = sys.argv[1:]
    os.makedirs(outdir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from bench import session
    from parquery_spark.queries import QUERIES

    spark = session("dump_plans", sf_dir)
    jvm = spark.sparkContext._jvm
    for name in names:
        fn = QUERIES[name][0]
        df = fn(spark, sf_dir)
        text = jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(text)
        print(f"wrote {path} ({len(text)} bytes)")


if __name__ == "__main__":
    main()
