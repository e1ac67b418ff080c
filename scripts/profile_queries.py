#!/usr/bin/env python
"""Per-query profiler: run each named query (default: the top-N slowest
from the committed bench_results.json) in isolation through
``parquery_spark.diagnostics.record`` and print the record of its
fastest run — ``construct_s`` (the call that builds the DataFrame:
py4j plan building, artifact stat checks, any jobs the builder runs),
``execute_s`` (the terminal ``collect()``), jobs (all, and during
construction), stages, tasks, shuffle-write and spill bytes.

Usage: python scripts/profile_queries.py [--top N] [--runs K] [name ...]
Writes nothing; prints one JSON record per query to stdout.  Run it
ALONE (timing).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = sys.argv[1:]
    top_n = 0
    runs = 3
    if "--top" in args:
        i = args.index("--top")
        top_n = int(args[i + 1])
        del args[i:i + 2]
    if "--runs" in args:
        i = args.index("--runs")
        runs = int(args[i + 1])
        del args[i:i + 2]
    names = list(args)

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if top_n:
        with open(os.path.join(here, "bench_results.json")) as fh:
            base = json.load(fh)["queries"]
        names += [
            n for n, _ in sorted(base.items(), key=lambda kv: -kv[1])[:top_n]
            if n not in names
        ]

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from bench import session
    from parquery_spark.diagnostics import record
    from parquery_spark.queries import QUERIES

    spark = session("profile_queries", sf_dir)
    print(f"# sf_dir={sf_dir} runs={runs} (the fastest run's record)")
    for name in names:
        fn = QUERIES[name][0]
        best = min(
            (record(spark, name, lambda: fn(spark, sf_dir))
             for _ in range(runs)),
            key=lambda r: r["construct_s"] + r["execute_s"],
        )
        print(json.dumps(best, sort_keys=True))


if __name__ == "__main__":
    main()
