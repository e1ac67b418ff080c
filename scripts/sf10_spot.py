#!/usr/bin/env python
"""sf10 (100×) spot-check: one timed pass of the named queries against a
tiled 100× corpus (`scripts/gen_sf.py 100 ... .localdata/sf10`).

This is SCALING evidence, not a bench: wall is a single sample (no
min-of-5) and the result is drained cluster-side rather than with a
driver ``collect()`` — at 100× some candidate-pair outputs are
themselves 100M+ rows (a data property of the tiled fixture, see
SCALING.md) and materializing them on the driver would measure Arrow
transfer, not the engine.  The drain is ``xxhash64`` over every output
column folded into one aggregate — NOT a bare ``count()``, which lets
Catalyst prune unreferenced projection columns and under-measure
queries whose cost lives in per-row projected expressions (round-11
ADVICE).  Queries whose output schema ``xxhash64`` cannot hash (map
columns) fall back to ``count()`` and are marked ``"drain":
"count(pruned)"`` in the output so the caveat travels with the number.
Row counts are still recorded so output volume growth is visible next
to wall growth.

Usage: python scripts/sf10_spot.py [SF_DIR] [query ...]
Defaults: .localdata/sf10 and a representative heavy set.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT = [
    # heaviest sf1 bench rows + one per scale-risk family
    "q01_pricing_summary",        # core agg baseline
    "q31_asof_join",              # union+window carry-forward
    "q43_minhash_lsh",            # banded self-join
    "q44_simhash",                # quadratic-output fixture artifact
    "q48_text_profile",           # narrow text map
    "q63_repetition_profile",
    "q102_fuzzy_match",           # blocked comparison
    "q114_bm25_topk",
    "q158_triangle_count",        # degree-oriented wedge join
    "q167_semdedup",
    "q185_item_similarity",
    "q215_loo_target_encoding",
]


def main() -> None:
    args = sys.argv[1:]
    sf_dir = args[0] if args else ".localdata/sf10"
    names = args[1:] or DEFAULT
    if not os.path.isdir(sf_dir):
        sys.exit(f"not a directory: {sf_dir!r}")

    import __spark_entry__ as entrymod
    from bench import session
    from parquery_spark.diagnostics import record

    spark = session("sf10_spot", sf_dir)
    qs = entrymod.queries()

    from pyspark.sql import functions as F

    def drain(df):
        """Cluster-side drain that REFERENCES every output column, so
        per-row projection cost is measured, not pruned (round-11
        ADVICE: a bare count() lets Catalyst drop unreferenced
        expressions).  Returns (row_count, drain_mode)."""
        try:
            # bit_xor, NOT sum: xxhash64 values span the full signed-64
            # range, so a running sum overflows under ANSI mode (learned
            # live: the overflow aborts the job AFTER a full execution,
            # then the count() fallback re-executes — double-measuring
            # the query); xor is closed over int64
            row = df.select(
                F.xxhash64(*[F.col(c) for c in df.columns]).alias("__h")
            ).agg(
                F.count("__h").alias("n"), F.bit_xor("__h").alias("x")
            ).collect()[0]
            return row["n"], "xxhash64"
        except Exception:  # unhashable schema (map cols) — prunes!
            return df.count(), "count(pruned)"

    out = {}
    for name in names:
        if name not in qs:
            sys.exit(f"unknown query: {name}")
        try:
            rec = record(spark, name, lambda: qs[name](spark, sf_dir), drain)
        except Exception as exc:  # record, keep measuring the rest
            out[name] = {"error": f"{type(exc).__name__}: {exc}"[:160]}
            print(f"# {name}: ERROR {exc}", file=sys.stderr)
            continue
        n, mode = rec["result"]
        wall = round(rec["construct_s"] + rec["execute_s"], 3)
        out[name] = {"sec": wall, "rows": n}
        if mode != "xxhash64":
            out[name]["drain"] = mode
        print(f"# {name}: {wall}s ({n} rows, drain={mode})", file=sys.stderr)
    print(json.dumps({"sf_dir": sf_dir, "spot": out}, sort_keys=True))


if __name__ == "__main__":
    main()
