"""Cluster-conf degeneration probe (VERDICT r9 #8): time a heavy
10-query slice under the session's local[32] tuning vs CLUSTER-DEFAULT
conf (shuffle.partitions=200, autoBroadcastJoinThreshold=10m — the
conservative Spark defaults a 1000-executor deployment starts from),
to show the plans don't degenerate when the local tuning is absent.

The conf is injected via the PARQUERY_SPARK_* env contract BEFORE the
session singleton exists, so run this as its own process per conf:

    python scripts/cluster_conf_slice.py                      # local tuning
    PARQUERY_SPARK_SHUFFLE_PARTITIONS=200 \
    PARQUERY_SPARK_CONF_spark__sql__autoBroadcastJoinThreshold=10m \
        python scripts/cluster_conf_slice.py                  # cluster defaults

Prints one JSON line {query: warm_min_of_3_sec}.  Plan-SHAPE diffs come
from `scripts/plan_audit.py` run under the same env (see SCALING.md
round-10 section).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

SLICE = [
    "q94_tpch_q3",            # 3-way fact join + agg + top-k
    "q101_bucketed_join",     # bucketed fact-fact join
    "q102_fuzzy_match",       # blocked string-similarity join
    "q43_minhash_lsh",        # banded LSH self-join
    "q82_indexed_dedup_probe",  # partition-pruned index probe
    "q158_triangle_count",    # degree-oriented wedge join
    "q185_item_similarity",   # capped co-purchase CF
    "q167_semdedup",          # k-means cells + intra-cell pairs
    "q211_pq_adc_ann",        # PQ codebook + ADC scan
    "q219_source_kl_divergence",  # histogram + 3 marginals
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    import __spark_entry__ as e
    from bench import session
    from parquery_spark.diagnostics import record

    spark = session("cluster_conf_slice", sf_dir)
    qs = e.queries()
    out: dict[str, float] = {}
    for name in SLICE:
        walls = []
        for _ in range(3):
            rec = record(spark, name, lambda: qs[name](spark, sf_dir))
            walls.append(rec["construct_s"] + rec["execute_s"])
        out[name] = round(min(walls), 3)
    print(json.dumps({
        "sf_dir": sf_dir,
        "shuffle_partitions":
            spark.conf.get("spark.sql.shuffle.partitions"),
        "auto_broadcast":
            spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
        "total_sec": round(sum(out.values()), 2),
        "queries": out,
    }))


if __name__ == "__main__":
    main()
