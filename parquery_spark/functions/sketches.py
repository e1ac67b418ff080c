"""Mergeable sketch aggregates: HyperLogLog distinct-count sketches and
quantile summaries that can be computed once per partition/day/shard and
re-merged later — the pattern that makes 100 TB rollups incremental
instead of recomputed.

Why sketches and not exacts: ``count_distinct`` over a 100 TB corpus
shuffles every distinct value; an HLL sketch is a few KB per group,
mergeable associatively, so daily sketches roll up to monthly/all-time
without touching raw data again.  (Spark's Expand-based exact
count_distinct stays available via ``aggregate_pq`` — these are the
incremental path.)

Built on Spark's Datasketches-backed ``hll_sketch_agg`` /
``hll_union_agg`` (SQL standard sketches since 3.5).  No SQL-engine
oracle: sketch binaries are implementation-defined — correctness is
asserted against exact counts with the algorithm's error bound instead
(see tests).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def hll_sketch(col: str, lg_k: int = 12) -> Column:
    """HLL sketch aggregate (binary, mergeable); relative error ≈
    1.04/sqrt(2^lg_k) ≈ 1.6% at the default lg_k=12."""
    return F.hll_sketch_agg(col, F.lit(lg_k))


def distinct_sketch_rollup(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    lg_k: int = 12,
) -> DataFrame:
    """Per-key HLL sketches + estimates.  The ``sketch`` column is the
    mergeable artifact to persist; ``estimate`` is its current reading."""
    out = df.groupBy(*keys).agg(hll_sketch(value_col, lg_k).alias("sketch"))
    return out.withColumn("estimate", F.hll_sketch_estimate("sketch"))


def merge_sketch_rollups(
    sketches: DataFrame,
    keys: Sequence[str],
    sketch_col: str = "sketch",
) -> DataFrame:
    """Re-aggregate persisted sketches to a coarser key set (e.g. daily →
    monthly) WITHOUT rescanning raw data — the whole point of sketches."""
    out = sketches.groupBy(*keys).agg(
        F.hll_union_agg(sketch_col).alias("sketch")
    )
    return out.withColumn("estimate", F.hll_sketch_estimate("sketch"))


# ---------------------------------------------------------------------------
# Distributed Bloom filter (bitmap aggregation over the md5 hash family)
# ---------------------------------------------------------------------------

#: Bloom geometry: m bits packed 32 per 64-bit word (m/32 words — shifts
#: stay < 32, so every engine's checked signed shift accepts them); k
#: independent positions per key from the seeded md5 family
#: (oracle-replicable bit for bit).
BLOOM_BITS_DEFAULT = 1 << 16
BLOOM_HASHES_DEFAULT = 3


def _bloom_positions(key, m: int, k: int):
    from parquery_spark.operators.dedup import hash64

    return [hash64(key, seed=i) % F.lit(m) for i in range(k)]


def bloom_build(
    df: DataFrame,
    key_col: str,
    m: int = BLOOM_BITS_DEFAULT,
    k: int = BLOOM_HASHES_DEFAULT,
) -> DataFrame:
    """Build a Bloom filter over ``key_col`` as a TABLE of (word_idx,
    word) — m/32 rows of packed words, built by ``bit_or``
    bitmap aggregation (partial-aggregated map-side like any sum; the
    shuffle carries ≤ m/64 rows per task regardless of corpus size).

    The result is a first-class mergeable relation: union two corpora's
    filters with ``bit_or`` over word_idx.  False-positive rate ≈
    (1 - e^(-k·n/m))^k; size the geometry to the corpus (m ≈ 10 bits/key
    for ~1% at k=3)."""
    key = F.col(key_col).cast("string")
    pos = F.explode(F.array(*_bloom_positions(key, m, k))).alias("p")
    bits = df.select(pos).select(
        # 32-bit packing (in 64-bit words): shifts stay < 32, which every
        # engine's checked signed shift accepts — the oracle replicates
        # the words exactly
        (F.col("p") / 32).cast("long").alias("word_idx"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT))").alias(
            "mask"
        ),
    )
    return bits.groupBy("word_idx").agg(
        F.expr("bit_or(mask)").alias("word")
    )


def bloom_probe(
    df: DataFrame,
    bloom: DataFrame,
    key_col: str,
    m: int = BLOOM_BITS_DEFAULT,
    k: int = BLOOM_HASHES_DEFAULT,
    flag_col: str = "bloom_hit",
) -> DataFrame:
    """Probe: ``flag_col`` is true iff ALL k bit positions for the row's
    key are set — probable member (false positives by design, never false
    negatives).  The filter table broadcasts (m/32 rows ≈ KBs), so the
    probe is a narrow map + broadcast join: the classic pre-filter that
    spares the exact (expensive) membership join for the ~1% that hit."""
    key = F.col(key_col).cast("string")
    # per-ROW identity, not the column-value tuple: duplicate input rows
    # must each come back with their own flag (grouping on the value tuple
    # would collapse n identical rows into one group whose hit-sum is n*k,
    # flagging a true member false — a false negative the Bloom contract
    # forbids — and silently dedup the output)
    tagged = df.withColumn("__row_id", F.monotonically_increasing_id())
    probes = tagged.withColumn(
        "__p", F.explode(F.array(*_bloom_positions(key, m, k)))
    ).withColumn("__widx", (F.col("__p") / 32).cast("long")).withColumn(
        "__mask",
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(__p % 32 AS INT))"),
    )
    joined = probes.join(
        F.broadcast(bloom), probes["__widx"] == bloom["word_idx"], "left"
    ).withColumn(
        "__hit",
        (F.coalesce(F.col("word"), F.lit(0)).bitwiseAND(F.col("__mask")) != 0)
        .cast("int"),
    )
    group_cols = [c for c in df.columns]
    return (
        joined.groupBy("__row_id", *[F.col(c) for c in group_cols])
        .agg((F.sum("__hit") == F.lit(k)).alias(flag_col))
        .drop("__row_id")
    )
