"""Table-maintenance operators: small-file compaction.

The small-files problem is a first-class failure mode at 100 TB: a
partitioned layout written by many tasks accumulates files far below the
HDFS/S3-efficient size, and every downstream scan pays per-file open +
footer-parse + scheduler overhead.  Compaction rewrites a directory to
~target-sized files without changing its contents.

Reference parity note: the reference engine (parquery) writes single
files per call (reference/parquery/write.py) and has no maintenance
surface; this is scale-path extension, validated by checksum equality in
the oracled query q120.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import SparkSession


def dir_parquet_stats(path: str) -> tuple[int, int]:
    """(n_files, total_bytes) of the parquet data files under ``path``."""
    n = total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                total += os.path.getsize(os.path.join(root, f))
    return n, total


def compact_files(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    target_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Rewrite ``src_dir``'s parquet files into ~``target_bytes`` files.

    Uses ``coalesce`` — a NARROW repartitioning that concatenates input
    splits into fewer tasks without a shuffle, which is the right call for
    compaction: the data is already in its final form, only the file
    boundaries change.  (``repartition`` would shuffle every byte; at
    compaction scale that doubles the I/O bill.)  Caveat: coalesce gives
    up intra-job parallelism below the target file count and can carry
    input skew into output file sizes; a 100 TB deployment runs one
    compaction job PER partition directory so each job stays small and
    partition pruning is preserved.

    Returns {files_before, files_after, bytes} (from the source listing —
    the decision inputs, so callers can log the plan deterministically).
    """
    n_before, total = dir_parquet_stats(src_dir)
    n_out = max(1, math.ceil(total / target_bytes))
    df = spark.read.parquet(src_dir)
    df.coalesce(n_out).write.mode("overwrite").parquet(dst_dir)
    n_after, _ = dir_parquet_stats(dst_dir)
    return {
        "files_before": n_before,
        "files_after": n_after,
        "bytes": total,
    }


def zorder_key(a, b, bits: int = 16):
    """Morton (Z-order) interleave of the low ``bits`` bits of two integer
    columns — the multi-dimensional clustering key behind OPTIMIZE
    ZORDER: sorting by it gives every file/row-group a bounded min-max
    range on BOTH dimensions, so 2-D selective scans prune on either
    predicate (a single-column sort clusters one dimension and leaves the
    other spanning the full range in every file).

    Pure Column bit arithmetic (shifts/masks), whole-stage codegen, no
    Python.  Columns are masked to ``bits`` bits first; for skewed or
    non-integer keys, rank-transform upstream.
    """
    from pyspark.sql import Column, functions as F

    def col_of(x):
        return F.col(x) if isinstance(x, str) else x

    ca, cb = col_of(a).cast("long"), col_of(b).cast("long")
    mask = (1 << bits) - 1
    ca, cb = ca.bitwiseAND(F.lit(mask)), cb.bitwiseAND(F.lit(mask))
    z = F.lit(0).cast("long")
    for i in range(bits):
        abit = F.shiftright(ca, i).bitwiseAND(F.lit(1))
        bbit = F.shiftright(cb, i).bitwiseAND(F.lit(1))
        z = z.bitwiseOR(F.shiftleft(abit, 2 * i + 1)).bitwiseOR(
            F.shiftleft(bbit, 2 * i)
        )
    return z


def write_zordered(
    df,
    dst_dir: str,
    cols: tuple,
    n_files: int = 8,
    bits: int = 8,
):
    """Write ``df`` range-partitioned and sorted by the Z-order key of
    ``cols`` — every output file covers a compact Z-range, i.e. a bounded
    rectangle (union of a few rectangles) in (colA, colB) space, so
    parquet footer min/max stats prune files for predicates on EITHER
    column.  At 100 TB this runs per partition directory, exactly like
    compaction.

    Both columns are SCALED to the full ``bits``-bit domain first (one
    cheap min/max aggregate): interleaving raw values with unequal ranges
    degenerates — the wider column's high bits dominate every comparison
    and the narrow column ends up unclustered, which is exactly a
    single-column sort.  Scaling is integer arithmetic ((v-lo)*top DIV
    range), exact and engine-stable."""
    from pyspark.sql import functions as F

    a, b = cols
    lo_a, hi_a, lo_b, hi_b = df.agg(
        F.min(a), F.max(a), F.min(b), F.max(b)
    ).first()
    top = (1 << bits) - 1

    def scaled(c, lo, hi):
        rng = max(int(hi) - int(lo), 1)
        return ((F.col(c).cast("long") - int(lo)) * top / rng).cast("long")

    z = zorder_key(scaled(a, lo_a, hi_a), scaled(b, lo_b, hi_b), bits)
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(dst_dir)
    )


def merge_aggregate_delta(base_agg, delta_agg, keys: list[str],
                          measures: list[str], count_col: str = "n"):
    """Algebraic incremental view maintenance for SUM/COUNT aggregates.

    ``base_agg`` is a maintained grouped view (keys + ``count_col`` +
    summed ``measures``); ``delta_agg`` is the changelog reduced to the
    same grain with SIGNED contributions (+1/+v for inserts, -1/-v for
    retractions).  The merge is a full outer join on the keys with
    null-safe addition; groups whose maintained count reaches zero drop
    out (their sums are exactly retracted).  This is the standard
    delta-propagation rule for distributive aggregates: the view never
    re-reads the base fact table, so maintaining a 100 TB rollup costs
    O(|delta|) + one |groups|-sized join per batch.  MIN/MAX are NOT
    maintainable this way (retraction needs the full group) — callers
    wanting them recompute affected groups instead.
    """
    from pyspark.sql import functions as F

    b = base_agg.select(
        *keys,
        F.col(count_col).alias("__bn"),
        *[F.col(m).alias(f"__b_{m}") for m in measures],
    )
    d = delta_agg.select(
        *keys,
        F.col(count_col).alias("__dn"),
        *[F.col(m).alias(f"__d_{m}") for m in measures],
    )
    z = F.lit(0)
    merged = b.join(d, keys, "full_outer").select(
        *keys,
        (F.coalesce("__bn", z) + F.coalesce("__dn", z)).alias(count_col),
        *[
            (
                F.coalesce(f"__b_{m}", F.lit(0.0))
                + F.coalesce(f"__d_{m}", F.lit(0.0))
            ).alias(m)
            for m in measures
        ],
    )
    return merged.where(F.col(count_col) > 0)


