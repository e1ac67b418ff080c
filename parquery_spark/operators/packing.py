"""Training-shard packing: assign documents to fixed-token-budget shards in
a deterministic global order — the step that turns a cleaned corpus into
the fixed-size shard files a training run streams.

``shard_id = floor(tokens_before / shard_size)`` over the global order:
documents are never split, shards overflow by at most one document, and the
assignment is a pure function of (order, sizes) — re-runs give identical
shards.

The global running sum is computed as a **distributed prefix sum**, not a
single-partition window (Spark executes an un-partitioned ``SUM OVER
(ORDER BY)`` in ONE task — correct and fine in an oracle, fatal at corpus
scale):

1. derive range-bucket boundaries once (an ``approx_percentile`` pass for
   numeric keys, a hash-uniform sample otherwise) and FREEZE them as plan
   literals — every recompute re-derives identical buckets, which is why
   this needs no persisted intermediate (the previous
   ``spark_partition_id()`` form cached its bucketing because a recompute
   could re-sample different ranges);
2. one driver round-trip collects the per-bucket totals (one row per
   bucket, a few KB regardless of corpus size) and prefix-sums them into
   a literal offset array;
3. the returned plan is then a SINGLE shuffle: a window partitioned by
   the literal-derived bucket id, plus each row's bucket offset read out
   of the literal array — no second exchange, no broadcast join, no
   cache.

Any boundary set is CORRECT (offsets come from the actual per-bucket
totals); boundary quality only affects balance.  The reference has no
ordering/packing operators (SURVEY.md §2.4).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def prefix_sum(
    df: DataFrame,
    value_col: Column | str,
    order_col: str,
    out_col: str = "prefix_sum",
    num_partitions: int | None = None,
    inclusive: bool = True,
) -> DataFrame:
    """``df`` plus a global running sum of ``value_col`` in ``order_col``
    order — the distributed prefix sum (literal range buckets → parallel
    per-bucket windows → per-bucket offsets from one scalar collect),
    NEVER Spark's single-task un-partitioned ``SUM OVER (ORDER BY)``.

    ``inclusive=False`` gives the exclusive prefix (sum of strictly
    preceding rows) — what shard packing needs.  ``order_col`` should be
    a total order (unique keys): rows tied on the key get an arbitrary
    relative order within their tie group.

    ``df`` must be DETERMINISTIC across recomputes: the per-bucket
    offsets are collected from one execution while the returned plan
    recomputes ``df`` at action time, so a nondeterministic upstream
    (``sample``/``limit`` without a sort, a mutating source) silently
    desyncs offsets from the recomputed rows.  The frozen boundaries
    only make the BUCKETING deterministic, not the data — stage
    volatile inputs as a parquet artifact first (the registry's
    stat-keyed artifacts exist precisely for this)."""
    sz = F.col(value_col) if isinstance(value_col, str) else value_col
    src = df.withColumn("__sz", sz.cast("long"))
    spark = df.sparkSession
    nparts = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "200")
    )
    bnds = _range_boundaries(src, order_col, nparts)
    if bnds:
        # bucket id = #boundaries strictly below the key; boundaries are
        # frozen literals, so recomputes re-derive identical buckets
        pid = F.coalesce(
            F.size(F.filter(F.lit(bnds), lambda b: b < F.col(order_col))),
            F.lit(0),  # NULL keys sort first → bucket 0
        )
    else:
        pid = F.lit(0)
    bucketed = src.withColumn("__pid", pid)

    # one row per bucket — a scalar collect, not a data collect
    totals = {
        r["__pid"]: r["t"]
        for r in bucketed.groupBy("__pid")
        .agg(F.sum("__sz").alias("t"))
        .collect()
    }
    offsets, acc = [], 0
    for p in range(len(bnds) + 1):
        offsets.append(acc)
        # `or 0` also covers a present-but-NULL total (sum over an
        # all-NULL value_col bucket returns None, not a missing key)
        acc += totals.get(p) or 0

    w = (
        Window.partitionBy("__pid")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prefix = F.sum("__sz").over(w) + F.element_at(
        F.lit(offsets), F.col("__pid") + 1
    )
    if not inclusive:
        prefix = prefix - F.col("__sz")
    return bucketed.withColumn(out_col, prefix).drop("__pid", "__sz")


_NUMERIC_DTYPES = {"tinyint", "smallint", "int", "bigint", "float", "double"}


def _range_boundaries(src: DataFrame, order_col: str, nparts: int) -> list:
    """Up to ``nparts - 1`` sorted split keys for ``order_col``.

    Numeric keys: one ``approx_percentile`` aggregation — balanced and
    column-pruned.  Other orderable types (strings): a hash-uniform
    sample (selection is uniform over the VALUE space because the hash
    ignores data order), evenly strided.  Either way the caller freezes
    the result into literals, so determinism across recomputes is by
    construction, and an unlucky sample costs balance, never
    correctness."""
    if nparts <= 1:
        return []
    dtype = dict(src.dtypes).get(order_col)
    if dtype in _NUMERIC_DTYPES:
        probs = [i / nparts for i in range(1, nparts)]
        row = src.agg(
            F.percentile_approx(
                order_col, F.lit(probs), F.lit(10000)
            ).alias("b")
        ).first()
        keys = row["b"] or []
        return sorted({k for k in keys if k is not None})
    cap = nparts * 128
    keys = sorted({
        r[0]
        for r in src.select(order_col)
        .where(F.col(order_col).isNotNull())
        .where(
            F.pmod(F.xxhash64(F.col(order_col).cast("string")), F.lit(17))
            == 0
        )
        .limit(cap)
        .collect()
    })
    if len(keys) <= 1:
        # tiny or low-cardinality input: the value-hash filter kept < 2
        # distinct keys — resample unfiltered (still capped) before
        # giving up, or a ~30-distinct-key relation would degenerate to
        # a single-partition window
        keys = sorted({
            r[0]
            for r in src.select(order_col)
            .where(F.col(order_col).isNotNull())
            .limit(cap)
            .collect()
        })
    if not keys:
        return []  # empty/all-null input: single trivial bucket
    if len(keys) == 1:
        # one distinct key: emit it as the lone boundary anyway — every
        # row lands in bucket 0, but the bucket expression stays a real
        # column function (a constant-folded literal would erase the
        # window's partition spec and plan a global window)
        return keys
    step = len(keys) / nparts
    return sorted({keys[int(i * step)] for i in range(1, nparts)})


def pack_shards(
    df: DataFrame,
    size_col: Column | str,
    shard_size: int,
    order_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Return ``df``'s columns plus ``shard_id``.

    ``size_col`` is the per-row cost (token count — a Column expression is
    allowed, e.g. ``token_count("text")``); ``order_col`` is the total
    order (must be unique — doc id, sort key); ``shard_size`` is the
    budget per shard in the same unit as ``size_col``.
    """
    out = prefix_sum(
        df, size_col, order_col, "__before",
        num_partitions=num_partitions, inclusive=False,
    )
    return (
        # integer DIV, not double `/`: exact for any long prefix (a double
        # quotient would lose ulps past 2^53 total tokens)
        out.withColumn("shard_id", F.expr(f"__before DIV {int(shard_size)}"))
        .drop("__before")
    )


def sliding_chunks(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    size: int = 64,
    stride: int = 32,
) -> DataFrame:
    """Retrieval-side packing: split each document's token array into
    overlapping sliding windows (``size`` tokens every ``stride``) — the
    standard RAG chunking shape.  One row per (doc, chunk) with the
    chunk's start offset, actual length, and text fingerprint.

    Pure Column plan: ``sequence(0, n-1, stride)`` generates the start
    offsets JVM-side and ``explode`` fans them out (factor ≈
    tokens/stride — linear in corpus tokens, no join); the per-chunk
    ``slice`` runs AFTER the explode, one slice per emitted chunk (never
    inside a ``transform`` lambda — the HOF-hoisting hazard).  Callers
    with single-file inputs must ``fan_out`` first, as with every
    row-multiplying explode."""
    n = F.size(tokens_col)
    starts = df.where(n > 0).select(
        id_col,
        F.col(tokens_col).alias("__w"),
        F.explode(
            F.sequence(F.lit(0), n - 1, F.lit(int(stride)))
        ).alias("start"),
    )
    chunk = F.slice("__w", F.col("start") + 1, size)
    return starts.select(
        id_col,
        (F.col("start") / stride).cast("long").alias("chunk_idx"),
        F.col("start").cast("long").alias("start_tok"),
        F.least(F.lit(size), F.size("__w") - F.col("start"))
        .cast("long")
        .alias("chunk_len"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_fp"),
    )
