"""Shared operator plumbing."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: below this optimizer-estimated input size, fanning out costs more than
#: the single task it replaces (exchange + N-way scheduling + Python
#: worker spin-up for Pandas-UDF consumers)
_MIN_FAN_OUT_BYTES = 128 << 10

_BYTE_SUFFIX = {"k": 10, "m": 20, "g": 30, "t": 40}


def _parse_bytes(v: str) -> int:
    """Spark byte-size conf string ("134217728", "134217728b", "128m",
    "1g") to bytes."""
    s = str(v).strip().lower().removesuffix("b")
    if s and s[-1] in _BYTE_SUFFIX:
        return int(s[:-1]) << _BYTE_SUFFIX[s[-1]]
    return int(s)


def fan_out(df: DataFrame, *key_cols: str | Column) -> DataFrame:
    """Ensure expensive NARROW per-row compute downstream runs on all
    cores: if the scan produced fewer splits than the session's default
    parallelism (the small-file / single-file corpus case — one task would
    do all the work), hash-repartition on ``key_cols`` first.

    No-op when the source is already well-split, so at cluster scale —
    where a 100 TB corpus arrives as tens of thousands of splits — this
    adds NO shuffle; it only repairs the degenerate local layout.  When it
    does fire, partitioning by the record key doubles as co-location: a
    downstream ``groupBy(key)``/join on the key needs no further exchange.

    Without ``key_cols`` the spread is round-robin — the best balance when
    no downstream operation keys on a column (e.g. a pure mapInPandas
    feature extraction).

    Inputs whose optimizer-estimated size is under ``_MIN_FAN_OUT_BYTES``
    are left alone: for a few hundred rows the repartition exchange and
    32-way task scheduling (and, for Pandas-UDF consumers, a 32-process
    Python worker spin-up) cost more than the single task they replace.
    """
    sc = df.sparkSession.sparkContext
    size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    if size < _MIN_FAN_OUT_BYTES:
        return df
    # Estimated split count from the optimizer's size and the session's
    # split size (round 12): the former ``df.rdd.getNumPartitions()`` probe
    # forced a full physical-planning + file-split-enumeration pass on the
    # DRIVER per call (~80 ms, paid by every fan_out caller on every query
    # invocation).  For the scan-rooted inputs every caller passes, bytes /
    # maxPartitionBytes is the same decision boundary Spark's own split
    # packing uses — under-split small corpora estimate below parallelism
    # and get spread; a well-split cluster-scale input estimates far above
    # it and the function stays a no-op, without the planning pass.
    max_split = _parse_bytes(
        df.sparkSession.conf.get(
            "spark.sql.files.maxPartitionBytes", "134217728"
        )
    )
    est_splits = max(1, size // max(1, max_split))
    if est_splits < sc.defaultParallelism:
        # the partition count MUST be explicit: AQE coalesces a bare
        # repartition(col) back to one partition when the bytes are small,
        # but bytes are the wrong yardstick here — the downstream compute
        # is expensive PER BYTE (shingling/hashing), which AQE cannot see
        if key_cols:
            cols = [F.col(c) if isinstance(c, str) else c for c in key_cols]
            return df.repartition(sc.defaultParallelism, *cols)
        return df.repartition(sc.defaultParallelism)
    return df

