"""Window-function operators (absent from the reference, SURVEY.md §2.4).

All are thin, shape-documenting wrappers over ``Window`` specs: one shuffle
on the partition key, in-partition sort, streaming frame evaluation — the
scalable plan Catalyst generates for every one of these.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def top_n_per_group(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    n: int,
) -> DataFrame:
    """Top-n rows per group via row_number — Spark pushes a per-partition
    rank limit (WindowGroupLimit) so only n rows per key survive the sort."""
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n)
        .drop("__rn")
    )


def running_agg(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    agg_col: str,
    op: str = "sum",
    output: str | None = None,
) -> DataFrame:
    """Running aggregate over an unbounded-preceding frame."""
    fns = {"sum": F.sum, "min": F.min, "max": F.max, "avg": F.avg,
           "count": F.count, "mean": F.avg}
    w = (
        Window.partitionBy(*partition_by)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(output or f"running_{op}", fns[op](agg_col).over(w))


def lag_lead(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    col: str,
    offset: int = 1,
) -> DataFrame:
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return df.withColumn(f"{col}_lag", F.lag(col, offset).over(w)).withColumn(
        f"{col}_lead", F.lead(col, offset).over(w)
    )
