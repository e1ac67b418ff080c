"""Skew-mitigation operator: salted two-stage aggregation — for the
hot-key distributions AQE alone can't always save (a single key holding
30% of 100 TB overwhelms one reducer no matter how the remaining
partitions are split).

These complement, not replace, AQE (``spark.sql.adaptive.skewJoin`` is on
in the session defaults): salting is the explicit tool for *known* skew —
e.g. the null/default dimension value (the reference's ``-1`` "unknown"
sentinel is exactly such a hot key, SURVEY.md §1).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from parquery_spark.plans.aggregation import _SQL_AGGS, _qi

#: ops that decompose as op(op(partials)) — safe for two-stage salting
_RESALT_FINAL = {
    "sum": "sum",
    "min": "min",
    "max": "max",
    "count": "sum",
    "count_na": "sum",
}


def salted_groupby(
    df: DataFrame,
    groupby_cols: Sequence[str],
    measure_cols: Sequence[Sequence[str]],
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-stage salted aggregation: stage 1 aggregates on
    (dims + random salt) — splitting every hot key across ``salt_buckets``
    reducers — stage 2 re-aggregates the partials on the true dims.

    Only decomposable ops are accepted (sum/min/max/count/count_na; count
    re-aggregates as sum — the same restriction as the reference's
    SAFE_PREAGGREGATE set, reference: parquery/tool.py:37, and for the same
    reason: a mean of partial means is wrong).  Results are identical to a
    direct ``groupBy`` — only the shuffle distribution changes.
    """
    for _, op, _ in measure_cols:
        if op.lower() not in _RESALT_FINAL:
            raise NotImplementedError(
                f"salted_groupby supports decomposable ops {sorted(_RESALT_FINAL)}; "
                f"got {op!r} (non-decomposable ops don't re-aggregate correctly)"
            )
    salted = df.withColumn(
        "__salt", (F.rand(seed=42) * salt_buckets).cast("int")
    )
    partial = salted.groupBy(*groupby_cols, "__salt").agg(
        *[_agg(col, op, out) for col, op, out in measure_cols]
    )
    finals = [
        _agg(out, _RESALT_FINAL[op.lower()], out)
        for _, op, out in measure_cols
    ]
    return partial.groupBy(*groupby_cols).agg(*finals)


def _agg(col: str, op: str, output: str) -> Column:
    """One aliased aggregate expression from the shared aggregate-op table."""
    return F.expr(_SQL_AGGS[op.lower()].format(c=_qi(col))).alias(output)

