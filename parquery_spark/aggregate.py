"""Public query API: ``aggregate_pq`` — filter + group-by aggregation over a
Parquet file, with the reference's tolerant-schema semantics.

API parity target: ``parquery.aggregate.aggregate_pq``
(reference: parquery/aggregate.py:72-221).  Differences, all documented:

* ``engine`` accepts ``"spark"`` / ``"auto"`` (both mean Spark); the
  reference's ``"duckdb"`` / ``"pyarrow"`` values are accepted and ignored —
  there is one engine here.
* String filter values work (the reference's DuckDB engine generated invalid
  SQL for them, SURVEY.md §4).
* ``count_na`` counts nulls per the documented semantics (broken in both
  reference engines, SURVEY.md §2.3 A5).
* ``std`` is sample stddev (ddof=1) — the reference's two engines disagreed;
  we match its default (DuckDB) engine.

Scale note: ``aggregate_pq`` materializes to Arrow/pandas on the driver for
API parity — correct for the reference's aggregated-result sizes (dimension
cardinality, not input rows).  For 100 TB pipelines where even the *result*
is large, use :func:`aggregate_plan` and keep the DataFrame lazy (write it,
join it, feed it onward) — no driver materialization.
"""

from __future__ import annotations

import logging
import os
import shutil
import tempfile
import uuid
from contextlib import contextmanager
from typing import Any, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from parquery_spark import fs, relations, tool
from parquery_spark.plans.aggregation import build_aggregation_plan, is_small_input
from parquery_spark.session import get_small_query_session, get_spark

logger = logging.getLogger(__name__)


def aggregate_plan(
    file_name: str | Sequence[str],
    groupby_cols: Sequence[str],
    measure_cols: Sequence[Any],
    data_filter: Sequence[Sequence[Any]] | None = None,
    aggregate: bool = True,
    standard_missing_id: int = -1,
    handle_missing_file: bool = True,
    spark: SparkSession | None = None,
) -> DataFrame:
    """Lazy-DataFrame variant of :func:`aggregate_pq` — the scale path.

    The plan is a parquet scan with full predicate pushdown and column
    pruning whatever the input size; nothing is persisted.  It runs on
    ``spark`` (default: the shared session), never on the small-query
    session.
    """
    spark = spark or get_spark()
    return build_aggregation_plan(
        spark,
        file_name,
        groupby_cols,
        measure_cols,
        data_filter=data_filter,
        aggregate=aggregate,
        standard_missing_id=standard_missing_id,
        handle_missing_file=handle_missing_file,
    )


def aggregate_pq(
    file_name: str | Sequence[str],
    groupby_cols: Sequence[str],
    measure_cols: Sequence[Any],
    data_filter: Sequence[Sequence[Any]] | None = None,
    aggregate: bool = True,
    as_df: bool = False,
    standard_missing_id: int = -1,
    handle_missing_file: bool = True,
    debug: bool = False,
    engine: str = "auto",
    pin_snapshot: bool = False,
):
    """Aggregate a Parquet file: filter rows, group by dimensions, aggregate
    measures.  Returns ``pyarrow.Table`` (default) or pandas DataFrame.

    Args:
        file_name: path to one Parquet file (the reference's unit of
            distribution is one file per query; reference:
            parquery/aggregate.py:72-83) — or a LIST of paths, which the
            reference handled as one process per file + caller-side
            recombination and is here a single distributed query
            (mergeSchema reconciles footer drift between files).
            Extension surface beyond the reference: ``.csv`` (header +
            inferred types), ``.json``/``.jsonl`` (JSON lines), and
            ``.orc`` files run through the same query/tolerant-schema
            semantics (format by extension; one format per query).
        groupby_cols: dimension column names.
        measure_cols: ``['m']`` | ``[['m','op']]`` | ``[['m','op','out']]``;
            default op is ``sum``.  Ops: sum, mean/avg, std/stddev, count,
            count_na, count_distinct, sorted_count_distinct, min, max, one.
        data_filter: ``[[col, op, value(s)], ...]``, ANDed; ops:
            in, not in, nin, =, ==, !=, >, >=, <, <=.
        aggregate: False → filtered raw rows, no grouping.
        as_df: True → pandas DataFrame.
        standard_missing_id: fill for dimension columns absent from the file.
        handle_missing_file: False → raise OSError on missing file.
        debug: accepted for API parity.
        engine: accepted for API parity; always Spark.
        pin_snapshot: True → read a pinned snapshot of the input files
            (hardlink to the same inode, or byte copy where hardlinks are
            unsupported), so a concurrent atomic ``os.replace`` by a writer
            cannot splice two file versions into one result.  Spark-side
            analog of the reference's ``/dev/fd`` inode pinning (reference:
            parquery/aggregate_duckdb.py:169-213).  Off by default: the
            engine's standard contract is immutable published files
            (SCALING.md), where pinning only costs an extra link/unlink.

    A transient ``OSError`` (e.g. a stale NFS/EFS handle after a concurrent
    rename reclaimed the inode) fails the whole aggregation once, the cached
    relation for the path is invalidated, and the query is retried with a
    fresh snapshot/scan; a persistent failure propagates on the second
    attempt (reference: parquery/aggregate_duckdb.py:144-166).
    """
    if engine not in ("auto", "spark", "duckdb", "pyarrow"):
        raise ValueError(
            f"Unknown engine: {engine}. Must be 'auto', 'spark', 'duckdb', or 'pyarrow'"
        )

    def attempt():
        if pin_snapshot:
            with _pinned_snapshot(file_name) as snapshot:
                if _post_snapshot_hook is not None:  # test seam: concurrent
                    _post_snapshot_hook(file_name)   # writer lands mid-read
                return _execute(snapshot)
        return _execute(file_name)

    def _execute(paths):
        spark = get_spark()
        inputs = relations.resolve(paths)
        if is_small_input(inputs):
            # Execute under the dedicated small-query session (AQE off,
            # single reduce partition) instead of mutating the shared
            # session's conf — thread-safe by construction: a concurrent
            # large query on the parent session keeps AQE untouched.
            spark = get_small_query_session(spark)
        df = build_aggregation_plan(
            spark,
            inputs,
            groupby_cols,
            measure_cols,
            data_filter=data_filter,
            aggregate=aggregate,
            standard_missing_id=standard_missing_id,
            handle_missing_file=handle_missing_file,
        )
        if as_df:
            return df.toPandas()
        return _to_arrow(df)

    try:
        return attempt()
    except tool.MissingInputError:
        # hard failure (handle_missing_file=False and the path never
        # existed): retrying re-runs the same pre-flight to the same end —
        # re-raise immediately, matching the reference's retry scope (the
        # engine aggregation only, reference: aggregate_duckdb.py:144-166)
        raise
    except OSError as exc:
        logger.warning(
            "OSError aggregating %s (%s); invalidating cached relations and "
            "retrying once",
            file_name,
            exc,
            exc_info=True,
        )
        relations.invalidate(file_name)
        return attempt()


#: test seam: called between snapshot creation and query execution so tests
#: can land a concurrent ``os.replace`` at the worst possible moment
#: (mirrors the reference's call_duckdb wrap in
#: tests/test_duckdb_read_hardening.py:40-63)
_post_snapshot_hook = None


@contextmanager
def _pinned_snapshot(file_name):
    """Yield snapshot path(s) pinned to the inputs' current inodes.

    Hardlinks (same directory, zero copy) pin the inode exactly like the
    reference's ``/dev/fd`` trick: a concurrent ``os.replace`` of the
    source swaps the directory entry but the link keeps the old inode's
    bytes alive and visible for the whole read.  Where the filesystem
    refuses hardlinks (or the directory is read-only), the fallback is a
    byte copy into a temp dir — slower, same guarantee.  Missing files are
    passed through un-snapshotted so ``handle_missing_file`` semantics are
    unchanged.  Every attempt creates (and removes) fresh snapshots, and
    drops what the relation cache holds for them, so a snapshot read
    leaves nothing behind once its result is fetched.
    """
    paths = [file_name] if isinstance(file_name, str) else list(file_name)
    snaps: list[str] = []
    out: list[str] = []
    try:
        for p in paths:
            if not fs.is_local(p):
                # object stores have no inodes to pin (and no hardlinks);
                # their PUT-then-visible overwrite model doesn't exhibit
                # the reclaimed-inode race this guards against — pass the
                # URI through un-snapshotted
                out.append(p)
                continue
            lp = fs.local_part(p)
            if not os.path.exists(lp):
                out.append(p)
                continue
            snap = f"{lp}.snapshot-{os.getpid()}-{uuid.uuid4().hex[:8]}"
            try:
                os.link(lp, snap)
            except OSError:
                snap = os.path.join(
                    tempfile.gettempdir(),
                    f"{os.path.basename(lp)}.snapshot-{uuid.uuid4().hex[:8]}",
                )
                shutil.copy2(lp, snap)
            snaps.append(snap)
            out.append(snap)
        yield out[0] if isinstance(file_name, str) else out
    finally:
        if snaps:
            relations.invalidate(snaps)
        for s in snaps:
            try:
                os.unlink(s)
            except OSError:  # pragma: no cover - already gone
                pass


#: aggregate_pq op name → pyarrow group_by aggregation name, for
#: finalize_group_by (reference accepts pyarrow names directly; we also map
#: this package's op vocabulary so the two APIs compose).
_ARROW_AGG_OPS = {
    "mean": "mean", "avg": "mean", "std": "stddev", "stddev": "stddev",
    "sum": "sum", "count": "count", "count_distinct": "count_distinct",
    "min": "min", "max": "max", "one": "min",
}


def finalize_group_by(
    result: list[pa.Table],
    groupby_cols: list[str],
    agg: dict[str, str],
    aggregate: bool,
    use_threads: bool = True,
) -> pa.Table:
    """Combine partial Arrow result tables and apply a final group-by.

    API parity: reference parquery/aggregate_pyarrow.py:229-308.  The
    reference uses this to merge per-row-group partials inside its PyArrow
    engine; here the distributed merge is Spark's job, so this surfaces as
    a driver-side utility for callers who combine *multiple*
    ``aggregate_pq`` outputs (e.g. per-shard results fetched over the
    reference's Arrow-IPC transport).  Only ``SAFE_PREAGGREGATE``-style ops
    re-aggregate losslessly (sum/min/max/one/count-as-sum); that contract
    is the caller's, exactly as in the reference.
    """
    if len(result) == 1:
        table = result[0]
    else:
        table = pa.concat_tables(result)

    if aggregate and agg:
        if len(agg) >= 20:  # reference: threading off for wide aggs
            use_threads = False
        specs = [(col, _ARROW_AGG_OPS.get(op, op)) for col, op in agg.items()]
        grouped = table.group_by(groupby_cols, use_threads=use_threads).aggregate(
            specs
        )
        rename = {f"{col}_{op}": col for col, op in specs}
        grouped = grouped.rename_columns(
            [rename.get(c, c) for c in grouped.column_names]
        )
        # reference column order: dimensions first, measures after
        table = grouped.select(
            [*groupby_cols, *[c for c in grouped.column_names if c not in groupby_cols]]
        )
    return table


def _to_arrow(df: DataFrame) -> pa.Table:
    """Materialize a Spark DataFrame as a pyarrow Table (Arrow-native path)."""
    return df.toArrow()
