"""Spark logical-plan builder for the parquery aggregation contract.

The reference dispatches a normalized query spec to one of two single-node
engines (reference: parquery/aggregate.py:185-206).  Here the "engine" is a
declarative Spark DataFrame plan: Catalyst provides predicate pushdown,
column pruning, and two-phase hash aggregation (partial per input split +
final after shuffle) for free — including for non-decomposable ops like
``mean``/``stddev``, which the reference's PyArrow engine had to special-case
via SAFE_PREAGGREGATE gating (reference: parquery/tool.py:37,
parquery/aggregate_pyarrow.py:135-138).

Scale notes (design target: 1000 executors, 100 TB):

* All pre-flight tolerant-schema checks (missing file / missing columns /
  missing filter columns) read only the Parquet footer on the driver — no
  Spark job, no scan (reference does the same: parquery/tool.py:123-142).
* The returned plan is **lazy**; nothing is collected here.  Callers choose
  the materialization boundary (``toArrow``/``toPandas``/``write``).
* The group-by shuffles only the requested dimensions; low-cardinality
  dimension shuffles are coalesced at runtime by AQE.
* ``count_distinct`` plans as Spark's Expand + partial aggregation — the
  scalable distributed strategy; no driver-side distinct set.
"""

from __future__ import annotations

from typing import Any, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from parquery_spark import relations, tool

# op name → Spark SQL aggregate template; the one aggregate-op table (the
# SQL fast path below and ``operators.skew.salted_groupby`` both build from it).
# Semantics pinned in SURVEY.md §2.3 (divergences documented there):
#  * std/stddev  → sample stddev (ddof=1), matching the reference's DuckDB
#    engine (reference: parquery/aggregate_duckdb.py:308-309); its PyArrow
#    engine used population stddev — the engines disagreed.
#  * count_na    → count of nulls per the reference README.md:61; the
#    reference implementation was broken in both engines (mapped to plain
#    COUNT / raised ArrowKeyError).
#  * one         → deterministic MIN, matching the reference's DuckDB engine
#    (reference: parquery/aggregate_duckdb.py:316); F.first would be
#    nondeterministic under parallel execution.
#  * median / approx_count_distinct are beyond-reference extensions (absent
#    from the reference's 10-op whitelist).
_SQL_AGGS = {
    "sum": "SUM({c})",
    "mean": "AVG({c})",
    "avg": "AVG({c})",
    "std": "STDDEV_SAMP({c})",
    "stddev": "STDDEV_SAMP({c})",
    "count": "COUNT({c})",
    "count_na": "COUNT(CASE WHEN {c} IS NULL THEN 1 END)",
    "count_distinct": "COUNT(DISTINCT {c})",
    "sorted_count_distinct": "COUNT(DISTINCT {c})",
    "min": "MIN({c})",
    "max": "MAX({c})",
    "one": "MIN({c})",
    "median": "MEDIAN({c})",
    "approx_count_distinct": "APPROX_COUNT_DISTINCT({c})",
}

_SQL_FILTER_OPS = {
    "=": "=", "==": "=", "!=": "!=", ">": ">", ">=": ">=", "<": "<", "<=": "<=",
}


def _qi(ident: str) -> str:
    """Backquote-quote an identifier for Spark SQL."""
    return "`" + ident.replace("`", "``") + "`"


def _sql_where(
    filters: Sequence[Sequence[Any]],
) -> tuple[str, dict[str, Any]]:
    """Filter triples → (WHERE clause, named parameters).

    Values are bound as **named parameters** (``spark.sql(..., args=...)``),
    never interpolated, so string and date filters are safe (the
    reference's DuckDB engine interpolated ``str(v)`` and was injectable;
    SURVEY.md §4)."""
    if not filters:
        return "", {}
    parts: list[str] = []
    args: dict[str, Any] = {}
    for i, (col, op, value) in enumerate(filters):
        c = _qi(col)
        if op in ("in", "not in", "nin"):
            values = list(value)
            neg = op != "in"
            if not values:
                # isin([]) semantics: empty IN-list matches nothing
                parts.append("1=1" if neg else "1=0")
                continue
            names = [f"f{i}_{j}" for j in range(len(values))]
            args.update(dict(zip(names, values)))
            inlist = ", ".join(f":{n}" for n in names)
            parts.append(f"{c} {'NOT IN' if neg else 'IN'} ({inlist})")
        elif op in _SQL_FILTER_OPS:
            args[f"f{i}"] = value
            parts.append(f"{c} {_SQL_FILTER_OPS[op]} :f{i}")
        else:
            raise NotImplementedError(
                f"Filter operator {op!r} is not supported; valid operators: "
                f"{list(tool.VALID_FILTER_OPS)}"
            )
    return " WHERE " + " AND ".join(parts), args


def empty_result_plan(spark: SparkSession, result_cols: Sequence[str]) -> DataFrame:
    """Zero-row result with null-typed columns
    (reference: parquery/tool.py:222-237 — ``pa.null()`` schema)."""
    schema = T.StructType([T.StructField(c, T.NullType()) for c in result_cols])
    return spark.createDataFrame([], schema)


def build_aggregation_plan(
    spark: SparkSession,
    file_name: str | Sequence[str],
    groupby_cols: Sequence[str],
    measure_cols: Sequence[Any],
    data_filter: Sequence[Sequence[Any]] | None = None,
    aggregate: bool = True,
    standard_missing_id: int = tool.STANDARD_MISSING_ID,
    handle_missing_file: bool = True,
) -> DataFrame:
    """Build the lazy Spark plan implementing ``aggregate_pq`` semantics.

    Mirrors the reference lifecycle steps 1-6 (SURVEY.md §3;
    reference: parquery/aggregate.py:142-215):
    normalize → plan result schema → pre-flight footer checks →
    filter/group plan → missing-column splice.

    ``file_name`` may be the result of ``relations.resolve`` (``aggregate_pq``
    resolves it to pick its session); the plan then probes nothing again.
    """
    groupby_cols = list(groupby_cols)
    measures = tool.normalize_measure_cols(measure_cols)
    filters = tool.normalize_data_filter(data_filter)
    result_cols = tool.get_result_columns(groupby_cols, measures)

    # -- pre-flight, driver-side, footer-only (no Spark job) ---------------
    # Multi-file form: the reference's production pattern is one process per
    # file with results recombined by the caller (reference: README.md:4,159);
    # here the file list is ONE distributed query.  Missing files are
    # skipped (or raise, per handle_missing_file); a column missing from
    # only some files surfaces as nulls via mergeSchema, so filters on it
    # exclude those files' rows — the per-file "unknown dimension
    # contributes nothing" contract, preserved across the dataset.
    # Every file is stat'ed once (relations.resolve); a path no backend can
    # probe is assumed PRESENT, so the Spark scan raises the real error.
    inputs = relations.resolve(file_name)
    missing = [p for p in inputs if p.version is relations.ABSENT]
    if missing and not handle_missing_file:
        # an empty glob behaves exactly like one missing file
        raise tool.MissingInputError(f"File {missing[0]} does not exist")
    live_paths = [p for p in inputs if p.version is not relations.ABSENT]
    if not live_paths:
        return empty_result_plan(spark, result_cols)

    requested = {*groupby_cols, *(m[0] for m in measures), *(f[0] for f in filters)}
    existing: set[str] = set()
    schema_unknown = False
    readable_paths = []
    for p in live_paths:
        try:
            existing |= relations.schema_names(p) & requested
            readable_paths.append(p)
        except relations.SchemaUnreadableError:
            # reference parity: a LOCAL file that opens but whose footer/
            # header cannot be parsed (corrupt/truncated) contributes an
            # empty column set — it is excluded from the scan, and a query
            # with no readable columns answers empty (reference:
            # parquery/tool.py:135-142, aggregate.py:165-170)
            continue
        except Exception:
            # schema UNKNOWN (remote path with no metadata backend, auth or
            # transient failure): cannot PROVE any column absent — proceed
            # with every requested column assumed present and let the scan
            # surface the real error.  Treating "unknown" as "empty
            # schema" would silently zero the result.
            schema_unknown = True
            readable_paths.append(p)
    live_paths = readable_paths
    if schema_unknown:
        existing = set(requested)
    if not existing or not live_paths:
        return empty_result_plan(spark, result_cols)
    if any(f[0] not in existing for f in filters):
        # "the real value for the dimension is unknown for the file, the
        # result should also be zero" (reference: parquery/tool.py:145-178)
        return empty_result_plan(spark, result_cols)

    live_groupby = [c for c in groupby_cols if c in existing]
    live_measures = [m for m in measures if m[0] in existing]
    if not live_groupby and not live_measures and aggregate:
        return empty_result_plan(spark, result_cols)

    # -- the Spark plan: ONE generated SQL statement over a registered view -
    # Semantics identical to the Column-API construction this replaces (same
    # Catalyst plan); the SQL surface exists because building the plan
    # expression-by-expression costs dozens of Py4J roundtrips (~0.7 ms
    # each, measured ~90 ms/query) while spark.sql() costs one.  Every
    # input, small or large, is a lazy parquet scan with full pushdown and
    # pruning; the view's relation comes from the relation cache.
    where, args = _sql_where(filters)

    # Small inputs: COUNT(DISTINCT c) → SIZE(COLLECT_SET(c)).  Spark plans
    # COUNT(DISTINCT) as Expand + two aggregate/exchange rounds (three
    # stages); collect_set is a single aggregation (one exchange, two
    # stages) — measured ~2× faster at this scale.  Gated on input size
    # because collect_set materializes per-group distinct sets in executor
    # memory: right under SMALL_INPUT_BYTES, wrong for a 100 TB
    # high-cardinality column, which keeps Spark's Expand-based distributed
    # plan.  CAST keeps the engine's BIGINT count-distinct output type.
    sql_aggs = _SQL_AGGS
    if (
        aggregate
        and any(op.lower() in _COUNT_DISTINCT_OPS for _, op, _ in live_measures)
        and is_small_input(inputs)
    ):
        sql_aggs = dict(
            _SQL_AGGS, **dict.fromkeys(
                _COUNT_DISTINCT_OPS, "CAST(SIZE(COLLECT_SET({c})) AS BIGINT)"
            )
        )

    # engine columns, in the engine's output order
    if aggregate:
        if live_measures:
            for _, op, _ in live_measures:
                if op.lower() not in sql_aggs:
                    raise NotImplementedError(
                        f"Aggregation operation {op!r} is not supported; "
                        f"valid operations: {sorted(_SQL_AGGS)}"
                    )
            select = [_qi(c) for c in live_groupby] + [
                f"{sql_aggs[op.lower()].format(c=_qi(col))} AS {_qi(out)}"
                for col, op, out in live_measures
            ]
            group = (
                " GROUP BY " + ", ".join(_qi(c) for c in live_groupby)
                if live_groupby else ""
            )
            distinct = ""
            engine_cols = live_groupby + [m[2] for m in live_measures]
        else:
            select = [_qi(c) for c in live_groupby]
            group = ""
            distinct = "DISTINCT "
            engine_cols = list(live_groupby)
    else:
        # pass-through mode: sorted distinct input columns, raw rows
        # (reference: parquery/aggregate_duckdb.py:337-341); the
        # missing-column splice below still applies (reference:
        # parquery/aggregate.py:209-215 runs in both modes)
        engine_cols = sorted({*live_groupby, *(m[0] for m in live_measures)})
        select = [_qi(c) for c in engine_cols]
        group = ""
        distinct = ""

    # -- splice missing columns post-engine ---------------------------------
    # Order matches the reference: engine columns first (extras dropped),
    # then missing measures (0.0), then missing dims (standard_missing_id)
    # (reference: parquery/tool.py:240-301).  The `out not in engine_cols`
    # test covers both modes: aggregated outputs are engine columns, and in
    # pass-through mode a renamed output (['m','op','out']) is absent even
    # when 'm' is live — the reference still splices 'out' = 0.0 there
    # while dropping 'm'.
    keep = set(result_cols)
    final = [s for c, s in zip(engine_cols, select) if c in keep]
    for _, _, out in measures:
        if out not in engine_cols:
            final.append(
                f"CAST({float(tool.STANDARD_MISSING_MEASURE)!r} AS DOUBLE) "
                f"AS {_qi(out)}"
            )
    for col in groupby_cols:
        if col not in engine_cols:
            final.append(f"{int(standard_missing_id)} AS {_qi(col)}")

    select_sql = f"SELECT {distinct}{', '.join(final)} FROM "
    return relations.relation_sql(
        spark, live_paths, lambda view: f"{select_sql}{_qi(view)}{where}{group}", args
    )


#: below this total input size, per-query latency is dominated by fixed
#: scheduling costs: ``aggregate_pq`` runs such inputs on the small-query
#: session (AQE's re-planning and a wide shuffle buy nothing there; measured
#: ~25% latency saving at 600k rows, local mode), and COUNT(DISTINCT) plans
#: as one collect_set aggregation
SMALL_INPUT_BYTES = 256 << 20

_COUNT_DISTINCT_OPS = ("count_distinct", "sorted_count_distinct")


def is_small_input(inputs: Sequence[relations.Input]) -> bool:
    """True when the present files of ``inputs`` (``relations.resolve``)
    total under :data:`SMALL_INPUT_BYTES`.  An unknown size is NOT small:
    the scale path is the safe default."""
    present = [i.version for i in inputs if i.version is not relations.ABSENT]
    if None in present:
        return False
    return sum(v[2] for v in present) < SMALL_INPUT_BYTES
