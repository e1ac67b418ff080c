"""DuckDB oracle and the result comparison every measured op goes through.

The oracle reads the generator's Arrow tables, never the files the engine
wrote, and states the ``aggregate_pq`` contract on its own: measure
normalization, the missing-file/missing-column rules and the splice order
are written here again as SQL so that an engine bug cannot agree with
itself.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import math
from typing import Any, Sequence

import duckdb
import pyarrow as pa

_AGG_SQL = {
    "sum": "SUM({c})",
    "mean": "AVG({c})",
    "std": "STDDEV_SAMP({c})",
    "count": "COUNT({c})",
    "count_na": "COUNT(*) - COUNT({c})",
    "count_distinct": "COUNT(DISTINCT {c})",
    "sorted_count_distinct": "COUNT(DISTINCT {c})",
    "min": "MIN({c})",
    "max": "MAX({c})",
    "one": "MIN({c})",
}

#: relative and absolute tolerance for floating-point results: Spark and
#: DuckDB sum in different orders, so the last digits may differ
FLOAT_TOL = 1e-9


def _q(ident: str) -> str:
    return '"' + ident.replace('"', '""') + '"'


def _lit(value: Any) -> str:
    if isinstance(value, str):
        return "'" + value.replace("'", "''") + "'"
    return repr(value)


def normalize_measures(measures: Sequence[Sequence[str]]) -> list[tuple[str, str, str]]:
    out = []
    for m in measures:
        if len(m) == 1:
            out.append((m[0], "sum", m[0]))
        elif len(m) == 2:
            out.append((m[0], m[1], m[0]))
        else:
            out.append((m[0], m[1], m[2]))
    return out


def spec_sql(
    source: str,
    columns: set[str],
    dims: Sequence[str],
    measures: Sequence[Sequence[str]],
    filters: Sequence[Sequence[Any]],
    missing_id: int = -1,
) -> str | None:
    """The SQL answering one ``aggregate_pq`` call over ``source``, whose
    columns are ``columns``; ``None`` when the contract's answer is the
    empty result (a filter on an absent column, or no requested column
    present)."""
    meas = normalize_measures(measures)
    result_cols = set(dims) | {m[2] for m in meas}
    if any(f[0] not in columns for f in filters):
        return None
    live_dims = [d for d in dims if d in columns]
    live_meas = [m for m in meas if m[0] in columns]
    if not live_dims and not live_meas:
        return None
    parts = []
    for col, op, value in filters:
        if op in ("in", "not in", "nin"):
            neg = "NOT " if op != "in" else ""
            parts.append(f"{_q(col)} {neg}IN ({', '.join(_lit(v) for v in value)})")
        else:
            sql_op = {"==": "=", "=": "="}.get(op, op)
            parts.append(f"{_q(col)} {sql_op} {_lit(value)}")
    where = " WHERE " + " AND ".join(parts) if parts else ""
    group = distinct = ""
    select = [_q(d) for d in live_dims] + [
        f"{_AGG_SQL[op].format(c=_q(col))} AS {_q(out)}" for col, op, out in live_meas
    ]
    engine_cols = live_dims + [m[2] for m in live_meas]
    if live_meas and live_dims:
        group = " GROUP BY " + ", ".join(_q(d) for d in live_dims)
    elif not live_meas:
        distinct = "DISTINCT "
    final = [s for c, s in zip(engine_cols, select) if c in result_cols]
    final += [f"0.0::DOUBLE AS {_q(out)}" for _, _, out in meas if out not in engine_cols]
    final += [f"{missing_id} AS {_q(d)}" for d in dims if d not in engine_cols]
    return f"SELECT {distinct}{', '.join(final)} FROM {source}{where}{group}"


def _canon_value(v: Any) -> Any:
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        f = float(v)
        return None if math.isnan(f) else f
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_canon_value(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon_value(x)) for k, x in v.items()))
    if hasattr(v, "tolist"):  # numpy scalars and arrays
        return _canon_value(v.tolist())
    return v


def _sort_key(row: tuple) -> tuple:
    return tuple(
        (x is None, f"{x:.6g}" if isinstance(x, float) else str(x)) for x in row
    )


class Result:
    """A query answer reduced to what the comparison looks at: the column
    names and the rows, both in a canonical order."""

    __slots__ = ("columns", "rows")

    def __init__(self, columns: Sequence[str], rows: Sequence[Sequence[Any]]):
        order = sorted(range(len(columns)), key=lambda i: columns[i])
        self.columns = tuple(columns[i] for i in order)
        canon = [tuple(_canon_value(r[i]) for i in order) for r in rows]
        self.rows = sorted(canon, key=_sort_key)

    @classmethod
    def of_arrow(cls, table: pa.Table) -> "Result":
        cols = [c.to_pylist() for c in table.columns]
        return cls(table.column_names, list(zip(*cols)) if cols else [])

    @classmethod
    def empty(cls, columns: Sequence[str]) -> "Result":
        return cls(list(columns), [])


def _close(a: Any, b: Any) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=FLOAT_TOL, abs_tol=FLOAT_TOL)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def mismatch(got: Result, want: Result) -> str | None:
    """Why ``got`` differs from ``want``, or ``None`` when they agree."""
    if got.columns != want.columns:
        return f"columns {got.columns} != {want.columns}"
    if len(got.rows) != len(want.rows):
        return f"{len(got.rows)} rows != {len(want.rows)}"
    for g, w in zip(got.rows, want.rows):
        if not _close(g, w):
            return f"row {g} != {w}"
    return None


class Oracle:
    """One in-memory DuckDB connection over named Arrow tables."""

    def __init__(self) -> None:
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")

    def register(self, name: str, table: pa.Table) -> None:
        self.con.register(name, table)

    def answer(self, sql: str) -> Result:
        return Result.of_arrow(self.con.sql(sql).arrow())

    def close(self) -> None:
        self.con.close()
