"""The workloads: seeded fixtures, seeded op sequences, and the expected
answer of every measured op.

Two workloads: ``agg_churn`` (one ``aggregate_pq`` query per file over a
working set larger than the relation cache, with writes beside the reads)
and ``registry`` (a fixed subset of the query registry).

A workload is built in three steps that never touch Spark: ``fixtures``
writes its input files (through the engine's own ``df_to_parquet``, so the
writer's layout is part of what is measured), ``warmup`` and ``ops`` give
the op sequences, and ``expected`` asks the DuckDB oracle for every
measured op's answer.  The same seed always gives the same files, the same
sequences and the same answers.
"""

from __future__ import annotations

import base64
import os
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np
import pyarrow as pa

from perfbench import datagen
from perfbench.oracle import Oracle, Result, normalize_measures, spec_sql


@dataclass(frozen=True)
class Op:
    """One client request.

    ``kind`` is ``agg`` (one ``aggregate_pq`` call), ``write`` (one
    ``df_to_parquet`` call) or ``registry`` (construct and collect one
    registry query).  ``files`` names fixture files; a name with no file
    behind it is a missing file."""

    kind: str
    files: tuple[str, ...] = ()
    dims: tuple[str, ...] = ()
    measures: tuple[tuple[str, ...], ...] = ()
    filters: tuple[tuple[str, str, Any], ...] = ()
    as_df: bool = False  # a write's input is a pandas frame, not Arrow
    ship: bool = False
    version: int = 0
    query: str = ""

    def call_args(self) -> dict:
        return {
            "groupby_cols": list(self.dims),
            "measure_cols": [list(m) for m in self.measures],
            "data_filter": [
                [c, o, list(v) if isinstance(v, tuple) else v] for c, o, v in self.filters
            ] or None,
        }


class _Draw:
    """Seeded uniform picks from a domain."""

    def __init__(self, rng: np.random.Generator):
        self.rng = rng

    def pick(self, domain: list) -> Any:
        return domain[int(self.rng.integers(0, len(domain)))]

    def sample(self, domain: list, k: int) -> tuple:
        idx = sorted(self.rng.choice(len(domain), size=k, replace=False))
        return tuple(domain[i] for i in idx)


def _write(engine_write: Callable, table: pa.Table, path: str) -> tuple[int, int]:
    engine_write(table, path)
    return table.nbytes, os.path.getsize(path)


class Workload:
    name = ""
    #: measured ops per second of ``--seconds`` (the sequence length is
    #: ``seconds * ops_per_second``, at least ``MIN_OPS``)
    ops_per_second = 10.0
    MIN_OPS = 100

    def __init__(self, seed: int, seconds: float, data_dir: str):
        self.seed = seed
        self.n_ops = max(self.MIN_OPS, int(round(seconds * self.ops_per_second)))
        self.data_dir = data_dir
        self.tables: dict[str, pa.Table] = {}
        self.user_bytes = 0
        self.stored_bytes = 0

    def path(self, name: str) -> str:
        return os.path.join(self.data_dir, f"{name}.parquet")

    def fixtures(self, engine_write: Callable) -> None:
        for name, table in self.tables.items():
            u, s = _write(engine_write, table, self.path(name))
            self.user_bytes += u
            self.stored_bytes += s

    def warmup(self) -> list[Op]:
        raise NotImplementedError

    def ops(self) -> list[Op]:
        raise NotImplementedError

    def expected(self, ops: list[Op]) -> list[Result]:
        oracle = Oracle()
        try:
            for name, table in self.tables.items():
                oracle.register(name, table)
            columns = {n: t.column_names for n, t in self.tables.items()}
            memo: dict[Op, Result] = {}
            out = []
            for op in ops:
                if op not in memo:
                    memo[op] = self._answer(oracle, op, columns)
                out.append(memo[op])
            return out
        finally:
            oracle.close()

    @staticmethod
    def _answer(oracle: Oracle, op: Op, columns: dict[str, list[str]]) -> Result:
        """``columns`` maps each file that exists to its column names."""
        live = [f for f in op.files if f in columns]
        cols = set(columns[live[0]]) if live else set()
        result_cols = sorted(set(op.dims) | {m[2] for m in normalize_measures(op.measures)})
        if not live:
            return Result.empty(result_cols)
        source = " UNION ALL ".join(f"SELECT * FROM {f}" for f in live)
        sql = spec_sql(f"({source})", cols, op.dims, op.measures, op.filters)
        return Result.empty(result_cols) if sql is None else oracle.answer(sql)


# --------------------------------------------------------------------------
# agg_churn: hundreds of files, one query per file, writes beside reads
# --------------------------------------------------------------------------

class AggChurn(Workload):
    """One query per file over more files than the relation cache holds,
    with writes that replace files between the reads.

    The file count is set from the engine's bound (three times its
    16-entry relation LRU).  Everything else is an assumption, not a
    measurement: the repository holds no record of production traffic, so
    the file size and the op shares in ``MIX`` are chosen to load each
    cache path named there at a known rate, and to keep files small enough
    that a run fits its time budget (production files hold up to billions
    of rows).  Replace them with measured values once a traffic record
    exists.  With most reads cold, latency here is mostly the cost of
    building a relation; no workload has traffic in which cache hits
    dominate.
    """

    name = "agg_churn"
    ops_per_second = 5.0
    FILES = 48
    ROWS = 25_000  # about 0.6 MB of Parquet per file
    COLUMNS = datagen.churn_table(0, 0, 0, 1).column_names

    @staticmethod
    def file(i: int) -> str:
        return f"part_{i:03d}"

    def table(self, i: int, version: int) -> pa.Table:
        return datagen.churn_table(self.seed, i, version, self.ROWS)

    def fixtures(self, engine_write: Callable) -> None:
        for i in range(self.FILES):
            u, s = _write(engine_write, self.table(i, 0), self.path(self.file(i)))
            self.user_bytes += u
            self.stored_bytes += s

    def _query(self, d: _Draw, files: tuple[str, ...]) -> Op:
        kind = int(d.rng.integers(0, 3))
        if kind == 0:
            return Op("agg", files, ("l_returnflag", "l_linestatus"), (
                ("l_quantity", "sum", "s"), ("l_extendedprice", "mean", "m")), ship=True)
        if kind == 1:
            return Op("agg", files, ("l_linenumber",), (
                ("l_quantity", "max", "mx"), ("l_orderkey", "count", "n")),
                (("l_discount", "<", d.pick([i / 100 for i in range(1, 11)])),), ship=True)
        return Op("agg", files, (), (("l_extendedprice", "sum", "s"),),
                  (("l_returnflag", "in", d.sample(["A", "N", "R"], 2)),), ship=True)

    #: assumed shares of the measured ops and the path each one loads;
    #: counts are exact, only their order, files and values come from the
    #: seed.  The rest (about 59 %) are *cold* reads: a file outside the
    #: last sixteen cache keys, so a relation build and an LRU eviction.
    MIX = {
        # df_to_parquet, and a stale-key eviction when the replaced file
        # is next read
        "write": 0.20,
        # the fs pre-flight's missing-file answer; no relation is built
        "missing_file": 0.03,
        # one of the last eight files read: a relation-cache hit unless
        # rewritten since
        "recent": 0.10,
        # three files in one call: a multi-file relation key and read
        "files_list": 0.04,
        # the plan builder's missing-column splice
        "missing_column": 0.04,
    }

    def _sequence(self, stream: int, n: int, writes: bool) -> list[Op]:
        d = _Draw(np.random.default_rng([self.seed, stream]))
        kinds = [k for k, share in self.MIX.items() if writes or k != "write"
                 for _ in range(round(share * n))]
        kinds += ["cold"] * (n - len(kinds))
        kinds = [kinds[i] for i in d.rng.permutation(n)]
        versions = [0] * self.FILES
        lru: list[tuple[str, ...]] = []  # cache keys, most recent last
        out = []
        for kind in kinds:
            if kind == "write":
                f = int(d.rng.integers(0, self.FILES))
                versions[f] += 1
                out.append(Op("write", (self.file(f),), version=versions[f],
                              as_df=bool(versions[f] % 2)))
                continue
            if kind == "missing_file":
                out.append(self._query(d, (f"absent_{int(d.rng.integers(0, 1000)):03d}",)))
                continue
            if kind == "files_list":
                files = tuple(self.file(int(i)) for i in
                              sorted(d.rng.choice(self.FILES, size=3, replace=False)))
            else:
                singles = [k for k in lru if len(k) == 1]
                if kind == "recent" and singles:
                    files = d.pick(singles[-8:])
                else:
                    hot = set(lru[-16:])
                    files = d.pick([(self.file(i),) for i in range(self.FILES)
                                    if (self.file(i),) not in hot])
            if kind == "missing_column":
                op = Op("agg", files, ("l_returnflag", "ghost_dim"), (
                    ("l_quantity", "sum", "s"), ("ghost_m", "mean", "g")), ship=True)
            else:
                op = self._query(d, files)
            if files in lru:
                lru.remove(files)
            lru.append(files)
            out.append(op)
        return out

    def warmup(self) -> list[Op]:
        """Reads over the working set, and two writes of a file outside it."""
        scratch = [Op("write", ("spare_000",), version=1000 + v, as_df=bool(v))
                   for v in range(2)]
        return self._sequence(2, 30, writes=False) + scratch

    def ops(self) -> list[Op]:
        return self._sequence(3, self.n_ops, writes=True)

    def expected(self, ops: list[Op]) -> list[Result | int]:
        """Answers against each file's version at the time of the op; a
        write's expected answer is the row count it must leave on disk."""
        oracle = Oracle()
        versions = {}
        try:
            for i in range(self.FILES):
                oracle.register(self.file(i), self.table(i, 0))
                versions[self.file(i)] = 0
            memo: dict[tuple, Result] = {}
            out: list[Result | int] = []
            for op in ops:
                if op.kind == "write":
                    f = op.files[0]
                    versions[f] = op.version
                    oracle.register(f, self.table(int(f[-3:]), op.version))
                    out.append(self.ROWS)
                    continue
                key = (op, tuple(versions.get(f) for f in op.files))
                if key not in memo:
                    present = {f: self.COLUMNS for f in op.files if f in versions}
                    memo[key] = self._answer(oracle, op, present)
                out.append(memo[key])
            return out
        finally:
            oracle.close()

    def write_input(self, op: Op) -> tuple[Any, int]:
        """The frame a write op hands to ``df_to_parquet``, built before
        the op is timed (odd versions as pandas, even as Arrow), and its
        Arrow size in bytes."""
        table = self.table(int(op.files[0][-3:]), op.version)
        return (table.to_pandas() if op.as_df else table), table.nbytes


# --------------------------------------------------------------------------
# registry: a fixed subset of the query registry, one per operator family
# --------------------------------------------------------------------------

#: one or two fast queries per operator family of ``DRIVER_PRIORITY``;
#: the ones marked * build artifacts while they are constructed.  An odd
#: count keeps the median and p90 inside one query's block of latencies
#: rather than on the edge between two.
#:
#: Open defect: the sketch family's first choice,
#: ``q174_mergeable_quantiles``, returns ``approx_within_bound = false``
#: on 5 of 40 generated scale-0.001 datasets.  Its groups hold about 200
#: rows, and the rank bracket it checks against
#: (``queries.q174_mergeable_quantiles``) is then narrower than one row.  It is left out so that
#: every op of this workload can pass, and ``q194`` stands in for the
#: family; put it back once its tolerance is fixed.
REGISTRY_QUERIES = [
    "q151_tpch_q6",                  # TPC-H scan + aggregate
    "q156_tpch_q4_shape",            # TPC-H semi-join
    "q191_runtime_pruned_join",      # join machinery *
    "q185_item_similarity",          # dedup / similarity *
    "q116_int8_quantization",        # ANN / embeddings
    "q205_bpe_pair_counts",          # text / BPE
    "q194_bitmap_audience_algebra",  # sketches / bitmaps
    "q126_streaming_upsert",         # streaming *
    "q107_grouped_corr",             # graph / ML / stats
    "q182_k_anonymity_audit",        # sampling / privacy
    "q200_glob_schema_drift",        # sources / maintenance *
    "q150_corpus_prep_pipeline",     # UDF surface / pipeline
    "q96_session_window",            # session windows
]


class Registry(Workload):
    name = "registry"
    ops_per_second = 3.3
    SCALE = 0.001

    def __init__(self, seed, seconds, data_dir):
        super().__init__(seed, seconds, data_dir)
        self.tables = datagen.tpch_tables(seed, self.SCALE)

    def warmup(self) -> list[Op]:
        return [Op("registry", query=q) for q in REGISTRY_QUERIES]

    def ops(self) -> list[Op]:
        """Whole passes over the subset, each in a seeded order, so every
        query has the same share of the ops in every run."""
        rng = np.random.default_rng([self.seed, 3])
        k = len(REGISTRY_QUERIES)
        return [Op("registry", query=REGISTRY_QUERIES[i])
                for _ in range(-(-self.n_ops // k)) for i in rng.permutation(k)]

    def expected(self, ops: list[Op]) -> list[Result | None]:
        """``None`` for a query without an oracle (none in the subset)."""
        from parquery_spark.queries import reordered_queries

        sql = {n: s for n, (_, s) in reordered_queries().items()}
        oracle = Oracle()
        try:
            for name, table in self.tables.items():
                oracle.register(name, table)
            memo = {q: oracle.answer(sql[q]) if sql.get(q) else None
                    for q in REGISTRY_QUERIES}
        finally:
            oracle.close()
        return [memo[op.query] for op in ops]


WORKLOADS = {w.name: w for w in (AggChurn, Registry)}


def decode_shipped(payload: str) -> pa.Table:
    """The receiving end of ``serialize_pa_table_base64``, written with
    pyarrow alone so the engine's own decoder is not checked by itself."""
    with pa.ipc.open_stream(base64.b64decode(payload)) as reader:
        return reader.read_all()


def repeat_share(history: list[Op], ops: list[Op]) -> float:
    """Share of ``ops`` whose exact file, shape and filter values occurred
    earlier (in ``history`` or earlier in ``ops``)."""
    seen = set(history)
    hits = 0
    for op in ops:
        hits += op in seen
        seen.add(op)
    return hits / len(ops)
