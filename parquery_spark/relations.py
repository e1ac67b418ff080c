"""Relation cache: analyzed plans over input files, keyed by file version.

The reference opens each Parquet file fresh per query and leans on the OS
page cache for re-reads (reference: parquery/aggregate_pyarrow.py:60-74 —
``pq.ParquetFile`` per query).  This module does the same for data: nothing
is persisted, and every query scans its file with pushdown and pruning.
What it reuses is driver work.  Building a relation over a literal Parquet
file costs ~30 ms (footer schema read, file listing, analysis, py4j round
trips), ~100-120 ms for a directory whose schema Spark infers with a job,
whatever the size of the data (4-core host, 1000-row files, median of 29),
and the analyzed plan is immutable for a given file version.  At cluster
scale this is the file-listing cache applied at the engine layer:
re-listing a heavily partitioned table per query is minutes of driver time.

A query resolves its input once (:func:`resolve`): each file is stat'ed
once, and the missing-file skip or raise, the footer-schema cache, the size
gate and the relation key all read that one answer, so one query never
mixes two versions of a file, and pays one metadata round trip per file.

One LRU, ``_relations``, maps (session, file versions) to the analyzed
relation.  It serves every read: ``aggregate_pq``, ``aggregate_plan`` and
the registry's ``queries.load``.  A replaced file has a new version, so it
gets a fresh relation, and that read evicts every entry over an older
version of any of its files.  A path with no known version is read fresh
on every call.

A second LRU, ``_plans``, maps (relation key, SQL, args) to the analyzed
SQL over a relation (:func:`relation_sql`); a plan is cached only while its
relation is, and leaves with it.  Temp views are per analysis:
a plan miss registers the relation under a fresh view name, analyzes the
SQL over it and drops it before returning, so the session's catalog is
left as it was found and no entry owns a view that eviction could drop
under a concurrent reader.

Spark's ``CacheManager`` is never used.  A persisted columnar copy of small
inputs was measured and removed: it scanned every column of a file that
most reads touch once, and because the ``CacheManager`` matches cached
plans by path, every other reader of a replaced file (a plain
``spark.read.parquet`` included) saw the old bytes until it was evicted.
"""

from __future__ import annotations

import functools
import itertools
import threading
from collections import OrderedDict
from typing import Callable, Sequence

import pyarrow.parquet as papq
from py4j.protocol import Py4JError
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, SparkSession

from parquery_spark import fs

_lock = threading.RLock()

#: (session id, file versions) -> analyzed relation (LRU: most recently used
#: last).  An entry holds a plan, never data.
_relations: "OrderedDict[tuple, DataFrame]" = OrderedDict()
MAX_CACHED_RELATIONS = 512

_view_ids = itertools.count(1)


#: the version of a path a backend reports missing (see :class:`Input`)
ABSENT = "absent"


class Input(str):
    """A path that carries :func:`resolve`'s answer for it: ``version`` is
    ``(canonical path, mtime_ns, size)``, :data:`ABSENT`, or None when no
    backend can answer (assumed present).  Resolving it again probes
    nothing."""

    def __new__(cls, path: str, version: tuple | str | None = None) -> "Input":
        inp = super().__new__(cls, path)
        inp.version = version
        return inp


def _version(path: str) -> tuple | str | None:
    """The one filesystem probe of a query's input: one ``fs.stat``."""
    try:
        return (fs.canonical(path), *fs.stat(path))
    except FileNotFoundError:
        return ABSENT
    except OSError:
        return None


def resolve(paths: str | Sequence[str]) -> list[Input]:
    """``paths`` as :class:`Input` s, in order, each stat'ed once.  A path
    that exists literally is itself, even with ``*?[`` in its name;
    otherwise a pattern expands to its sorted matches (``fs.glob``), one
    matching nothing is one absent path, and one no backend can expand
    passes through unversioned, for Spark's readers to glob."""
    out: list[Input] = []
    for p in [paths] if isinstance(paths, str) else paths:
        if isinstance(p, Input):
            out.append(p)
            continue
        version = _version(p)
        if version is ABSENT and has_glob_magic(p):
            hits = fs.glob(p)
            if hits:
                out.extend(Input(h, _version(h)) for h in hits)
                continue
            if hits is None:
                version = None
        out.append(Input(p, version))
    return out


def _lazy_read(
    spark: SparkSession, inputs: Sequence[Input]
) -> tuple[tuple | None, DataFrame]:
    """The cached relation over ``inputs`` in ``spark``, and its key.

    A miss reads the relation with :func:`_read` and evicts every entry
    over an older version of one of its files.  A reader still holding such
    an entry is reading a file that has been replaced under it; failing
    loud is right there (``pin_snapshot`` is the contract for reads under
    concurrent writers, and snapshot paths are never replaced).  The LRU
    trim never evicts the entry being returned.

    An input with no version (a remote URI without a metadata backend, a
    remote glob passed through verbatim, a missing file) has nothing to key
    on: the relation is read fresh and not cached, and the key is None."""
    versions = tuple(i.version for i in inputs)
    if not all(isinstance(v, tuple) for v in versions):
        return None, _read(spark, inputs)
    key = (id(spark), versions)
    with _lock:
        df = _relations.get(key)
        if df is not None:
            _relations.move_to_end(key)
            return key, df
    df = _read(spark, inputs)
    with _lock:
        df = _relations.setdefault(key, df)
        _relations.move_to_end(key)
        current = {f[0]: f for f in key[1]}
        for old in [k for k in _relations
                    if any(current.get(f[0], f) != f for f in k[1])]:
            _evict(old)
        while len(_relations) > MAX_CACHED_RELATIONS and next(iter(_relations)) != key:
            _evict(next(iter(_relations)))
    return key, df


#: (abspath, mtime_ns, size) -> frozenset of column names; footer schema is
#: immutable for a given file version, so pre-flight checks skip the disk
#: read + thrift decode on every repeat query (a few ms/path saved)
_schema_names: "OrderedDict[tuple, frozenset]" = OrderedDict()
_MAX_SCHEMA_ENTRIES = 256


class SchemaUnreadableError(Exception):
    """A file was opened but its footer/header could not be parsed
    (corrupt or truncated).  Reference parity: such a file contributes an
    empty column set and the query answers empty (reference:
    parquery/tool.py:135-142, aggregate.py:165-170).  Distinct from an
    ``OSError`` (no backend, auth, a failed or short read), which callers
    must treat as "assume the columns exist" / fail loud."""


def schema_names(path: str) -> frozenset:
    """Column names, driver-side and cheap, cached by file version:
    parquet/ORC from the footer, CSV from the header row, JSON-lines from
    the keys of the first rows (a sample — untyped formats have no footer;
    columns appearing only deep in the file surface at read time via
    Spark's own inference).

    Keyed on the version :func:`resolve` gave ``path`` (a plain path is
    stat'ed here).  Filesystem-agnostic: every path opens through
    :mod:`parquery_spark.fs`.  When no backend can answer, or a read
    fails, this RAISES ``OSError`` — callers must treat "schema unknown"
    as "assume the columns exist" and let the Spark scan fail loud, never
    as an empty schema (the silent-empty-result class).  A file that opens
    but fails to parse raises :class:`SchemaUnreadableError` instead — the
    reference's tolerant contract maps that to an empty result."""
    key = path.version if isinstance(path, Input) else _version(path)
    if not isinstance(key, tuple):  # absent, or no backend can answer
        raise OSError(f"cannot stat {path}")
    with _lock:
        names = _schema_names.get(key)
        if names is not None:
            _schema_names.move_to_end(key)
            return names
    try:
        names = _parse_schema_names(path)
    except OSError:
        # an I/O failure (EACCES, transient EIO, EMFILE, no backend, a
        # failed or short remote read: ``fs`` streams raise OSError, and
        # pyarrow's ArrowIOError subclasses it) is NOT the corrupt-content
        # class: propagate, so the caller assumes the columns exist and
        # the Spark scan fails LOUD — rebranding it "unreadable" would
        # silently drop the file from the scan
        raise
    except Exception as exc:
        # the file opened and CONTENT failed to parse (ArrowInvalid
        # magic/footer, csv/json/unicode garbage): reference parity —
        # corrupt files contribute an empty column set
        raise SchemaUnreadableError(f"unreadable schema: {path}") from exc
    with _lock:
        _schema_names[key] = names
        while len(_schema_names) > _MAX_SCHEMA_ENTRIES:
            _schema_names.popitem(last=False)
    return names


def _parse_schema_names(path: str) -> frozenset:
    fmt = format_of(path)
    if fmt == "csv":
        import csv as _csv
        import io as _io

        with fs.open_input(path) as fh:
            text = _io.TextIOWrapper(fh, newline="")
            names = frozenset(next(_csv.reader(text), []))
            text.detach()
    elif fmt == "json":
        import io as _io
        import json as _json

        keys: set[str] = set()
        with fs.open_input(path) as fh:
            text = _io.TextIOWrapper(fh)
            for _ in range(100):
                line = text.readline()
                if not line:
                    break
                line = line.strip()
                if line:
                    try:
                        keys |= set(_json.loads(line))
                    except ValueError:
                        pass
            text.detach()
        names = frozenset(keys)
    elif fmt == "orc":
        from pyarrow import orc as _orc

        with fs.open_input(path) as fh:
            names = frozenset(_orc.ORCFile(fh).schema.names)
    else:
        with fs.open_input(path) as fh:
            names = frozenset(papq.read_schema(fh).names)
    return names


#: extension → source format.  Parquet is the reference's only format
#: (SURVEY.md §2.1); CSV / JSON-lines / ORC are extension surface — same
#: query API, tolerant-schema semantics, and relation cache on top.
_FORMATS = {
    "parquet": "parquet", "pq": "parquet",
    "csv": "csv",
    "json": "json", "jsonl": "json", "ndjson": "json",
    "orc": "orc",
}


def format_of(path: str) -> str:
    return _FORMATS.get(path.rsplit(".", 1)[-1].lower(), "parquet")


def _format_of_all(paths: Sequence[str]) -> str:
    fmts = {format_of(p) for p in paths}
    if len(fmts) > 1:
        raise ValueError(
            f"cannot mix source formats in one query: {sorted(fmts)} ({paths})"
        )
    return fmts.pop()


_GLOB_MAGIC = frozenset("*?[")


def has_glob_magic(path: str) -> bool:
    """True when ``path`` is a glob pattern rather than a literal path."""
    return any(ch in _GLOB_MAGIC for ch in path)


def expand_globs(paths: str | Sequence[str]) -> list[Input]:
    """:func:`resolve` less the patterns that matched nothing: the paths a
    read hands to Spark.  A missing literal path stays, so that Spark
    raises its own error for it; when nothing is left this raises
    ``MissingInputError``."""
    inputs = [i for i in resolve(paths)
              if i.version is not ABSENT or not has_glob_magic(i)]
    if not inputs:
        from parquery_spark.tool import MissingInputError

        raise MissingInputError(f"no files match: {paths}")
    return inputs


def _read(spark: SparkSession, paths: Sequence[str]) -> DataFrame:
    fmt = _format_of_all(paths)
    if fmt == "csv":
        # header + inference: column names from row 1, types from a scan —
        # acceptable for ad-hoc CSV; at scale callers convert to parquet
        # (sources.compact_dataset) or pass typed data through parquet
        return (
            spark.read.option("header", "true")
            .option("inferSchema", "true")
            .csv(list(paths))
        )
    if fmt == "json":
        return spark.read.json(list(paths))
    if fmt == "orc":
        return spark.read.orc(*paths)
    try:
        df = _read_with_footer_schema(spark, paths)
    except (Py4JError, PySparkException):
        # any JVM-side failure (missing, truncated or replaced file,
        # conflicting types) is left to the inferring read below, so the
        # error raised is Spark's own
        df = None
    if df is not None:
        return df
    reader = spark.read
    if len(paths) > 1:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(*paths)


@functools.lru_cache(maxsize=2)
def _jvm_classes(jvm) -> tuple:
    """``(Path, ParquetFileFormat, PythonUtils)`` of one JVM.  A py4j class
    lookup costs one round trip per package name (~5 ms for these three),
    so each gateway resolves them once."""
    parquet = getattr(
        jvm.org.apache.spark.sql.execution.datasources.parquet, "ParquetFileFormat$"
    )
    return (
        jvm.org.apache.hadoop.fs.Path,
        getattr(parquet, "MODULE$"),
        jvm.org.apache.spark.api.python.PythonUtils,
    )


def _read_with_footer_schema(
    spark: SparkSession, paths: Sequence[str]
) -> DataFrame | None:
    """``spark.read.parquet(*paths)`` with its schema read from the footers
    on the driver, or None when ``paths`` are not all literal files.

    Spark's inferring read runs ``mergeSchemasInParallel``, a Spark job, even
    for one file.  Here the same footers are read by Spark's own driver-side
    helpers (a thread pool, no job), and the schema is converted by the
    converter that job would use, so every type rule (INT96, unsigned ints,
    nanos-as-long, the Spark row-metadata key) is identical.  A list is
    merged in path order, as the job merges it.  ``readSchema`` merges
    case-sensitively; under ``spark.sql.caseSensitive=false`` a merged schema
    whose names collide ignoring case would differ from the job's, and Spark
    rejects it as a user-specified schema (``COLUMN_ALREADY_EXISTS``, nested
    fields included), so the caller falls back."""
    js = spark._jsparkSession
    path_cls, parquet, utils = _jvm_classes(spark._jvm)
    hconf = js.sessionState().newHadoopConf()
    statuses = []
    for p in paths:
        jpath = path_cls(p)
        status = jpath.getFileSystem(hconf).getFileStatus(jpath)
        if not status.isFile():
            return None
        statuses.append(status)
    if len(statuses) > 1:
        statuses.sort(key=lambda s: s.getPath().toString())
    ignore_corrupt = js.sessionState().conf().ignoreCorruptFiles()
    footers = parquet.readParquetFootersInParallel(
        hconf, utils.toSeq(statuses), ignore_corrupt
    )
    schema = parquet.readSchema(footers, js)
    if schema.isEmpty():  # every footer skipped as corrupt
        return None
    # a given schema is used as is: lists need no mergeSchema option
    jdf = js.read().schema(schema.get()).parquet(utils.toSeq(list(paths)))
    return DataFrame(jdf, spark)


def get_relation(spark: SparkSession, paths: str | Sequence[str]) -> DataFrame:
    """Resolve a path list (globs expanded) to its analyzed relation,
    through the relation cache.  The relation is a lazy scan: filters and
    column pruning stay per query."""
    return _lazy_read(spark, expand_globs(paths))[1]


def get_relation_view(relation: DataFrame) -> str:
    """Register ``relation`` as a temp view under a fresh name and return
    the name.  The caller owns the view and drops it; no other code ever
    names or drops it, so no thread can drop a view another is about to
    analyze."""
    name = f"__pq_rel_{next(_view_ids)}"
    relation.createOrReplaceTempView(name)
    return name


#: the name the SQL of :func:`relation_sql` is rendered over for its plan
#: key; no view of this name is ever registered
_PLACEHOLDER = "__pq_relation__"


def relation_sql(
    spark: SparkSession,
    paths: str | Sequence[str],
    render: Callable[[str], str],
    args: dict | None = None,
) -> DataFrame:
    """The analyzed ``render(view)`` SQL, where ``view`` names the relation
    over ``paths``, through :func:`cached_sql`.

    The plan is keyed on the relation's stat key, so a replaced file never
    gets a stale plan.  A miss registers a fresh view, analyzes the SQL over
    it and drops it: an analyzed DataFrame no longer needs its view."""
    key, relation = _lazy_read(spark, expand_globs(paths))

    def analyze() -> DataFrame:
        view = get_relation_view(relation)
        try:
            sql = render(view)
            return spark.sql(sql, args=args) if args else spark.sql(sql)
        finally:
            # the session catalog itself: ``spark.catalog.dropTempView``
            # first re-analyzes the view to uncache it (0.8-1.1 ms against
            # 0.13 ms, medians of 60 on 4 cores), and nothing caches a
            # view that lives for one analysis
            spark._jsparkSession.sessionState().catalog().dropTempView(view)

    return cached_sql(key, render(_PLACEHOLDER), args, analyze)


#: (relation stat key, sql over the placeholder, frozen args) -> analyzed
#: DataFrame.  A prepared-statement cache: Spark DataFrames are immutable
#: lazy plans, so re-using one re-runs the job but skips parse, analysis,
#: physical planning, and the codegen cache lookup (~40-60 ms/query at
#: local scale).  The stat key carries the session id and every file's
#: version, so plans are never shared across sessions or file versions.
_plans: "OrderedDict[tuple, DataFrame]" = OrderedDict()
MAX_CACHED_PLANS = 128


def cached_sql(
    key: tuple | None, sql: str, args: dict | None, analyze: Callable[[], DataFrame]
) -> DataFrame:
    """``analyze()`` through the prepared-plan cache, keyed on the relation
    ``key``, ``sql`` and ``args``.  ``args`` values are bound literals (part
    of the analyzed plan), so they are part of the key.  A relation with no
    key (see :func:`_lazy_read`) is analyzed afresh and not cached, since
    its plan could never be hit again; so is SQL with an unhashable arg."""
    try:
        pkey = (key, sql, tuple(sorted(args.items())) if args else ())
        hash(pkey)  # string keys sort without comparing values, so an
        # unhashable VALUE (e.g. a list) survives sorted()
    except TypeError:
        pkey = None
    if key is None or pkey is None:
        return analyze()
    with _lock:
        df = _plans.get(pkey)
        if df is not None:
            _plans.move_to_end(pkey)
            return df
    df = analyze()
    with _lock:
        if key in _relations:  # else it was evicted meanwhile (see _evict)
            _plans[pkey] = df
            while len(_plans) > MAX_CACHED_PLANS:
                _plans.popitem(last=False)
    return df


def _evict(key: tuple) -> None:
    """Drop one relation and every plan over it, so that no plan keeps an
    evicted relation alive.  The caller holds ``_lock``."""
    _relations.pop(key, None)
    for pkey in [k for k in _plans if k[0] == key]:
        del _plans[pkey]


def invalidate(paths: str | Sequence[str] | None = None) -> None:
    """Drop cached relations, plans and footer schemas: all of them, or
    every one that reads any of ``paths`` (globs expanded, missing files
    allowed)."""
    gone = None
    if paths is not None:
        gone = {fs.canonical(p) for p in resolve(paths)}

    def reads_gone(files) -> bool:
        return gone is None or any(f[0] in gone for f in files)

    with _lock:
        for key in [k for k in _relations if reads_gone(k[1])]:
            _evict(key)
        for key in [k for k in _schema_names if reads_gone([k])]:
            del _schema_names[key]
