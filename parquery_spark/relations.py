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

One LRU, ``_relations``, maps (session, stat identity) to the analyzed
relation; the stat identity is ``(canonical path, mtime_ns, size)`` per
file.  It serves every read: ``aggregate_pq``, ``aggregate_plan`` and the
registry's ``queries.load``.  A replaced file has a new identity, so it
gets a fresh relation, and that read evicts every entry over an older
version of any of its files.  A path that cannot be stat'ed has no
identity, so its relation is read fresh on every call.  An entry owns the
temp view :func:`get_relation_view` registers for it; eviction and
:func:`invalidate` drop it from the owning session's catalog.

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
from pyspark.errors import AnalysisException, PySparkException
from pyspark.sql import DataFrame, SparkSession

from parquery_spark import fs

_lock = threading.RLock()

#: (session id, stat key) -> analyzed relation (LRU: most recently used
#: last).  An entry holds a plan, never data.
_relations: "OrderedDict[tuple, DataFrame]" = OrderedDict()
MAX_CACHED_RELATIONS = 512

#: entry key -> the temp view the entry owns
_views: dict[tuple, str] = {}
_view_ids = itertools.count(1)


def _lazy_read(
    spark: SparkSession, path_list: Sequence[str]
) -> tuple[tuple | None, DataFrame]:
    """The cached relation over ``path_list`` in ``spark``, and its key.

    A miss reads the relation with :func:`_read` and evicts every entry
    over an older version of one of its files.  A reader still holding such
    an entry's view is reading a file that has been replaced under it;
    failing loud is right there (``pin_snapshot`` is the contract for
    reads under concurrent writers, and snapshot paths are never
    replaced).  The LRU trim never evicts the entry being returned.

    A path no backend can stat (a remote URI without a metadata backend, a
    remote glob passed through verbatim, a file gone since the pre-flight)
    has no version to key on: its relation is read fresh and not cached,
    and the key is None."""
    try:
        key = _key(spark, path_list)
    except OSError:
        return None, _read(spark, path_list)
    with _lock:
        df = _relations.get(key)
        if df is not None:
            _relations.move_to_end(key)
            return key, df
    df = _read(spark, path_list)
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
    """A LOCAL file was opened but its footer/header could not be parsed
    (corrupt or truncated).  Reference parity: such a file contributes an
    empty column set and the query answers empty (reference:
    parquery/tool.py:135-142, aggregate.py:165-170).  Distinct from the
    backend-absent ``OSError`` (remote path, no metadata backend), which
    callers must treat as "assume the columns exist" / fail loud."""


def schema_names(path: str) -> frozenset:
    """Column names, driver-side and cheap, cached by file stat identity:
    parquet/ORC from the footer, CSV from the header row, JSON-lines from
    the keys of the first rows (a sample — untyped formats have no footer;
    columns appearing only deep in the file surface at read time via
    Spark's own inference).

    Filesystem-agnostic: local paths read directly; remote URIs stat and
    open through :mod:`parquery_spark.fs` (Hadoop FS / pyarrow.fs).  When
    no backend can answer, this RAISES ``OSError`` — callers must treat
    "schema unknown" as "assume the columns exist" and let the Spark scan
    fail loud, never as an empty schema (the silent-empty-result class).
    A *local* file that opens but fails to parse raises
    :class:`SchemaUnreadableError` instead — the reference's tolerant
    contract maps that to an empty result."""
    mtime_ns, size = fs.stat(path)
    key = (fs.canonical(path), mtime_ns, size)
    with _lock:
        names = _schema_names.get(key)
        if names is not None:
            _schema_names.move_to_end(key)
            return names
    if fs.is_local(path):
        try:
            names = _parse_schema_names(path)
        except OSError:
            # I/O failure on a local file (EACCES, transient NFS EIO,
            # EMFILE...) is NOT the corrupt-content class: propagate, so
            # the caller assumes the columns exist and the Spark scan
            # fails LOUD — rebranding it "unreadable" would silently drop
            # the file from the scan (the silent-partial-result class).
            # pyarrow's ArrowIOError subclasses OSError, which is exactly
            # right: an unreadable disk is an I/O problem, not parity.
            raise
        except Exception as exc:
            # the file opened and CONTENT failed to parse (ArrowInvalid
            # magic/footer, csv/json/unicode garbage): reference parity —
            # corrupt local files contribute an empty column set
            raise SchemaUnreadableError(f"unreadable schema: {path}") from exc
    else:
        # remote: any failure (no backend, auth, transient) must NOT look
        # like "empty schema" — propagate so callers assume-present
        names = _parse_schema_names(path)
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

        if fs.is_local(path):
            names = frozenset(_orc.ORCFile(fs.local_part(path)).schema.names)
        else:
            with fs.open_input(path) as fh:
                names = frozenset(_orc.ORCFile(fh).schema.names)
    else:
        if fs.is_local(path):
            names = frozenset(papq.read_schema(fs.local_part(path)).names)
        else:
            with fs.open_input(path) as fh:
                names = frozenset(papq.read_schema(fh).names)
    return names


def _key(spark: SparkSession, paths: Sequence[str]) -> tuple:
    """``(session id, ((canonical path, mtime_ns, size), ...))``; raises
    ``OSError`` when a path cannot be stat'ed."""
    return id(spark), tuple((fs.canonical(p), *fs.stat(p)) for p in paths)


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


def expand_globs(paths: Sequence[str]) -> list[str]:
    """Expand glob patterns to sorted literal paths (driver-side, cheap —
    one directory listing per pattern).  Non-pattern paths pass through
    untouched; a pattern matching nothing contributes nothing (callers
    that want missing-input errors check emptiness themselves).  Sorted
    expansion keeps multi-file schema-merge and cache keys deterministic
    across runs.

    A path that EXISTS literally is never treated as a pattern —
    ``*?[`` are all legal filename characters, and a real file named
    ``events[2024].parquet`` must keep resolving to itself, not to the
    character class ``[2024]``.

    Remote URIs expand through Hadoop ``globStatus`` (the semantics
    Spark's own file index applies); when no backend can expand a remote
    pattern it passes through VERBATIM — Spark's readers glob natively,
    so deferring beats wrongly reporting zero matches."""
    out: list[str] = []
    for p in paths:
        if has_glob_magic(p) and not fs.exists(p):
            hits = fs.glob(p)
            if hits is None:
                out.append(p)
            else:
                out.extend(hits)
        else:
            out.append(p)
    return out


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


def _expand(paths: str | Sequence[str]) -> list[str]:
    path_list = expand_globs([paths] if isinstance(paths, str) else list(paths))
    if not path_list:
        from parquery_spark.tool import MissingInputError

        raise MissingInputError(f"no files match: {paths}")
    return path_list


def get_relation(spark: SparkSession, paths: str | Sequence[str]) -> DataFrame:
    """Resolve a path list (globs expanded) to its analyzed relation,
    through the relation cache.  The relation is a lazy scan: filters and
    column pruning stay per query."""
    return _lazy_read(spark, _expand(paths))[1]


def get_relation_view(spark: SparkSession, paths: str | Sequence[str]) -> str:
    """Resolve a path list to a registered temp-view name — the
    single-Py4J-roundtrip query surface: ``spark.sql`` over the view costs
    one gateway call, where the equivalent Column-API plan construction
    costs dozens (~0.7 ms each).

    The view belongs to the relation's cache entry: it is registered on the
    entry's first view request and dropped with the entry.  A replaced
    file gets a new entry, so a new view name.  A relation that is not
    cached (see :func:`_lazy_read`) gets a one-off view, which the caller
    drops; :func:`relation_sql` does."""
    path_list = _expand(paths)
    while True:
        key, df = _lazy_read(spark, path_list)
        with _lock:
            if key is not None and key not in _relations:
                continue  # evicted by a concurrent miss: a view needs an owner
            name = _views.get(key)
            if name is None:
                name = f"__pq_rel_{next(_view_ids)}"
                df.createOrReplaceTempView(name)
                if key is not None:
                    _views[key] = name
            return name


def _owned(view: str) -> bool:
    with _lock:
        return view in _views.values()


def relation_sql(
    spark: SparkSession,
    paths: str | Sequence[str],
    render: Callable[[str], str],
    args: dict | None = None,
) -> DataFrame:
    """The analyzed ``render(view)`` SQL, through :func:`cached_sql`, where
    ``view`` names the relation over ``paths`` (:func:`get_relation_view`).

    An analyzed DataFrame no longer needs its view, so only the analysis
    must see a live one.  A concurrent eviction can drop the view between
    naming it and analyzing the SQL; analysis then fails with
    ``TABLE_OR_VIEW_NOT_FOUND`` and the SQL is resolved again over a new
    entry.  A one-off view is dropped once its SQL is analyzed."""
    while True:
        view = get_relation_view(spark, paths)
        try:
            return cached_sql(spark, render(view), args)
        except AnalysisException as exc:
            if exc.getCondition() != "TABLE_OR_VIEW_NOT_FOUND" or _owned(view):
                raise
        finally:
            if not _owned(view):
                spark.catalog.dropTempView(view)


#: (session id, sql, frozen args) -> analyzed DataFrame.  A prepared-
#: statement cache: Spark DataFrames are immutable lazy plans, so re-using
#: one re-runs the job but skips parse, analysis, physical planning, and the
#: codegen cache lookup (~40-60 ms/query at local scale).  Staleness safety:
#: the SQL text embeds the relation's temp-view name, and view names are
#: minted fresh per (path-set, mtime, size) identity — a replaced file gets a
#: new view name, hence a new cache key, so a stale plan can never be served.
#: Names are never reused, so plans over a dropped view just age out.
_plans: "OrderedDict[tuple, DataFrame]" = OrderedDict()
MAX_CACHED_PLANS = 128


def cached_sql(spark: SparkSession, sql: str, args: dict | None = None) -> DataFrame:
    """``spark.sql`` through the prepared-plan cache.

    ``args`` values are bound literals (part of the analyzed plan), so they
    are part of the key; unhashable values fall through to a direct call.
    """
    try:
        akey = tuple(sorted(args.items())) if args else ()
        key = (id(spark), sql, akey)
        hash(key)  # force now: string keys sort without comparing values,
        # so an unhashable VALUE (e.g. a list) survives sorted() and would
        # otherwise blow up inside the cache lookup below
    except TypeError:
        return spark.sql(sql, args=args) if args else spark.sql(sql)
    with _lock:
        df = _plans.get(key)
        if df is not None:
            _plans.move_to_end(key)
            return df
    df = spark.sql(sql, args=args) if args else spark.sql(sql)
    with _lock:
        _plans[key] = df
        while len(_plans) > MAX_CACHED_PLANS:
            _plans.popitem(last=False)
    return df


def _evict(key: tuple) -> None:
    """Drop one entry and its temp view.  The caller holds ``_lock``."""
    df = _relations.pop(key, None)
    view = _views.pop(key, None)
    if view is None:
        return
    try:
        df.sparkSession.catalog.dropTempView(view)
    except Exception:
        pass  # the session is already stopped


def invalidate(paths: str | Sequence[str] | None = None) -> None:
    """Drop cached relations (with their views) and footer schemas: all of
    them, or every one that reads any of ``paths`` (globs expanded, missing
    files allowed)."""
    gone = None
    if paths is not None:
        path_list = [paths] if isinstance(paths, str) else list(paths)
        gone = {fs.canonical(p) for p in expand_globs(path_list)}
    with _lock:
        for key in [k for k in _relations
                    if gone is None or any(f[0] in gone for f in k[1])]:
            _evict(key)
        for key in [k for k in _schema_names if gone is None or k[0] in gone]:
            del _schema_names[key]
