"""SparkSession bootstrap for parquery_spark.

The reference (parquery) opens a fresh DuckDB ``:memory:`` connection per
query (reference: parquery/aggregate_duckdb.py:216-270) and tunes it from
environment variables.  On Spark the analogous lifecycle object is a single
long-lived ``SparkSession``; per-query connections would pay JVM startup for
every call.  We keep a module-level singleton, tuned for the scale the engine
targets:

* AQE on — runtime coalescing of shuffle partitions, skew-join splitting.
  At 100 TB the static ``spark.sql.shuffle.partitions`` can never be right
  for every stage; AQE re-plans from runtime statistics.
* Arrow-based transfers on — the reference's result handoff is Arrow IPC
  (reference: parquery/transport.py:12-75); ``df.toArrow()`` keeps that
  boundary zero-copy-ish.
* Shuffle partitions default to the local core count for test scale; on a
  real cluster this is overridden via ``PARQUERY_SPARK_CONF_*`` env vars or
  ``configure()``.

Environment overrides (mirroring the reference's ``DUCKDB_MEMORY_LIMIT`` /
``DUCKDB_THREADS`` pattern, reference: parquery/aggregate_duckdb.py:40-58):

* ``PARQUERY_SPARK_MASTER``   — default ``local[*]``
* ``PARQUERY_SPARK_MEMORY``   — driver memory in local mode
* ``PARQUERY_SPARK_SHUFFLE_PARTITIONS``
* ``PARQUERY_SPARK_CONF_<key with __ for .>=<value>`` — arbitrary conf
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import SparkSession

_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.parquet.compression.codec": "zstd",
    "spark.ui.enabled": "false",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # Session-wide contract: parquet TIMESTAMP(NANOS) columns read as raw
    # nanosecond longs instead of erroring (Spark has no nanos timestamp
    # type).  Documented in queries.load_events, which shows the ns→µs
    # truncation recipe.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Write timestamps as TIMESTAMP(MICROS), not the legacy INT96 default:
    # INT96 round-trips as timestamp[ns] through pyarrow footers, which
    # breaks every reader that dispatches on the physical type (and is
    # deprecated in the parquet spec).
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # Generated-class cache (a static conf: read once, when the session is
    # built).  Spark's default of 100 entries thrashes on a repeating query
    # mix, so every warm call re-ran Janino: a warm pass over the 13-query
    # perfbench `registry` subset recompiled 113-133 classes, one over the
    # 218-query registry ~3,130 (20-23 s of a 77-81 s pass; sf0.001, 4
    # cores).  At 4096 those passes compile 0 and 34-47 classes (0.5-0.6 s
    # of a 68-70 s pass).  The registry's working set is ~2,900 classes,
    # so 4096 holds it with headroom for larger-scale plan variants; JVM
    # metaspace after a 3-pass registry run was 231 MB, against 199 MB at
    # 100.
    "spark.sql.codegen.cache.maxEntries": "4096",
}


#: conf overrides for the small-query session (see get_small_query_session)
_SMALL_QUERY_CONF = {
    # AQE's runtime re-planning adds per-stage latency that buys nothing on
    # sub-256MiB inputs
    "spark.sql.adaptive.enabled": "false",
    # aggregated results are small by contract; one reduce task collects
    # fastest
    "spark.sql.shuffle.partitions": "1",
}

_small_sessions: dict[int, SparkSession] = {}
_small_lock = threading.Lock()

#: our own parent-session singleton.  PySpark's ``getActiveSession()`` global
#: is mutated as a side effect of ordinary API calls (``createDataFrame``
#: does ``SparkSession._activeSession = self`` with no restore), so once the
#: small-query sibling session runs a query that touches such a call, the
#: "active" session silently becomes the tuned sibling.  Trusting it would
#: hand AQE-off/1-shuffle-partition conf to every later caller.
_parent_session: SparkSession | None = None


def _alive(s: SparkSession | None) -> bool:
    try:
        return s is not None and s._sc._jsc is not None
    except Exception:  # pragma: no cover - stopped/teardown races
        return False


def get_small_query_session(parent: SparkSession) -> SparkSession:
    """A sibling ``SparkSession`` (same SparkContext) tuned for low-latency
    small queries.  Its relations are cached apart from the parent's: the
    relation cache and its temp views are per session.

    Using a separate session instead of mutating ``parent.conf`` makes the
    small-input fast path safe under concurrency: two threads can run a
    small and a large query simultaneously without racing on AQE/codegen
    settings (each DataFrame executes under its own session's conf).
    """
    key = id(parent)
    with _small_lock:
        # cascade guard: asking for the small session OF a small session
        # must not spawn a third session
        for s in _small_sessions.values():
            if s is parent:
                return parent
        s = _small_sessions.get(key)
        if s is None:
            s = parent.newSession()
            for k, v in _SMALL_QUERY_CONF.items():
                s.conf.set(k, v)
            _small_sessions[key] = s
        return s


def get_spark(app_name: str = "parquery_spark") -> SparkSession:
    """Return the process-wide SparkSession, creating it on first use.

    ``_DEFAULTS`` (and ``PARQUERY_SPARK_CONF_*`` over them) apply only
    when this call builds the session.  An already-active session is
    adopted as it is, static confs included: it keeps whatever
    generated-class cache bound (``spark.sql.codegen.cache.maxEntries``)
    it was built with."""
    global _parent_session
    if _alive(_parent_session):
        return _parent_session
    _parent_session = None
    active = SparkSession.getActiveSession()
    if active is not None:
        _parent_session = active
        return active

    master = os.environ.get("PARQUERY_SPARK_MASTER", "local[*]")
    builder = SparkSession.builder.master(master).appName(app_name)

    conf = dict(_DEFAULTS)
    cpus = os.cpu_count() or 8
    conf["spark.sql.shuffle.partitions"] = os.environ.get(
        "PARQUERY_SPARK_SHUFFLE_PARTITIONS", str(min(cpus, 32))
    )
    # In local mode the driver JVM IS the executor: Spark's 1g default heap
    # GC-thrashes as soon as 32 task threads + columnar caches + shuffle
    # buffers coexist (measured: 32 trivial tasks crawling at ~1/s, OOM on a
    # 32M-row sum).  Default to a heap sized for the advertised local target
    # (local[32] / 128 GiB box); real clusters set executor memory and never
    # hit this branch.
    mem = os.environ.get("PARQUERY_SPARK_MEMORY")
    if mem:
        conf["spark.driver.memory"] = mem
    elif master.startswith("local"):
        conf["spark.driver.memory"] = "16g"
    for key, value in os.environ.items():
        if key.startswith("PARQUERY_SPARK_CONF_"):
            conf[key[len("PARQUERY_SPARK_CONF_"):].replace("__", ".")] = value

    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _parent_session = spark
    return spark
