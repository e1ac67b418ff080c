"""Structured Streaming operators over the event stream: watermarked
tumbling-window aggregation and stateful sessionization.

The reference is batch-only — its docs' "streaming execution" means
pipelined batch reads (reference: parquery/aggregate_duckdb.py:81-86;
SURVEY.md §2.4) — so this module is a beyond-reference capability, built on
the real streaming engine:

* ``readStream`` file source over a parquet directory (at scale: Kafka/
  Kinesis — the transformation graph is identical).
* Event-time watermarks bound state: late rows beyond the watermark are
  dropped, so state size is O(windows in flight), not O(stream length).
* The windowed aggregation is the same ``F.window`` expression the batch
  query q30 uses — one definition of correctness for both modes.
* Sessionization uses ``applyInPandasWithState`` (per-key timeout state),
  the custom-stateful-operator escape hatch.
* :func:`drain` runs a bounded stream to completion into an artifact build
  directory; it and :func:`await_drain` are the only code that waits on a
  streaming query.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def _window_agg(events: DataFrame, window: str) -> DataFrame:
    return (
        events.groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(
            F.count("event_id").alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def windowed_event_counts(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming tumbling-window counts with an event-time watermark.
    Returns the streaming DataFrame; attach ``.writeStream`` to run."""
    stream = (
        spark.readStream.schema(schema).parquet(source_dir)
        .withWatermark("ts", watermark)
    )
    return _window_agg(stream, window)


def windowed_event_counts_batch(events: DataFrame, window: str = "1 hour") -> DataFrame:
    """Batch twin of :func:`windowed_event_counts` — identical expression
    graph, so batch backfill and the live stream agree by construction."""
    return _window_agg(events, window)


SESSION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_ms", T.LongType()),
        T.StructField("end_ms", T.LongType()),
        T.StructField("n", T.LongType()),
    ]
)


def _session_fn(key, pdfs, state: GroupState):
    """Emit a session row when a user's event gap exceeds the timeout."""
    import pandas as pd

    if state.hasTimedOut:
        start_ms, end_ms, n = state.get
        state.remove()
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "session_start": [pd.Timestamp(start_ms, unit="ms")],
                "session_end": [pd.Timestamp(end_ms, unit="ms")],
                "n_events": [n],
            }
        )
        return

    ts_min, ts_max, count = None, None, 0
    for pdf in pdfs:
        if len(pdf) == 0:
            continue
        batch_min, batch_max = pdf["ts"].min(), pdf["ts"].max()
        ts_min = batch_min if ts_min is None else min(ts_min, batch_min)
        ts_max = batch_max if ts_max is None else max(ts_max, batch_max)
        count += len(pdf)
    if count:
        if state.exists:
            start_ms, end_ms, n = state.get
        else:
            start_ms, end_ms, n = ts_min.value // 1_000_000, 0, 0
        state.update((start_ms, ts_max.value // 1_000_000, n + count))
        state.setTimeoutDuration(30 * 60 * 1000)  # 30 min inactivity
    yield from ()


def sessionize_stream(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
) -> DataFrame:
    """Custom stateful operator: per-user session assembly with a 30-minute
    inactivity timeout via ``applyInPandasWithState``.  State per key is a
    3-tuple — constant memory per active user regardless of stream length.

    Not drainable: under an ``availableNow`` trigger the processing-time
    timeout keeps the query running no-data batches, so it does not finish
    while any session is open.  Run it live, or one batch at a time."""
    stream = spark.readStream.schema(schema).parquet(source_dir)
    return (
        stream.groupBy("user_id")
        .applyInPandasWithState(
            _session_fn,
            outputStructType=SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def dedup_stream(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    key_cols: list[str] | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming EXACT dedup — the online half of the corpus-dedup surface
    (the batch half is ``operators.dedup`` / ``operators.graph``).

    ``dropDuplicatesWithinWatermark`` keeps one row per key and expires a
    key's state once the watermark passes it: state is O(keys inside the
    watermark window), not O(stream length) — the property that makes
    streaming dedup viable on an unbounded ingest feed.  Re-deliveries
    (at-least-once sources) and content re-posts inside the window are
    dropped; a re-post arriving after the watermark is a NEW row by design
    (bound the window, bound the state — the batch dedup downstream owns
    full-history exactness).
    """
    stream = (
        spark.readStream.schema(schema).parquet(source_dir)
        .withWatermark("ts", watermark)
    )
    return stream.dropDuplicatesWithinWatermark(key_cols or ["event_id"])


def _events_stream_schema(ts_is_nanos: bool) -> T.StructType:
    # a file stream needs a user-provided schema; ts mirrors the
    # ``queries.load_events`` contract — TIMESTAMP(NANOS) surfaces as a
    # nanosecond long (session-wide ``nanosAsLong``), TIMESTAMP(MICROS)
    # as a plain timestamp
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField(
                "ts", T.LongType() if ts_is_nanos else T.TimestampType()
            ),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def events_stream(
    spark: SparkSession,
    source_dir: str,
    watermark: str = "2 hours",
    options: dict | None = None,
) -> DataFrame:
    """The events table as a watermarked file stream.

    The on-disk ``ts`` unit is detected from one file's footer (driver-
    side metadata read): nanosecond longs are down-converted with INTEGER
    ``div`` — float division of ~1.7e18 ns values exceeds float64's 2^53
    exact-integer range and would corrupt microseconds — microsecond
    timestamps pass through.  Watermark attaches to the derived event
    time either way."""
    import glob

    import pyarrow.parquet as papq

    sample = sorted(glob.glob(os.path.join(source_dir, "*.parquet")))
    ts_is_nanos = bool(sample) and str(
        papq.read_schema(sample[0]).field("ts").type
    ).startswith("timestamp[ns")
    if ts_is_nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = spark.readStream.schema(_events_stream_schema(ts_is_nanos))
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    stream = reader.parquet(source_dir)
    if ts_is_nanos:
        stream = stream.withColumn(
            "ts", F.expr("timestamp_micros(ts div 1000)")
        )
    return stream.withWatermark("ts", watermark)


def interval_join_preagg(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    interval_sec: int = 3600,
) -> DataFrame:
    """Stream-stream interval join with PRE-AGGREGATED state: exact
    (left, right) pairs with ``right_ts`` in ``[left_ts, left_ts +
    interval_sec]`` per ``key`` — same semantics as the raw watermarked
    interval join (q170 keeps that shape as the documented worst case),
    but the state the engine buffers is one row per ``(key, window)``
    instead of one row per EVENT.

    The raw join's state grows exactly linearly with event rate
    (measured in SCALING.md round 9: 8.7 MB → 822 MB at ×100) because
    both sides buffer every in-watermark event individually.  Here each
    side is first aggregated to ``(key, sliding window)`` grain —
    duration ``2*interval`` sliding by ``interval``, timestamps packed
    into an array — and the two AGGREGATED streams are stream-stream
    joined on ``(window, key)`` equality (the chained-stateful-operator
    pattern Spark supports since 3.5).  State rows are then bounded by
    ``distinct(key, window)`` on either side — invariant to event RATE —
    and the per-event cost inside a row is one packed 8-byte timestamp
    instead of a full state-store row.

    Exactness: pairs are enumerated from the packed timestamps with
    higher-order functions, and every pair is counted exactly ONCE via
    first-half ownership — a left event ``c`` belongs to two sliding
    windows, but only the window whose start is ``interval``-aligned at
    ``floor(c)`` has ``c`` in its first half, and that window provably
    contains every right partner in ``[c, c + interval]`` (``c < start +
    interval`` ⇒ ``c + interval < start + 2*interval`` = window end).
    No approximation anywhere — the delays downstream are exact
    timestamp differences.

    Append-mode note: aggregated rows (hence joined pairs) only EMIT
    once the watermark passes the window end — finite drains need the
    ``_sentinel_stream_dir`` closing batches, one sentinel type per
    filtered branch (the q97/q170 mechanism)."""
    dur = f"{2 * interval_sec} seconds"
    slide = f"{interval_sec} seconds"

    def agg_side(df: DataFrame, ts: str) -> DataFrame:
        return df.groupBy(
            F.window(ts, dur, slide).alias("win"),
            F.col(key).alias("__k"),
        ).agg(F.collect_list(ts).alias(f"__{ts}_arr"))

    joined = agg_side(left, left_ts).join(
        agg_side(right, right_ts), ["win", "__k"], "inner"
    )
    half = F.col("win.start") + F.expr(f"INTERVAL {interval_sec} SECONDS")
    pairs = joined.select(
        F.col("__k").alias(key),
        F.explode(
            F.flatten(
                F.transform(
                    F.filter(f"__{left_ts}_arr", lambda c: c < half),
                    lambda c: F.transform(
                        F.filter(
                            f"__{right_ts}_arr",
                            lambda p: (p >= c)
                            & (
                                p
                                <= c
                                + F.expr(
                                    f"INTERVAL {interval_sec} SECONDS"
                                )
                            ),
                        ),
                        lambda p: F.struct(
                            c.alias(left_ts), p.alias(right_ts)
                        ),
                    ),
                )
            )
        ).alias("__pair"),
    )
    return pairs.select(
        key, f"__pair.{left_ts}", f"__pair.{right_ts}"
    )


#: state-store partitions of a drain, captured from
#: ``spark.sql.shuffle.partitions`` at query start.  Stateful micro-batches
#: pay a per-partition, per-batch store open/commit, so a 32-way layout on
#: a laptop-sized stream spends more time on store churn than on data
#: (measured: a 4-batch outer-join drain took 4x longer than at 8).
DRAIN_STATE_PARTITIONS = 8
#: seconds a drain may run before it is stopped and reported as overrun
DRAIN_TIMEOUT_SEC = 300


def drain(stream_df: DataFrame, out_dir: str, output_mode: str = "append") -> None:
    """Run a bounded stream to completion through the real streaming
    engine (``availableNow``: the same watermark and state machinery as a
    live run, finite input) and write its result to ``out_dir`` as
    parquet — the harness that lets streaming operators sit in the
    oracled query suite.  Callers pass an artifact build directory
    (``artifacts.artifact``), which owns naming, reuse and publishing.

    ``output_mode`` is ``"append"`` or ``"complete"``.  Each micro-batch
    is written through ``foreachBatch``: appended in append mode,
    overwriting in complete mode (each batch is then the whole result).
    A stream that produces no batch writes an empty result with the
    stream's schema.  The checkpoint lives beside ``out_dir`` for the
    drain's duration only: a drain always starts from an empty one.  A
    stream exception propagates; an overrun stops the stream and raises
    ``TimeoutError`` (:func:`await_drain`)."""
    import shutil

    spark = stream_df.sparkSession
    mode = {"append": "append", "complete": "overwrite"}[output_mode]
    wrote = []

    def write(batch: DataFrame, batch_id: int) -> None:
        batch.write.mode(mode).parquet(out_dir)
        wrote.append(batch_id)

    ckpt = out_dir.rstrip("/") + ".checkpoint"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(DRAIN_STATE_PARTITIONS))
    try:
        await_drain(
            stream_df.writeStream.foreachBatch(write)
            .option("checkpointLocation", ckpt)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        shutil.rmtree(ckpt, ignore_errors=True)
    if not wrote:
        spark.createDataFrame([], stream_df.schema).write.parquet(out_dir)


def await_drain(query: StreamingQuery) -> None:
    """Wait for a started ``availableNow`` query to finish.  A query that
    failed raises its ``StreamingQueryException`` (``awaitTermination``
    re-raises it); one still running after :data:`DRAIN_TIMEOUT_SEC` is
    stopped (so it writes nothing more) and raises ``TimeoutError`` —
    reading its output now would return a truncated prefix."""
    if not query.awaitTermination(DRAIN_TIMEOUT_SEC):
        query.stop()
        raise TimeoutError(
            f"streaming drain {query.id} exceeded {DRAIN_TIMEOUT_SEC}s"
        )
