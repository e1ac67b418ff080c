"""Streaming drains are artifacts: a registry query drains its stream once
per source version (``streaming.events.drain`` inside
``artifacts.artifact``), a warm call reads the drained parquet, and an
overrunning drain is stopped and publishes nothing."""

from __future__ import annotations

import os
import re
import tempfile
from pathlib import Path

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F
from pyspark.sql.streaming.query import StreamingQuery
from pyspark.sql.streaming.readwriter import DataStreamWriter

from parquery_spark import queries
from parquery_spark.diagnostics import record
from parquery_spark.streaming.events import drain

PACKAGE = Path(__file__).resolve().parent.parent / "parquery_spark"


@pytest.fixture
def tmp_root(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    return tmp_path


def test_warm_drain_query_starts_no_stream(spark, sf_dir, tmp_root, monkeypatch):
    q84 = queries.q84_streaming_window_counts
    cold = record(spark, "drain_cold", lambda: q84(spark, sf_dir))
    assert cold["construct_jobs"] > 0 and cold["result"] > 0

    started = []
    start = DataStreamWriter.start

    def counting_start(self, *args, **kwargs):
        started.append(self)
        return start(self, *args, **kwargs)

    monkeypatch.setattr(DataStreamWriter, "start", counting_start)
    warm = record(spark, "drain_warm", lambda: q84(spark, sf_dir))
    assert warm["construct_jobs"] == 0
    assert warm["result"] == cold["result"]
    assert started == []


def test_overrun_upsert_stream_publishes_nothing(
    spark, sf_dir, tmp_root, monkeypatch
):
    """q126 drains its upsert stream through the checked completion: an
    overrun stops the stream and raises instead of publishing whatever
    batches had landed."""
    before = {q.id for q in spark.streams.active}
    monkeypatch.setattr(
        StreamingQuery, "awaitTermination", lambda self, timeout=None: False
    )
    with pytest.raises(TimeoutError):
        queries.q126_streaming_upsert(spark, sf_dir)
    assert not [p for p in os.listdir(tmp_root) if p.startswith("pqs_supsert")]
    assert {q.id for q in spark.streams.active} <= before


def _stream_of(spark, src, rows_per_file):
    """A file stream over ``src`` with one micro-batch per file."""
    for rows in rows_per_file:
        spark.createDataFrame(rows, "k string").coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
    return (
        spark.readStream.schema("k string")
        .option("maxFilesPerTrigger", "1").parquet(str(src))
    )


def test_complete_mode_drain_keeps_the_whole_result(spark, tmp_path):
    stream = _stream_of(spark, tmp_path / "src", [[("a",), ("b",)], [("a",)]])
    out = str(tmp_path / "out")
    drain(stream.groupBy("k").count(), out, output_mode="complete")
    got = {r["k"]: r["count"] for r in spark.read.parquet(out).collect()}
    assert got == {"a": 2, "b": 1}
    assert not os.path.exists(out + ".checkpoint")


def test_empty_stream_drains_to_its_schema(spark, tmp_path):
    (tmp_path / "src").mkdir()
    stream = spark.readStream.schema("k string, n long").parquet(
        str(tmp_path / "src")
    )
    out = str(tmp_path / "out")
    drain(stream, out)
    result = spark.read.parquet(out)
    assert result.columns == ["k", "n"] and result.count() == 0


def test_failed_stream_raises_and_leaves_no_checkpoint(spark, tmp_path):
    stream = _stream_of(spark, tmp_path / "src", [[("a",)]])
    out = str(tmp_path / "out")
    with pytest.raises(StreamingQueryException, match="boom"):
        drain(stream.select(F.raise_error(F.lit("boom")).alias("k")), out)
    assert not os.path.exists(out + ".checkpoint")


#: calls that start, wait on or name a streaming query
_STREAM_CONTROL = re.compile(r'awaitTermination\(|format\("memory"\)|queryName\(')


def test_only_the_drain_primitive_waits_on_streams():
    """Registry code drains streams through ``streaming.events.drain`` /
    ``await_drain``: a second hand-rolled wait (or a memory sink, whose
    table outlives the query under a fixed name) has to change this test
    in the open."""
    hits = {
        path.relative_to(PACKAGE).as_posix()
        for path in PACKAGE.rglob("*.py")
        if _STREAM_CONTROL.search(path.read_text())
    }
    assert hits == {"streaming/events.py"}
