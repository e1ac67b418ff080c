"""Driver-side Parquet read schema (``relations._read``): the schema taken
from the footers on the driver must equal Spark's inferred one, a cold
``aggregate_pq`` must run one Spark job, and a missing or truncated file
must fail exactly as Spark's inferring read fails."""

from __future__ import annotations

import datetime as dt
import decimal
import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from parquery_spark import aggregate_pq, relations
from parquery_spark.write import df_to_parquet
from perfbench import datagen


def _inferred(spark, paths):
    reader = spark.read
    if len(paths) > 1:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(*paths).schema


def _outcome(fn):
    """``("ok", value)`` or ``("err", exception type, error condition)``."""
    try:
        return ("ok", fn())
    except Exception as exc:  # noqa: BLE001 - the type is what is compared
        cond = exc.getCondition() if hasattr(exc, "getCondition") else None
        return ("err", type(exc), cond)


def _assert_driver_schema(spark, paths):
    df = relations._read_with_footer_schema(spark, paths)
    assert df is not None, paths
    assert df.schema == _inferred(spark, paths), paths
    assert relations._read(spark, paths).schema == df.schema


def _odd_types_file(path):
    ts = [dt.datetime(2024, 1, 1, 12, 0, 0, 123456), None]
    table = pa.table({
        "u8": pa.array([1, 255], pa.uint8()),
        "u16": pa.array([1, 65535], pa.uint16()),
        "u32": pa.array([1, 2**32 - 1], pa.uint32()),
        "u64": pa.array([1, 2**63], pa.uint64()),
        "i8": pa.array([-1, 1], pa.int8()),
        "f32": pa.array([1.5, None], pa.float32()),
        "dec": pa.array([decimal.Decimal("1.25"), None], pa.decimal128(12, 2)),
        "big_dec": pa.array([decimal.Decimal("1.5"), None], pa.decimal128(30, 1)),
        "day": pa.array([dt.date(2024, 1, 1), None], pa.date32()),
        "ts_ns": pa.array(ts, pa.timestamp("ns")),
        "ts_ms_utc": pa.array(ts, pa.timestamp("ms", tz="UTC")),
        "raw": pa.array([b"\x00\x01", None], pa.binary()),
        "s": pa.array(["a", None], pa.large_string()),
        "cat": pa.array(["x", "y"]).dictionary_encode(),
        "flag": pa.array([True, None], pa.bool_()),
        "ints": pa.array([[1, 2], None], pa.list_(pa.int32())),
        "rec": pa.array([{"a": 1, "b": "x"}, None],
                        pa.struct([("a", pa.int64()), ("b", pa.string())])),
        "kv": pa.array([[("k", 1)], None], pa.map_(pa.string(), pa.int64())),
    })
    pq.write_table(table, path)
    legacy = path.replace(".parquet", "_int96.parquet")
    pq.write_table(table.select(["ts_ns", "u8"]), legacy,
                   use_deprecated_int96_timestamps=True)
    return [path, legacy]


@pytest.fixture(scope="module")
def corpus(spark, sf_dir, tmp_path_factory):
    """Every single-file case: the scale-0.001 tables, generated TPC-H and
    churn files written by the engine's writer, odd Parquet types and
    Spark-written parts carrying the Spark row-metadata key."""
    root = tmp_path_factory.mktemp("footer_schema")
    files = sorted(glob.glob(os.path.join(sf_dir, "*.parquet")))
    for name, table in datagen.tpch_tables(7, 0.0005).items():
        files.append(df_to_parquet(table, str(root / f"gen_{name}.parquet")))
    files.append(df_to_parquet(datagen.churn_table(7, 0, 0, 500),
                               str(root / "churn.parquet")))
    files += _odd_types_file(str(root / "odd.parquet"))
    parts = str(root / "spark_parts")
    (
        spark.range(40)
        .select(
            F.col("id").alias("id", metadata={"comment": "row id"}),
            (F.col("id") % 3).cast("short").alias("k"),
            F.array(F.col("id"), F.col("id") + 1).alias("pair"),
            F.current_timestamp().alias("at"),
        )
        .repartition(2)
        .write.parquet(parts)
    )
    files += sorted(glob.glob(os.path.join(parts, "part-*.parquet")))
    return root, files


class TestSchemaEquivalence:
    def test_single_files(self, spark, corpus):
        _, files = corpus
        for p in files:
            _assert_driver_schema(spark, [p])

    def test_merged_list_follows_path_order(self, spark, tmp_path):
        a, b = str(tmp_path / "b_first.parquet"), str(tmp_path / "a_second.parquet")
        pq.write_table(pa.table({"k": [1], "x": [1.0]}), a)
        pq.write_table(pa.table({"k": [2], "y": ["s"], "z": [[1]]}), b)
        _assert_driver_schema(spark, [a, b])
        _assert_driver_schema(spark, [b, a])

    def test_spark_parts_as_list(self, spark, corpus):
        root, _ = corpus
        parts = sorted(glob.glob(str(root / "spark_parts" / "part-*.parquet")))
        assert len(parts) == 2
        _assert_driver_schema(spark, parts)

    @pytest.mark.parametrize("nested", [False, True])
    def test_names_differing_in_case_keep_inferring_read(self, spark, tmp_path, nested):
        def write(path, name):
            if nested:
                rec = pa.struct([(name, pa.float64())])
                col = {"rec": pa.array([{name: 1.0}], rec)}
            else:
                col = {name: [1.0]}
            pq.write_table(pa.table({"k": [1], **col}), path)

        a, b = str(tmp_path / "lower.parquet"), str(tmp_path / "upper.parquet")
        write(a, "amount")
        write(b, "AMOUNT")
        assert spark.conf.get("spark.sql.caseSensitive") == "false"
        # readSchema merges case-sensitively, the inferring job does not:
        # Spark rejects the case-colliding merge as a user schema
        with pytest.raises(AnalysisException, match="COLUMN_ALREADY_EXISTS"):
            relations._read_with_footer_schema(spark, [a, b])
        assert _outcome(lambda: relations._read(spark, [a, b]).schema) == (
            _outcome(lambda: _inferred(spark, [a, b]))
        )

    def test_conflicting_types_raise_sparks_error(self, spark, tmp_path):
        a, b = str(tmp_path / "int.parquet"), str(tmp_path / "str.parquet")
        pq.write_table(pa.table({"v": [1]}), a)
        pq.write_table(pa.table({"v": ["x"]}), b)
        got = _outcome(lambda: relations._read(spark, [a, b]).schema)
        assert got[0] == "err"
        assert got == _outcome(lambda: _inferred(spark, [a, b]))

    def test_directory_keeps_inferring_read(self, spark, corpus):
        root, _ = corpus
        parts = str(root / "spark_parts")
        assert relations._read_with_footer_schema(spark, [parts]) is None
        assert relations._read(spark, [parts]).schema == _inferred(spark, [parts])


def _job_ids(spark) -> set[int]:
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc._jsc.sc().statusStore().jobsList(None)
    return {jobs.apply(i).jobId() for i in range(jobs.size())}


class TestJobCount:
    def test_cold_aggregate_runs_one_job(self, spark, tmp_path):
        warm = str(tmp_path / "warm.parquet")
        pq.write_table(pa.table({"d": [1, 2], "m": [1.0, 2.0]}), warm)
        aggregate_pq(warm, ["d"], [["m", "sum"]])
        p = str(tmp_path / "cold.parquet")
        pq.write_table(pa.table({"d": [1, 1, 2], "m": [1.0, 2.0, 4.0]}), p)
        before = _job_ids(spark)
        res = aggregate_pq(p, ["d"], [["m", "sum"]])
        assert len(_job_ids(spark) - before) == 1
        assert dict(zip(res["d"].to_pylist(), res["m"].to_pylist())) == {1: 3.0, 2: 4.0}


def _truncate(path):
    with open(path, "rb") as fh:
        data = fh.read()
    with open(path, "wb") as fh:
        fh.write(data[: len(data) // 2])


def _table(n=1000):
    return pa.table({"d": [i % 7 for i in range(n)], "m": [float(i) for i in range(n)]})


class TestErrorParity:
    """``_read`` fails exactly as Spark's inferring ``spark.read.parquet``
    fails."""

    def test_missing_file(self, spark, tmp_path):
        p = str(tmp_path / "gone.parquet")
        got = _outcome(lambda: relations._read(spark, [p]))
        assert got[0] == "err" and issubclass(got[1], AnalysisException)
        assert got[2] == "PATH_NOT_FOUND"
        assert got == _outcome(lambda: spark.read.parquet(p))

    def test_truncated_file(self, spark, tmp_path):
        p = str(tmp_path / "half.parquet")
        pq.write_table(_table(), p)
        _truncate(p)
        got = _outcome(lambda: relations._read(spark, [p]))
        assert got[0] == "err"
        assert got == _outcome(lambda: spark.read.parquet(p))

    def test_ignore_corrupt_files(self, spark, tmp_path):
        good, bad = str(tmp_path / "good.parquet"), str(tmp_path / "bad.parquet")
        pq.write_table(_table(), good)
        pq.write_table(_table(), bad)
        _truncate(bad)
        spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
        try:
            _assert_driver_schema(spark, [good, bad])
            # no footer left: the inferring read reports it
            assert relations._read_with_footer_schema(spark, [bad]) is None
            assert _outcome(lambda: relations._read(spark, [bad]).schema) == (
                _outcome(lambda: spark.read.parquet(bad).schema)
            )
        finally:
            spark.conf.unset("spark.sql.files.ignoreCorruptFiles")

    @pytest.mark.parametrize("damage", ["delete", "truncate"])
    def test_file_changed_after_preflight(self, spark, tmp_path, monkeypatch, damage):
        """The file is deleted or truncated after the pre-flight read its
        footer and before the relation is built."""
        p = str(tmp_path / f"{damage}.parquet")
        pq.write_table(_table(), p)
        real = relations.schema_names
        damaged = []

        def preflight_then_damage(path):
            names = real(path)
            if not damaged:
                damaged.append(path)
                if damage == "delete":
                    os.remove(path)
                else:
                    _truncate(path)
            return names

        monkeypatch.setattr(relations, "schema_names", preflight_then_damage)
        got = _outcome(lambda: aggregate_pq(p, ["d"], [["m", "sum"]]))
        assert got[0] == "err"
        expected = _outcome(lambda: spark.read.parquet(p).count())
        assert got[1] is expected[1] and got[2] == expected[2]
