"""Writer + Arrow IPC transport roundtrips (reference test model:
tests/test_serialization.py:11-92, tests/test_polars.py)."""

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from parquery_spark import (
    aggregate_pq,
    deserialize_pa_table_base64,
    deserialize_pa_table_bytes,
    df_to_parquet,
    serialize_pa_table_base64,
    serialize_pa_table_bytes,
)
from parquery_spark.transport import df_to_ipc_bytes, ipc_bytes_to_df


@pytest.fixture
def sample_table():
    return pa.table(
        {
            "d": pa.array([1, 2, 2, 3], pa.int64()),
            "s": pa.array(["a", "b", None, "d"], pa.string()),
            "m": pa.array([1.5, 2.5, 3.5, None], pa.float64()),
            "b": pa.array([True, False, True, None], pa.bool_()),
        }
    )


class TestWrite:
    def test_arrow_roundtrip(self, tmp_path, sample_table):
        out = df_to_parquet(sample_table, str(tmp_path / "t.parquet"))
        assert pq.read_table(out).equals(sample_table)
        assert pq.ParquetFile(out).metadata.row_group(0).column(0).compression == "ZSTD"

    def test_pandas_chunked(self, tmp_path):
        df = pd.DataFrame({"a": range(250), "b": [float(i) for i in range(250)]})
        out = df_to_parquet(df, "t.parquet", workdir=str(tmp_path), chunksize=100)
        back = pq.read_table(out)
        assert back.num_rows == 250
        assert pq.ParquetFile(out).num_row_groups >= 3  # chunking honored

    def test_overwrite_existing(self, tmp_path, sample_table):
        path = str(tmp_path / "t.parquet")
        df_to_parquet(sample_table, path)
        df_to_parquet(sample_table.slice(0, 1), path)
        assert pq.read_table(path).num_rows == 1

    def test_spark_df_single_file(self, tmp_path, spark):
        df = spark.range(100).withColumnRenamed("id", "k")
        out = df_to_parquet(df, str(tmp_path / "s.parquet"))
        assert os.path.isfile(out)  # one parquet FILE, reference's unit
        assert pq.read_table(out).num_rows == 100
        # written file is itself queryable by the engine
        r = aggregate_pq(out, [], [["k", "count", "n"]])
        assert r.column("n").to_pylist() == [100]

    def test_spark_df_distributed(self, tmp_path, spark):
        df = spark.range(100)
        out = df_to_parquet(df, str(tmp_path / "d.parquet"), single_file=False)
        assert os.path.isdir(out)

    @pytest.mark.parametrize("kind", ["arrow", "spark"])
    def test_read_racing_a_replace_sees_the_old_file(
        self, tmp_path, spark, monkeypatch, kind
    ):
        """A query that runs while ``df_to_parquet`` replaces its file,
        fired from inside the write, answers from the old file: the new
        bytes are renamed into place only once complete."""
        from parquery_spark import write

        path = str(tmp_path / "r.parquet")
        df_to_parquet(pa.table({"d": [1], "m": [10.0]}), path)
        seen = []

        def query():
            r = aggregate_pq(path, ["d"], [["m", "sum", "s"]])
            seen.append(r.column("s").to_pylist())

        if kind == "arrow":
            new = pa.table({"d": [1], "m": [20.0]})
            real = pq.ParquetWriter.write_table

            def hooked(self, *args, **kwargs):
                if not seen:
                    query()
                return real(self, *args, **kwargs)

            monkeypatch.setattr(pq.ParquetWriter, "write_table", hooked)
        else:
            new = spark.createDataFrame([(1, 20.0)], "d long, m double")
            real = write._promote_single_part

            def hooked(*args):
                query()
                return real(*args)

            monkeypatch.setattr(write, "_promote_single_part", hooked)
        df_to_parquet(new, path)
        monkeypatch.undo()
        assert seen == [[10.0]]
        r = aggregate_pq(path, ["d"], [["m", "sum", "s"]])
        assert r.column("s").to_pylist() == [20.0]
        assert os.listdir(tmp_path) == ["r.parquet"]  # no temp left behind

    def test_polars_if_available(self, tmp_path):
        pl = pytest.importorskip("polars")
        df = pl.DataFrame({"a": [1, 2, 3]})
        out = df_to_parquet(df, str(tmp_path / "p.parquet"))
        assert pq.read_table(out).num_rows == 3

    def test_unsupported_type_raises(self, tmp_path):
        with pytest.raises(TypeError):
            df_to_parquet({"not": "a df"}, str(tmp_path / "x.parquet"))


class TestTransport:
    def test_bytes_roundtrip(self, sample_table):
        buf = serialize_pa_table_bytes(sample_table)
        assert isinstance(buf, bytes)  # bytes, not pa.Buffer
        assert deserialize_pa_table_bytes(buf).equals(sample_table)

    def test_base64_roundtrip(self, sample_table):
        payload = serialize_pa_table_base64(sample_table)
        assert isinstance(payload, str)
        assert deserialize_pa_table_base64(payload).equals(sample_table)

    def test_base64_no_trailing_newline(self, sample_table):
        # Wire format parity: the reference passes newline=False, so strict
        # JSON/SQS payload comparisons must see no trailing '\n'.
        payload = serialize_pa_table_base64(sample_table)
        assert not payload.endswith("\n")

    def test_spark_df_bridge(self, spark, sample_table):
        df = spark.createDataFrame(sample_table)
        buf = df_to_ipc_bytes(df)
        back = ipc_bytes_to_df(spark, buf)
        key = lambda r: tuple((v is None, str(v)) for v in r)
        assert sorted(back.collect(), key=key) == sorted(df.collect(), key=key)

    def test_aggregate_result_ships(self, synthetic_pq):
        r = aggregate_pq(synthetic_pq, ["f0"], [["f4", "sum"]])
        assert deserialize_pa_table_bytes(serialize_pa_table_bytes(r)).equals(r)


class TestCompaction:
    def test_compact_small_files(self, spark, tmp_path):
        from parquery_spark.sources.parquet import compact_dataset

        path = str(tmp_path / "frag")
        # fragmented layout: 40 files of ~50 rows
        spark.range(2000).withColumn("v", F.col("id") * 2) \
            .repartition(40).write.parquet(path)
        import glob
        assert len(glob.glob(f"{path}/*.parquet")) == 40
        before = spark.read.parquet(path).groupBy().sum("v").first()[0]

        n = compact_dataset(spark, path, target_file_bytes=1 << 30)
        files = glob.glob(f"{path}/*.parquet")
        assert n == len(files) == 1          # tiny data → one file
        after = spark.read.parquet(path).groupBy().sum("v").first()[0]
        assert before == after               # content identical
