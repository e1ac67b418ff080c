"""Multi-file/partitioned sources and text-analysis function tests."""

import os

import pytest
from pyspark.sql import functions as F

from parquery_spark.functions import text
from parquery_spark.sources import (
    read_parquet_dataset,
    read_parquet_files,
    write_partitioned,
)


class TestSources:
    @pytest.fixture(scope="class")
    def two_files(self, spark, tmp_path_factory):
        d = tmp_path_factory.mktemp("multi")
        spark.createDataFrame([(1, "a")], ["k", "v"]).coalesce(1).write.parquet(
            str(d / "f1")
        )
        # second file has an extra column — schema drift
        spark.createDataFrame(
            [(2, "b", 9.5)], ["k", "v", "extra"]
        ).coalesce(1).write.parquet(str(d / "f2"))
        return [str(d / "f1"), str(d / "f2")]

    def test_multi_file_read(self, spark, two_files):
        df = read_parquet_files(spark, two_files)
        assert df.count() == 2

    def test_merge_schema_fills_missing_with_null(self, spark, two_files):
        df = read_parquet_files(spark, two_files, merge_schema=True)
        assert "extra" in df.columns
        vals = {r["k"]: r["extra"] for r in df.collect()}
        assert vals[1] is None and vals[2] == 9.5

    def test_partitioned_roundtrip_and_pruning(self, spark, tmp_path_factory):
        path = str(tmp_path_factory.mktemp("part") / "ds")
        df = spark.createDataFrame(
            [(i, "x" if i % 2 else "y", float(i)) for i in range(20)],
            ["id", "part_key", "val"],
        )
        write_partitioned(df, path, ["part_key"])
        back = read_parquet_dataset(spark, path)
        assert back.count() == 20
        pruned = back.filter(F.col("part_key") == "x")
        assert pruned.count() == 10
        # partition pruning visible in the physical plan
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan


class TestTextFunctions:
    @pytest.fixture(scope="class")
    def sample(self, spark):
        return spark.createDataFrame(
            [
                (1, "The quick brown fox, and the lazy dog!"),
                (2, "le chat et la porte sont les des belles"),
                (3, ""),
                (4, "x " * 50),
            ],
            ["doc_id", "text"],
        )

    def test_token_count(self, sample):
        got = {
            r["doc_id"]: r["n"]
            for r in sample.select(
                "doc_id", text.token_count("text").alias("n")
            ).collect()
        }
        assert got[1] == 8 and got[3] == 0 and got[4] == 50

    def test_punct_ratio_bounds(self, sample):
        rows = sample.select(text.punct_ratio("text").alias("p")).collect()
        assert all(0.0 <= r["p"] <= 1.0 for r in rows)

    def test_lang_id(self, sample):
        got = {
            r["doc_id"]: r["lang"]
            for r in sample.select(
                "doc_id", text.lang_id("text").alias("lang")
            ).collect()
        }
        assert got[1] == "en" and got[2] == "fr" and got[3] == "unknown"

    def test_fingerprint_normalization(self, spark):
        df = spark.createDataFrame(
            [(1, "Hello,  World!"), (2, "hello world"), (3, "other")],
            ["doc_id", "text"],
        )
        fps = {
            r["doc_id"]: r["fp"]
            for r in df.select("doc_id", text.fingerprint("text").alias("fp")).collect()
        }
        assert fps[1] == fps[2] != fps[3]

    def test_quality_score_range(self, sample):
        rows = sample.select(text.quality_score("text").alias("q")).collect()
        assert all(0.0 <= r["q"] <= 1.0 for r in rows)

    def test_profile_has_no_python_udfs(self, spark, sample):
        # the whole profile must stay JVM-side: no BatchEvalPython/ArrowEval
        prof = text.text_profile(sample, "text")
        plan = prof._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan


class TestSketches:
    def test_hll_estimate_within_error_bound(self, spark, sf_dir):
        import os as _os

        from parquery_spark.functions.sketches import distinct_sketch_rollup

        orders = spark.read.parquet(_os.path.join(sf_dir, "orders.parquet"))
        est = {
            r["o_orderstatus"]: r["estimate"]
            for r in distinct_sketch_rollup(
                orders, ["o_orderstatus"], "o_custkey"
            ).collect()
        }
        exact = {
            r["o_orderstatus"]: r["n"]
            for r in orders.groupBy("o_orderstatus")
            .agg(F.countDistinct("o_custkey").alias("n"))
            .collect()
        }
        for k, true_n in exact.items():
            assert abs(est[k] - true_n) <= max(3, 0.05 * true_n), (k, est[k], true_n)

    def test_sketch_merge_equals_direct(self, spark, sf_dir):
        """Sketches built per fine key and merged must estimate the same
        as a sketch built directly at the coarse key — mergeability is the
        contract that makes incremental rollups sound."""
        import os as _os

        from parquery_spark.functions.sketches import (
            distinct_sketch_rollup,
            merge_sketch_rollups,
        )

        orders = spark.read.parquet(_os.path.join(sf_dir, "orders.parquet"))
        fine = distinct_sketch_rollup(
            orders, ["o_orderstatus", "o_orderpriority"], "o_custkey"
        )
        merged = {
            r["o_orderstatus"]: r["estimate"]
            for r in merge_sketch_rollups(fine, ["o_orderstatus"]).collect()
        }
        direct = {
            r["o_orderstatus"]: r["estimate"]
            for r in distinct_sketch_rollup(
                orders, ["o_orderstatus"], "o_custkey"
            ).collect()
        }
        assert merged == direct  # HLL union is exact over sketch state

