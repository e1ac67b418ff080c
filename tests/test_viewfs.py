"""A non-local ``sf_dir``: the test data mounted through Hadoop ViewFs (it
ships in hadoop-common, so no network is needed).  pyarrow has no working
backend for ``viewfs://``, so footer reads go through ``fs._JStream``."""

from __future__ import annotations

import os

import pytest

from parquery_spark import fs, relations
from parquery_spark.queries import (
    q09_missing_column_splice,
    q185_item_similarity,
)

_MOUNT = "fs.viewfs.mounttable.pqs.link./data"


@pytest.fixture(scope="module")
def viewfs_sf_dir(spark, sf_dir):
    conf = spark._jsc.hadoopConfiguration()
    parent, name = os.path.split(os.path.abspath(sf_dir))
    conf.set(_MOUNT, "file://" + parent)
    yield f"viewfs://pqs/data/{name}"
    conf.unset(_MOUNT)


def test_footer_schema_over_viewfs(viewfs_sf_dir, sf_dir):
    path = f"{viewfs_sf_dir}/lineitem.parquet"
    assert not fs.is_local(path)
    local = relations.schema_names(os.path.join(sf_dir, "lineitem.parquet"))
    assert relations.schema_names(path) == local


def test_missing_column_splice_over_viewfs(spark, viewfs_sf_dir, sf_dir):
    got = q09_missing_column_splice(spark, viewfs_sf_dir)
    want = q09_missing_column_splice(spark, sf_dir)
    assert got.columns == want.columns
    rows = sorted(got.collect())
    assert rows == sorted(want.collect())
    assert {r["ghost_dim"] for r in rows} == {-1}


def test_artifact_query_over_viewfs(spark, viewfs_sf_dir, sf_dir):
    """q185 builds a stat-keyed artifact from two tables: the key stats
    them through ``fs``, so a non-local ``sf_dir`` reaches Spark."""
    got = q185_item_similarity(spark, viewfs_sf_dir)
    want = q185_item_similarity(spark, sf_dir)
    assert got.columns == want.columns
    rows = sorted(got.collect())
    assert rows and rows == sorted(want.collect())
