"""A non-local ``sf_dir``: the test data mounted through Hadoop ViewFs (it
ships in hadoop-common, so no network is needed).  pyarrow has no working
backend for ``viewfs://``, so footer and probe-vector reads go through
``fs._JStream``."""

from __future__ import annotations

import os

import pytest

from parquery_spark import fs, relations
from parquery_spark.queries import (
    QUERIES,
    q09_missing_column_splice,
    q67_csv_source,
    q84_streaming_window_counts,
    q185_item_similarity,
    q210_bpe_train_merges,
    q220_triplet_mining,
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


def test_probe_vector_query_over_viewfs(spark, viewfs_sf_dir, sf_dir):
    """q220 reads its anchor vectors on the driver with pyarrow; on a
    non-local ``sf_dir`` that read goes through ``fs.open_input``."""
    got = q220_triplet_mining(spark, viewfs_sf_dir)
    want = q220_triplet_mining(spark, sf_dir)
    assert got.columns == want.columns
    rows = sorted(got.collect())
    assert rows and rows == sorted(want.collect())


def _rows(df) -> list[tuple]:
    return sorted(tuple(str(v) for v in row) for row in df.collect())


@pytest.mark.parametrize(
    "query",
    [
        # a driver-side pyarrow read of a data file
        q67_csv_source,
        # a streaming source directory linked or copied from the data
        q84_streaming_window_counts,
        # an in-process memo keyed by the data file's version
        q210_bpe_train_merges,
    ],
    ids=lambda q: q.__name__.split("_")[0],
)
def test_driver_side_data_access_over_viewfs(spark, viewfs_sf_dir, sf_dir, query):
    got = query(spark, viewfs_sf_dir)
    want = query(spark, sf_dir)
    assert got.columns == want.columns
    rows = _rows(got)
    assert rows and rows == _rows(want)


@pytest.mark.slow
def test_every_query_over_viewfs(spark, viewfs_sf_dir, sf_dir):
    """The whole registry answers over ViewFs exactly as it does locally."""
    failed = {}
    for name, (fn, *_) in QUERIES.items():
        try:
            got = fn(spark, viewfs_sf_dir)
            want = fn(spark, sf_dir)
            if got.columns != want.columns or _rows(got) != _rows(want):
                failed[name] = "differs from the local result"
        except Exception as exc:
            failed[name] = f"{type(exc).__name__}: {str(exc)[:200]}"
    assert not failed, "\n".join(f"{n}: {why}" for n, why in sorted(failed.items()))
