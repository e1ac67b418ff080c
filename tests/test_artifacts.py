"""The artifact lifecycle (``parquery_spark.artifacts``): keys, the owner
check, clearing, one relation cache for artifact reads, and a lint that
keeps artifact paths from being hand-built elsewhere."""

from __future__ import annotations

import ast
import hashlib
import os
import tempfile
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from parquery_spark import artifacts, fs, relations

PACKAGE = Path(__file__).resolve().parent.parent / "parquery_spark"

#: the only modules that may name a path under the temp root: the artifact
#: store and the snapshot-copy fallback of ``aggregate._pinned_snapshot``
TEMPDIR_CALLERS = {"artifacts.py", "aggregate.py"}


@pytest.fixture
def tmp_root(tmp_path, monkeypatch):
    root = tmp_path / "root"
    root.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(root))
    return root


def _marker_build(t):
    os.makedirs(t)
    open(os.path.join(t, "_SUCCESS"), "w").close()


def test_one_local_table_keeps_the_stat_dir_key(tmp_root, tmp_path):
    (tmp_path / "orders.parquet").write_bytes(b"x")
    src = str(tmp_path / "orders.parquet")
    st = os.stat(src)
    ident = f"{os.path.abspath(src)}|{st.st_mtime_ns}|{st.st_size}|v1"
    want = f"pqs_demo_{hashlib.md5(ident.encode()).hexdigest()[:10]}"
    got = artifacts.artifact(
        str(tmp_path), "orders", "v1", "demo", _marker_build
    )
    assert got == str(tmp_root / want)
    assert os.path.exists(os.path.join(got, "_SUCCESS"))


def test_every_source_table_is_in_the_key(tmp_root, tmp_path):
    for t in ("orders", "lineitem"):
        (tmp_path / f"{t}.parquet").write_bytes(b"x")
    one = artifacts.artifact(
        str(tmp_path), "lineitem", "v1", "demo", _marker_build
    )
    both = artifacts.artifact(
        str(tmp_path), ["lineitem", "orders"], "v1", "demo", _marker_build
    )
    assert one != both
    (tmp_path / "orders.parquet").write_bytes(b"xy")  # a new orders version
    again = artifacts.artifact(
        str(tmp_path), ["lineitem", "orders"], "v1", "demo", _marker_build
    )
    assert again != both


def test_refuses_an_artifact_owned_by_another_uid(
    tmp_root, tmp_path, monkeypatch
):
    (tmp_path / "orders.parquet").write_bytes(b"x")
    args = (str(tmp_path), "orders", "v1", "demo", _marker_build)
    artifacts.artifact(*args)
    uid = os.getuid()
    monkeypatch.setattr(os, "getuid", lambda: uid + 1)
    with pytest.raises(PermissionError, match="owned by uid"):
        artifacts.artifact(*args)


def test_clear_removes_artifacts_and_keeps_fixtures(tmp_root):
    d = tmp_root / "pqs_demo_0123456789"
    d.mkdir()
    (d / "_SUCCESS").write_text("")
    f = tmp_root / "pqs_nation_abcdef0123.csv"
    f.write_text("a,b\n")
    smoke = tmp_root / "pqs_smoke_sf1"
    smoke.mkdir()
    other = tmp_root / "unrelated"
    other.mkdir()
    lock = artifacts.clear()
    try:
        assert not d.exists() and not f.exists()
        assert smoke.is_dir() and other.is_dir()
        assert (tmp_root / f"pqs_audit.{os.getuid()}.lock").exists()
        # the lock is held: a second clearing run refuses instead of racing
        with pytest.raises(RuntimeError, match="holds"):
            artifacts.clear()
    finally:
        lock.close()


def test_index_reads_share_the_relation_cache(spark, tmp_path):
    """An index layout an operator reads is an entry of the one relation
    cache, so ``relations.invalidate`` of the directory makes the next
    read build a new relation."""
    import numpy as np

    from parquery_spark.operators import ivf

    index = tmp_path / "index"
    for cell in (0, 1):
        (index / f"cell={cell}").mkdir(parents=True)
        pq.write_table(
            pa.table({"vec_id": [cell], "embedding": [[1.0, float(cell)]]}),
            index / f"cell={cell}" / "part-0.parquet",
        )
    index = str(index)
    centroids = np.array([[1.0, 0.0], [0.0, 1.0]])

    def entries():
        return [df for key, df in relations._relations.items()
                if any(f[0] == fs.canonical(index) for f in key[1])]

    ivf.ivf_topk(spark, index, centroids, [1.0, 0.0], k=1, nprobe=2)
    (first,) = entries()
    relations.invalidate(index)
    assert entries() == []
    got = ivf.ivf_topk(spark, index, centroids, [1.0, 0.0], k=1, nprobe=2)
    (second,) = entries()
    assert second is not first
    assert [r["vec_id"] for r in got.collect()] == [0]


def _calls_gettempdir(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "gettempdir"
    )


def test_only_two_modules_name_temp_paths():
    """A new hand-built artifact path has to change this test in the open:
    artifacts are named by ``artifacts.artifact`` alone."""
    found = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        if any(_calls_gettempdir(n) for n in ast.walk(tree)):
            found.add(path.relative_to(PACKAGE).as_posix())
    assert found == TEMPDIR_CALLERS


def test_q171_leaves_the_session_conf_alone(spark, sf_dir, tmp_root):
    """q171's dynamic partition overwrite is a per-write option: the
    shared session keeps static overwrites, so an artifact built after it
    (a partitioned write that must leave ``_SUCCESS``) still publishes."""
    from parquery_spark import queries

    conf = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(conf)
    assert queries.q171_dynamic_partition_overwrite(spark, sf_dir).count() > 0
    assert spark.conf.get(conf) == before
    assert queries.q98_partitioned_dataset(spark, sf_dir).count() > 0
