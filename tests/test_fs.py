"""Filesystem-agnostic pre-flight (VERDICT r5 §1): the tolerant-schema
checks must work for URI schemes, not just POSIX paths.  Three layers:

* ``file://`` absolute URIs end-to-end (every backend — os.*, Hadoop FS,
  pyarrow — can serve them, so the whole aggregate path must work);
* a mocked remote filesystem (scheme ``mock://``) proving the pre-flight
  routes stat/glob/footer reads through the shim;
* an unknown scheme, proving the failure posture is FAIL LOUD at the
  Spark scan — never a silent empty result for a file that might exist.
"""

from __future__ import annotations

import ast
import os
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as papq
import pytest

from parquery_spark import fs, relations
from parquery_spark.aggregate import aggregate_pq
from parquery_spark.tool import MissingInputError

PACKAGE = Path(__file__).resolve().parent.parent / "parquery_spark"


def _write(path, a_vals):
    papq.write_table(
        pa.table({"a-31": a_vals, "m1": [1.0] * len(a_vals)}), path
    )


class TestLocalUriScheme:
    def test_scheme_helpers(self):
        assert fs.scheme_of("s3a://b/k.parquet") == "s3a"
        assert fs.scheme_of("/x/y.parquet") is None
        assert fs.is_local("file:///x/y.parquet")
        assert fs.is_local("/x/y.parquet")
        assert not fs.is_local("hdfs://nn/x.parquet")
        assert fs.local_part("file:///x/y.parquet") == "/x/y.parquet"
        assert fs.canonical("s3a://b/k.parquet") == "s3a://b/k.parquet"

    def test_file_uri_end_to_end(self, spark, tmp_path):
        """A ``file://`` URI must produce the SAME result as the plain
        path — before the shim, the POSIX pre-flight called it missing
        and returned a silent empty result."""
        target = str(tmp_path / "t.parquet")
        _write(target, [1, 1, 2])
        uri = "file://" + target

        plain = aggregate_pq(target, ["a-31"], [["m1", "sum"]])
        via_uri = aggregate_pq(uri, ["a-31"], [["m1", "sum"]])
        assert via_uri.num_rows == plain.num_rows == 2
        assert sorted(via_uri.to_pylist(), key=lambda r: r["a-31"]) == \
            sorted(plain.to_pylist(), key=lambda r: r["a-31"])

    def test_file_uri_stat_and_schema(self, tmp_path):
        target = str(tmp_path / "t.parquet")
        _write(target, [1])
        uri = "file://" + target
        assert fs.exists(uri)
        mtime_ns, size = fs.stat(uri)
        st = os.stat(target)
        assert (mtime_ns, size) == (st.st_mtime_ns, st.st_size)
        assert {"a-31", "m1"} <= relations.schema_names(uri)

    def test_file_uri_glob(self, tmp_path):
        for i in range(3):
            _write(str(tmp_path / f"part{i}.parquet"), [i])
        hits = fs.glob("file://" + str(tmp_path / "part*.parquet"))
        assert len(hits) == 3
        assert all(h.startswith("file:///") for h in hits)


class _FakeRemote:
    """In-memory 'remote' filesystem backed by a local directory; counts
    probe calls so tests can assert the shim actually routed here."""

    def __init__(self, root):
        self.root = str(root)
        self.calls = []

    def _local(self, path):
        return os.path.join(self.root, path.split("://", 1)[1])

    def stat(self, path):
        self.calls.append(("stat", path))
        st = os.stat(self._local(path))
        return st.st_mtime_ns, st.st_size

    def glob(self, pattern):
        import glob as g

        self.calls.append(("glob", pattern))
        pref = pattern.split("://", 1)[0] + "://"
        n = len(self.root) + 1
        return sorted(
            pref + p[n:] for p in g.glob(self._local(pattern))
        )

    def open_input(self, path):
        self.calls.append(("open", path))
        return open(self._local(path), "rb")


@pytest.fixture()
def mockfs(tmp_path, monkeypatch):
    fake = _FakeRemote(tmp_path)
    monkeypatch.setitem(fs._TEST_FILESYSTEMS, "mock", fake)
    return fake


class TestMockedRemote:
    def test_probes_route_through_backend(self, mockfs, tmp_path):
        _write(str(tmp_path / "t.parquet"), [1, 2])
        uri = "mock://t.parquet"
        assert fs.exists(uri)
        assert fs.stat(uri)[1] > 0
        # footer read through the backend's file object
        assert {"a-31", "m1"} <= relations.schema_names(uri)
        assert not fs.exists("mock://absent.parquet")
        kinds = {k for k, _ in mockfs.calls}
        assert {"stat", "open"} <= kinds

    def test_glob_expansion_remote(self, mockfs, tmp_path):
        for i in range(2):
            _write(str(tmp_path / f"p{i}.parquet"), [i])
        out = relations.expand_globs(["mock://p*.parquet"])
        assert out == ["mock://p0.parquet", "mock://p1.parquet"]

    def test_missing_remote_semantics(self, mockfs):
        """An ABSENT remote file keeps exact reference semantics: skip
        (empty result) under handle_missing_file=True, raise under
        False — decided by the backend's answer, not by POSIX."""
        res = aggregate_pq(
            "mock://nothing.parquet", ["a-31"], [["m1", "sum"]]
        )
        assert res.num_rows == 0
        with pytest.raises(MissingInputError):
            aggregate_pq(
                "mock://nothing.parquet", ["a-31"], [["m1", "sum"]],
                handle_missing_file=False,
            )


class TestOneResolvePerQuery:
    """A query stats each input file once, and everything downstream (the
    missing-file decision, the footer-schema cache, the size gate, the
    relation key) reads that one answer."""

    @pytest.fixture()
    def probes(self, monkeypatch):
        calls = {"stat": 0, "exists": 0, "getsize": 0}
        for name in calls:
            real = getattr(fs, name)

            def counted(path, _name=name, _real=real):
                calls[_name] += 1
                return _real(path)

            monkeypatch.setattr(fs, name, counted)
        return calls

    def test_one_stat_per_file(self, spark, tmp_path, probes):
        paths = [str(tmp_path / f"f{i}.parquet") for i in range(2)]
        for p in paths:
            _write(p, [1, 2])
        for spec in ([["m1", "sum"]], [["m1", "sum"]], [["m1", "count_distinct"]]):
            before = dict(probes)
            aggregate_pq(paths[0], ["a-31"], spec)  # cold, warm, COUNT(DISTINCT)
            assert {k: probes[k] - before[k] for k in probes} == {
                "stat": 1, "exists": 0, "getsize": 0}
        before = dict(probes)
        res = aggregate_pq([*paths, str(tmp_path / "gone.parquet")], ["a-31"],
                           [["m1", "sum"]])
        assert res.num_rows == 2
        assert {k: probes[k] - before[k] for k in probes} == {
            "stat": 3, "exists": 0, "getsize": 0}

    def test_one_version_per_query(self, spark, tmp_path, monkeypatch):
        """A backend that answers a new version on every stat, as for a
        file being replaced: the footer-schema entry and the relation key
        of one query carry the same version."""

        class Churning(_FakeRemote):
            def stat(self, path):
                return len(self.calls), super().stat(path)[1]

        fake = Churning(tmp_path)
        monkeypatch.setitem(fs._TEST_FILESYSTEMS, "mock", fake)
        real_read = relations._read
        # Spark has no reader for the fake scheme: scan the backing file
        monkeypatch.setattr(relations, "_read", lambda spark, paths: real_read(
            spark, [fake._local(p) for p in paths]))
        _write(str(tmp_path / "t.parquet"), [1, 2])
        uri = "mock://t.parquet"
        relations.invalidate(uri)
        res = aggregate_pq(uri, ["a-31"], [["m1", "sum"]])
        assert res.num_rows == 2
        with relations._lock:
            schema = [k for k in relations._schema_names if k[0] == uri]
            relation = [f for k in relations._relations for f in k[1] if f[0] == uri]
        assert len(schema) == 1 and relation == schema


class TestUnknownSchemeFailsLoud:
    def test_exists_assumes_present(self):
        assert fs.exists("nofs9z://bucket/key.parquet") is True

    def test_stat_raises(self):
        with pytest.raises(OSError):
            fs.stat("nofs9z://bucket/key.parquet")

    def test_aggregate_raises_not_empty(self, spark):
        """The old behavior: POSIX exists() → False → silent EMPTY result
        for a URI that may well exist.  New behavior: the path is assumed
        present, the Spark scan raises the real error."""
        with pytest.raises(Exception) as exc_info:
            aggregate_pq(
                "nofs9z://bucket/key.parquet", ["a-31"], [["m1", "sum"]]
            )
        # must NOT be the tolerant-missing-file skip
        assert not isinstance(exc_info.value, MissingInputError)


class TestArtifactGC:
    """_sweep_stale_versions: stale corpus versions of a stat-keyed
    artifact prefix are reaped on publish of a new version — bounded
    accumulation, never cross-uid deletion (VERDICT r9 #4)."""

    @staticmethod
    def _mk(base, tag, mtime):
        d = os.path.join(str(base), f"pqs_gcdemo_{tag}")
        os.makedirs(d)
        os.utime(d, (mtime, mtime))
        return d

    def test_sweep_keeps_newest_reaps_rest(self, tmp_path):
        from parquery_spark.artifacts import _sweep_stale_versions

        old = [self._mk(tmp_path, f"{i:010x}", 1000.0 + i) for i in range(4)]
        cur = self._mk(tmp_path, "f" * 10, 2000.0)
        _sweep_stale_versions(cur, max_versions=2)
        # budget 2 = current + newest sibling; the 3 older reaped
        assert os.path.isdir(cur)
        assert os.path.isdir(old[3])
        assert not any(os.path.exists(d) for d in old[:3])

    def test_sweep_ignores_non_artifact_names(self, tmp_path):
        from parquery_spark.artifacts import _sweep_stale_versions

        cur = self._mk(tmp_path, "f" * 10, 2000.0)
        bystander = os.path.join(str(tmp_path), "pqs_gcdemo_notahexx")
        os.makedirs(bystander)
        _sweep_stale_versions(cur, max_versions=1)
        assert os.path.isdir(bystander)  # name doesn't match the scheme
        # a final_dir that isn't stat-tag-shaped is a no-op entirely
        _sweep_stale_versions(bystander, max_versions=1)
        assert os.path.isdir(cur)

    def test_sweep_never_deletes_foreign_uid(self, tmp_path, monkeypatch):
        import types

        from parquery_spark import artifacts as q

        foreign = self._mk(tmp_path, "0" * 10, 1000.0)
        cur = self._mk(tmp_path, "f" * 10, 2000.0)
        real_stat = os.stat

        def fake_stat(path, *a, **k):
            st = real_stat(path, *a, **k)
            if str(path) == foreign:
                return types.SimpleNamespace(
                    st_uid=st.st_uid + 1, st_mtime=st.st_mtime,
                    st_mode=st.st_mode,
                )
            return st

        monkeypatch.setattr(os, "stat", fake_stat)
        q._sweep_stale_versions(cur, max_versions=1)
        assert os.path.isdir(foreign)  # skipped, not reaped

    def test_global_budget_reaps_oldest_across_prefixes(self, tmp_path):
        """Per-uid TOTAL-bytes budget across prefixes (VERDICT r10 #7):
        three prefixes staged over budget — reclamation is oldest-first
        regardless of prefix, stops once under budget, never touches the
        just-published artifact."""
        from parquery_spark.artifacts import _sweep_global_budget

        def mk(prefix, tag, mtime, nbytes):
            d = os.path.join(str(tmp_path), f"pqs_{prefix}_{tag}")
            os.makedirs(d)
            with open(os.path.join(d, "part-0"), "wb") as fh:
                fh.write(b"\0" * nbytes)
            os.utime(d, (mtime, mtime))
            return d

        a = mk("alpha", "a" * 10, 1000.0, 300)   # oldest
        b = mk("beta", "b" * 10, 2000.0, 300)
        c = mk("gamma", "c" * 10, 3000.0, 300)
        cur = mk("gamma", "f" * 10, 4000.0, 300)
        # 1200 bytes staged, budget 700: reap a (oldest), then b -> 600
        _sweep_global_budget(cur, budget_bytes=700)
        assert not os.path.exists(a) and not os.path.exists(b)
        assert os.path.isdir(c) and os.path.isdir(cur)

    def test_global_budget_skips_foreign_uid_and_current(
        self, tmp_path, monkeypatch
    ):
        import types

        from parquery_spark import artifacts as q

        def mk(prefix, tag, mtime, nbytes):
            d = os.path.join(str(tmp_path), f"pqs_{prefix}_{tag}")
            os.makedirs(d)
            with open(os.path.join(d, "part-0"), "wb") as fh:
                fh.write(b"\0" * nbytes)
            os.utime(d, (mtime, mtime))
            return d

        foreign = mk("alpha", "0" * 10, 500.0, 500)  # oldest, foreign
        mine = mk("beta", "1" * 10, 1000.0, 500)
        cur = mk("gamma", "f" * 10, 2000.0, 500)
        real_stat = os.stat

        def fake_stat(path, *args, **kw):
            st = real_stat(path, *args, **kw)
            if str(path) == foreign:
                return types.SimpleNamespace(
                    st_uid=st.st_uid + 1, st_mtime=st.st_mtime,
                    st_mode=st.st_mode,
                )
            return st

        monkeypatch.setattr(os, "stat", fake_stat)
        # budget forces reclamation of everything reapable: the foreign
        # dir is invisible to the sweep, the current artifact protected
        q._sweep_global_budget(cur, budget_bytes=100)
        assert os.path.isdir(foreign)
        assert not os.path.exists(mine)
        assert os.path.isdir(cur)

    def test_global_budget_noop_under_budget(self, tmp_path):
        from parquery_spark.artifacts import _sweep_global_budget

        d = os.path.join(str(tmp_path), "pqs_alpha_" + "a" * 10)
        os.makedirs(d)
        cur = os.path.join(str(tmp_path), "pqs_beta_" + "f" * 10)
        os.makedirs(cur)
        _sweep_global_budget(cur, budget_bytes=10**9)
        assert os.path.isdir(d) and os.path.isdir(cur)

    def test_materialize_once_gc_end_to_end(self, tmp_path):
        """Stage 8 stale corpus versions, publish a 9th via
        _materialize_once — the oldest stale version is reaped under the
        default budget, the publish itself still succeeds."""
        from parquery_spark.artifacts import _materialize_once

        stale = [
            self._mk(tmp_path, f"{i:010x}", 1000.0 + i) for i in range(8)
        ]
        for d in stale:  # marker so they look like real artifacts
            open(os.path.join(d, "_SUCCESS"), "w").close()
        final = os.path.join(str(tmp_path), "pqs_gcdemo_" + "f" * 10)

        def build(tmp_dir):
            os.makedirs(tmp_dir)
            open(os.path.join(tmp_dir, "_SUCCESS"), "w").close()

        got = _materialize_once(final, build)
        assert got == final and os.path.isdir(final)
        assert not os.path.exists(stale[0])  # oldest reaped (budget 8)
        assert all(os.path.isdir(d) for d in stale[1:])  # 7 newest kept


def _call_sites(modules, match) -> set[str]:
    """``module:function`` of every call in ``modules`` whose callee node
    ``match`` accepts."""
    found = set()
    for module in modules:
        path = PACKAGE / module
        tree = ast.parse(path.read_text(), str(path))
        funcs = [n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)]
        for node in ast.walk(tree):
            if isinstance(node, ast.Call) and match(node.func):
                owners = [f.name for f in funcs
                          if f.lineno <= node.lineno <= f.end_lineno]
                found.add(f"{module}:{owners[-1] if owners else '<module>'}")
    return found


def test_no_local_remote_fork_outside_fs():
    """Driver-side reads go through ``fs`` on every filesystem, so a
    non-local ``sf_dir`` takes the path a local one does.  Only ``fs``
    itself and the hardlink pinning of ``aggregate._pinned_snapshot``
    (inodes are inherently local) may ask whether a path is local."""
    modules = [p.relative_to(PACKAGE).as_posix() for p in sorted(PACKAGE.rglob("*.py"))]
    found = _call_sites(
        [m for m in modules if m != "fs.py"],
        lambda func: getattr(func, "attr", getattr(func, "id", None))
        in ("is_local", "local_part"),
    )
    assert found == {"aggregate.py:_pinned_snapshot"}


def test_input_probes_only_in_resolve():
    """The query path probes its input in one place, ``relations._version``
    (one ``fs.stat`` per file, under ``relations.resolve``): no second
    existence, size or version probe can see another version of a file."""
    found = _call_sites(
        ["aggregate.py", "plans/aggregation.py", "relations.py"],
        lambda func: isinstance(func, ast.Attribute)
        and isinstance(func.value, ast.Name) and func.value.id == "fs"
        and func.attr in ("stat", "exists", "getsize"),
    )
    assert found == {"relations.py:_version"}
