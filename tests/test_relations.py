"""Relation cache: plan reuse by file version, staleness on file replace,
views and entries that leave with their file, nothing persisted, and
thread-safety of the small-query fast path (no shared-conf mutation)."""

from __future__ import annotations

import os
import sys
import threading

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


class _Unversioned:
    """A remote backend that answers existence but no file versions, like
    an object store without a metadata backend."""

    def exists(self, path):
        return True

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
        """The one LRU is bounded, and an evicted entry takes its temp
        view out of the session's catalog."""
        monkeypatch.setattr(relations, "MAX_CACHED_RELATIONS", 2)
        views = []
        for i in range(3):
            p = str(tmp_path / f"t{i}.parquet")
            _write(p, [i], [float(i)])
            views.append(relations.get_relation_view(spark, p))
        with relations._lock:
            assert len(relations._relations) <= 2
        names = _view_names(spark)
        assert views[0] not in names and set(views[1:]) <= names

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
    parse/analysis; staleness is keyed away by per-file-version view names."""

    def test_repeat_returns_memoized_dataframe(self, spark, tmp_path):
        p = str(tmp_path / "pc.parquet")
        _write(p, [1, 2, 2], [1.0, 2.0, 3.0])
        view = relations.get_relation_view(spark, p)
        sql = f"SELECT d, SUM(m) AS s FROM {view} GROUP BY d"
        df1 = relations.cached_sql(spark, sql)
        df2 = relations.cached_sql(spark, sql)
        assert df1 is df2
        # args are part of the key: a different bound literal is a new plan
        psql = f"SELECT d FROM {view} WHERE m > :lo"
        a = relations.cached_sql(spark, psql, {"lo": 1.5})
        b = relations.cached_sql(spark, psql, {"lo": 2.5})
        assert a is not b
        assert a.count() == 2 and b.count() == 1

    def test_replaced_file_never_serves_stale_plan(self, spark, tmp_path):
        """os.replace → new stat identity → new view name → new SQL text →
        the memoized plan for the old version can never be keyed to."""
        p = str(tmp_path / "pc2.parquet")
        _write(p, [1], [10.0])
        r1 = aggregate_pq(p, ["d"], [["m", "sum", "s"]])
        tmp = str(tmp_path / "new.parquet")
        _write(tmp, [1], [99.0])
        os.replace(tmp, p)
        r2 = aggregate_pq(p, ["d"], [["m", "sum", "s"]])
        assert r1.column("s").to_pylist() == [10.0]
        assert r2.column("s").to_pylist() == [99.0]

    def test_one_view_per_relation_entry(self, spark, sf_dir):
        """A relation entry owns one view: repeats in a session share it,
        another session (its own entry) gets a distinct name, so the
        memoized plans of one session can never be keyed to by the other;
        the plan over the view scans the file."""
        path = os.path.join(sf_dir, "orders.parquet")
        v1 = relations.get_relation_view(spark, path)
        assert relations.get_relation_view(spark, path) == v1
        vsmall = relations.get_relation_view(get_small_query_session(spark), path)
        assert vsmall != v1 and v1 in _view_names(spark)
        spec = (["o_orderstatus"], [["o_totalprice", "sum", "s"]])
        df = aggregate_plan(path, *spec, spark=spark)
        df.count()
        plan = _plan(df)
        assert "FileScan" in plan and "InMemoryTableScan" not in plan


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

        def spy(session, sql, args=None):
            sqls.append(sql)
            return real(session, sql, args)

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

    def test_snapshot_and_replace_reads_leave_nothing_behind(self, spark, tmp_path):
        """Pinned-snapshot reads drop their entry, view and plans once the
        result is fetched; a replaced file's read evicts the entry (and
        view) of its old version."""
        small = get_small_query_session(spark)
        p = str(tmp_path / "t.parquet")
        _write(p, [1], [1.0])
        aggregate_pq(p, ["d"], [["m", "sum", "s"]], pin_snapshot=True)

        views, entries = len(_view_names(small)), len(relations._relations)
        for i in range(10):
            r = aggregate_pq(p, ["d"], [["m", "sum", "s"]], pin_snapshot=True)
            assert r.column("s").to_pylist() == [1.0]
        assert len(_view_names(small)) == views
        assert len(relations._relations) == entries

        for i in range(10):
            tmp = str(tmp_path / "next.parquet")
            _write(tmp, [1], [float(i)])
            os.replace(tmp, p)
            r = aggregate_pq(p, ["d"], [["m", "sum", "s"]])
            assert r.column("s").to_pylist() == [float(i)]
        # one entry and one view for the file's current version
        assert len(_view_names(small)) <= views + 1
        assert len(relations._relations) <= entries + 1

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

    def test_unversioned_path_is_read_fresh(self, spark, tmp_path, monkeypatch):
        """A path no backend can stat has no version to key an entry on:
        every read builds its relation afresh, so a replaced file is read
        new, and the read leaves no entry or view behind.  The file is
        ``tmp_path`` mounted through Hadoop ViewFs, which Spark reads, with
        a fake backend that cannot stat it."""
        monkeypatch.setitem(relations.fs._TEST_FILESYSTEMS, "viewfs", _Unversioned())
        conf = spark._jsc.hadoopConfiguration()
        mount = "fs.viewfs.mounttable.pqsunversioned.link./data"
        conf.set(mount, "file://" + str(tmp_path))
        try:
            uri = "viewfs://pqsunversioned/data/t.parquet"
            p = str(tmp_path / "t.parquet")
            _write(p, [1], [10.0])
            views = _view_names(spark)
            r1 = aggregate_pq(uri, ["d"], [["m", "sum", "s"]])
            tmp = str(tmp_path / "t.parquet.new")
            _write(tmp, [1, 1], [90.0, 9.0])  # a new size as well as new data
            os.replace(tmp, p)
            r2 = aggregate_pq(uri, ["d"], [["m", "sum", "s"]])
            assert r1.column("s").to_pylist() == [10.0]
            assert r2.column("s").to_pylist() == [99.0]
            assert relations.get_relation(spark, uri) is not relations.get_relation(spark, uri)
            assert _view_names(spark) == views
            with relations._lock:
                assert not [k for k in relations._relations if k[1][0][0] == uri]
        finally:
            conf.unset(mount)

    def test_view_dropped_before_analysis(self, spark, tmp_path, monkeypatch):
        """A concurrent read can evict an entry, dropping its view, after a
        query has named the view and before its SQL is analyzed; the query
        then resolves again over a new entry."""
        p = str(tmp_path / "t.parquet")
        _write(p, [1, 1], [2.0, 3.0])
        sqls = []
        real = relations.cached_sql

        def evict_first(session, sql, args=None):
            if not sqls:
                relations.invalidate(p)
            sqls.append(sql)
            return real(session, sql, args)

        monkeypatch.setattr(relations, "cached_sql", evict_first)
        df = aggregate_plan(p, ["d"], [["m", "sum", "s"]], spark=spark)
        assert [r["s"] for r in df.collect()] == [5.0]
        assert len(sqls) == 2 and sqls[0] != sqls[1]

    def test_concurrent_views_keep_their_owners(self, spark, tmp_path, monkeypatch):
        """Stress: more threads than cores resolve views, and plan queries
        over them, over more files than the LRU holds, so entries are
        evicted between a view's naming and its query's analysis.  No
        query fails; a plan still runs once its view is gone; afterwards
        the LRU is within its bound, every view belongs to a live entry,
        and the session's catalog holds exactly the views of its live
        entries."""
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
                    relations.get_relation_view(spark, p)
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
            assert set(relations._views) <= set(relations._relations)
            mine = {v for k, v in relations._views.items() if k[0] == id(spark)}
        assert {v for v in _view_names(spark) if v.startswith("__pq_rel_")} == mine
