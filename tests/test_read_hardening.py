"""Read-hardening parity: transient-OSError retry (S4) and snapshot-pinned
reads under concurrent ``os.replace`` (S3).

Mirrors the reference's tests/test_duckdb_read_hardening.py:40-146 — same
failure modes, Spark-side mechanics: the snapshot pin is a hardlink to the
source inode (vs the reference's ``/dev/fd``), and the retry invalidates the
relation cache before re-running.
"""

from __future__ import annotations

import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import parquery_spark.aggregate as agg
from parquery_spark import aggregate_pq


def _write(path, dates):
    pq.write_table(
        pa.table({"a-31": dates, "g": [1] * len(dates), "m1": [1.0] * len(dates)}),
        path,
    )


def _result_map(res):
    return dict(zip(res.column("a-31").to_pylist(), res.column("m1").to_pylist()))


def _no_snapshot_litter(tmp_path):
    return glob.glob(str(tmp_path / "*.snapshot-*")) == []


class TestPinnedSnapshot:
    def test_pinned_read_survives_concurrent_replace(self, spark, tmp_path, monkeypatch):
        target = str(tmp_path / "shard.parquet")
        _write(target, [20251201, 20251202])  # consistent OLD content
        newfile = str(tmp_path / "new.parquet")
        _write(newfile, [99999999])  # content a concurrent rename would expose

        # the hook fires after the hardlink pins the old inode but before the
        # read — the worst-case writer timing
        def swap(_paths):
            os.replace(newfile, target)

        monkeypatch.setattr(agg, "_post_snapshot_hook", swap)
        res = aggregate_pq(target, ["a-31"], [["m1", "sum"]], pin_snapshot=True)

        assert _result_map(res) == {20251201: 1.0, 20251202: 1.0}
        assert _no_snapshot_litter(tmp_path)

    def test_without_pin_replace_is_visible(self, spark, tmp_path):
        """Control: without the pin the same rename shows the new content —
        proves the pin (not test setup) is what isolates the read above."""
        target = str(tmp_path / "shard.parquet")
        _write(target, [20251201, 20251202])
        aggregate_pq(target, ["a-31"], [["m1", "sum"]])
        newfile = str(tmp_path / "new.parquet")
        _write(newfile, [99999999])
        os.replace(newfile, target)

        res = aggregate_pq(target, ["a-31"], [["m1", "sum"]])
        assert _result_map(res) == {99999999: 1.0}

    def test_pin_on_missing_file_keeps_missing_semantics(self, spark, tmp_path):
        ghost = str(tmp_path / "ghost.parquet")
        res = aggregate_pq(ghost, ["a-31"], [["m1", "sum"]], pin_snapshot=True)
        assert res.num_rows == 0
        with pytest.raises(OSError):
            aggregate_pq(
                ghost, ["a-31"], [["m1", "sum"]],
                pin_snapshot=True, handle_missing_file=False,
            )

    def test_multifile_pin(self, spark, tmp_path, monkeypatch):
        p1 = str(tmp_path / "s1.parquet")
        p2 = str(tmp_path / "s2.parquet")
        _write(p1, [20251201])
        _write(p2, [20251202])
        newfile = str(tmp_path / "new.parquet")
        _write(newfile, [99999999])

        def swap(_paths):
            os.replace(newfile, p2)

        monkeypatch.setattr(agg, "_post_snapshot_hook", swap)
        res = aggregate_pq([p1, p2], ["a-31"], [["m1", "sum"]], pin_snapshot=True)
        assert _result_map(res) == {20251201: 1.0, 20251202: 1.0}
        assert _no_snapshot_litter(tmp_path)


class TestTransientRetry:
    def test_oserror_retried_once(self, spark, tmp_path, monkeypatch):
        target = str(tmp_path / "shard.parquet")
        _write(target, [20251201, 20251202])

        real = agg.build_aggregation_plan
        calls = {"n": 0}

        def flaky(*args, **kwargs):
            calls["n"] += 1
            if calls["n"] == 1:
                raise OSError("transient stale handle")
            return real(*args, **kwargs)

        monkeypatch.setattr(agg, "build_aggregation_plan", flaky)
        res = aggregate_pq(target, ["a-31"], [["m1", "sum"]])

        assert calls["n"] == 2  # failed once, retried once
        assert _result_map(res) == {20251201: 1.0, 20251202: 1.0}

    def test_oserror_second_failure_propagates(self, spark, tmp_path, monkeypatch):
        target = str(tmp_path / "shard.parquet")
        _write(target, [20251201])

        def always_raise(*args, **kwargs):
            raise OSError("persistent")

        monkeypatch.setattr(agg, "build_aggregation_plan", always_raise)
        with pytest.raises(OSError, match="persistent"):
            aggregate_pq(target, ["a-31"], [["m1", "sum"]])

    def test_hard_missing_file_not_retried(self, spark, tmp_path, monkeypatch):
        """``handle_missing_file=False`` on a never-existed path is a HARD
        failure: exactly one pre-flight, no retry (the reference's retry
        wraps only the engine aggregation, aggregate_duckdb.py:144-166)."""
        from parquery_spark.tool import MissingInputError

        real = agg.build_aggregation_plan
        calls = {"n": 0}

        def counting(*args, **kwargs):
            calls["n"] += 1
            return real(*args, **kwargs)

        monkeypatch.setattr(agg, "build_aggregation_plan", counting)
        with pytest.raises(MissingInputError):
            aggregate_pq(
                str(tmp_path / "never_written.parquet"),
                ["a-31"],
                [["m1", "sum"]],
                handle_missing_file=False,
            )
        assert calls["n"] == 1

    def test_retry_with_pin_takes_fresh_snapshot(self, spark, tmp_path, monkeypatch):
        """Each attempt pins a FRESH snapshot (the reference opens a fresh fd
        per attempt) and every snapshot is cleaned up, including the failing
        attempt's."""
        target = str(tmp_path / "shard.parquet")
        _write(target, [20251201])

        seen_snapshots: list[str] = []

        def record(_paths):
            seen_snapshots.extend(glob.glob(str(tmp_path / "*.snapshot-*")))

        real = agg.build_aggregation_plan
        calls = {"n": 0}

        def flaky(*args, **kwargs):
            calls["n"] += 1
            if calls["n"] == 1:
                raise OSError("transient")
            return real(*args, **kwargs)

        monkeypatch.setattr(agg, "_post_snapshot_hook", record)
        monkeypatch.setattr(agg, "build_aggregation_plan", flaky)
        res = aggregate_pq(target, ["a-31"], [["m1", "sum"]], pin_snapshot=True)

        assert _result_map(res) == {20251201: 1.0}
        assert len(seen_snapshots) == 2  # one per attempt
        assert len(set(seen_snapshots)) == 2  # distinct snapshot files
        assert _no_snapshot_litter(tmp_path)

    def test_retry_invalidates_stale_cached_relation(self, spark, tmp_path, monkeypatch):
        """The retry must not replay the failing attempt against a stale
        cached relation: invalidation happens between attempts."""
        from parquery_spark import relations

        target = str(tmp_path / "shard.parquet")
        _write(target, [20251201])
        aggregate_pq(target, ["a-31"], [["m1", "sum"]])  # populate cache

        invalidated = []
        real_invalidate = relations.invalidate

        def spy(paths=None):
            invalidated.append(paths)
            return real_invalidate(paths)

        real = agg.build_aggregation_plan
        calls = {"n": 0}

        def flaky(*args, **kwargs):
            calls["n"] += 1
            if calls["n"] == 1:
                raise OSError("stale handle")
            return real(*args, **kwargs)

        monkeypatch.setattr(agg.relations, "invalidate", spy)
        monkeypatch.setattr(agg, "build_aggregation_plan", flaky)
        res = aggregate_pq(target, ["a-31"], [["m1", "sum"]])
        assert _result_map(res) == {20251201: 1.0}
        assert invalidated == [target]


class TestCorruptLocalFooter:
    """Reference parity for LOCAL corrupt files (reference:
    parquery/tool.py:135-142, aggregate.py:165-170): a file that exists
    but whose footer cannot be parsed contributes an empty column set and
    the query answers EMPTY — distinct from the remote backend-absent
    case, which assumes columns present and fails loud at scan time."""

    def _corrupt(self, tmp_path, name="corrupt.parquet"):
        bad = str(tmp_path / name)
        with open(bad, "wb") as fh:
            fh.write(b"PAR1 this is definitely not a parquet footer " * 8)
        return bad

    def test_corrupt_local_parquet_answers_empty(self, spark, tmp_path):
        bad = self._corrupt(tmp_path)
        res = aggregate_pq(bad, ["g"], [["m1", "sum"]])
        assert res.num_rows == 0

    def test_corrupt_member_of_list_contributes_nothing(self, spark, tmp_path):
        good = str(tmp_path / "good.parquet")
        _write(good, [20251201, 20251202])
        bad = self._corrupt(tmp_path)
        res = aggregate_pq([good, bad], ["a-31"], [["m1", "sum"]])
        assert _result_map(res) == {20251201: 1.0, 20251202: 1.0}

    def test_schema_names_raises_typed_error(self, spark, tmp_path):
        from parquery_spark import relations

        bad = self._corrupt(tmp_path)
        with pytest.raises(relations.SchemaUnreadableError):
            relations.schema_names(bad)

    def test_truncated_parquet_answers_empty(self, spark, tmp_path):
        """A real parquet truncated mid-footer (the likelier production
        corruption) takes the same parity path."""
        good = str(tmp_path / "whole.parquet")
        _write(good, [20251201])
        data = open(good, "rb").read()
        bad = str(tmp_path / "truncated.parquet")
        with open(bad, "wb") as fh:
            fh.write(data[: max(len(data) // 2, 8)])
        res = aggregate_pq(bad, ["a-31"], [["m1", "sum"]])
        assert res.num_rows == 0

    def test_local_io_error_assumes_present_not_empty(
        self, spark, tmp_path, monkeypatch
    ):
        """An I/O failure in the LOCAL schema probe (EACCES/EIO — not
        corrupt content) must NOT take the corrupt-content parity path:
        the pre-flight assumes the columns exist and the scan proceeds —
        here the file is healthy, so the query answers CORRECTLY instead
        of returning the silent empty result a SchemaUnreadableError
        mapping would produce."""
        from parquery_spark import relations

        good = str(tmp_path / "good.parquet")
        _write(good, [20251201])

        def boom(path):
            raise PermissionError(13, "Permission denied", path)

        monkeypatch.setattr(relations, "_parse_schema_names", boom)
        relations.invalidate()
        res = aggregate_pq(good, ["a-31"], [["m1", "sum"]])
        assert _result_map(res) == {20251201: 1.0}
