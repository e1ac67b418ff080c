"""The query recorder (``parquery_spark.diagnostics.record``): Spark
counters read from the status store with the UI off, jobs counted by
submission whatever their job group, and no harness forcing the UI on."""

from __future__ import annotations

import re
import threading
from pathlib import Path

from pyspark.sql import functions as F

from parquery_spark.diagnostics import record, sql_store

ROOT = Path(__file__).resolve().parent.parent


def _grouped(spark):
    return spark.range(20_000).groupBy((F.col("id") % 7).alias("k")).count()


def test_grouped_query_record_with_ui_off(spark):
    assert spark.conf.get("spark.ui.enabled") == "false"
    rec = record(spark, "diag_grouped", lambda: _grouped(spark))
    assert rec["result"] == 7
    assert rec["jobs"] >= 1 and rec["construct_jobs"] == 0
    assert rec["stages"] >= 2 and rec["tasks"] >= rec["stages"]
    assert rec["shuffle_write_bytes"] > 0
    assert rec["construct_s"] >= 0 and rec["execute_s"] > 0
    assert rec["construct_executions"] == []


def test_back_to_back_records_share_no_job(spark):
    tracker = spark.sparkContext.statusTracker()
    a = record(spark, "diag_a", lambda: _grouped(spark))
    b = record(spark, "diag_b", lambda: _grouped(spark))
    ja = set(tracker.getJobIdsForGroup("diag_a"))
    jb = set(tracker.getJobIdsForGroup("diag_b"))
    assert ja and jb and not ja & jb
    assert (a["jobs"], b["jobs"]) == (len(ja), len(jb))
    assert a["stages"] == b["stages"]


def test_construction_jobs_and_executions(spark):
    """Work the builder runs before returning its DataFrame is counted
    as construction, and its SQL executions are readable by id."""

    def build():
        n = _grouped(spark).count()
        return spark.range(n)

    rec = record(spark, "diag_build", build)
    assert rec["result"] == 7
    assert rec["construct_jobs"] >= 1 and rec["jobs"] > rec["construct_jobs"]
    assert rec["construct_executions"]
    store = sql_store(spark)
    assert all(store.execution(i).isDefined() for i in rec["construct_executions"])


def test_jobs_outside_the_group_are_counted(spark):
    """A streaming drain runs its micro-batches on its own thread under
    its own job group; those jobs still belong to the query."""

    def other_group():
        spark.sparkContext.setJobGroup("diag_elsewhere", "elsewhere")
        spark.range(100).collect()

    def build():
        t = threading.Thread(target=other_group)
        t.start()
        t.join()
        return spark.range(3)

    rec = record(spark, "diag_thread", build)
    assert rec["construct_jobs"] >= 1
    assert spark.sparkContext.statusTracker().getJobIdsForGroup("diag_elsewhere")


_UI_FORCING = re.compile(
    r"spark__ui__enabled|retainedStages|retainedExecutions|uiWebUrl"
)


def test_no_harness_forces_the_ui():
    """Harnesses measure through the recorder: none switches the UI on,
    raises its retention limits or reads its REST address."""
    files = [ROOT / "bench.py", *(ROOT / "scripts").glob("*.py"),
             *(ROOT / "parquery_spark").rglob("*.py")]
    hits = [
        f"{p.relative_to(ROOT)}:{i}"
        for p in files
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if _UI_FORCING.search(line)
    ]
    assert hits == []
