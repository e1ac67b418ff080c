"""One query recorder for every measurement harness.

``record`` runs one query and returns one structured record: the wall
split into plan construction (the call that returns the DataFrame) and
execution (the drain), plus the Spark work the call launched, read from
the JVM status store, and the generated classes it compiled.  The status
store is fed with the UI off, so no harness has to switch the UI on or
raise its retention settings to measure.  ``bench.session`` is the
matching harness session.
"""

from __future__ import annotations

import time

from py4j.protocol import Py4JJavaError


def _rows(df) -> int:
    return len(df.collect())


def record(spark, name: str, call, drain=_rows) -> dict:
    """Run ``drain(call())`` with the query's jobs tagged ``name`` and
    return its record:

    * ``construct_s`` — ``call()``, which builds the DataFrame (and runs
      whatever the builder executes: artifact builds, training, drains);
    * ``execute_s`` — ``drain(df)`` (by default ``len(df.collect())``);
    * ``jobs`` / ``construct_jobs`` — Spark jobs submitted during the
      whole call / during construction, whatever their job group
      (streaming micro-batches run under their own);
    * ``stages``, ``tasks``, ``shuffle_write_bytes``, ``spill_bytes`` —
      over the stages that ran during the call;
    * ``codegen_compiles`` / ``codegen_s`` — generated classes Janino
      compiled during the whole call, and the seconds it spent (JVM-wide
      counters: a warm call whose shapes sit in the class cache reads 0);
    * ``construct_executions`` — ids of the SQL executions construction
      ran (read them with ``sql_store(spark).execution(id)``);
    * ``result`` — what ``drain`` returned.

    Status-store and compile-counter reads happen outside both timings,
    after the listener bus has delivered every event.
    """
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    dag = jsc.dagScheduler()
    sql = sql_store(spark)
    jsc.listenerBus().waitUntilEmpty()
    last_exec = _last_execution_id(sql)
    compiles0, compile_ns0 = _codegen(spark)
    sc.setJobGroup(name, name)
    try:
        job0 = dag.nextJobId()
        since_ms = int(time.time() * 1000)
        t0 = time.perf_counter()
        df = call()
        t1 = time.perf_counter()
        job1 = dag.nextJobId()
        jsc.listenerBus().waitUntilEmpty()
        executions = _executions_after(sql, last_exec)
        t2 = time.perf_counter()
        result = drain(df)
        t3 = time.perf_counter()
        job2 = dag.nextJobId()
    finally:
        sc._jsc.clearJobGroup()
    jsc.listenerBus().waitUntilEmpty()
    compiles1, compile_ns1 = _codegen(spark)
    return {
        "name": name,
        "construct_s": round(t1 - t0, 4),
        "execute_s": round(t3 - t2, 4),
        "jobs": job2 - job0,
        "construct_jobs": job1 - job0,
        **_stage_totals(jsc.statusStore(), range(job0, job2), since_ms),
        "codegen_compiles": compiles1 - compiles0,
        "codegen_s": round((compile_ns1 - compile_ns0) / 1e9, 4),
        "construct_executions": executions,
        "result": result,
    }


def sql_store(spark):
    """The session's SQL execution store (plans of every execution)."""
    return spark._jsparkSession.sharedState().statusStore()


def _codegen(spark) -> tuple[int, int]:
    """(classes compiled, nanoseconds compiling) since JVM start: the
    compile-time histogram's count and ``CodeGenerator.compileTime``."""
    jvm = spark._jvm
    metrics = getattr(
        getattr(jvm.org.apache.spark.metrics.source, "CodegenMetrics$"),
        "MODULE$",
    )
    gen = getattr(
        getattr(jvm.org.apache.spark.sql.catalyst.expressions.codegen,
                "CodeGenerator$"),
        "MODULE$",
    )
    return metrics.METRIC_COMPILATION_TIME().getCount(), gen.compileTime()


def _last_execution_id(sql) -> int:
    n = sql.executionsCount()
    return sql.executionsList(n - 1, 1).apply(0).executionId() if n else -1


def _executions_after(sql, last: int) -> list[int]:
    """Ids above ``last``, read from the tail of the id-ordered execution
    list (the store evicts its oldest entries, so offsets shift)."""
    n = sql.executionsCount()
    k = 8
    while n:
        off = max(0, n - k)
        tail = sql.executionsList(off, n - off)
        ids = [tail.apply(i).executionId() for i in range(tail.size())]
        if off == 0 or (ids and ids[0] <= last):
            return [i for i in ids if i > last]
        k *= 2
    return []


def _stage_totals(store, job_ids, since_ms: int) -> dict:
    """Totals over the completed stages of ``job_ids`` that were submitted
    at or after ``since_ms``: a stage an earlier query already ran shows
    up in a new job's stage list, skipped."""
    stage_ids = set()
    for jid in job_ids:
        try:
            ids = store.job(jid).stageIds()
        except Py4JJavaError:  # evicted from the store
            continue
        stage_ids.update(ids.apply(i) for i in range(ids.size()))
    out = dict.fromkeys(
        ("stages", "tasks", "shuffle_write_bytes", "spill_bytes"), 0
    )
    for sid in stage_ids:
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:  # evicted from the store
            continue
        sub = st.submissionTime()
        if st.status().toString() != "COMPLETE" or not sub.isDefined() \
                or sub.get().getTime() < since_ms:
            continue
        out["stages"] += 1
        out["tasks"] += st.numCompleteTasks()
        out["shuffle_write_bytes"] += st.shuffleWriteBytes()
        out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return out
