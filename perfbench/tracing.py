"""Spans around the engine's layers, installed from outside the engine.

``Tracer.install`` replaces module attributes of the engine with wrappers
that record a span per call (layer, name, start, end, parent span, op
index); ``Tracer.uninstall`` puts the originals back.  Functions inside a
module look their neighbours up through the module's globals at call time,
so a wrapped attribute also sees the engine's own internal calls.

Spark's side of each op (jobs, stages, tasks, bytes) is read from the
JVM's ``AppStatusStore`` through the job group the benchmark sets around
each op; it works with the Spark UI off.
"""

from __future__ import annotations

import functools
import time
from collections import defaultdict
from typing import Any, Callable


class Span:
    __slots__ = ("sid", "parent", "layer", "name", "t0", "t1", "op", "value")

    def __init__(self, sid, parent, layer, name, op):
        self.sid, self.parent, self.layer, self.name, self.op = sid, parent, layer, name, op
        self.t0 = time.perf_counter()
        self.t1 = self.t0
        self.value: Any = None

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1e3


#: (module path, attribute, layer, value recorder).  The value recorder
#: turns a call's (args, result) into the number a metric needs.
def _targets() -> list[tuple[Any, str, str, Callable | None]]:
    from pyspark.sql import SparkSession
    from pyspark.sql.classic.dataframe import DataFrame

    from parquery_spark import aggregate, fs, relations, session, tool, transport, write

    out: list[tuple[Any, str, str, Callable | None]] = [
        (aggregate, "aggregate_pq", "aggregate", None),
        (aggregate, "get_spark", "session", None),
        (aggregate, "get_small_query_session", "session", None),
        (session, "get_spark", "session", None),
        (aggregate, "build_aggregation_plan", "plans.aggregation", None),
        (aggregate, "_to_arrow", "aggregate", None),
        (DataFrame, "toArrow", "execute", None),
        (DataFrame, "toPandas", "execute", None),
        (DataFrame, "collect", "execute", None),
        (SparkSession, "sql", "spark.sql", None),
        (transport, "serialize_pa_table_base64", "transport", None),
        (transport, "serialize_pa_table_bytes", "transport", lambda a, r: len(r)),
        (write, "df_to_parquet", "write", None),
        (write, "create_full_filename", "write", None),
        # an eviction's value is whether the key was cached at the call
        (relations, "_evict", "relations", None),
    ]
    for name in ("normalize_measure_cols", "normalize_data_filter", "get_result_columns"):
        out.append((tool, name, "tool", None))
    for name in ("exists", "stat", "getsize", "glob", "open_input", "canonical",
                 "is_local", "local_part"):
        out.append((fs, name, "fs", None))
    for name in ("get_relation_view", "get_relation", "schema_names", "cached_sql",
                 "invalidate", "expand_globs", "_read", "_lazy_read",
                 "_parse_schema_names"):
        out.append((relations, name, "relations", None))
    return out


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.op = -1
        self._undo: list[tuple[Any, str, Any]] = []

    def span(self, layer: str, name: str) -> Span:
        s = Span(len(self.spans), self.stack[-1] if self.stack else None, layer, name, self.op)
        self.spans.append(s)
        return s

    def _wrap(self, owner: Any, attr: str, layer: str, value: Callable | None) -> None:
        from parquery_spark import relations

        orig = getattr(owner, attr)
        tracer = self
        peek = owner is relations and attr == "_evict"

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            s = tracer.span(layer, attr)
            if peek:
                s.value = args[0] in relations._relations
            tracer.stack.append(s.sid)
            try:
                result = orig(*args, **kwargs)
                if value is not None:
                    s.value = value(args, result)
                return result
            finally:
                s.t1 = time.perf_counter()
                tracer.stack.pop()

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def install(self) -> None:
        for owner, attr, layer, value in _targets():
            self._wrap(owner, attr, layer, value)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)


def self_ms(spans: list[Span]) -> dict[int, float]:
    """Each span's self time: its duration minus its children's."""
    child = defaultdict(float)
    for s in spans:
        if s.parent is not None:
            child[s.parent] += s.ms
    return {s.sid: s.ms - child[s.sid] for s in spans}


class SparkCounters:
    """Per-op Spark work, read from the status store by job group."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        mf = self.sc._jvm.java.lang.management.ManagementFactory
        self._gc_beans = mf.getGarbageCollectorMXBeans()

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, "perfbench", False)

    def end(self) -> None:
        self.sc._jsc.clearJobGroup()

    def collect(self, group: str) -> dict[str, float]:
        """Totals over the jobs of ``group``: jobs, completed stages and
        tasks, job wall ms, executor run ms, input bytes and rows, shuffle
        write bytes, spill bytes."""
        # the status store is fed by the asynchronous listener bus: drain
        # it, or the last task-end events of the op may not be counted yet
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "job_ms", "run_ms", "input_bytes",
             "input_rows", "shuffle_write_bytes", "spill_bytes"), 0.0)
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            job = self.store.job(jid)
            out["jobs"] += 1
            out["tasks"] += job.numCompletedTasks()
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                out["job_ms"] += done.get().getTime() - sub.get().getTime()
            ids = job.stageIds()
            for i in range(ids.size()):
                try:
                    st = self.store.stageAttempt(ids.apply(i), 0, False, None, False, None)._1()
                except Exception:  # a skipped stage never had an attempt
                    continue
                if st.status().toString() != "COMPLETE":
                    continue
                out["stages"] += 1
                out["run_ms"] += st.executorRunTime()
                out["input_bytes"] += st.inputBytes()
                out["input_rows"] += st.inputRecords()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out

    def gc_ms(self) -> float:
        return float(sum(b.getCollectionTime() for b in self._gc_beans))

    def cached_mb(self) -> float:
        return sum(r.memSize() for r in self.sc._jsc.sc().getRDDStorageInfo()) / 2**20

    def catalyst_ms(self, df) -> float:
        """Analysis, optimization and planning time of ``df``'s plan."""
        phases = df._jdf.queryExecution().tracker().phases()
        it = phases.values().iterator()
        total = 0.0
        while it.hasNext():
            total += it.next().durationMs()
        return total
