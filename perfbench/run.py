"""Benchmark of the parquery_spark engine: one closed-loop client drives the
public API, every answer is checked against DuckDB.

Run from the root of a checkout:

    python3 perfbench/run.py --workload agg_churn --seed 1 --seconds 30 --trace 0

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` (each metric a value and a
unit).  ``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs
the same ops with spans around every layer and Spark counters per op, and
reports the per-layer metrics, among them the traced run's queries per
second (set against an untraced run of the same seed, the difference is
the tracing overhead).  Progress and failures go to standard error.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_runs")


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def end_to_end(setup_s: float, lat: list[float], rss_mb: float, stored: int,
               user: int) -> dict[str, tuple[float, str]]:
    """The end-to-end metrics of an untraced run.  ``lat`` holds the
    measured ops' latencies in seconds; throughput is ops over the time
    spent inside them (the client checks answers between ops)."""
    from perfbench.stats import percentile

    return {
        "setup_s": (setup_s, "s"),
        "queries_per_s": (len(lat) / sum(lat), "1/s"),
        "query_p50_ms": (percentile(lat, 50) * 1e3, "ms"),
        "query_p90_ms": (percentile(lat, 90) * 1e3, "ms"),
        "peak_rss_mb": (rss_mb, "MB"),
        "stored_bytes_per_user_byte": (stored / user, "ratio"),
    }


class Runner:
    def __init__(self, workload, trace: bool):
        self.wl = workload
        self.trace = trace

    # -- set-up ---------------------------------------------------------
    def start(self) -> float:
        """Session start plus warm-up: with the engine's import, the set-up
        a user pays before the first query is served at speed.  Returns the
        session start time."""
        from parquery_spark import session

        t0 = time.perf_counter()
        self.spark = session.get_spark("perfbench")
        start_s = time.perf_counter() - t0
        for op in self.warm:
            self.call(op, self.wl.write_input(op)[0] if op.kind == "write" else None)
        return start_s

    # -- one op ---------------------------------------------------------
    def call(self, op, frame=None, counters=None, index=-1, rec=None):
        """Run one op and return its raw output.  ``frame`` is a write's
        input; ``rec`` collects the registry's construct/collect split and,
        traced, its job groups."""
        if op.kind == "agg":
            paths = [self.wl.path(f) for f in op.files]
            out = self.aggregate.aggregate_pq(
                paths[0] if len(paths) == 1 else paths, **op.call_args())
            if op.ship:
                out = self.transport.serialize_pa_table_base64(out)
            return out
        if op.kind == "write":
            return self.write.df_to_parquet(frame, self.wl.path(op.files[0]))
        fn = self.registry[op.query]
        if counters is not None:
            counters.begin(f"pb-{index}-c")
        t0 = time.perf_counter()
        df = fn(self.spark, self.wl.data_dir)
        t1 = time.perf_counter()
        if counters is not None:
            counters.begin(f"pb-{index}")
        rows = df.collect()
        if rec is not None:
            rec["construct_ms"] = (t1 - t0) * 1e3
            rec["collect_ms"] = (time.perf_counter() - t1) * 1e3
        return df, rows

    def check(self, op, out, want):
        """``(problem or None, result rows)`` for one op's output."""
        from perfbench.oracle import Result, mismatch
        from perfbench.workloads import decode_shipped

        if op.kind == "write":
            import pyarrow.parquet as pq

            md = pq.read_metadata(out)
            ok = md.num_rows == want
            return (None if ok else f"{md.num_rows} rows written != {want}"), md.num_row_groups
        if op.kind == "registry":
            df, rows = out
            got = Result(list(df.columns), [tuple(r) for r in rows])
        elif op.ship:
            got = Result.of_arrow(decode_shipped(out))
        else:
            got = Result.of_arrow(out)
        if want is None:
            return None, len(got.rows)
        return mismatch(got, want), len(got.rows)

    # -- measured phase -------------------------------------------------
    def measure(self, ops, expected, tracer=None, counters=None):
        lat: list[float] = []
        failed = 0
        recs: list[dict] = []
        for i, op in enumerate(ops):
            rec: dict = {}
            frame = None
            if op.kind == "write":
                frame, rec["user_bytes"] = self.wl.write_input(op)
            if tracer is not None:
                tracer.op = i
                if op.kind != "registry":
                    counters.begin(f"pb-{i}")
            t0 = time.perf_counter()
            try:
                out, err = self.call(op, frame, counters, i, rec), None
            except Exception as exc:  # a failed op is counted, not fatal
                out, err = None, exc
            lat.append(time.perf_counter() - t0)
            if counters is not None:
                counters.end()
            if err is None:
                try:
                    problem, n = self.check(op, out, expected[i])
                    rec["row_groups" if op.kind == "write" else "rows"] = n
                except Exception as exc:
                    problem = f"check raised {exc!r}"
            else:
                problem = f"raised {err!r}"
            if problem:
                failed += 1
                _log(f"op {i} {op} failed: {problem}")
            if op.kind == "write":
                rec["stored_bytes"] = os.path.getsize(self.wl.path(op.files[0]))
            if counters is not None:
                rec["spark"] = counters.collect(f"pb-{i}")
                if op.kind == "registry" and err is None:
                    rec["build"] = counters.collect(f"pb-{i}-c")
                    rec["catalyst_ms"] = counters.catalyst_ms(out[0])
            recs.append(rec)
        return lat, failed, recs

    # -- a whole run ----------------------------------------------------
    def run(self) -> dict:
        from perfbench import jvm
        from perfbench.workloads import repeat_share

        # the engine's first import (pyspark with it) is part of set-up; the
        # benchmark's own modules import neither
        t0 = time.perf_counter()
        from parquery_spark import aggregate, queries, transport, write

        import_s = time.perf_counter() - t0
        self.aggregate, self.transport, self.write = aggregate, transport, write
        self.registry = {n: fn for n, (fn, _) in queries.reordered_queries().items()}
        wl = self.wl
        wl.fixtures(write.df_to_parquet)
        self.warm, ops = wl.warmup(), wl.ops()
        expected = wl.expected(ops)
        wl.tables = {}
        gc.collect()
        _log(f"{wl.name}: fixtures and {len(ops)} oracle answers ready")

        jvm.reset_python_peak()
        t0 = time.perf_counter()
        start_s = self.start()
        setup_s = import_s + time.perf_counter() - t0
        tracer = counters = None
        if self.trace:
            from perfbench.tracing import SparkCounters, Tracer

            tracer, counters = Tracer(), SparkCounters(self.spark)
            gc0 = counters.gc_ms()
            tracer.install()
        try:
            lat, failed, recs = self.measure(ops, expected, tracer, counters)
        finally:
            if tracer is not None:
                tracer.uninstall()
        qps = len(ops) / sum(lat)
        _log(f"{wl.name}: setup {setup_s:.2f}s, {qps:.2f} ops/s, {failed} failed")
        if self.trace:
            from perfbench import layers

            metrics = layers.summarize(
                ops, recs, tracer.spans, start_s=start_s,
                gc_ms=counters.gc_ms() - gc0, cached_mb=counters.cached_mb(),
                repeat=repeat_share(self.warm, ops), qps=qps)
        else:
            if wl.name == "agg_churn":
                user = sum(r.get("user_bytes", 0) for r in recs)
                stored = sum(r.get("stored_bytes", 0) for r in recs)
            else:
                user, stored = wl.user_bytes, wl.stored_bytes
            metrics = end_to_end(setup_s, lat, jvm.peak_rss_mb(), stored, user)
        return {
            "correct": failed == 0,
            "attempted": len(ops),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }


def _warm_jvm_once(cwd: str) -> None:
    """Launch and stop the engine's JVM once per checkout and boot, so that
    no measured run is the first JVM launch on a cold page cache."""
    with open("/proc/sys/kernel/random/boot_id") as fh:
        marker = os.path.join(WORK, f"jvm_warm-{fh.read().strip()}")
    if os.path.exists(marker):
        return
    code = (
        "import sys; sys.path.insert(0, sys.argv[1])\n"
        "from parquery_spark.session import get_spark\n"
        "from perfbench import jvm\n"
        "get_spark('perfbench-warm').range(1000).count()\n"
        "jvm.shutdown()\n"
    )
    subprocess.run([sys.executable, "-c", code, ROOT], cwd=cwd, check=True,
                   stdout=subprocess.DEVNULL, timeout=600)
    open(marker, "w").close()


def main(argv: list[str] | None = None) -> int:
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    from perfbench import jvm, settings

    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=WORK)
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "local", "cwd", "data")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ.update(settings.spark_env(dirs["tmp"], dirs["local"]),
                      PYSPARK_PYTHON=sys.executable)
    tempfile.tempdir = dirs["tmp"]
    try:
        _warm_jvm_once(dirs["cwd"])
        os.chdir(dirs["cwd"])
        workload = WORKLOADS[args.workload](args.seed, args.seconds, dirs["data"])
        result = Runner(workload, bool(args.trace)).run()
    finally:
        jvm.shutdown()
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    if not os.path.isfile(os.path.join(ROOT, "parquery_spark", "__init__.py")):
        print("perfbench: run from the root of a parquery_spark checkout "
              "(no parquery_spark/ here)", file=sys.stderr)
        sys.exit(2)
    sys.path[0] = ROOT  # import perfbench as a package, not its files
    os.makedirs(WORK, exist_ok=True)
    sys.exit(main())
