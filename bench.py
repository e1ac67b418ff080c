#!/usr/bin/env python
"""Benchmark harness: run every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Timing excludes session startup and the one-time JVM warmup (a
trivial aggregate over lineitem) but includes full plan + codegen +
execution + collect per query — the end-to-end latency a caller of the
engine sees.  Each query runs through ``parquery_spark.diagnostics.record``:
its time is construction (the call that returns the DataFrame) plus
execution (the collect), and ``bench_results.json`` keeps the record of
the pass that gave its min under ``layers`` (construct/execute seconds,
jobs — all and during construction —, stages, tasks, shuffle-write and
spill bytes, generated classes compiled and compile seconds).  The
compiles and compile seconds of each whole pass are kept under
``codegen_per_pass``: a warm pass compiles (almost) nothing only while the
session's generated-class cache holds the registry's working set.

Noise handling (round 9): EVERY query runs FIVE times as five full
passes over the registry — consecutive samples of one query land many
minutes apart, in different host-noise windows — and the reported time
is the min-of-5.  The noise floor is measured the way the estimator is
actually used, from WARM passes only (round-8 ADVICE: folding the cold
pass into a floor estimate conflates Janino codegen cost with host
noise): passes {2,4} and {3,5} form two INDEPENDENT interleaved warm
min-of-2 estimates per query, ``noise_floor`` is the 90th-percentile
relative disagreement between them, and ``noise_within_10pct`` is the
fraction of queries whose two estimates agree within 10%.  (Warm passes
are Janino-free only while the generated-class cache holds every shape:
under Spark's 100-entry default every warm pass recompiled ~3,100
classes, so ``codegen_per_pass`` is the check that the floor measures
host noise and not compile churn.)

The PER-QUERY regression guarantee is SCOPED (round-8 verdict: ~150 of
210 queries run under 300 ms at sf0.1, where 10% sits inside scheduler
granularity, so a universal within-10% bar is structurally unreachable
and, more to the point, meaningless): the regression-tracked subset is
queries with warm wall >= 0.5 s, reported as
``noise_within_10pct_tracked`` over ``n_tracked`` queries — THAT is the
number a round-over-round per-query diff can hold regressions against.
Sub-0.5 s queries are still regression-guarded in AGGREGATE (the total,
and the p90 floor over all queries).  A round-over-round per-query delta
above the floor is signal; the old floor (relative spread of 5
BACK-TO-BACK canary runs, measured 2.16 on this host) was measuring
exactly the burst noise the spaced discipline avoids.  The parity
head-to-head uses median-of-5 for all three engines.  Re-runs may hit
the engine's own caches (relation and plan caches, stat-keyed artifacts) — the
same warm-state benefit the embedded reference engines get from the OS
page cache on their re-reads; since round 9 the CacheManager contract
guarantees no query leaves a persisted relation behind, so warm numbers
measure the engine, never a leaked cross-call memo.
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def session(app_name: str, sf_dir: str):
    """The harness SparkSession on ``local[$SPARK_GRAFT_CPUS]`` (default:
    every core), shuffle partitions = cores unless set, warmed up once:
    the JVM, the Parquet reader and codegen (an aggregate over
    ``sf_dir``'s lineitem), the Python-worker pool (process start +
    pandas import per worker) and the Arrow collect path — one-time
    process costs, not per-query costs.  Every measuring script starts
    here, so their numbers share one set-up."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    os.environ["PARQUERY_SPARK_MASTER"] = f"local[{cpus}]"
    os.environ.setdefault("PARQUERY_SPARK_SHUFFLE_PARTITIONS", cpus)

    from pyspark.sql import functions as F

    from parquery_spark.session import get_spark

    spark = get_spark(app_name)
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    li.groupBy("l_returnflag").agg(F.sum("l_quantity")).collect()
    spark.range(int(cpus) * 4).repartition(int(cpus)).mapInPandas(
        lambda it: it, schema="id long"
    ).collect()
    spark.sql("select 1 as x").toArrow()
    return spark


def _breach(name: str, new: float, old: float) -> str | None:
    """One query's verdict under the signal rule: a breach line, or None."""
    delta = new - old
    if delta > 0.5:
        return (f"{name}: {old:.3f}s -> {new:.3f}s "
                f"(+{delta:.3f}s absolute > 0.5s)")
    if old >= 1.0 and delta / old > 0.25:
        return (f"{name}: {old:.3f}s -> {new:.3f}s "
                f"(+{delta / old:.0%} > 25% on a >=1s query)")
    return None


def _regression_check(
    new: dict[str, float], old: dict[str, float]
) -> list[str]:
    """The SCALING.md signal rule as an executable gate: a per-query
    regression is a BREACH when the warm min-of-5 delta exceeds 0.5 s
    ABSOLUTE, or exceeds 25% on a query whose baseline is >= 1 s (the
    two regimes where the measured scheduler-granularity floor — median
    33 ms / p90 ~103 ms — cannot explain the move).  Returns one
    human-readable line per breach; empty = pass.  Queries present on
    only one side are skipped (registry rotation is not a regression)."""
    lines = (_breach(n, new[n], old[n]) for n in sorted(set(new) & set(old)))
    return [line for line in lines if line]


#: re-measurements of a breaching query before its breach is kept
CONFIRM_RUNS = 3


def _confirm_breaches(
    new: dict[str, float], old: dict[str, float], rerun
) -> tuple[list[str], list[str]]:
    """The signal rule with a second look: each query that breaches is
    re-measured :data:`CONFIRM_RUNS` more times (``rerun(name)`` returns one warm wall
    in seconds) and its breach is kept only if the min over its passes
    and the re-runs still breaches.  A query caught in one noisy window
    re-measures clean; a real regression holds.  Returns the first and
    the confirmed breach lists."""
    suspects = sorted(
        n for n in set(new) & set(old) if _breach(n, new[n], old[n])
    )
    remeasured = {
        n: min([new[n], *(rerun(n) for _ in range(CONFIRM_RUNS))])
        for n in suspects
    }
    return _regression_check(new, old), _regression_check(remeasured, old)


def _codegen_totals(recs: dict[str, dict]) -> dict:
    """Generated classes compiled, and compile seconds, over one pass's
    layer records."""
    return {
        "compiles": sum(r["codegen_compiles"] for r in recs.values()),
        "s": round(sum(r["codegen_s"] for r in recs.values()), 3),
    }


def _load_baseline(path: str) -> tuple[dict[str, float], float | None]:
    """Per-query baseline timings (plus the baseline's recorded ``sf``)
    from either a full ``bench_results.json`` (complete "queries" dict)
    or a driver ``BENCH_r{N}.json`` wrapper (stdout line inside "tail" —
    core queries only).  The special path ``HEAD`` reads the COMMITTED
    ``bench_results.json`` via git — the stable baseline a gate should
    hold against (the working copy is overwritten by every run, so
    gating on it compares a run against itself)."""
    if path == "HEAD":
        import subprocess

        here = os.path.dirname(os.path.abspath(__file__))
        doc = json.loads(
            subprocess.run(
                ["git", "-C", here, "show", "HEAD:bench_results.json"],
                capture_output=True, text=True, check=True,
            ).stdout
        )
    else:
        with open(path) as fh:
            doc = json.load(fh)
    if "tail" in doc and "queries" not in doc:
        for line in reversed(doc["tail"].splitlines()):
            if line.startswith("{"):
                doc = json.loads(line)
                break
    return doc.get("queries", {}), doc.get("sf")


def _resolve_baseline() -> tuple[str, dict[str, float], float | None] | None:
    """Default-on gate baseline (VERDICT r10 #4): with no ``--against``,
    every bench run — including the driver's bare ``python bench.py`` —
    still records a ``regression_gate`` verdict.  Resolution order:

    1. the COMMITTED ``bench_results.json`` (``git show HEAD:...``) —
       full per-query dict, immune to the working-copy overwrite;
    2. the highest-round driver artifact ``BENCH_r{N}.json`` (its
       stdout tail carries the core-parity queries only);
    3. none → the artifact records ``regression_gate: "no-baseline"``.

    Auto-resolved gates REPORT ONLY (exit 0): the driver's bare run must
    record host-noise breaches, not fail on them.  Explicit ``--against``
    (the ``make bench`` ritual) keeps the exit-1 contract."""
    try:
        qs, bsf = _load_baseline("HEAD")
        return "HEAD:bench_results.json", qs, bsf
    except Exception:
        pass
    here = os.path.dirname(os.path.abspath(__file__))
    rounds = []
    for f in os.listdir(here):
        m = re.fullmatch(r"BENCH_r(\d+)\.json", f)
        if m:
            rounds.append((int(m.group(1)), f))
    for _, f in sorted(rounds, reverse=True):
        try:
            qs, bsf = _load_baseline(os.path.join(here, f))
        except Exception:
            continue
        if qs:
            return f, qs, bsf
    return None


def _gate_scope(
    baseline: dict[str, float] | None,
    baseline_sf: float | None,
    baseline_label: str | None,
    sf_dir: str,
) -> tuple[dict[str, float] | None, str]:
    """A baseline recorded at a DIFFERENT scale factor cannot gate a
    run — an sf1 run vs an sf0.1 baseline would record every query as a
    "breach" of nothing but the data size.  Drop the baseline and record
    the mismatch explicitly instead of a bogus verdict (applies to
    ``--against`` too: cross-sf comparison is a scaling ANALYSIS, not a
    regression gate).  Baselines without a recorded ``sf`` gate as
    before — every real artifact since round 8 carries one."""
    if baseline is None:
        return None, "no-baseline"
    run_m = re.search(r"sf([0-9.]+)", sf_dir)
    run_sf = float(run_m.group(1)) if run_m else None
    if baseline_sf is not None and run_sf is not None \
            and baseline_sf != run_sf:
        reason = (
            f"sf-mismatch (baseline {baseline_label} sf={baseline_sf}, "
            f"run sf={run_sf})"
        )
        print(f"# regression gate skipped: {reason}", file=sys.stderr)
        return None, reason
    return baseline, "no-baseline"


def main():
    against = None
    baseline = None
    baseline_sf = None
    fresh = "--fresh-artifacts" in sys.argv
    if fresh:
        # PASS 1 then measures genuinely COLD per-query times, artifact
        # builds attributed to their owning queries, while passes 2-5 stay
        # warm: the cold pass makes the build cost a recorded number
        sys.argv.remove("--fresh-artifacts")
        from parquery_spark import artifacts

        try:
            _fresh_lock = artifacts.clear()  # held until exit
        except RuntimeError as exc:
            sys.exit(str(exc))
    if "--against" in sys.argv:
        i = sys.argv.index("--against")
        against = sys.argv[i + 1]
        del sys.argv[i:i + 2]
        # load NOW: fail fast before a 20-minute run, and the baseline
        # may BE bench_results.json, which this run overwrites at the end
        try:
            baseline, baseline_sf = _load_baseline(against)
        except (OSError, json.JSONDecodeError, KeyError,
                __import__("subprocess").CalledProcessError) as exc:
            print(f"# --against {against}: unreadable ({exc})",
                  file=sys.stderr)
            sys.exit(2)
    baseline_label = against
    if against is None:
        resolved = _resolve_baseline()
        if resolved is not None:
            baseline_label, baseline, baseline_sf = resolved
            print(f"# regression baseline auto-resolved: {baseline_label} "
                  f"({len(baseline)} queries; report-only)", file=sys.stderr)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    baseline, no_gate_reason = _gate_scope(
        baseline, baseline_sf, baseline_label, sf_dir
    )
    import __spark_entry__ as entrymod
    from parquery_spark.diagnostics import record

    spark = session("parquery_spark_bench", sf_dir)
    cpus = spark.sparkContext.defaultParallelism
    fns = entrymod.queries()

    def run_pass() -> dict[str, dict]:
        """One pass over the registry: a layer record per query."""
        return {
            name: record(spark, name, lambda fn=fn: fn(spark, sf_dir))
            for name, fn in fns.items()
        }

    def wall(rec: dict) -> float:
        return round(rec["construct_s"] + rec["execute_s"], 4)

    # Head-to-head vs the reference implementation on an identical workload
    # (specs the reference API can express — numeric filters only: its
    # DuckDB engine generates invalid SQL for string/date filter values,
    # SURVEY.md §4).  Runs FIRST: all three engines measure in the same
    # clean process state, before the 43-query loop fills the heap.
    # Guarded: absence of the reference skips the block.
    parity = None
    parity_err = None
    try:
        parity = _reference_head_to_head(spark, sf_dir)
    except Exception as exc:  # pragma: no cover
        parity_err = f"{type(exc).__name__}: {exc}"

    def log_codegen(p: int, recs: dict[str, dict]) -> dict:
        cg = _codegen_totals(recs)
        print(f"# pass {p} codegen: {cg['compiles']} classes compiled in "
              f"{cg['s']:.1f}s", file=sys.stderr)
        return cg

    recs = run_pass()
    for name, rec in recs.items():
        print(f"# {name}: {wall(rec):.3f}s ({rec['result']} rows)",
              file=sys.stderr)
    timings = {name: wall(rec) for name, rec in recs.items()}
    codegen_per_pass = [log_codegen(1, recs)]

    # The host this runs on shows multi-minute noise windows (identical
    # workloads swing 2-4x).  Four more FULL passes over the registry:
    # samples of one query land minutes apart, outside any single burst.
    # The cold (first-pass) time is kept alongside, so the cold-vs-warm
    # delta — first-time Janino codegen plus artifact builds — is
    # auditable from the artifact; codegen_per_pass shows how much of it
    # is compiling.
    cold = dict(timings)
    passes = [dict(timings)]
    # each query's layer record comes from the pass that gave its min
    layers = dict(recs)
    # SPARK_GRAFT_BENCH_PASSES (default 5): cross-SF scaling runs use 3
    # (cold + warm min-of-2) — the committed sf0.1 baseline and any
    # regression-gated run keep the full 5-pass discipline, which is
    # also the only shape the paired A/B noise floor is defined for.
    # Fewer passes bias the min-estimate SLOW, so scaling ratios read
    # conservatively (never flattering).
    n_passes = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "5")))
    for p in range(2, n_passes + 1):
        recs = run_pass()
        cur = {name: wall(rec) for name, rec in recs.items()}
        for name, t in cur.items():
            if t < wall(layers[name]):
                layers[name] = recs[name]
        passes.append(cur)
        print(f"# pass {p}/{n_passes} total: {sum(cur.values()):.1f}s",
              file=sys.stderr)
        codegen_per_pass.append(log_codegen(p, recs))
    for name in timings:
        timings[name] = min(ps[name] for ps in passes)
    print(f"# min-of-{n_passes} total: {sum(timings.values()):.1f}s "
          f"(cold {sum(cold.values()):.1f}s)", file=sys.stderr)

    # Empirical noise floor of the ESTIMATOR itself, WARM passes only:
    # passes {2,4} and {3,5} are two independent spaced warm min-of-2
    # samples per query; their relative disagreement is exactly the
    # uncertainty a round-over-round per-query diff of this bench
    # carries.  (Pass 1 is cold — first-time Janino codegen inflates it —
    # and is excluded: a floor that folds it in conflates one-time codegen
    # cost with host noise.  Warm passes compile only what the class cache
    # could not keep; codegen_per_pass records how much that was.)
    noise_floor = None
    noise_within_10pct = None
    noise_within_10pct_tracked = None
    n_tracked = None
    noise_abs_ms_median = None
    noise_abs_ms_p90 = None
    deltas = []
    abs_deltas = []
    tracked_deltas = []
    for name in (timings if n_passes >= 5 else ()):
        a = min(passes[1][name], passes[3][name])
        b = min(passes[2][name], passes[4][name])
        d = abs(a - b) / max(min(a, b), 1e-9)
        deltas.append(d)
        abs_deltas.append(abs(a - b))
        if min(a, b) >= 0.5:  # the regression-tracked subset
            tracked_deltas.append(d)
    if deltas:
        ds = sorted(deltas)
        noise_floor = round(ds[int(0.9 * (len(ds) - 1))], 4)
        noise_within_10pct = round(
            sum(1 for d in ds if d < 0.10) / len(ds), 4
        )
        print(f"# paired warm A/B noise floor (p90): {noise_floor}; "
              f"within 10%: {noise_within_10pct:.0%}", file=sys.stderr)
    if abs_deltas:
        # the GUARANTEE is absolute-delta (round-10): the within-10%
        # ratio bar is structurally unreachable for sub-100ms queries on
        # a local-mode scheduler with ~50-120ms task granularity, while
        # the absolute disagreement is tightly bounded — these two
        # numbers ARE the floor a round-over-round diff carries
        ads = sorted(abs_deltas)
        noise_abs_ms_median = round(1000 * ads[len(ads) // 2], 1)
        noise_abs_ms_p90 = round(1000 * ads[int(0.9 * (len(ads) - 1))], 1)
        print(f"# paired warm A/B absolute delta: median "
              f"{noise_abs_ms_median}ms, p90 {noise_abs_ms_p90}ms",
              file=sys.stderr)
    if tracked_deltas:
        n_tracked = len(tracked_deltas)
        noise_within_10pct_tracked = round(
            sum(1 for d in tracked_deltas if d < 0.10) / n_tracked, 4
        )
        print(f"# regression-tracked subset (warm >= 0.5s): "
              f"{n_tracked} queries, within 10%: "
              f"{noise_within_10pct_tracked:.0%}", file=sys.stderr)

    def _qnum(name: str) -> int:
        m = re.match(r"q(\d+)", name)
        return int(m.group(1)) if m else 10**9

    core = {k: v for k, v in timings.items() if _qnum(k) < 20}
    result = {
        "metric": "total_query_wall_seconds",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "sf": None,
        "cpus": int(cpus),
        "n_queries": len(timings),
        "core_parity_seconds": round(sum(core.values()), 4),
        "noise_floor": noise_floor,
        "noise_within_10pct": noise_within_10pct,
        "noise_within_10pct_tracked": noise_within_10pct_tracked,
        "n_tracked": n_tracked,
        "noise_abs_ms_median": noise_abs_ms_median,
        "noise_abs_ms_p90": noise_abs_ms_p90,
        "timing_discipline": (
            "min-of-5 (warm-only paired min-of-2 A/B floor; "
            "per-query guarantee scoped to warm >= 0.5s)"
            if n_passes >= 5 else
            f"min-of-{n_passes} (reduced-pass scaling run; no noise "
            "floor — min estimate biased slow vs the 5-pass baseline)"
        ),
    }
    m = re.search(r"sf([0-9.]+)", sf_dir)
    if m:
        result["sf"] = float(m.group(1))

    if parity is not None:
        result["parity_workload"] = parity
    if parity_err is not None:
        result["parity_workload_error"] = parity_err

    # Full artifact — including cold-run times and per-spec parity detail —
    # goes to a file next to this script, immune to stdout tail-capture
    # truncation.  The stdout line keeps every driver-required field but
    # drops the bulky per-spec parity dicts so it stays well under typical
    # tail-capture windows.
    full = dict(result)
    # the min pass's layer record per query; execution ids and the row
    # count are properties of the run, not of the query's cost
    full["layers"] = {
        name: {k: v for k, v in rec.items()
               if k not in ("name", "result", "construct_executions")}
        for name, rec in layers.items()
    }
    full["cold_queries"] = {
        k: cold[k] for k in sorted(cold) if cold[k] != timings[k]
    }
    full["cold_total"] = round(sum(cold.values()), 4)
    # whether pass 1 ran against a swept /tmp (artifact builds included
    # in cold times) — cold_queries is only artifact-cold when true
    full["fresh_artifacts"] = fresh
    full["passes"] = passes  # all 5 raw samples/query — noise auditable
    full["codegen_per_pass"] = codegen_per_pass
    # gate verdict computed BEFORE any output so the breach list survives
    # in BOTH recorded artifacts (the stderr lines vanish under the
    # common `2>/dev/null` invocation — learned closing round 10)
    gate_breaches = None
    if baseline is not None:
        first_breaches, gate_breaches = _confirm_breaches(
            timings, baseline,
            lambda name: wall(record(
                spark, name, lambda: fns[name](spark, sf_dir)
            )),
        )
        full["regression_gate"] = "fired" if gate_breaches else "clean"
        # first: breaches of the min-of-N; confirmed: those still
        # breaching after CONFIRM_RUNS re-measurements
        full["regression_breaches_first"] = first_breaches
        full["regression_breaches"] = gate_breaches
        full["regression_baseline"] = baseline_label
    else:
        full["regression_gate"] = no_gate_reason
    out_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_results.json"
    )
    with open(out_path, "w") as fh:
        json.dump(full, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"# full results written to {out_path}", file=sys.stderr)

    # The driver tail-captures only the last ~2000 chars of stdout, so the
    # single JSON line must fit inside that window or it records
    # ``parsed: null``.  Keep the headline (core-parity q01-q10) per-query
    # timings inline; the full 183-query dict lives in bench_results.json.
    result["queries"] = core
    result["queries_full"] = os.path.basename(out_path)
    if baseline is not None:
        result["regression_gate"] = "fired" if gate_breaches else "clean"
        result["regression_baseline"] = baseline_label
        if gate_breaches:
            result["regression_breaches"] = gate_breaches[:6]
    else:
        result["regression_gate"] = no_gate_reason
    if parity is not None:
        result["parity_workload"] = {
            k: v
            for k, v in parity.items()
            if not k.endswith("per_query") and k != "specs"
        }
    # Structural cap: the driver tail-captures ~2000 chars of stdout, so
    # the line must ALWAYS fit — drop optional payloads largest-first until
    # it does, then hard-assert.  bench_results.json keeps everything.
    line = json.dumps(result)
    for victim in ("regression_breaches", "queries", "parity_workload"):
        if len(line) < 1800:
            break
        result.pop(victim, None)
        line = json.dumps(result)
    if len(line) >= 1800:
        # unconditional last resort (an assert would vanish under -O and,
        # when it fired, would drop the whole result line): emit only the
        # scalar summary keys — guaranteed small, still driver-parseable
        result = {
            k: v
            for k, v in result.items()
            if isinstance(v, (int, float, str, bool)) or v is None
        }
        line = json.dumps(result)
    print(line)

    # executable regression gate: breaches of the signal rule are printed
    # AFTER the result line, so the driver still records the run.  Only an
    # EXPLICIT --against exits nonzero (`make bench` fails loud); the
    # auto-resolved default gate is report-only — the driver's bare run
    # must record host-noise breaches in the artifact, not fail on them.
    if baseline is not None:
        breaches = gate_breaches
        if breaches:
            print(f"# REGRESSION vs {baseline_label}: {len(breaches)} "
                  "breach(es) of the signal rule "
                  "(>0.5s absolute, or >25% on >=1s), each confirmed "
                  f"over {CONFIRM_RUNS} re-runs", file=sys.stderr)
            for b in breaches:
                print(f"#   {b}", file=sys.stderr)
            if against:
                sys.exit(1)
        else:
            print(f"# regression gate vs {baseline_label}: clean "
                  f"({len(set(timings) & set(baseline))} queries compared, "
                  f"{len(first_breaches)} first-look breach(es) re-measured "
                  "clean)", file=sys.stderr)


#: (name, table, groupby, measures, filter) — expressible by BOTH engines.
PARITY_SPECS = [
    ("p01_groupby_sums", "lineitem", ["l_returnflag", "l_linestatus"],
     [["l_quantity", "sum", "sum_qty"], ["l_extendedprice", "sum", "sum_price"],
      ["l_quantity", "mean", "avg_qty"], ["l_orderkey", "count", "n"]], None),
    ("p02_global", "lineitem", [],
     [["l_quantity", "sum", "s"], ["l_discount", "mean", "m"],
      ["l_quantity", "min", "lo"], ["l_quantity", "max", "hi"]], None),
    ("p03_numeric_filter", "lineitem", ["l_returnflag"],
     [["l_orderkey", "count", "n"], ["l_quantity", "sum", "s"]],
     [["l_quantity", ">", 10], ["l_quantity", "<=", 40],
      ["l_discount", ">=", 0.02]]),
    ("p04_in_filter", "lineitem", ["l_linestatus"],
     [["l_quantity", "sum", "s"]], [["l_linenumber", "in", [1, 2, 3]]]),
    ("p05_count_distinct", "orders", ["o_orderstatus"],
     [["o_custkey", "count", "n"], ["o_custkey", "count_distinct", "d"]], None),
    ("p06_min_max_std", "part", ["p_brand"],
     [["p_retailprice", "min", "lo"], ["p_retailprice", "max", "hi"],
      ["p_retailprice", "std", "sd"], ["p_type", "one", "t"]], None),
    ("p07_passthrough", "customer", ["c_custkey", "c_mktsegment"],
     [["c_acctbal"], ["c_nationkey"]], [["c_acctbal", ">", 0]]),
    ("p08_missing_splice", "lineitem", ["l_returnflag", "ghost_dim"],
     [["l_quantity", "sum", "s"], ["ghost_m", "sum", "g"]], None),
]


def _reference_head_to_head(spark, sf_dir: str) -> dict:
    """Time the SAME aggregation workload on this engine and on the
    reference implementation (visualfabriq/parquery, DuckDB engine — its
    default and faster path), same process, same files."""
    import time

    sys.path.insert(0, "/root/reference")
    # the reference resolves its version via installed package metadata,
    # which doesn't exist for a source-tree import — shim it
    import importlib.metadata as _md

    _orig_version = _md.version

    def _version(name):
        if name == "parquery":
            return "2.2.1"
        return _orig_version(name)

    _md.version = _version
    try:
        from parquery.aggregate import aggregate_pq as reference_aggregate_pq
    finally:
        _md.version = _orig_version

    from parquery_spark import aggregate_pq as spark_aggregate_pq

    def run(fn, label):
        # 7 runs per spec, first 2 discarded as warmup, median of the last
        # 5 — the SAME rule for every engine.  Warmup runs absorb one-time
        # per-shape costs each engine has (Spark: Janino codegen + C2 JIT;
        # DuckDB/PyArrow: OS page cache fill); the median over warm runs
        # absorbs the host's scheduler/GC noise (observed 2-4x swings
        # between identical runs).
        per = {}
        for name, table, dims, measures, filt in PARITY_SPECS:
            path = os.path.join(sf_dir, f"{table}.parquet")
            aggregate = not name.endswith("passthrough")
            times = []
            for i in range(7):
                t0 = time.perf_counter()
                out = fn(path, dims, measures, data_filter=filt,
                         aggregate=aggregate)
                n = out.num_rows
                if i >= 2:
                    times.append(time.perf_counter() - t0)
            per[name] = round(sorted(times)[2], 4)
            print(f"# {label} {name}: {per[name]:.3f}s ({n} rows)",
                  file=sys.stderr)
        return per

    spark_times = run(spark_aggregate_pq, "spark")

    # the reference's default DuckDB engine calls fetch_arrow_reader APIs
    # removed in duckdb 1.0, so it cannot run here; its PyArrow engine is
    # the one measured.  A hand-built plain-DuckDB-SQL run of the same
    # specs stands in for what its DuckDB engine would achieve.
    reference_engine = "duckdb"
    try:
        reference_aggregate_pq(
            os.path.join(sf_dir, "part.parquet"), ["p_brand"],
            [["p_retailprice", "sum", "s"]], engine="duckdb",
        )
    except Exception:
        reference_engine = "pyarrow"

    def ref(path, dims, measures, data_filter=None, aggregate=True):
        return reference_aggregate_pq(
            path, dims, measures, data_filter=data_filter,
            aggregate=aggregate, engine=reference_engine,
        )

    ref_times = run(ref, f"reference[{reference_engine}]")
    duck_times = _plain_duckdb_run(sf_dir)
    return {
        "specs": [s[0] for s in PARITY_SPECS],
        "spark_sec": round(sum(spark_times.values()), 4),
        "reference_sec": round(sum(ref_times.values()), 4),
        "reference_engine": reference_engine,
        "plain_duckdb_sql_sec": round(sum(duck_times.values()), 4),
        "spark_per_query": spark_times,
        "reference_per_query": ref_times,
        "plain_duckdb_per_query": duck_times,
    }


_DUCK_OPS = {
    "sum": "SUM({c})", "mean": "AVG({c})", "count": "COUNT({c})",
    "count_distinct": "COUNT(DISTINCT {c})", "min": "MIN({c})",
    "max": "MAX({c})", "std": "STDDEV_SAMP({c})", "one": "MIN({c})",
}


def _plain_duckdb_run(sf_dir: str) -> dict:
    """The PARITY_SPECS workload as straight DuckDB SQL (fresh in-memory
    connection per query, matching the reference's per-query lifecycle)."""
    import time

    import duckdb
    import pyarrow.parquet as papq

    per = {}
    for name, table, dims, measures, filt in PARITY_SPECS:
        path = os.path.join(sf_dir, f"{table}.parquet")
        file_cols = set(papq.read_schema(path).names)
        times = []
        live = [m for m in measures if (m + [m[0], m[0]])[0] in file_cols]
        live_dims = [d for d in dims if d in file_cols]
        if name.endswith("passthrough"):
            sel = ", ".join(sorted({*live_dims, *(m[0] for m in live)}))
            group = ""
        else:
            aggs = [
                _DUCK_OPS[(m + ["sum"])[1]].format(c=m[0])
                + f" AS {(m + [m[0], m[0]])[2] if len(m) > 2 else m[0]}"
                for m in live
            ]
            sel = ", ".join([*live_dims, *aggs])
            group = (
                " GROUP BY " + ", ".join(live_dims) if live_dims else ""
            )
        where = ""
        if filt:
            where = " WHERE " + " AND ".join(
                f"{c} IN ({', '.join(map(str, v))})" if op == "in"
                else f"{c} {op.replace('==', '=')} {v}"
                for c, op, v in filt
            )
        for i in range(7):
            t0 = time.perf_counter()
            con = duckdb.connect()
            con.sql(
                f"SELECT {sel} FROM read_parquet('{path}'){where}{group}"
            ).arrow()
            con.close()
            if i >= 2:
                times.append(time.perf_counter() - t0)
        per[name] = round(sorted(times)[2], 4)
        print(f"# duckdb-sql {name}: {per[name]:.3f}s", file=sys.stderr)
    return per


if __name__ == "__main__":
    main()
