"""Per-layer metrics of a traced run, from its spans and Spark counters.

Denominators: ``_per_query`` metrics divide by the run's queries
(``aggregate_pq`` calls, or registry queries); writes are not queries.
A rate whose layer was never reached reads 0.
"""

from __future__ import annotations

from collections import defaultdict

from perfbench.tracing import self_ms

#: span layers whose self time is reported; ``execute`` is the DataFrame
#: materialization (``toArrow``/``toPandas``/``collect``) and ``spark.sql``
#: the plan-cache misses' parse and analysis
SELF_TIME_LAYERS = ("session", "tool", "fs", "relations", "spark.sql",
                    "plans.aggregation", "aggregate", "execute", "transport", "write")


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def summarize(ops, recs, spans, *, start_s, gc_ms, cached_mb, repeat,
              qps) -> dict[str, tuple[float, str]]:
    kids = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)

    def has_child(s, name):
        return any(k.name == name for k in kids[s.sid])

    def parent(s):
        return spans[s.parent] if s.parent is not None else None

    def named(name):
        return [s for s in spans if s.name == name]

    def total_ms(ss):
        return sum(s.ms for s in ss)

    agg = [i for i, op in enumerate(ops) if op.kind == "agg"]
    reg = [i for i, op in enumerate(ops) if op.kind == "registry"]
    writes = [i for i, op in enumerate(ops) if op.kind == "write"]
    n_q = len(agg) + len(reg)
    n_agg = len(agg)
    agg_set = set(agg)

    def spark_sum(idx, key, field="spark"):
        return sum(recs[i].get(field, {}).get(key, 0.0) for i in idx)

    # session
    small_ops = {s.op for s in named("get_small_query_session")}
    # outermost calls only: fs and execute functions call their neighbours
    fs_top = [s for s in spans if s.layer == "fs"
              and (parent(s) is None or parent(s).layer != "fs")]
    exec_agg = [s for s in spans if s.layer == "execute" and s.op in agg_set
                and (parent(s) is None or parent(s).layer != "execute")]
    # relations
    schema = named("schema_names")
    schema_miss = [s for s in schema if has_child(s, "_parse_schema_names")]
    rel = named("get_relation")
    rel_cached = [s for s in rel if not has_child(s, "_lazy_read")]
    rel_built = [s for s in rel_cached if has_child(s, "_read")]
    lazy = named("_lazy_read")
    lazy_miss = [s for s in lazy if has_child(s, "_read")]
    plans = named("cached_sql")
    plan_miss = [s for s in plans if has_child(s, "sql")]
    evictions = [s for s in named("_evict") if s.value]
    retries = [s for s in named("invalidate")
               if parent(s) is not None and parent(s).name == "aggregate_pq"]
    # aggregate execution
    execute_ms = total_ms(exec_agg)
    job_ms = spark_sum(agg, "job_ms")
    result_rows = sum(recs[i].get("rows", 0) for i in agg)
    # transport and write
    ship = named("serialize_pa_table_base64")
    ipc = named("serialize_pa_table_bytes")
    wspans = [s for s in named("df_to_parquet") if s.op in set(writes)]
    w_user = sum(recs[i]["user_bytes"] for i in writes)
    # registry
    r_exec = sum(recs[i].get("collect_ms", 0.0) for i in reg)
    r_jobs_ms = spark_sum(reg, "job_ms")

    own = self_ms(spans)
    by_layer = defaultdict(float)
    for s in spans:
        by_layer[s.layer] += own[s.sid]

    m = {
        "session.start_s": (start_s, "s"),
        "session.small_query_share": (_ratio(len(small_ops & agg_set), n_agg), "ratio"),
        "session.jvm_gc_ms_per_query": (_ratio(gc_ms, n_q), "ms"),
        "tool.normalize_us_per_query": (_ratio(total_ms(
            [s for s in spans if s.layer == "tool"]) * 1e3, n_q), "us"),
        "fs.calls_per_query": (_ratio(len(fs_top), n_q), "count"),
        "fs.ms_per_query": (_ratio(total_ms(fs_top), n_q), "ms"),
        "relations.schema_cache_hit_rate": (
            1 - _ratio(len(schema_miss), len(schema)) if schema else 0.0, "ratio"),
        "relations.schema_names_ms_per_query": (_ratio(total_ms(schema), n_q), "ms"),
        "relations.relation_hit_rate": (
            1 - _ratio(len(rel_built), len(rel_cached)) if rel_cached else 0.0, "ratio"),
        "relations.relation_builds": (float(len(rel_built)), "count"),
        "relations.relation_build_ms": (total_ms(rel_built), "ms"),
        "relations.evictions": (float(len(evictions)), "count"),
        "relations.cached_mb": (cached_mb, "MB"),
        "relations.lazy_hit_rate": (
            1 - _ratio(len(lazy_miss), len(lazy)) if lazy else 0.0, "ratio"),
        "relations.plan_cache_hit_rate": (
            1 - _ratio(len(plan_miss), len(plans)) if plans else 0.0, "ratio"),
        "relations.cached_sql_ms_per_query": (_ratio(total_ms(plans), n_q), "ms"),
        "plans.build_ms_per_query": (
            _ratio(total_ms(named("build_aggregation_plan")), n_q), "ms"),
        "aggregate.execute_ms_per_query": (_ratio(execute_ms, n_agg), "ms"),
        "aggregate.spark_job_ms_per_query": (_ratio(job_ms, n_agg), "ms"),
        "aggregate.fetch_ms_per_query": (_ratio(execute_ms - job_ms, n_agg), "ms"),
        "aggregate.jobs_per_query": (_ratio(spark_sum(agg, "jobs"), n_agg), "count"),
        "aggregate.stages_per_query": (_ratio(spark_sum(agg, "stages"), n_agg), "count"),
        "aggregate.tasks_per_query": (_ratio(spark_sum(agg, "tasks"), n_agg), "count"),
        "aggregate.executor_run_ms_per_query": (
            _ratio(spark_sum(agg, "run_ms"), n_agg), "ms"),
        "aggregate.input_bytes_per_query": (
            _ratio(spark_sum(agg, "input_bytes"), n_agg), "B"),
        "aggregate.input_rows_per_result_row": (
            _ratio(spark_sum(agg, "input_rows"), result_rows), "ratio"),
        "aggregate.shuffle_write_bytes_per_query": (
            _ratio(spark_sum(agg, "shuffle_write_bytes"), n_agg), "B"),
        "aggregate.spill_bytes_per_query": (
            _ratio(spark_sum(agg, "spill_bytes"), n_agg), "B"),
        "aggregate.retries": (float(len(retries)), "count"),
        "transport.serialize_ms_per_result": (_ratio(total_ms(ship), len(ship)), "ms"),
        "transport.ipc_bytes_per_result": (
            _ratio(sum(s.value for s in ipc), len(ipc)), "B"),
        "write.ms_per_file": (_ratio(total_ms(wspans), len(wspans)), "ms"),
        "write.user_mb_per_s": (
            _ratio(w_user / 2**20, total_ms(wspans) / 1e3), "MB/s"),
        "write.row_groups_per_file": (
            _ratio(sum(recs[i].get("row_groups", 0) for i in writes), len(writes)), "count"),
        "queries.construct_ms_per_query": (
            _ratio(sum(recs[i].get("construct_ms", 0.0) for i in reg), len(reg)), "ms"),
        "queries.build_jobs_per_query": (
            _ratio(spark_sum(reg, "jobs", "build"), len(reg)), "count"),
        "queries.catalyst_ms_per_query": (
            _ratio(sum(recs[i].get("catalyst_ms", 0.0) for i in reg), len(reg)), "ms"),
        "queries.execute_ms_per_query": (_ratio(r_exec, len(reg)), "ms"),
        "queries.fetch_ms_per_query": (_ratio(r_exec - r_jobs_ms, len(reg)), "ms"),
        "queries.jobs_per_query": (_ratio(spark_sum(reg, "jobs"), len(reg)), "count"),
        "queries.shuffle_write_bytes_per_query": (
            _ratio(spark_sum(reg, "shuffle_write_bytes"), len(reg)), "B"),
        "queries.spill_bytes_per_query": (
            _ratio(spark_sum(reg, "spill_bytes"), len(reg)), "B"),
        "repeat_share": (repeat, "ratio"),
        "trace.queries_per_s": (qps, "1/s"),
    }
    for layer in SELF_TIME_LAYERS:
        m[f"self_ms_per_op.{layer}"] = (_ratio(by_layer[layer], len(ops)), "ms")
    return m
