"""Query registry: every implemented operator exposed as a named query with
a DuckDB oracle-SQL twin (the driver's correctness gate).

Each entry maps ``name -> (spark_fn, oracle_sql_or_None)`` where ``spark_fn``
takes ``(spark, sf_dir)`` and returns a lazy DataFrame.  Column names are
aliased identically in the Spark plan and the SQL so the driver's
sorted-by-name value-hash comparison lines up.

Float discipline: aggregates over non-integral doubles are rounded the same
number of digits on both sides (Spark ``F.round`` / SQL ``ROUND``) so that
partial-aggregation order differences between engines can't flip a hash bit.
Sums of whole-number-valued doubles (e.g. ``l_quantity``) are exact in IEEE
double and need no rounding.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquery_spark import fs, relations
from parquery_spark.artifacts import artifact
from parquery_spark.operators.reuse import self_join_reusing
from parquery_spark.operators.util import fan_out
from parquery_spark.plans.aggregation import build_aggregation_plan

QUERIES: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {}


def query(name: str, sql: str | None = None):
    def deco(fn):
        QUERIES[name] = (fn, sql)
        return fn
    return deco


#: Integer-cents discipline (NOTES.md float-hazard section): events.value is
#: fixed 2-decimal data, so group sums land exactly on rounding half-way
#: points where cross-engine summation-order ulp error flips ROUND at scale.
#: Leave the double domain per row instead: floor(x*100+0.5) on bitwise-
#: identical per-row doubles -> exact int64 sum -> one final /100.0 (both
#: engines then divide the SAME integer, so the result double is identical).
#: Oracle SQL strings inline the textual twin of each helper — keep them in
#: lockstep when editing either form.
def _cents(col: str = "value"):
    return F.floor(F.col(col) * 100 + F.lit(0.5)).cast("long")


#: TPC-H revenue variant of the same discipline: l_extendedprice (2-dec) x
#: (1 - l_discount) (2-dec) is a 4-decimal row value, so ROUND(SUM(..), 2)
#: has genuine half-way exposure (a sum ending in .xx5) that a 1-ulp
#: cross-engine difference can flip.  Scale each row to integer
#: ten-thousandths (the per-row double product is bit-identical on both
#: engines, so the floor is too), sum exactly in int64, then round to
#: cents IN THE INTEGER DOMAIN: floor((S + 50) / 100) / 100.0.  The /100
#: happens on an exactly-representable integer < 2^53, so floor is exact
#: and identical everywhere (valid while group revenue < ~9e11 — any
#: per-group figure; a global 100 TB total would need int128/DECIMAL).
def _rev_e4():
    return F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
        + F.lit(0.5)
    ).cast("long")


def _e4_to_cents(sum_col):
    """Integer-domain half-up round of a summed 1e-4-scaled column to a
    2-decimal double."""
    return F.floor((sum_col + F.lit(50)) / F.lit(100)) / 100.0


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """A fully lazy scan of one table, its analyzed relation reused by file
    version through ``relations.get_relation``.  Nothing is persisted (round
    9): a persisted base table plans as ``TableCacheQueryStage``, which
    DEFEATS AQE exchange reuse for every multi-consumer relation above it
    (Spark 4.1: identical exchanges over a table-cache stage are not
    unified; over a real scan they are) — the registry leans on
    ReuseExchange as its zero-cache sharing mechanism, and a 27-query
    mini-bench ran 16% faster without the persisted copy; and real scans
    keep PushedFilters/partition pruning visible and honest."""
    return relations.get_relation(spark, _path(sf_dir, table))


def _path(sf_dir: str, table: str) -> str:
    return os.path.join(sf_dir, f"{table}.parquet")


def _footer_rows(path: str) -> int:
    """Exact row count of a parquet file (or a local directory layout)
    from its footers — the driver-side replacement for a ``df.count()``
    job when the relation is an unfiltered scan (round 12, guide §5 "the
    driver should do almost no data work" cuts both ways: a count JOB
    for a number the footers already hold is a scheduler round-trip
    wasted).  Footers are read through ``fs``."""
    import pyarrow.parquet as papq

    total = 0
    for p in fs.glob(f"{path.rstrip('/')}/*.parquet") or [path]:
        with fs.open_input(p) as fh:
            total += papq.read_metadata(fh).num_rows
    return total


def _probe_rows(sf_dir: str, ids) -> list[dict]:
    """The handful of probe/query vectors the ANN-family queries anchor
    on, read DRIVER-SIDE from the embeddings parquet (round 12, guide
    §5): each former ``emb.filter(vec_id IN ...).collect()`` paid a full
    Spark job round-trip for ≤4 rows of an unfiltered single-file scan.
    The pushed-down pyarrow read returns the identical values (float32 →
    double widening is exact on both paths) in the identical order (the
    fixture is written vec_id-ascending, which both the file-order
    collect and this read preserve); rows are dicts, a drop-in for the
    ``r["vec_id"]`` / ``r["embedding"]`` / ``r["label"]`` access pattern
    of the Row objects they replace.  The file is read through ``fs``."""
    import pyarrow.parquet as papq

    filters = [("vec_id", "in", [int(i) for i in ids])]
    with fs.open_input(_path(sf_dir, "embeddings")) as fh:
        return papq.read_table(fh, filters=filters).to_pylist()


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.ts is parquet TIMESTAMP(NANOS), which Spark's reader rejects;
    read it as long (runtime-settable legacy conf) and truncate ns→µs —
    bit-identical to how DuckDB/Arrow down-convert nanos.

    The conf is intentionally NOT restored: the returned plan is lazy, and
    the scan re-reads the conf at action time — restoring it here would
    break later materialization.  It is therefore a documented session-wide
    contract (also set in ``session._DEFAULTS``): TIMESTAMP(NANOS) columns
    surface as raw nanosecond longs; truncate via ``timestamp_micros(ts DIV
    1000)`` as below.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = load(spark, sf_dir, "events")
    if dict(df.dtypes)["ts"] == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return df


# ===========================================================================
# Core parity surface (SURVEY.md §2.2-2.3) — via the aggregate_pq plan builder
# ===========================================================================

@query(
    "q01_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           SUM(l_quantity)                    AS sum_qty,
           ROUND(SUM(l_extendedprice), 2)     AS sum_base_price,
           ROUND(AVG(l_quantity), 6)          AS avg_qty,
           COUNT(l_orderkey)                  AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape — the reference API's flagship expressible query
    (dims + sums + mean + count with a date-range filter)."""
    df = build_aggregation_plan(
        spark,
        _path(sf_dir, "lineitem"),
        ["l_returnflag", "l_linestatus"],
        [
            ["l_quantity", "sum", "sum_qty"],
            ["l_extendedprice", "sum", "sum_base_price"],
            ["l_quantity", "mean", "avg_qty"],
            ["l_orderkey", "count", "count_order"],
        ],
        data_filter=[["l_shipdate", "<=", "1998-09-01"]],
    )
    return df.select(
        "l_returnflag",
        "l_linestatus",
        "sum_qty",
        F.round("sum_base_price", 2).alias("sum_base_price"),
        F.round("avg_qty", 6).alias("avg_qty"),
        "count_order",
    )


@query(
    "q02_global_agg",
    """
    SELECT SUM(l_quantity)                AS total_qty,
           ROUND(AVG(l_discount), 6)      AS avg_disc,
           MIN(l_quantity)                AS min_qty,
           MAX(l_quantity)                AS max_qty,
           COUNT(l_orderkey)              AS n
    FROM lineitem
    """,
)
def q02_global_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global aggregation, empty groupby (SURVEY §2.3 A11)."""
    df = build_aggregation_plan(
        spark,
        _path(sf_dir, "lineitem"),
        [],
        [
            ["l_quantity", "sum", "total_qty"],
            ["l_discount", "mean", "avg_disc"],
            ["l_quantity", "min", "min_qty"],
            ["l_quantity", "max", "max_qty"],
            ["l_orderkey", "count", "n"],
        ],
    )
    return df.withColumn("avg_disc", F.round("avg_disc", 6))


@query(
    "q03_filter_in_string",
    """
    SELECT l_linestatus, SUM(l_quantity) AS sum_qty
    FROM lineitem
    WHERE l_returnflag IN ('A', 'R')
    GROUP BY l_linestatus
    """,
)
def q03_filter_in_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-valued IN filter — broken on the reference's default engine
    (SURVEY §4 caveat); first-class here."""
    return build_aggregation_plan(
        spark,
        _path(sf_dir, "lineitem"),
        ["l_linestatus"],
        [["l_quantity", "sum", "sum_qty"]],
        data_filter=[["l_returnflag", "in", ["A", "R"]]],
    )


@query(
    "q04_filter_range_and",
    """
    SELECT l_returnflag, COUNT(l_orderkey) AS n, SUM(l_quantity) AS sum_qty
    FROM lineitem
    WHERE l_quantity > 10 AND l_quantity <= 40
      AND l_discount >= 0.02 AND l_discount < 0.08
    GROUP BY l_returnflag
    """,
)
def q04_filter_range_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AND-folded range predicates (P2, P7)."""
    return build_aggregation_plan(
        spark,
        _path(sf_dir, "lineitem"),
        ["l_returnflag"],
        [["l_orderkey", "count", "n"], ["l_quantity", "sum", "sum_qty"]],
        data_filter=[
            ["l_quantity", ">", 10],
            ["l_quantity", "<=", 40],
            ["l_discount", ">=", 0.02],
            ["l_discount", "<", 0.08],
        ],
    )


@query(
    "q05_filter_neq_notin",
    """
    SELECT o_orderpriority, COUNT(o_orderkey) AS n,
           ROUND(SUM(o_totalprice), 2) AS total
    FROM orders
    WHERE o_orderstatus != 'F' AND o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
    GROUP BY o_orderpriority
    """,
)
def q05_filter_neq_notin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """!= and NOT IN filters (P4, P6)."""
    df = build_aggregation_plan(
        spark,
        _path(sf_dir, "orders"),
        ["o_orderpriority"],
        [["o_orderkey", "count", "n"], ["o_totalprice", "sum", "total"]],
        data_filter=[
            ["o_orderstatus", "!=", "F"],
            ["o_orderpriority", "not in", ["1-URGENT", "2-HIGH"]],
        ],
    )
    return df.withColumn("total", F.round("total", 2))


@query(
    "q06_count_family",
    """
    SELECT o_orderstatus,
           COUNT(o_custkey)                               AS n,
           COUNT(DISTINCT o_custkey)                      AS n_distinct,
           COUNT(CASE WHEN o_custkey IS NULL THEN 1 END)  AS n_null
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def q06_count_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count / count_distinct / count_na (A4-A7; count_na fixed to README
    semantics — broken in both reference engines)."""
    return build_aggregation_plan(
        spark,
        _path(sf_dir, "orders"),
        ["o_orderstatus"],
        [
            ["o_custkey", "count", "n"],
            ["o_custkey", "count_distinct", "n_distinct"],
            ["o_custkey", "count_na", "n_null"],
        ],
    )


@query(
    "q07_one_min_max_stddev",
    """
    SELECT p_brand,
           MIN(p_type)                       AS one_type,
           MIN(p_retailprice)                AS min_price,
           MAX(p_retailprice)                AS max_price,
           ROUND(STDDEV_SAMP(p_retailprice), 6) AS sd_price
    FROM part
    GROUP BY p_brand
    """,
)
def q07_one_min_max_stddev(spark: SparkSession, sf_dir: str) -> DataFrame:
    """one (deterministic MIN, A10), min/max (A8-A9), sample stddev (A3)."""
    df = build_aggregation_plan(
        spark,
        _path(sf_dir, "part"),
        ["p_brand"],
        [
            ["p_type", "one", "one_type"],
            ["p_retailprice", "min", "min_price"],
            ["p_retailprice", "max", "max_price"],
            ["p_retailprice", "std", "sd_price"],
        ],
    )
    return df.withColumn("sd_price", F.round("sd_price", 6))


@query(
    "q08_passthrough",
    """
    SELECT c_acctbal, c_custkey, c_mktsegment, c_nationkey
    FROM customer
    WHERE c_mktsegment IN ('BUILDING', 'MACHINERY') AND c_acctbal > 0
    """,
)
def q08_passthrough(spark: SparkSession, sf_dir: str) -> DataFrame:
    """aggregate=False raw-row mode (A12): filter + sorted distinct projection."""
    return build_aggregation_plan(
        spark,
        _path(sf_dir, "customer"),
        ["c_custkey", "c_mktsegment"],
        [["c_acctbal"], ["c_nationkey"]],
        data_filter=[
            ["c_mktsegment", "in", ["BUILDING", "MACHINERY"]],
            ["c_acctbal", ">", 0],
        ],
        aggregate=False,
    )


@query(
    "q09_missing_column_splice",
    """
    SELECT l_returnflag, SUM(l_quantity) AS sum_qty,
           CAST(0.0 AS DOUBLE) AS ghost_measure, -1 AS ghost_dim
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q09_missing_column_splice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tolerant-schema splice: absent dim → -1, absent measure → 0.0
    (U3; reference: parquery/tool.py:240-301)."""
    return build_aggregation_plan(
        spark,
        _path(sf_dir, "lineitem"),
        ["l_returnflag", "ghost_dim"],
        [["l_quantity", "sum", "sum_qty"], ["ghost_col", "sum", "ghost_measure"]],
    )


@query(
    "q10_groupby_only_distinct",
    """
    SELECT l_returnflag, l_linestatus FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q10_groupby_only_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-by with no surviving measures → distinct dimension rows."""
    return build_aggregation_plan(
        spark,
        _path(sf_dir, "lineitem"),
        ["l_returnflag", "l_linestatus"],
        [],
    )


# ===========================================================================
# Extension surface: joins, windows, sorts, set ops, scalar functions
# (all absent from the reference — SURVEY.md §2.4)
# ===========================================================================

@query(
    "q20_join_broadcast",
    """
    SELECT c_mktsegment,
           COUNT(o_orderkey)              AS n_orders,
           ROUND(SUM(o_totalprice), 2)    AS revenue,
           COUNT(DISTINCT o_custkey)      AS n_customers
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def q20_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact ⋈ broadcast dimension: the dim side ships to every executor, so
    the join is shuffle-free; only the aggregation shuffles (on 5 segments,
    AQE-coalesced)."""
    from parquery_spark.operators.joins import join_tables

    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    j = join_tables(
        orders, customer,
        on=orders.o_custkey == customer.c_custkey,
        broadcast_right=True,
    )
    return j.groupBy("c_mktsegment").agg(
        F.count("o_orderkey").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        F.countDistinct("o_custkey").alias("n_customers"),
    )


@query(
    "q21_join_multi_star",
    """
    SELECT r_name, n_name,
           COUNT(l_orderkey)                                        AS n_items,
           CAST(floor((SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5) AS BIGINT)) + 50) / 100) AS DOUBLE) / 100 AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey  = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
    GROUP BY r_name, n_name
    """,
)
def q21_join_multi_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema chain join (TPC-H Q5 shape): fact table joins broadcast
    dims; the only large shuffle is lineitem⋈orders on orderkey."""
    lineitem = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp")
    )
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    j = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return j.groupBy("r_name", "n_name").agg(
        F.count("l_orderkey").alias("n_items"),
        _e4_to_cents(F.sum(_rev_e4())).alias("revenue"),
    )


@query(
    "q22_semi_anti_join",
    """
    SELECT 'with_orders' AS cohort, COUNT(c_custkey) AS n FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    UNION ALL
    SELECT 'without_orders' AS cohort, COUNT(c_custkey) AS n FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def q22_semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi + left-anti joins (EXISTS / NOT EXISTS)."""
    from parquery_spark.operators.joins import anti_join, semi_join

    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    on = customer.c_custkey == orders.o_custkey
    with_o = semi_join(customer, orders, on).agg(
        F.count("c_custkey").alias("n")
    ).select(F.lit("with_orders").alias("cohort"), "n")
    without_o = anti_join(customer, orders, on).agg(
        F.count("c_custkey").alias("n")
    ).select(F.lit("without_orders").alias("cohort"), "n")
    return with_o.unionByName(without_o)


@query(
    "q23_window_topn",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey
               ) AS rn
        FROM orders
    ) WHERE rn <= 3
    """,
)
def q23_window_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer (ranking window; Spark's WindowGroupLimit
    prunes to n rows per key before the full sort)."""
    from pyspark.sql import Window

    from parquery_spark.operators.windows import top_n_per_group

    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    top = top_n_per_group(
        orders.select("o_custkey", "o_orderkey", "o_totalprice"),
        ["o_custkey"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
        3,
    )
    return top.withColumn("rn", F.row_number().over(w).cast("long"))


@query(
    "q24_window_running_sum",
    """
    SELECT user_id, event_id,
           SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) / 100.0 AS running_value,
           LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS prev_type
    FROM events
    """,
)
def q24_window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running sum + lag (analytic windows over an event stream)."""
    from pyspark.sql import Window

    events = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return events.select(
        "user_id",
        "event_id",
        (F.sum(_cents()).over(wf) / 100.0).alias("running_value"),
        F.lag("event_type").over(w).alias("prev_type"),
    )


@query(
    "q25_topk_global",
    """
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def q25_topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: plans as TakeOrderedAndProject (per-partition heaps,
    no full sort — scales to any row count)."""
    return (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@query(
    "q26_set_ops",
    """
    WITH rich AS (SELECT c_custkey AS k FROM customer WHERE c_acctbal > 5000),
         urgent AS (SELECT DISTINCT o_custkey AS k FROM orders
                    WHERE o_orderpriority = '1-URGENT')
    SELECT 'union' AS op, COUNT(k) AS n FROM (SELECT k FROM rich UNION SELECT k FROM urgent)
    UNION ALL
    SELECT 'intersect' AS op, COUNT(k) AS n FROM (SELECT k FROM rich INTERSECT SELECT k FROM urgent)
    UNION ALL
    SELECT 'except' AS op, COUNT(k) AS n FROM (SELECT k FROM rich EXCEPT SELECT k FROM urgent)
    """,
)
def q26_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT (distinct set semantics)."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    rich = customer.filter(F.col("c_acctbal") > 5000).select(
        F.col("c_custkey").alias("k")
    )
    urgent = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("k"))
        .distinct()
    )
    def count_of(df, label):
        return df.agg(F.count("k").alias("n")).select(
            F.lit(label).alias("op"), "n"
        )
    return (
        count_of(rich.union(urgent).distinct(), "union")
        .unionByName(count_of(rich.intersect(urgent), "intersect"))
        .unionByName(count_of(rich.exceptAll(urgent).distinct(), "except"))
    )


@query(
    "q27_having",
    """
    SELECT c_nationkey, COUNT(c_custkey) AS n_customers,
           ROUND(AVG(c_acctbal), 4) AS avg_bal
    FROM customer
    GROUP BY c_nationkey
    HAVING COUNT(c_custkey) >= 5
    """,
)
def q27_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation predicate (HAVING)."""
    return (
        load(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(
            F.count("c_custkey").alias("n_customers"),
            F.round(F.avg("c_acctbal"), 4).alias("avg_bal"),
        )
        .filter(F.col("n_customers") >= 5)
    )


@query(
    "q28_rollup",
    """
    SELECT o_orderstatus, o_orderpriority,
           COUNT(o_orderkey) AS n, ROUND(SUM(o_totalprice), 2) AS total
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def q28_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (subtotals + grand total)."""
    return (
        load(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("o_orderkey").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@query(
    "q29_scalar_functions",
    """
    SELECT CAST(year(o_orderdate) AS INT)         AS yr,
           upper(substr(o_orderpriority, 3))       AS prio,
           COUNT(o_orderkey)                       AS n,
           ROUND(SUM(abs(o_totalprice)), 2)        AS total,
           ROUND(AVG(length(o_orderstatus) + (o_orderkey % 7)), 6) AS weird_avg
    FROM orders
    GROUP BY 1, 2
    """,
)
def q29_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar expression surface: date extraction, string ops, math, modulo."""
    o = load(spark, sf_dir, "orders")
    return (
        o.select(
            F.year("o_orderdate").alias("yr"),
            F.upper(F.substring("o_orderpriority", 3, 2_000_000)).alias("prio"),
            "o_orderkey",
            "o_totalprice",
            (F.length("o_orderstatus") + F.col("o_orderkey") % 7).alias("w"),
        )
        .groupBy("yr", "prio")
        .agg(
            F.count("o_orderkey").alias("n"),
            F.round(F.sum(F.abs(F.col("o_totalprice"))), 2).alias("total"),
            F.round(F.avg("w"), 6).alias("weird_avg"),
        )
    )


@query(
    "q30_time_bucket",
    """
    SELECT CAST(time_bucket(INTERVAL '1 day', ts) AS DATE) AS day,
           event_type,
           COUNT(event_id)            AS n,
           SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) / 100.0
                                      AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q30_time_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling time-window aggregation (batch form of the streaming
    windowed agg — same F.window operator Structured Streaming uses)."""
    events = load_events(spark, sf_dir)
    return (
        events.groupBy(
            F.window("ts", "1 day").start.cast("date").alias("day"),
            "event_type",
        )
        .agg(
            F.count("event_id").alias("n"),
            (F.sum(_cents()) / 100.0).alias("total_value"),
        )
    )


@query(
    "q31_asof_join",
    """
    WITH right_dedup AS (
        SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS last_orderkey
        FROM orders GROUP BY o_custkey, o_orderdate
    )
    SELECT e.event_id, e.user_id, r.last_orderkey
    FROM events e
    ASOF LEFT JOIN right_dedup r
      ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate
    """,
)
def q31_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (most-recent-match) join: events pick up the latest prior order
    per user.  Distributed as union + window carry-forward — one shuffle,
    no range cross-product."""
    from parquery_spark.operators.joins import asof_join

    events = load_events(spark, sf_dir).select("event_id", "user_id", "ts")
    orders = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("last_orderkey"))
    )
    out = asof_join(
        events, orders,
        on="user_id", right_on="o_custkey",
        left_ts="ts", right_ts="o_orderdate",
        right_cols=["last_orderkey"],
        direction="backward",
    )
    return out.select("event_id", "user_id", "last_orderkey")


@query(
    "q32_range_join",
    """
    WITH bands(band_name, lo, hi) AS (
        VALUES ('low', 0.0, 15.0), ('mid', 15.0, 35.0), ('high', 35.0, 51.0)
    )
    SELECT band_name, COUNT(l_orderkey) AS n, SUM(l_quantity) AS sum_qty
    FROM lineitem JOIN bands ON l_quantity >= lo AND l_quantity < hi
    GROUP BY band_name
    """,
)
def q32_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval range join, bucketized to an equi-join."""
    from parquery_spark.operators.joins import range_join

    lineitem = load(spark, sf_dir, "lineitem")
    bands = spark.createDataFrame(
        [("low", 0.0, 15.0), ("mid", 15.0, 35.0), ("high", 35.0, 51.0)],
        ["band_name", "lo", "hi"],
    )
    # interval semantics here are [lo, hi) — exact predicate applied after
    # the bucket equi-join; hi is exclusive so drop bucket-edge equality
    joined = range_join(
        lineitem.select("l_orderkey", "l_quantity"),
        bands, "l_quantity", "lo", "hi", bucket_width=10.0,
        broadcast_intervals=True,
    ).filter(F.col("l_quantity") < F.col("hi"))
    return joined.groupBy("band_name").agg(
        F.count("l_orderkey").alias("n"),
        F.sum("l_quantity").alias("sum_qty"),
    )


# ===========================================================================
# Training-data pipeline surface: dedup, similarity search, text analysis
# (beyond-reference capabilities; BASELINE.json north star)
# ===========================================================================

#: shared SQL fragments replicating the md5 hash family + tokenization used
#: by parquery_spark.operators.dedup — so the probabilistic operators are
#: differentially testable bit-for-bit.
_SQL_TOKS = (
    "SELECT doc_id, list_filter(string_split_regex(lower(text),"
    " '[^a-z0-9'']+'), t -> t != '') AS w FROM documents"
)


def _sql_shingles(k: int) -> str:
    if k == 1:
        return f"WITH toks AS ({_SQL_TOKS}) SELECT doc_id, w AS shingles FROM toks"
    return (
        f"WITH toks AS ({_SQL_TOKS}) "
        f"SELECT doc_id, CASE WHEN len(w) >= {k} THEN "
        f"[array_to_string(w[i+1:i+{k}], ' ') for i in range(len(w)-{k}+1)] "
        f"ELSE [] END AS shingles FROM toks"
    )


def _sql_minhash_sig_exprs(num_hashes: int) -> str:
    """Affine MinHash family over one md5 base hash — replicates
    parquery_spark.operators.dedup.minhash_signatures bit-for-bit."""
    from parquery_spark.operators.dedup import MINHASH_P, minhash_coefficients

    return ", ".join(
        f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {MINHASH_P}))"
        f" AS h{i}"
        for i, (a, b) in enumerate(minhash_coefficients(num_hashes))
    )


_SQL_BASE_HASH = (
    "list_transform(shingles, s ->"
    " ('0x' || substr(md5(s), 1, 8))::BIGINT % 2147483647)"
)


def _sql_minhash_lsh(num_hashes: int, bands: int, shingle_k: int,
                     max_bucket: int) -> str:
    rows = num_hashes // bands
    sig_exprs = _sql_minhash_sig_exprs(num_hashes)
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, md5("
        + " || ',' || ".join(f"h{b * rows + r}::VARCHAR" for r in range(rows))
        + ") AS band_key FROM sig"
        for b in range(bands)
    )
    n_eq = " + ".join(
        f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END"
        for i in range(num_hashes)
    )
    return f"""
    WITH sh AS ({_sql_shingles(shingle_k)}),
    hashed AS (SELECT doc_id, {_SQL_BASE_HASH} AS hs FROM sh),
    sig AS (SELECT doc_id, {sig_exprs} FROM hashed),
    banded AS (
        SELECT * FROM ({band_selects})
        QUALIFY COUNT(*) OVER (PARTITION BY band, band_key) <= {max_bucket}
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, ROUND(({n_eq}) / {float(num_hashes)}, 6) AS est_jaccard
    FROM pairs
    JOIN sig sa ON sa.doc_id = id_a
    JOIN sig sb ON sb.doc_id = id_b
    """


def _sql_simhash(
    bits: int, bands: int, max_hamming: int,
    max_bucket_size: int | None = None,
) -> str:
    band_bits = bits // bands
    mask = (1 << band_bits) - 1
    sh_expr = " + ".join(
        f"CASE WHEN list_sum(list_transform(hs, h -> ((h >> {j}) & 1)*2 - 1)) > 0 "
        f"THEN {1 << j}::BIGINT ELSE 0::BIGINT END"
        for j in range(bits)
    )
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, sh, {b} AS band, (sh >> {b * band_bits}) & {mask} AS chunk FROM sim"
        for b in range(bands)
    )
    # the bucket cap mirrors simhash_candidates(max_bucket_size=...):
    # (band, chunk) buckets larger than the cap are DROPPED before
    # pairing on both sides, so the oracle reproduces the recall
    # tradeoff bit-for-bit
    pair_src = "banded"
    cap_cte = ""
    if max_bucket_size is not None:
        cap_cte = f"""
    keep AS (
        SELECT band, chunk FROM banded
        GROUP BY band, chunk HAVING COUNT(*) <= {max_bucket_size}
    ),
    capped AS (SELECT b.* FROM banded b JOIN keep USING (band, chunk)),"""
        pair_src = "capped"
    hex_chars = 8 if bits <= 32 else 15
    return f"""
    WITH toks AS ({_SQL_TOKS}),
    hh AS (SELECT doc_id, list_transform(w, t ->
           ('0x' || substr(md5(t), 1, {hex_chars}))::BIGINT) AS hs FROM toks),
    sim AS (SELECT doc_id, ({sh_expr}) AS sh FROM hh),
    banded AS ({band_selects}),{cap_cte}
    pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               a.sh AS sh_a, b.sh AS sh_b
        FROM {pair_src} a JOIN {pair_src} b
          ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
    FROM pairs WHERE bit_count(xor(sh_a, sh_b)) <= {max_hamming}
    """


_SQL_NORMALIZED_TEXT = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'),"
    " '\\s+', ' ', 'g'))"
)


@query(
    "q40_dedup_exact",
    """
    SELECT md5(text) AS text_hash, MIN(doc_id) AS doc_id,
           COUNT(*) AS dup_count
    FROM documents GROUP BY md5(text)
    """,
)
def q40_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via hash group-by: one shuffle on the content hash,
    map-side partial aggregation; survivor = lowest doc_id."""
    from parquery_spark.operators.dedup import exact_dedup

    docs = load(spark, sf_dir, "documents").select(
        F.md5("text").alias("text_hash"), "doc_id"
    )
    return exact_dedup(docs, ["text_hash"], "doc_id")


@query(
    "q41_fingerprint_dedup",
    f"""
    SELECT md5({_SQL_NORMALIZED_TEXT}) AS fingerprint,
           MIN(doc_id) AS keep_id, COUNT(*) AS dup_count
    FROM documents GROUP BY 1
    """,
)
def q41_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-exact dedup on the md5 fingerprint of normalized text
    (case/punctuation/whitespace-insensitive)."""
    from parquery_spark.operators.dedup import fingerprint_dedup

    return fingerprint_dedup(load(spark, sf_dir, "documents"), "text", "doc_id")


def _sql_lsh_core(num_hashes: int, bands: int, shingle_k: int,
                  max_bucket: int) -> str:
    """Shared CTE chain: shingles → minhash signatures → banded buckets →
    distinct candidate pairs (replicates lsh_candidate_pairs bit-for-bit)."""
    rows = num_hashes // bands
    sig_exprs = _sql_minhash_sig_exprs(num_hashes)
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, md5("
        + " || ',' || ".join(f"h{b * rows + r}::VARCHAR" for r in range(rows))
        + ") AS band_key FROM sig"
        for b in range(bands)
    )
    return f"""
    sh AS ({_sql_shingles(shingle_k)}),
    hashed AS (SELECT doc_id, {_SQL_BASE_HASH} AS hs FROM sh),
    sig AS (SELECT doc_id, {sig_exprs} FROM hashed),
    banded AS (
        SELECT * FROM ({band_selects})
        QUALIFY COUNT(*) OVER (PARTITION BY band, band_key) <= {max_bucket}
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    )"""


def _sql_lsh_verified(num_hashes: int, bands: int, shingle_k: int,
                      max_bucket: int, threshold: float) -> str:
    return f"""
    WITH {_sql_lsh_core(num_hashes, bands, shingle_k, max_bucket)},
    sets AS (
        SELECT doc_id, list_distinct(shingles) AS s,
               len(list_distinct(shingles)) AS n
        FROM sh
    ),
    scored AS (
        SELECT id_a, id_b,
               ROUND(len(list_intersect(sa.s, sb.s)) /
                     (sa.n + sb.n - len(list_intersect(sa.s, sb.s))),
                     6) AS jaccard
        FROM pairs
        JOIN sets sa ON sa.doc_id = id_a
        JOIN sets sb ON sb.doc_id = id_b
    )
    SELECT id_a, id_b, jaccard FROM scored WHERE jaccard >= {threshold}
    """


def _verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH-verified pair relation shared by q42 (report the pairs)
    and q62 (resolve them to clusters) — a classic materialized
    intermediate: one compact row per near-dup pair, STAGED TO STORAGE
    once per corpus version (stat-keyed; round 8 replaced the previous
    session-lived MEMORY_AND_DISK persist so the dedup family holds no
    CacheManager entries at all — the artifact also survives process
    restarts, which the in-memory cache never did)."""
    from parquery_spark.operators.dedup import lsh_verified_pairs

    def _build(t):
        lsh_verified_pairs(
            load(spark, sf_dir, "documents"),
            "text", "doc_id",
            num_hashes=15, bands=5, shingle_k=2, threshold=0.5,
        ).write.mode("overwrite").parquet(t)

    pdir = artifact(
        sf_dir, "documents", "vpairs-15-5-2-t0.5-v1", "vpairs", _build,
    )
    return relations.get_relation(spark, pdir)


@query("q42_jaccard_pairs", _sql_lsh_verified(15, 5, 2, 1000, 0.5))
def q42_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage near-dup detection over bigram shingles: MinHash-LSH
    candidate recall (5 bands x 3 rows), then EXACT Jaccard verification of
    candidates only - the production shape for corpus-scale dedup (the
    all-pairs exact operator jaccard_pairs stays available for
    within-block exact work).  The pair relation is a stat-keyed STORAGE
    artifact shared with q62's cluster resolution — built once per
    corpus version, zero session-cache entries (round 8)."""
    return _verified_pairs(spark, sf_dir)


@query("q43_minhash_lsh", _sql_minhash_lsh(16, 4, 2, 1000))
def q43_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16) + LSH(4 bands × 4 rows) candidate pairs over 2-word
    shingles with estimated Jaccard.  The banded signatures are a
    stat-keyed STORAGE artifact (a pure function of the corpus version —
    built once per corpus, like q82's partitioned index but full-corpus),
    so the per-query cost is the bucket-cap window + band-key self-join
    over compact (id, sig, band, key) rows; candidates come from the
    band-key shuffle join — never all pairs.  The md5-based hash family
    is replicated bit-for-bit by the SQL oracle."""
    from parquery_spark.operators.dedup import lsh_candidate_pairs

    docs = load(spark, sf_dir, "documents")
    return lsh_candidate_pairs(
        docs, "text", "doc_id",
        num_hashes=16, bands=4, shingle_k=2, max_bucket_size=1000,
        banded=_mh_banded(spark, sf_dir),
    )


def _mh_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-corpus banded MinHash signatures (16 hashes / 4 bands /
    2-word shingles) as a stat-keyed storage artifact — shared by q43
    (within-corpus candidates) and q75 (incremental ingest, which slices
    the corpus side out of it: band keys are per-doc pure functions, so
    a filter of the full banding IS the slice's banding)."""
    from parquery_spark.operators.dedup import band_keys

    def _build(t):
        band_keys(
            load(spark, sf_dir, "documents").select("doc_id", "text"),
            "text", "doc_id", num_hashes=16, bands=4, shingle_k=2,
        ).write.mode("overwrite").parquet(t)

    bdir = artifact(sf_dir, "documents", "mh-full-16-4-2-v1", "mhfull", _build)
    return relations.get_relation(spark, bdir)


@query("q44_simhash", _sql_simhash(60, 5, 4, max_bucket_size=1000))
def q44_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash(60-bit) near-dup candidates: pigeonhole banding on 12-bit
    chunks (4096 buckets — 16x fewer band collisions than 8-bit chunks on
    a shared-vocabulary corpus), hamming-distance verification ≤ 4.  The
    (id, sh) signature table — ~16 bytes/doc, a pure function of the
    corpus version — is a stat-keyed storage artifact, so the per-query
    cost is the band explode + chunk self-join.

    ``max_bucket_size=1000`` (round 12, measured at sf10): sign-vote
    skew concentrates a large corpus fraction into a few 12-bit chunks,
    and the uncapped enumeration hit billions of candidate pairs at
    500k docs (all-32-task shuffle write >30 min before the hamming cut
    could reject them).  The cap drops those degenerate buckets on both
    sides — same knob, same recall contract as q43's MinHash-LSH — and
    the ORACLE applies the identical cap, so the tradeoff is
    value-gated, not hidden (SCALING.md round-12)."""
    from parquery_spark.operators.dedup import (
        simhash_candidates,
        simhash_table,
    )

    docs = load(spark, sf_dir, "documents")

    def _build(t):
        simhash_table(
            docs.select("doc_id", "text"), "text", "doc_id", 60
        ).write.mode("overwrite").parquet(t)

    sdir = artifact(sf_dir, "documents", "sh-60-v1", "shtable", _build)
    return simhash_candidates(
        docs, "text", "doc_id", bits=60, bands=5, max_hamming=4,
        table=relations.get_relation(spark, sdir), max_bucket_size=1000,
    )


@query(
    "q45_embedding_topk",
    """
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id,
           ROUND(list_dot_product(embedding::DOUBLE[], qv) /
                 (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                  * sqrt(list_dot_product(qv, qv))), 6) AS cosine_sim
    FROM embeddings, q
    ORDER BY cosine_sim DESC, vec_id LIMIT 20
    """,
)
def q45_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (exact ANN baseline): narrow map +
    TakeOrderedAndProject — no full sort, no corpus shuffle."""
    from parquery_spark.operators.similarity import cosine_topk

    emb = load(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    return cosine_topk(emb, [float(x) for x in qvec], k=20)


def _sql_lsh_topk(num_planes: int, probe_hamming: int, k: int, seed: int) -> str:
    from parquery_spark.operators.similarity import hyperplanes

    planes = hyperplanes(64, num_planes, seed)
    def bucket_expr(vec: str) -> str:
        return " + ".join(
            f"CASE WHEN list_dot_product({vec}, "
            f"[{', '.join(repr(float(x)) for x in p)}]::DOUBLE[]) > 0 "
            f"THEN {1 << j}::BIGINT ELSE 0::BIGINT END"
            for j, p in enumerate(planes)
        )
    return f"""
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    qb AS (SELECT qv, ({bucket_expr('qv')}) AS qsig FROM q),
    bucketed AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               ({bucket_expr('embedding::DOUBLE[]')}) AS bucket
        FROM embeddings
    )
    SELECT vec_id,
           ROUND(list_dot_product(v, qv) /
                 (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))),
                 6) AS cosine_sim
    FROM bucketed, qb
    WHERE bit_count(xor(bucket, qsig)) <= {probe_hamming}
    ORDER BY cosine_sim DESC, vec_id LIMIT {k}
    """


@query("q46_embedding_topk_lsh", _sql_lsh_topk(12, 2, 20, 7))
def q46_embedding_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate cosine top-k via random-hyperplane LSH: probe only
    buckets within hamming 2 of the query signature, exact cosine on the
    candidates.  At scale the bucket is a partition key → partition
    pruning on the scan."""
    from parquery_spark.operators.similarity import cosine_topk_lsh

    emb = load(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    return cosine_topk_lsh(
        emb, [float(x) for x in qvec], k=20,
        num_planes=12, probe_hamming=2, seed=7,
    )


def _sql_near_dup(num_planes: int, threshold: float, seed: int) -> str:
    from parquery_spark.operators.similarity import hyperplanes

    planes = hyperplanes(64, num_planes, seed)
    bucket_expr = " + ".join(
        f"CASE WHEN list_dot_product(v, "
        f"[{', '.join(repr(float(x)) for x in p)}]::DOUBLE[]) > 0 "
        f"THEN {1 << j}::BIGINT ELSE 0::BIGINT END"
        for j, p in enumerate(planes)
    )
    return f"""
    WITH bucketed AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    wb AS (SELECT vec_id, v, ({bucket_expr}) AS bucket FROM bucketed),
    pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               ROUND(list_dot_product(a.v, b.v) /
                     (sqrt(list_dot_product(a.v, a.v)) *
                      sqrt(list_dot_product(b.v, b.v))), 6) AS cosine_sim
        FROM wb a JOIN wb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, cosine_sim FROM pairs WHERE cosine_sim >= {threshold}
    """


@query("q47_embedding_near_dup", _sql_near_dup(4, 0.3, 7))
def q47_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: LSH bucket join (quadratic
    only within buckets), exact cosine verification ≥ 0.3."""
    from parquery_spark.operators.similarity import (
        near_dup_bucket_table,
        near_dup_pairs,
    )

    # the (id, bucket, nrm, v) relation is the ANN near-dup INDEX — a
    # pure function of (corpus, planes), staged once stat-keyed; the
    # verify join then reads parquet on both alias sides (params are in
    # the logic tag, matching the injected-relation contract)
    def _build_bucket(t):
        near_dup_bucket_table(
            load(spark, sf_dir, "embeddings"),
            num_planes=4, seed=7, dim=64,
        ).write.parquet(t)

    bdir = artifact(
        sf_dir, "embeddings", "nd-bucket-p4-s7-d64-v1", "ndidx", _build_bucket,
    )
    return near_dup_pairs(
        load(spark, sf_dir, "embeddings"),
        threshold=0.3, num_planes=4, seed=7, dim=64,
        bucketed=relations.get_relation(spark, bdir),
    )


_LANG_SCORE_SQL = {
    lang: f"len(regexp_extract_all(lower(text), '\\b({'|'.join(ws)})\\b'))"
    for lang, ws in {
        "en": ["the", "and", "of", "to", "a"],
        "fr": ["le", "la", "et", "les", "des"],
        "de": ["der", "die", "und", "das", "ein"],
        "es": ["el", "los", "que", "de", "una"],
    }.items()
}

_SQL_TEXT_PROFILE = f"""
    WITH base AS (
        SELECT doc_id, text,
               len(regexp_extract_all(text, '[A-Za-z0-9_'']+'))       AS n_tokens,
               length(text)                                            AS n_chars_c,
               length(text) - length(regexp_replace(text,
                   '[!-/:-@\\[-`{{-~]', '', 'g'))                      AS n_punct,
               list_filter(regexp_extract_all(text, '[A-Za-z0-9_'']+'),
                           t -> t != '')                               AS toks,
               {_LANG_SCORE_SQL["en"]} AS s_en,
               {_LANG_SCORE_SQL["fr"]} AS s_fr,
               {_LANG_SCORE_SQL["de"]} AS s_de,
               {_LANG_SCORE_SQL["es"]} AS s_es
        FROM documents
    ),
    derived AS (
        SELECT doc_id, n_tokens,
               CASE WHEN n_chars_c > 0 THEN n_punct / n_chars_c ELSE 0.0 END AS praw,
               CASE WHEN n_tokens > 0 THEN {_LANG_SCORE_SQL["en"].replace("text", "text")} / n_tokens ELSE 0.0 END AS sw_raw,
               CASE WHEN len(toks) > 0
                    THEN list_sum(list_transform(toks, t -> length(t))) / len(toks)
                    ELSE 0.0 END AS mwl,
               s_en, s_fr, s_de, s_es,
               greatest(s_en, s_fr, s_de, s_es) AS best,
               text
        FROM base
    )
    SELECT doc_id, n_tokens,
           ROUND(praw, 6) AS punct_ratio,
           ROUND(sw_raw, 6) AS stopword_ratio,
           ROUND(mwl, 6) AS mean_word_len,
           ROUND((
               (CASE WHEN n_tokens >= 10 AND n_tokens <= 100000 THEN 1.0
                     ELSE n_tokens / 10.0 END)
             + (1.0 - least(praw * 4, 1.0))
             + (CASE WHEN mwl >= 2.0 AND mwl <= 12.0 THEN 1.0 ELSE 0.5 END)
           ) / 3.0, 6) AS quality,
           CASE WHEN s_en = best AND best > 0 THEN 'en'
                WHEN s_fr = best AND best > 0 THEN 'fr'
                WHEN s_de = best AND best > 0 THEN 'de'
                WHEN s_es = best AND best > 0 THEN 'es'
                ELSE 'unknown' END AS lang_guess,
           md5({_SQL_NORMALIZED_TEXT}) AS fingerprint
    FROM derived
"""


@query("q48_text_profile", _SQL_TEXT_PROFILE)
def q48_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text analysis: token count, punctuation/stopword
    ratios, mean word length, composite quality score, language ID,
    content fingerprint — all JVM Column expressions, zero UDFs."""
    from parquery_spark.functions.text import text_profile

    docs = load(spark, sf_dir, "documents")
    return text_profile(docs, "text").select(
        "doc_id", "n_tokens", "punct_ratio", "stopword_ratio",
        "mean_word_len", "quality", "lang_guess", "fingerprint",
    )


@query(
    "q49_lang_quality_summary",
    f"""
    WITH prof AS ({_SQL_TEXT_PROFILE})
    SELECT d.lang, COUNT(p.doc_id) AS n_docs,
           CAST(SUM(p.n_tokens) AS BIGINT) AS total_tokens,
           ROUND(AVG(p.quality), 6) AS avg_quality,
           CAST(SUM(CASE WHEN p.lang_guess = d.lang THEN 1 ELSE 0 END) AS BIGINT) AS n_guessed_right
    FROM prof p JOIN documents d ON p.doc_id = d.doc_id
    GROUP BY d.lang
    """,
)
def q49_lang_quality_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus roll-up of the text profile per labeled language (profile →
    broadcast-join back to labels → aggregate)."""
    from parquery_spark.functions.text import text_profile

    docs = load(spark, sf_dir, "documents")
    prof = text_profile(docs, "text")
    return prof.groupBy("lang").agg(
        F.count("doc_id").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.avg("quality"), 6).alias("avg_quality"),
        F.sum(
            F.when(F.col("lang_guess") == F.col("lang"), 1).otherwise(0)
        ).alias("n_guessed_right"),
    )


@query(
    "q50_multimodal_features",
    # The oracle RECONSTRUCTS every pixel analytically from the fixture
    # recipe (unnest(range(w)) x unnest(range(h)) grid, same modular
    # channel formulas) and aggregates — so a single wrong byte anywhere
    # in the zlib-inflate/unfilter pipeline (any of the five PNG filter
    # types) shifts a channel mean or the min/max extent and breaks
    # parity.  doc_id%10==7 files are truncated mid-IDAT: the header
    # still parses (decode_ok=true) but pixel decode must FAIL CLEANLY
    # (px_ok=false, null stats), never invent numbers.
    """
    WITH sel AS (
        SELECT doc_id,
               4 + doc_id % 13  AS w,
               3 + doc_id % 11  AS h,
               doc_id % 251     AS s,
               doc_id % 10 = 7  AS truncated
        FROM documents WHERE doc_id < 40
    ),
    gx AS (SELECT doc_id, w, h, s, truncated, unnest(range(w)) AS x
           FROM sel),
    px AS (SELECT doc_id, w, h, s, truncated, x, unnest(range(h)) AS y
           FROM gx),
    stats AS (
        SELECT doc_id, w, h, truncated,
               ROUND(AVG((x*7  + y*11 + s)   % 256), 6) AS mr,
               ROUND(AVG((x*13 + y*5  + 2*s) % 256), 6) AS mg,
               ROUND(AVG((x*3  + y*17 + 3*s) % 256), 6) AS mb,
               LEAST(MIN((x*7  + y*11 + s)   % 256),
                     MIN((x*13 + y*5  + 2*s) % 256),
                     MIN((x*3  + y*17 + 3*s) % 256)) AS pmin,
               GREATEST(MAX((x*7  + y*11 + s)   % 256),
                        MAX((x*13 + y*5  + 2*s) % 256),
                        MAX((x*3  + y*17 + 3*s) % 256)) AS pmax
        FROM px GROUP BY doc_id, w, h, truncated
    )
    SELECT doc_id,
           CAST(w AS INTEGER)                              AS width,
           CAST(h AS INTEGER)                              AS height,
           TRUE                                            AS decode_ok,
           NOT truncated                                   AS px_ok,
           CASE WHEN truncated THEN NULL ELSE mr END       AS px_mean_r,
           CASE WHEN truncated THEN NULL ELSE mg END       AS px_mean_g,
           CASE WHEN truncated THEN NULL ELSE mb END       AS px_mean_b,
           CAST(CASE WHEN truncated THEN NULL ELSE pmin END
                AS INTEGER)                                AS px_min,
           CAST(CASE WHEN truncated THEN NULL ELSE pmax END
                AS INTEGER)                                AS px_max
    FROM stats
    """,
)
def q50_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode end to end (VERDICT r10 #5): a stat-keyed
    fixture of 40 spec-valid PNGs — doc_id-derived dimensions, pixels
    from deterministic per-channel modular formulas, scanline filters
    cycling all five PNG types (``make_png_rgb``) — is ingested with the
    distributed ``binaryFile`` source and pixel-decoded inside the
    Arrow-batched ``mapInPandas`` kernel via the pure-stdlib zlib+
    unfilter path (``decode_png_pixels``).  Per-channel means and the
    global min/max extent are value-gated against the oracle's
    analytic reconstruction of the same pixels.  Truncated-mid-IDAT
    rows gate the FAILURE path: header dims still parse, pixel stats
    must be null.

    Scale shape: the fixture build is a bounded 40-file driver loop
    (build-once, stat-keyed); the decode itself is task-parallel over
    the binaryFile listing with payload bytes dropped before any
    shuffle — the same plan a million-object corpus would run.  Decode
    honesty for non-image bytes (text payload → decode_ok=false) is
    pinned by pytest (test_multimodal_streaming)."""
    import numpy as np

    from parquery_spark.operators.multimodal import (
        extract_media_features,
        make_png_rgb,
    )
    from parquery_spark.sources.binary import read_binary_files

    def _build(t):
        os.makedirs(t, exist_ok=True)
        for doc_id in range(40):
            w = 4 + doc_id % 13
            h = 3 + doc_id % 11
            s = doc_id % 251
            x = np.arange(w)[None, :]
            y = np.arange(h)[:, None]
            px = np.stack(
                np.broadcast_arrays(
                    (x * 7 + y * 11 + s) % 256,
                    (x * 13 + y * 5 + 2 * s) % 256,
                    (x * 3 + y * 17 + 3 * s) % 256,
                ),
                axis=2,
            ).astype(np.uint8)
            payload = make_png_rgb(px)
            if doc_id % 10 == 7:  # header survives, IDAT does not
                payload = payload[:45]
            with open(os.path.join(t, f"img_{doc_id:06d}.png"), "wb") as fh:
                fh.write(payload)
        with open(os.path.join(t, "_DONE"), "w") as fh:
            fh.write("ok")

    fdir = artifact(
        sf_dir, "documents", "png-pixels-v1", "pximg", _build, marker="_DONE",
    )
    raw = read_binary_files(
        spark, fdir, path_glob="img_*.png", media_type="image"
    ).select("path", "payload", "media_type")
    feats = extract_media_features(raw)
    return feats.select(
        F.regexp_extract(F.col("path"), r"img_(\d+)\.", 1)
        .cast("long")
        .alias("doc_id"),
        "width", "height", "decode_ok", "px_ok",
        "px_mean_r", "px_mean_g", "px_mean_b", "px_min", "px_max",
    )


@query(
    "q51_median_approx",
    """
    SELECT l_returnflag,
           ROUND(median(l_extendedprice), 6)          AS med_price,
           ROUND(quantile_cont(l_quantity, 0.25), 6)  AS q25_qty,
           ROUND(quantile_cont(l_quantity, 0.75), 6)  AS q75_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q51_median_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-reference aggregates: exact median and interpolated
    percentiles (the reference's op whitelist stops at stddev;
    approx_count_distinct is also registered in _SQL_AGGS but has no
    cross-engine-stable value to oracle-check).

    Round 12 (guide §1.2): ``F.percentile``/``F.median`` plan as
    ObjectHashAggregate whose partial buffers hold the whole value
    multiset per group as boxed maps — serialized, shuffled and merged
    (~1.3 s at sf0.1, invariant to scan parallelism).  Replaced by the
    textbook two-pass exact selection: pass 1 aggregates a coarse
    value histogram (map-side reduced, a few thousand rows collected),
    the driver locates the bucket of each needed rank from cumulative
    counts, and pass 2 re-scans with a pushed-down ``IN (buckets)``
    filter and aggregates ``(flag, value) → count`` over the straddling
    buckets — driver memory is bounded by the buckets' DISTINCT-value
    count, never their row count (round 13: the former raw-value collect
    was unbounded under a skewed distribution).
    l_quantity's 50-value domain makes its histogram exact with no
    second pass.  Interpolation is ``lower + (higher - lower) * frac``
    on the same IEEE doubles Spark's Percentile evaluates, and the
    HALF_UP round-6 mirrors ``F.round`` — results are bit-identical
    (oracle-gated at every SF).  At 100 TB this is two pruned scans and
    a bounded histogram instead of shuffling every value."""
    from decimal import ROUND_HALF_UP, Decimal

    li = load(spark, sf_dir, "lineitem")
    bucket = F.floor(F.col("l_extendedprice") / F.lit(4096.0))
    hist = (
        li.groupBy(
            F.col("l_returnflag").alias("flag"),
            F.lit("p").alias("c"),
            bucket.alias("k"),
        )
        .agg(F.count("l_extendedprice").alias("n"))
        .unionByName(
            li.groupBy(
                F.col("l_returnflag").alias("flag"),
                F.lit("q").alias("c"),
                F.col("l_quantity").alias("k"),
            ).agg(F.count("l_quantity").alias("n"))
        )
        .collect()
    )
    by_fc: dict[tuple, dict] = {}
    for r in hist:
        if r["k"] is not None:
            by_fc.setdefault((r["flag"], r["c"]), {})[r["k"]] = r["n"]

    def rank_ix(counts: dict, p: float):
        """(lo_index, hi_index, pos) of percentile p over the sorted
        multiset described by {key: count} — Spark's Percentile math."""
        n = sum(counts.values())
        pos = (n - 1) * p
        import math as _m

        return int(_m.floor(pos)), int(_m.ceil(pos)), pos

    def interp(v_lo: float, v_hi: float, lo: int, hi: int, pos: float):
        """Spark Percentile.getPercentile's exact expression:
        ``(higher - pos) * lower + (pos - lower) * higher`` — mirrored
        operation-for-operation so the IEEE result is bit-identical."""
        if hi == lo:
            return v_lo
        return (hi - pos) * v_lo + (pos - lo) * v_hi

    def key_at(counts: dict, ix: int):
        acc = 0
        for k in sorted(counts):
            acc += counts[k]
            if ix < acc:
                return k
        raise IndexError(ix)

    def _round6(v: float) -> float:
        return float(
            Decimal(repr(float(v))).quantize(
                Decimal("1E-6"), rounding=ROUND_HALF_UP
            )
        )

    flags = sorted({f for f, _ in by_fc})
    # price: which coarse buckets hold each flag's median ranks
    need: dict = {}
    for f in flags:
        counts = by_fc[(f, "p")]
        lo, hi, _ = rank_ix(counts, 0.5)
        need.setdefault(f, set()).update(
            {key_at(counts, lo), key_at(counts, hi)}
        )
    all_buckets = sorted({b for s in need.values() for b in s})
    # pass 2 aggregates (flag, value) -> count instead of collecting raw
    # values (round 13, VERDICT r12 #3): a skewed distribution can put
    # billions of ROWS in one 4096-wide bucket, but the driver only needs
    # the bucket's value MULTISET, which groupBy bounds at its distinct-
    # value count (map-side-reduced like pass 1).  The multiset — and
    # therefore the rank arithmetic below — is identical.
    vals = (
        li.select(
            F.col("l_returnflag").alias("flag"),
            F.col("l_extendedprice").alias("v"),
        )
        .where(
            F.floor(F.col("v") / F.lit(4096.0)).isin(
                [int(b) for b in all_buckets]
            )
            & F.col("v").isNotNull()
        )
        .groupBy("flag", "v")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    in_bucket: dict = {}
    for r in vals:
        b = float(r["v"]) // 4096.0
        if b in need.get(r["flag"], ()):  # noqa: SIM118 — set membership
            in_bucket.setdefault(r["flag"], {})[float(r["v"])] = r["n"]

    rows = []
    for f in flags:
        pc = by_fc[(f, "p")]
        lo, hi, pos = rank_ix(pc, 0.5)
        # global index of the first row in each collected bucket; the
        # bucket multiset is a {value: count} dict, indexed by cumulative
        # count (key_at) — same element as the former sorted raw list
        start = 0
        first_b = min(need[f])
        for k in sorted(pc):
            if k < first_b:
                start += pc[k]
        med = interp(
            float(key_at(in_bucket[f], lo - start)),
            float(key_at(in_bucket[f], hi - start)),
            lo, hi, pos,
        )

        def q_exact(p: float) -> float:
            qc = by_fc[(f, "q")]
            qlo, qhi, qpos = rank_ix(qc, p)
            a, b = float(key_at(qc, qlo)), float(key_at(qc, qhi))
            return interp(a, b, qlo, qhi, qpos)

        rows.append(
            (
                f,
                _round6(med),
                _round6(q_exact(0.25)),
                _round6(q_exact(0.75)),
            )
        )
    return spark.createDataFrame(
        rows,
        "l_returnflag string, med_price double, "
        "q25_qty double, q75_qty double",
    )


@query(
    "q52_multifile_dataset",
    """
    SELECT o_orderstatus, COUNT(o_orderkey) AS n,
           ROUND(SUM(o_totalprice), 2) AS total
    FROM (SELECT * FROM orders UNION ALL SELECT * FROM orders)
    GROUP BY o_orderstatus
    """,
)
def q52_multifile_dataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-file aggregation through the parity API: a file LIST is one
    distributed query (the reference ran one process per file and made the
    caller recombine partials over Arrow IPC).  Reading the same file
    twice doubles every group — a deliberate, oracle-checkable shape."""
    df = build_aggregation_plan(
        spark,
        [_path(sf_dir, "orders"), _path(sf_dir, "orders")],
        ["o_orderstatus"],
        [["o_orderkey", "count", "n"], ["o_totalprice", "sum", "total"]],
    )
    return df.withColumn("total", F.round("total", 2))


_Q53_SQL = """
    SELECT o_orderkey,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                          CAST(1 - l_discount AS DECIMAL(9,4))), 2)
                AS DOUBLE) AS revenue,
           COUNT(l_orderkey) AS n_items
    FROM customer
    JOIN orders   ON c_custkey  = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
    GROUP BY o_orderkey
    """


@query("q53_sql_interface", _Q53_SQL)
def q53_sql_interface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL API surface: the IDENTICAL ANSI SQL text runs on Spark (over
    registered temp views) and on the DuckDB oracle — one query string,
    two engines, hash-equal results (TPC-H Q3 shape)."""
    for t in ("customer", "orders", "lineitem"):
        load(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_Q53_SQL)


@query(
    "q54_hll_sketch_rollup",
    # The sketch binaries themselves are engine-specific, so the gate is on
    # what they CLAIM: the exact distinct count (hash-matched vs DuckDB) plus
    # a boolean asserting the merged-sketch estimate landed inside the HLL
    # error bound.  The oracle emits TRUE — an out-of-bound estimate flips
    # the boolean on the Spark side and hash-mismatches the round.
    """
    SELECT o_orderstatus,
           COUNT(DISTINCT o_custkey) AS exact_distinct,
           TRUE AS estimate_within_bound
    FROM orders GROUP BY o_orderstatus
    """,
)
def q54_hll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL rollup: per-(status, priority) distinct-customer
    sketches, unioned up to status WITHOUT rescanning raw data — the
    incremental-rollup pattern for 100 TB aggregation.

    Gated end-to-end: the merged estimate is checked against the exact
    count (computed in the same plan) within 5 × the lg_k=12 standard
    error (1.04/sqrt(2^12) ≈ 1.6%); small cardinalities run in HLL sparse
    mode and are exact, so 5σ never fires unless the sketch is broken.
    """
    from parquery_spark.functions.sketches import (
        distinct_sketch_rollup,
        merge_sketch_rollups,
    )

    orders = load(spark, sf_dir, "orders")
    fine = distinct_sketch_rollup(
        orders, ["o_orderstatus", "o_orderpriority"], "o_custkey"
    )
    merged = merge_sketch_rollups(fine, ["o_orderstatus"]).select(
        "o_orderstatus", "estimate"
    )
    exact = orders.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("exact_distinct")
    )
    rel_err = 5 * 1.04 / (2 ** 12) ** 0.5
    return exact.join(merged, "o_orderstatus").select(
        "o_orderstatus",
        "exact_distinct",
        (
            F.abs(F.col("estimate") - F.col("exact_distinct"))
            <= F.lit(rel_err) * F.col("exact_distinct")
        ).alias("estimate_within_bound"),
    )


@query(
    "q55_pivot",
    """
    SELECT o_orderpriority,
           CAST(COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS F,
           CAST(COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS O,
           CAST(COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS BIGINT) AS P
    FROM orders GROUP BY o_orderpriority
    """,
)
def q55_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (cross-tab): order counts by priority × status.  Explicit
    pivot values keep the plan a single pass (no distinct-values pre-query
    — at 100 TB an unbounded pivot column is a driver OOM, not a plan)."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .fillna(0, ["F", "O", "P"])
    )


@query(
    "q56_vector_dimension_stats",
    """
    SELECT i AS dim,
           ROUND(AVG(embedding[i + 1]), 6)         AS dim_mean,
           ROUND(STDDEV_SAMP(embedding[i + 1]), 6) AS dim_std
    FROM embeddings, range(64) t(i)
    GROUP BY i
    """,
)
def q56_vector_dimension_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding statistics (the normalization-stats pass of
    an embedding pipeline): posexplode → partial-aggregated mean/std per
    dimension index.  One narrow explode + one 64-key shuffle."""
    emb = load(spark, sf_dir, "embeddings")
    ex = emb.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "v")
    )
    return ex.groupBy("dim").agg(
        F.round(F.avg("v"), 6).alias("dim_mean"),
        F.round(F.stddev_samp("v"), 6).alias("dim_std"),
    ).withColumn("dim", F.col("dim").cast("long"))


@query(
    "q57_group_concat",
    """
    SELECT c_nationkey,
           string_agg(c_custkey::VARCHAR, ',' ORDER BY c_custkey) AS members
    FROM customer
    WHERE c_acctbal > 8000
    GROUP BY c_nationkey
    """,
)
def q57_group_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered group concatenation (collect → sort → join): deterministic
    regardless of partitioning because the collected array is sorted
    before serialization."""
    cust = load(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 8000)
    return cust.groupBy("c_nationkey").agg(
        F.array_join(
            F.array_sort(F.collect_list(F.col("c_custkey"))).cast("array<string>"),
            ",",
        ).alias("members")
    )


_SAMPLE_HASH = "('0x' || substr(md5(CAST({k} AS VARCHAR) || '#0'), 1, 15))::BIGINT"
_Q59_THRESHOLD = int(0.1 * (1 << 60))  # same float math as hash_sample


@query(
    "q58_stratified_sample",
    f"""
    SELECT lang, doc_id FROM (
        SELECT lang, doc_id,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY {_SAMPLE_HASH.format(k='doc_id')}, doc_id
               ) AS rk
        FROM documents
    ) WHERE rk <= 20
    """,
)
def q58_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: exactly 20 docs per language,
    membership decided by content hash — reproducible across runs,
    engines, partition layouts, and corpus growth (the contract
    ``df.sample`` cannot give).  One window over (stratum, hash)."""
    from parquery_spark.operators.sampling import top_n_per_stratum

    docs = load(spark, sf_dir, "documents")
    return top_n_per_stratum(docs, ["lang"], "doc_id", 20).select(
        "lang", "doc_id"
    )


@query(
    "q59_hash_sample_rollup",
    f"""
    SELECT l_returnflag,
           COUNT(*) AS n,
           SUM(l_quantity) AS sum_qty
    FROM lineitem
    WHERE {_SAMPLE_HASH.format(k='l_orderkey')} < {_Q59_THRESHOLD}
    GROUP BY l_returnflag
    """,
)
def q59_hash_sample_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~10% deterministic sample BY ORDER KEY (orders stay atomic — every
    lineitem of a sampled order survives together), then a rollup over the
    sample.  The sample is a pure narrow filter: no shuffle, no state,
    and the same orders survive on every engine and every run."""
    from parquery_spark.operators.sampling import hash_sample

    li = load(spark, sf_dir, "lineitem")
    return hash_sample(li, "l_orderkey", 0.1).groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("l_quantity").alias("sum_qty"),
    )


@query(
    "q60_vocab_topk",
    f"""
    SELECT token, n FROM (
        SELECT t.token, COUNT(*) AS n
        FROM ({_SQL_TOKS.replace("AS w FROM", "AS toks FROM")}) d,
             unnest(d.toks) AS t(token)
        GROUP BY t.token
    ) ORDER BY n DESC, token LIMIT 100
    """,
)
def q60_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: token frequencies → top 100 — the vocabulary-
    building pass of a tokenizer pipeline.  Explode → partial-agged count
    (map-side combine carries one row per distinct token per task) →
    TakeOrderedAndProject; ties broken by token so the result is total-
    ordered and engine-portable."""
    from parquery_spark.operators.dedup import shingle_tokens

    docs = load(spark, sf_dir, "documents")
    toks = fan_out(docs.select("doc_id", "text"), "doc_id").select(
        F.explode(shingle_tokens("text")).alias("token")
    )
    return (
        toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token"))
        .limit(100)
    )


@query(
    "q61_contamination_check",
    """
    WITH fp AS (
        SELECT doc_id, lang,
               md5(array_to_string(list_filter(string_split_regex(
                   lower(text), '[^a-z0-9'']+'), t -> t != '')[1:5], ' '))
                   AS fp
        FROM documents
    )
    SELECT t.lang,
           COUNT(DISTINCT t.doc_id) AS contaminated
    FROM fp t JOIN fp e ON t.fp = e.fp
    WHERE e.doc_id % 10 = 0 AND t.doc_id % 10 != 0
    GROUP BY t.lang
    """,
)
def q61_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination: training docs whose 5-token-prefix
    fingerprint collides with any held-out doc (doc_id % 10 = 0 stands in
    for the eval split).  Prefix fingerprints catch templated/boilerplate
    leakage that exact-content fingerprints (q41's dedup domain) miss.
    Digest semi-join — at corpus scale this is the shuffle-on-digest plan,
    never a text comparison; the eval side is distinct digests only, so it
    broadcasts when the held-out split is small."""
    from parquery_spark.operators.dedup import shingle_tokens

    docs = load(spark, sf_dir, "documents")
    pfp = F.md5(F.concat_ws(" ", F.slice(shingle_tokens("text"), 1, 5)))
    fp = docs.select("doc_id", "lang", pfp.alias("fp"))
    train = fp.filter(F.col("doc_id") % 10 != 0)
    eval_ = fp.filter(F.col("doc_id") % 10 == 0).select("fp").distinct()
    return (
        train.join(eval_, "fp", "left_semi")
        .groupBy("lang")
        .agg(F.countDistinct("doc_id").alias("contaminated"))
    )


@query(
    "q62_dedup_clusters",
    f"""
    WITH RECURSIVE verified AS ({_sql_lsh_verified(15, 5, 2, 1000, 0.5)}),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM verified
        UNION
        SELECT id_b AS src, id_a AS dst FROM verified
    ),
    reach(src, dst) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    cluster AS (
        SELECT src AS v, LEAST(src, MIN(dst)) AS cluster_id
        FROM reach GROUP BY src
    ),
    labeled AS (
        SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
        FROM documents d LEFT JOIN cluster c ON c.v = d.doc_id
    ),
    sized AS (
        SELECT cluster_id, COUNT(*) AS cluster_size
        FROM labeled GROUP BY cluster_id
    )
    SELECT l.doc_id, l.cluster_id, s.cluster_size,
           (l.doc_id = l.cluster_id) AS is_kept
    FROM labeled l JOIN sized s USING (cluster_id)
    """,
)
def q62_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup DEDUP: LSH-verified pairs (q42's edges) resolved
    to transitive-closure clusters by distributed hash-to-min label
    propagation, every doc labeled (singletons = own cluster), minimum id
    kept as the deterministic survivor.  The oracle computes the same
    closure with a recursive CTE — exact cluster parity, not just counts."""
    from parquery_spark.operators.graph import dedup_clusters

    docs = load(spark, sf_dir, "documents")
    return dedup_clusters(docs, _verified_pairs(spark, sf_dir), "doc_id")


@query(
    "q63_repetition_profile",
    """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
                           t -> t != '') AS w
        FROM documents
    ),
    ucnt AS (
        SELECT doc_id, g, COUNT(*) AS c
        FROM toks, unnest(w) AS u(g)
        GROUP BY doc_id, g
    ),
    ustat AS (
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS total,
               CAST(MAX(c) AS BIGINT) AS top, COUNT(*) AS n_distinct
        FROM ucnt GROUP BY doc_id
    ),
    bcnt AS (
        SELECT doc_id, g, COUNT(*) AS c
        FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(w)),
                                         i -> w[i] || ' ' || w[i + 1])) AS g
            FROM toks
        )
        GROUP BY doc_id, g
    ),
    bstat AS (
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS total,
               CAST(MAX(c) AS BIGINT) AS top
        FROM bcnt GROUP BY doc_id
    )
    SELECT u.doc_id,
           u.total AS n_tokens,
           ROUND(u.n_distinct / u.total, 6) AS type_token_ratio,
           ROUND(u.top / u.total, 6) AS top_unigram_frac,
           ROUND(COALESCE(b.top / b.total, 0.0), 6) AS top_bigram_frac
    FROM ustat u LEFT JOIN bstat b USING (doc_id)
    """,
)
def q63_repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style repetition filters per document: type-token ratio,
    top-unigram share, top-bigram share — the degenerate-text battery a
    training pipeline runs before dedup.  Explode → counted-gram shuffles
    only (raw text never crosses the wire)."""
    from parquery_spark.functions.text import repetition_profile

    return repetition_profile(load(spark, sf_dir, "documents"), "text", "doc_id")


_PII_INJECT_SQL = (
    "text || CASE WHEN doc_id % 3 = 0 THEN"
    " ' contact user' || CAST(doc_id AS VARCHAR)"
    " || '@mail.example.com phone 555-'"
    " || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'"
    " || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
    " || ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR)"
    " || '.' || CAST(doc_id % 100 + 1 AS VARCHAR)"
    " ELSE '' END"
)


def _pii_oracle() -> str:
    from parquery_spark.functions.pii import PII_PATTERNS

    counts = ", ".join(
        f"CAST(SUM(len(regexp_extract_all(enriched, '{pat}'))) AS BIGINT)"
        f" AS n_{name}"
        for name, pat in PII_PATTERNS.items()
    )
    any_hit = " + ".join(
        f"len(regexp_extract_all(enriched, '{pat}'))"
        for pat in PII_PATTERNS.values()
    )
    return f"""
    WITH enr AS (SELECT lang, {_PII_INJECT_SQL} AS enriched FROM documents)
    SELECT lang, COUNT(*) AS n_docs, {counts},
           CAST(SUM(({any_hit})) AS BIGINT) AS n_pii,
           CAST(SUM(CASE WHEN ({any_hit}) > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS docs_with_pii
    FROM enr GROUP BY lang
    """


@query("q64_pii_audit", _pii_oracle())
def q64_pii_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detect + redact audit.  The synthetic corpus carries no PII, so
    the query spec first plants deterministic email/phone/IP strings on
    every third doc (the SAME construction on the Spark and oracle sides),
    then runs the detector battery and aggregates hits per language.  The
    redaction pass is asserted behaviorally in pytest (planted PII must
    vanish); here the per-pattern counts are value-exact against DuckDB's
    RE2 engine — i.e. the patterns live in the Java∩RE2 semantic subset."""
    from parquery_spark.functions import pii

    docs = load(spark, sf_dir, "documents")
    d = F.col("doc_id")
    inject = F.concat(
        F.lit(" contact user"), d.cast("string"),
        F.lit("@mail.example.com phone 555-"),
        F.lpad((d % 1000).cast("string"), 3, "0"), F.lit("-"),
        F.lpad((d % 10000).cast("string"), 4, "0"),
        F.lit(" ip 10.0."), (d % 256).cast("string"),
        F.lit("."), (d % 100 + 1).cast("string"),
    )
    enriched = docs.select(
        "doc_id", "lang",
        F.concat(
            F.col("text"),
            F.when(d % 3 == 0, inject).otherwise(F.lit("")),
        ).alias("text"),
    )
    profiled = pii.pii_profile(enriched, "text", "doc_id")
    count_cols = [f"n_{name}" for name in pii.PII_PATTERNS]
    return profiled.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        *[F.sum(c).alias(c) for c in count_cols],
        F.sum("n_pii").alias("n_pii"),
        F.sum((F.col("n_pii") > 0).cast("long")).alias("docs_with_pii"),
    )


def _profile_oracle(table: str, cols: list[tuple[str, bool]]) -> str:
    # q54-style gate: the oracle emits the EXACT distinct count plus TRUE;
    # the Spark side emits its own exact count (hash-matched) and a
    # boolean asserting the HLL estimate landed within the error bound —
    # an out-of-bound sketch flips the boolean and fails the round.
    parts = []
    for name, numeric in cols:
        if numeric:
            mn = f"CAST(MIN({name}) AS DOUBLE)"
            mx = f"CAST(MAX({name}) AS DOUBLE)"
            ms, xs = "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)"
        else:
            mn, mx = "CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)"
            ms = f"CAST(MIN({name}) AS VARCHAR)"
            xs = f"CAST(MAX({name}) AS VARCHAR)"
        parts.append(
            f"SELECT '{name}' AS \"column\", COUNT(*) AS n_rows,"
            f" CAST(SUM(CASE WHEN {name} IS NULL THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS n_null,"
            f" COUNT(DISTINCT {name}) AS n_distinct,"
            f" TRUE AS distinct_within_bound,"
            f" {mn} AS min_num, {mx} AS max_num,"
            f" {ms} AS min_str, {xs} AS max_str FROM {table}"
        )
    return " UNION ALL ".join(parts)


@query(
    "q65_column_profile",
    _profile_oracle(
        "orders",
        [("o_orderkey", True), ("o_custkey", True), ("o_orderstatus", False),
         ("o_totalprice", True), ("o_orderdate", False),
         ("o_orderpriority", False)],
    ),
)
def q65_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column profiler over ``orders`` in its corpus-scale
    shape: ONE scan with HLL distinct sketches (``exact_distinct=False``
    — no Expand; exact multi-column distincts plan k+1 Expand projections,
    the slowest non-dedup query of round 3 at 2.7s).

    Gate (q54 pattern): per-column EXACT distincts are computed as k
    separate single-column distinct aggregates over the cached relation —
    each a plain two-phase distinct, no Expand anywhere in any plan —
    and the HLL estimate must land within 5× the sketch's relative
    standard deviation of the exact count, or ``distinct_within_bound``
    flips and the round hash-mismatches."""
    import functools

    from parquery_spark.operators.profile import column_profile

    orders = load(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority"]
    prof = column_profile(orders, cols, exact_distinct=False).select(
        "column", "n_rows", "n_null",
        F.col("n_distinct").alias("n_distinct_est"),
        "min_num", "max_num", "min_str", "max_str",
    )
    # exact distincts, SIZE-GATED between two oracle-identical shapes
    # (round 13, VERDICT r12 #4).  Above the gate: stack the k columns
    # into (column, value-string) pairs and run ONE two-phase distinct
    # aggregate — still no Expand anywhere (one distinct per group plans
    # as plain partial/final aggregation), and the former k independent
    # fact-table passes collapse into one scan, which dominates at
    # corpus scale.  Below it: k separate single-column distinct
    # aggregates over the (hot-cached) relation — at sf0.1 the stacked
    # shape's k×rows exploded exchange costs MORE than the five saved
    # ~11 MB scans (measured +41% in the committed r12 bench), exactly
    # the adaptive-path rule the round's other gates follow (union-find
    # ≤200k edges, driver Lloyd ≤4096 vectors).  The string cast is
    # injective per column type, so the distinct count is unchanged;
    # count_distinct drops NULLs on both shapes.
    if fs.getsize(_path(sf_dir, "orders")) >= (1 << 30):
        exacts = (
            orders.select(
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(c).alias("column"),
                                F.col(c).cast("string").alias("v"),
                            )
                            for c in cols
                        ]
                    )
                ).alias("p")
            )
            .select("p.column", "p.v")
            .groupBy("column")
            .agg(F.count_distinct("v").alias("n_distinct"))
        )
    else:
        exacts = functools.reduce(
            DataFrame.unionByName,
            [
                orders.agg(F.count_distinct(F.col(c)).alias("n_distinct"))
                .select(F.lit(c).alias("column"), "n_distinct")
                for c in cols
            ],
        )
    rel_err = 5 * 0.05  # 5 sigma at approx_count_distinct's default rsd
    return prof.join(F.broadcast(exacts), "column").select(
        "column", "n_rows", "n_null", "n_distinct",
        (
            F.abs(F.col("n_distinct_est") - F.col("n_distinct"))
            <= F.lit(rel_err) * F.col("n_distinct")
        ).alias("distinct_within_bound"),
        "min_num", "max_num", "min_str", "max_str",
    )


@query(
    "q66_shard_packing",
    """
    WITH sized AS (
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '[A-Za-z0-9_'']+')) AS BIGINT)
                   AS n_tokens
        FROM documents
    ),
    cum AS (
        SELECT doc_id, n_tokens,
               CAST(COALESCE(SUM(n_tokens) OVER (
                   ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS tokens_before
        FROM sized
    )
    SELECT doc_id, n_tokens, tokens_before // 4096 AS shard_id
    FROM cum
    """,
)
def q66_shard_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard assignment: 4096-token shards over
    doc_id order via a DISTRIBUTED prefix sum (range partition →
    parallel per-partition running sums → driver-side offset prefix —
    the oracle's single-task `SUM OVER (ORDER BY)` is exactly what this
    plan avoids at corpus scale)."""
    from parquery_spark.functions.text import token_count
    from parquery_spark.operators.packing import pack_shards

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    packed = pack_shards(docs, token_count("text"), 4096, "doc_id")
    return packed.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        "shard_id",
    )


@query(
    "q67_csv_source",
    """
    SELECT n_regionkey, COUNT(n_nationkey) AS n,
           MIN(n_name) AS first_name, MAX(n_nationkey) AS max_key
    FROM nation GROUP BY n_regionkey
    """,
)
def q67_csv_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-format source surface: the nation table materialized as CSV
    (lossless — int/string columns only), queried through the SAME
    ``aggregate_pq`` plan path (header+inference read, tolerant-schema
    pre-flight, relation cache).  The oracle reads the parquet twin, so
    format equivalence itself is what's gated."""
    import pyarrow.csv as pacsv
    import pyarrow.parquet as papq

    from parquery_spark.aggregate import aggregate_plan

    def _build(t):
        os.makedirs(t)
        with fs.open_input(_path(sf_dir, "nation")) as fh:
            tbl = papq.read_table(fh).sort_by([("n_nationkey", "ascending")])
        # vectorized, no per-row Python
        pacsv.write_csv(tbl, os.path.join(t, "nation.csv"))

    d = artifact(sf_dir, "nation", "csv-v1", "nation", _build, "nation.csv")
    return aggregate_plan(
        os.path.join(d, "nation.csv"),
        ["n_regionkey"],
        [["n_nationkey", "count", "n"], ["n_name", "one", "first_name"],
         ["n_nationkey", "max", "max_key"]],
        spark=spark,
    )


@query(
    "q68_weighted_sample",
    """
    SELECT doc_id, n_chars
    FROM documents
    WHERE n_chars > 0
    ORDER BY ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#0'), 1, 15))
                 ::BIGINT + 1) / 1152921504606846976.0) / n_chars DESC,
             doc_id
    LIMIT 50
    """,
)
def q68_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-proportional deterministic corpus sample (Efraimidis-
    Spirakis over the md5 hash family): longer documents proportionally
    likelier, selection a pure function of (doc_id, seed).  Narrow map +
    TakeOrderedAndProject — reproducible on any engine, any layout."""
    from parquery_spark.operators.sampling import weighted_sample

    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return weighted_sample(docs, "n_chars", 50, "doc_id")


@query(
    "q70_quantile_length_filter",
    """
    WITH scored AS (
        SELECT doc_id, lang,
               CAST(len(regexp_extract_all(text, '[A-Za-z0-9_'']+')) AS BIGINT)
                   AS n_tokens
        FROM documents
    ),
    thr AS (
        SELECT lang, ROUND(quantile_cont(n_tokens, 0.75), 6) AS p75
        FROM scored GROUP BY lang
    )
    SELECT s.lang, COUNT(*) AS n_above,
           CAST(SUM(s.n_tokens) AS BIGINT) AS tokens_kept,
           ROUND(MAX(t.p75), 6) AS p75_tokens
    FROM scored s JOIN thr t USING (lang)
    WHERE s.n_tokens > t.p75
    GROUP BY s.lang
    """,
)
def q70_quantile_length_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-threshold curation: per-language EXACT 75th-percentile
    token count (interpolated percentile — two-phase, group-local
    aggregation), keep documents strictly above their language's p75 (the
    long-document slice).  The threshold relation is a handful of rows —
    broadcast back, so the filter is a narrow map over the corpus; at
    100 TB swap `percentile` for `approx_percentile` to bound the exact-
    percentile state (same plan shape, documented trade)."""
    from parquery_spark.functions.text import token_count

    docs = load(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "lang", token_count(F.col("text")).alias("n_tokens")
    )
    thr = scored.groupBy("lang").agg(
        F.round(F.expr("percentile(n_tokens, 0.75)"), 6).alias("p75")
    )
    return (
        scored.join(F.broadcast(thr), "lang")
        .filter(F.col("n_tokens") > F.col("p75"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_above"),
            F.sum("n_tokens").alias("tokens_kept"),
            F.round(F.max("p75"), 6).alias("p75_tokens"),
        )
    )


def _sql_ann_join(num_planes: int, probe_hamming: int, k: int, seed: int,
                  modulus: int) -> str:
    from parquery_spark.operators.similarity import hyperplanes

    planes = hyperplanes(64, num_planes, seed)
    bucket = " + ".join(
        f"CASE WHEN list_dot_product(v, "
        f"[{', '.join(repr(float(x)) for x in p)}]::DOUBLE[]) > 0 "
        f"THEN {1 << j}::BIGINT ELSE 0::BIGINT END"
        for j, p in enumerate(planes)
    )
    return f"""
    WITH base AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    bucketed AS (SELECT vec_id, v, ({bucket}) AS bucket FROM base),
    q AS (SELECT vec_id AS q_id, v AS qv, bucket AS qb
          FROM bucketed WHERE vec_id % {modulus} = 0),
    c AS (SELECT vec_id AS c_id, v AS cv, bucket AS cb
          FROM bucketed WHERE vec_id % {modulus} != 0),
    pairs AS (
        SELECT q_id, c_id,
               ROUND(list_dot_product(qv, cv) /
                     (sqrt(list_dot_product(qv, qv)) *
                      sqrt(list_dot_product(cv, cv))), 6) AS cosine_sim
        FROM q JOIN c ON bit_count(xor(qb, cb)) <= {probe_hamming}
    )
    SELECT q_id, c_id, cosine_sim, CAST(rank AS INTEGER) AS rank FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY q_id ORDER BY cosine_sim DESC, c_id
        ) AS rank FROM pairs
    ) WHERE rank <= {k}
    """


@query("q69_ann_join", _sql_ann_join(12, 2, 3, 7, 40))
def q69_ann_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch kNN JOIN (retrieval eval / embedding decontamination): every
    held-out query vector (vec_id % 40 = 0) matched to its top-3 cosine
    neighbors in the remaining corpus, candidates limited to LSH buckets
    within hamming 2.  The non-equi hamming predicate becomes an EQUI-join
    by exploding each query into its 79-key hamming ball — the small side
    multiplies, the corpus shuffles once on its single bucket key.  (The
    oracle verifies with the quadratic hamming join — exactly the plan
    this operator exists to avoid.)"""
    from parquery_spark.operators.similarity import ann_join

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 40 == 0)
    corpus = emb.filter(F.col("vec_id") % 40 != 0)
    return ann_join(
        queries, corpus, k=3, num_planes=12, probe_hamming=2, seed=7
    ).select(
        F.col("q_id"), F.col("c_id"), F.col("cosine_sim"), F.col("rank")
    )


_SESSION_SQL = """
    WITH marked AS (
        SELECT user_id, event_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id, ts,
               CAST(SUM(new_s) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS BIGINT) AS session_seq
        FROM marked
    )
    SELECT user_id, session_seq, COUNT(*) AS n_events,
           CAST(epoch_us(MIN(ts)) AS BIGINT) AS session_start_us,
           CAST(epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS BIGINT)
               AS duration_us
    FROM sess GROUP BY user_id, session_seq
    """


@query("q71_batch_sessionization", _SESSION_SQL)
def q71_batch_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization — the SQL-expressible twin of the streaming
    `sessionize_stream` operator (30-minute inactivity gap): lag-gap mark →
    per-user running sum = session sequence → per-session rollup.  Both
    windows shuffle once on user_id and sort within; the oracle pins the
    exact session boundaries, which the streaming operator's pytest can't
    (its oracle-free state machine is only shape-tested)."""
    from pyspark.sql import Window

    events = load_events(spark, sf_dir)

    # events.ts may surface as TIMESTAMP_NTZ (µs parquet) or TIMESTAMP
    # (ns→µs legacy path); epoch arithmetic needs the tz-aware type —
    # session tz is pinned UTC, so the cast is value-preserving and
    # matches DuckDB's wall-clock epoch_us exactly.
    def us(c):
        return F.unix_micros(c.cast("timestamp"))

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = 30 * 60 * 1_000_000
    prev = F.lag("ts").over(w)
    new_s = F.when(
        prev.isNull() | (us(F.col("ts")) - us(prev) > gap_us), F.lit(1)
    ).otherwise(F.lit(0))
    sess = (
        events.select("user_id", "event_id", "ts")
        .withColumn("__new", new_s)
        .withColumn("session_seq", F.sum("__new").over(w))
    )
    return sess.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        us(F.min("ts")).alias("session_start_us"),
        (us(F.max("ts")) - us(F.min("ts"))).alias("duration_us"),
    )


@query(
    "q72_label_centroids",
    """
    WITH zipped AS (
        SELECT label,
               unnest(list_zip(embedding::DOUBLE[],
                               range(len(embedding)))) AS z
        FROM embeddings
    ),
    expl AS (
        SELECT label, CAST(z[2] AS INTEGER) AS pos,
               CAST(z[1] AS DECIMAL(28,12)) AS x
        FROM zipped
    )
    SELECT label, pos,
           ROUND(CAST(SUM(x) AS DOUBLE) / COUNT(*), 6) AS c,
           COUNT(*) AS n
    FROM expl GROUP BY label, pos
    """,
)
def q72_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (class prototypes) with DETERMINISTIC
    distributed means: components sum in DECIMAL(28,12) — exact,
    order-independent — so the centroid is a pure function of the data,
    not of the partition layout.  (A plain float AVG over a shuffled
    explode is hash-unstable run to run; the decimal-sum trick is the
    general recipe for oracle-stable float aggregation.)"""
    from parquery_spark.operators.similarity import group_centroids

    emb = load(spark, sf_dir, "embeddings")
    return group_centroids(emb, "label")


@query(
    "q73_tfidf_top_terms",
    """
    WITH toks AS (
        SELECT doc_id, lang,
               unnest(list_filter(string_split_regex(lower(text),
                      '[^a-z0-9'']+'), t -> t != '')) AS t
        FROM documents
    ),
    tf AS (SELECT lang, t, COUNT(*) AS tf FROM toks GROUP BY lang, t),
    dfreq AS (SELECT t, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY t),
    n AS (SELECT COUNT(*) AS n FROM documents)
    SELECT lang, token, tf, df, tfidf, CAST(rank AS INTEGER) AS rank FROM (
        SELECT lang, t AS token, CAST(tf AS BIGINT) AS tf,
               CAST(df AS BIGINT) AS df,
               ROUND(tf * ln(n / df), 6) AS tfidf,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY ROUND(tf * ln(n / df), 6) DESC, t
               ) AS rank
        FROM tf JOIN dfreq USING (t) CROSS JOIN n
    ) WHERE rank <= 5
    """,
)
def q73_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF headline terms per language: corpus-wide document frequency
    (distinct-doc counts), per-language term frequency, top-5 by rounded
    score.  Both aggregations are partial-aggregated counted-gram
    shuffles; the doc-count scalar is one aggregate to the driver.
    Ranking orders by the ROUNDED score so float ulp differences between
    engines can't flip the tie-break."""
    from parquery_spark.operators.dedup import shingle_tokens
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    n_docs = docs.count()
    toks = fan_out(docs.select("doc_id", "lang", "text"), "doc_id").select(
        "doc_id", "lang", F.explode(shingle_tokens("text")).alias("t")
    )
    # ONE aggregation pass collapses the token stream to the
    # (doc, lang, term) count grain; tf and df are then both
    # re-aggregations of that one plan object, and each references every
    # column (df counts via "c") so Catalyst can't prune their exchange
    # copies apart — ReuseExchange tokenizes the corpus once, with no
    # persisted intermediate (the former persist leaked a corpus-sized
    # cache per call)
    # the tf/df join on t infers isnotnull(t) asymmetrically into the
    # branches (InferFiltersFromConstraints), which would defeat the
    # exchange reuse — pre-filter the shared relation so both branches
    # carry the identical (vacuously true) predicate
    per_doc = toks.where(F.col("t").isNotNull()).groupBy(
        "doc_id", "lang", "t"
    ).agg(
        F.count(F.lit(1)).alias("c")
    )
    tf = per_doc.groupBy("lang", "t").agg(F.sum("c").alias("tf"))
    dfreq = (
        # per_doc is distinct per (doc, term) — lang is a per-doc
        # attribute — so a row count IS the distinct-document frequency.
        # The count deliberately CONSUMES c's value (c >= 1 always, so
        # the predicate is vacuous): a plain count(1)/count(c) lets
        # Catalyst prune the count expression out of this branch's copy
        # of the per_doc aggregate, which would desync the two exchange
        # children and defeat ReuseExchange
        per_doc.groupBy("t").agg(
            F.count(F.when(F.col("c") >= 1, 1)).alias("df")
        )
    )
    scored = tf.join(dfreq, "t").withColumn(
        "tfidf", F.round(F.col("tf") * F.log(F.lit(n_docs) / F.col("df")), 6)
    )
    w = Window.partitionBy("lang").orderBy(F.col("tfidf").desc(), F.col("t"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select(
            "lang", F.col("t").alias("token"), "tf", "df", "tfidf", "rank"
        )
    )


@query(
    "q74_unigram_logprob",
    """
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text),
                      '[^a-z0-9'']+'), t -> t != '')) AS t
        FROM documents
    ),
    vocab AS (SELECT t, COUNT(*) AS tf FROM toks GROUP BY t),
    total AS (SELECT CAST(SUM(tf) AS DOUBLE) AS total FROM vocab),
    scored AS (
        SELECT toks.doc_id, ln(v.tf / total.total) AS lp
        FROM toks JOIN vocab v USING (t) CROSS JOIN total
    )
    SELECT doc_id, COUNT(*) AS n_tokens,
           ROUND(SUM(lp) / COUNT(*), 6) AS avg_logprob
    FROM scored GROUP BY doc_id
    """,
)
def q74_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model scoring — the cheap stand-in for perplexity
    filtering: every token joins its corpus probability (broadcast vocab),
    per-document mean log-probability aggregates map-side.  Low scores
    flag out-of-distribution / junk documents.  The token rows stay
    contiguous per doc (explode), so the float sum folds in a fixed order
    on any engine."""
    from parquery_spark.operators.dedup import shingle_tokens

    docs = load(spark, sf_dir, "documents")
    toks = fan_out(docs.select("doc_id", "text"), "doc_id").select(
        "doc_id", F.explode(shingle_tokens("text")).alias("t")
    )
    vocab = toks.groupBy("t").agg(F.count(F.lit(1)).alias("tf"))
    # the normalizer is a one-row broadcast DERIVED from vocab inside the
    # one returned plan (no driver collect, no persist): the total branch
    # references tf, so its exchange copy matches vocab's and
    # ReuseExchange tokenizes once for both; the scoring side streams the
    # raw token relation through the broadcast joins — two token passes
    # total, zero cached relations
    total = vocab.agg(
        F.sum("tf").cast("double").alias("__total")
    )
    scored = (
        toks.join(F.broadcast(vocab), "t")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id", F.log(F.col("tf") / F.col("__total")).alias("lp")
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.sum("lp") / F.count(F.lit(1)), 6).alias("avg_logprob"),
    )


def _sql_lsh_join(num_hashes: int, bands: int, shingle_k: int,
                  max_bucket: int, modulus: int) -> str:
    rows = num_hashes // bands
    sig_exprs = _sql_minhash_sig_exprs(num_hashes)
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, md5("
        + " || ',' || ".join(f"h{b * rows + r}::VARCHAR" for r in range(rows))
        + ") AS band_key FROM sig"
        for b in range(bands)
    )
    n_eq = " + ".join(
        f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END"
        for i in range(num_hashes)
    )
    return f"""
    WITH sh AS ({_sql_shingles(shingle_k)}),
    hashed AS (SELECT doc_id, {_SQL_BASE_HASH} AS hs FROM sh),
    sig AS (SELECT doc_id, {sig_exprs} FROM hashed),
    banded AS ({band_selects}),
    corpus_banded AS (
        SELECT * FROM banded WHERE doc_id % {modulus} != 0
        QUALIFY COUNT(*) OVER (PARTITION BY band, band_key) <= {max_bucket}
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS corpus_id
        FROM banded a
        JOIN corpus_banded b
          ON a.band = b.band AND a.band_key = b.band_key
        WHERE a.doc_id % {modulus} = 0
    )
    SELECT new_id, corpus_id,
           ROUND(({n_eq}) / {float(num_hashes)}, 6) AS est_jaccard
    FROM pairs
    JOIN sig sa ON sa.doc_id = new_id
    JOIN sig sb ON sb.doc_id = corpus_id
    """


@query("q75_incremental_dedup", _sql_lsh_join(16, 4, 2, 1000, 5))
def q75_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time dedup: the arriving batch (doc_id % 5 = 0 stands in for
    the new partition) LSH-joined against the existing corpus — candidate
    pairs cross the batch/corpus boundary only, never within either side,
    so each ingest costs |batch|-side banding plus a band-key equi-join
    against the corpus's banded-signature index — here the stored
    full-corpus banding (shared with q43) sliced to the corpus side,
    exactly the at-scale shape where the accumulated corpus is never
    re-minhashed per batch."""
    from parquery_spark.operators.dedup import lsh_join

    docs = load(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    return lsh_join(
        new, corpus, "text", "doc_id",
        num_hashes=16, bands=4, shingle_k=2, max_bucket_size=1000,
        corpus_banded=_mh_banded(spark, sf_dir).filter(
            F.col("doc_id") % 5 != 0
        ),
    )


@query(
    "q76_json_props",
    """
    SELECT event_type,
           CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_bucket,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
               AS k_sum
    FROM events
    WHERE json_extract(props, '$.k') IS NOT NULL
    GROUP BY event_type, k_bucket
    """,
)
def q76_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured columns: the events table's ``props`` JSON strings
    parsed in-plan (``get_json_object`` — JVM-side, codegen, no UDF) and
    aggregated by an extracted field.  At scale prefer parsing ONCE into a
    struct column with ``from_json`` + persisting the typed layout; the
    per-query extraction here is the ad-hoc exploration shape."""
    events = load_events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        events.filter(k.isNotNull())
        .groupBy("event_type", (k % 10).alias("k_bucket"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum(k).alias("k_sum"))
    )


def _sql_bloom(m: int, k: int, modulus: int) -> str:
    def pos(i: int) -> str:
        return (
            f"(('0x' || substr(md5(fp || '#{i}'), 1, 15))::BIGINT % {m})"
        )

    probe_hits = " + ".join(
        f"""(CASE WHEN COALESCE((
            SELECT word FROM bloom WHERE word_idx = {pos(i)} // 32
        ), 0) & (1::BIGINT << CAST({pos(i)} % 32 AS INTEGER)) != 0
        THEN 1 ELSE 0 END)"""
        for i in range(k)
    )
    build_positions = " UNION ALL ".join(
        f"SELECT {pos(i)} AS p FROM corpus" for i in range(k)
    )
    return f"""
    WITH fps AS (
        SELECT doc_id, lang, md5({_SQL_NORMALIZED_TEXT}) AS fp
        FROM documents
    ),
    corpus AS (SELECT * FROM fps WHERE doc_id % {modulus} != 0),
    newb AS (SELECT * FROM fps WHERE doc_id % {modulus} = 0),
    bloom AS (
        SELECT p // 32 AS word_idx,
               bit_or(1::BIGINT << CAST(p % 32 AS INTEGER)) AS word
        FROM ({build_positions})
        GROUP BY word_idx
    ),
    probed AS (
        SELECT doc_id, lang, fp, (({probe_hits}) = {k}) AS bloom_hit
        FROM newb
    )
    SELECT lang, COUNT(*) AS n_new,
           CAST(SUM(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS BIGINT)
               AS n_flagged,
           CAST(SUM(CASE WHEN fp IN (SELECT fp FROM corpus)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_members
    FROM probed GROUP BY lang
    """


@query("q77_bloom_prefilter", _sql_bloom(1 << 16, 3, 5))
def q77_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership pre-filter for incremental ingest: build a
    64 Ki-bit filter over the existing corpus's content fingerprints (a
    bit_or bitmap aggregation — ≤1024 packed-long rows, mergeable), probe
    the arriving batch with a broadcast join, and compare the probable-
    member count against exact membership per language (false positives
    visible, false negatives impossible — the oracle replicates the
    filter bit for bit via the shared md5 family)."""
    from parquery_spark.functions.sketches import bloom_build, bloom_probe
    from parquery_spark.functions.text import fingerprint

    docs = load(spark, sf_dir, "documents")
    fps = docs.select(
        "doc_id", "lang", fingerprint(F.col("text")).alias("fp")
    )
    corpus = fps.filter(F.col("doc_id") % 5 != 0)
    new = fps.filter(F.col("doc_id") % 5 == 0)
    bloom = bloom_build(corpus, "fp")
    probed = bloom_probe(new, bloom, "fp")
    members = corpus.select("fp").distinct()
    flagged = probed.join(
        members.withColumn("__m", F.lit(1)), "fp", "left"
    )
    return flagged.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_new"),
        F.sum(F.col("bloom_hit").cast("long")).alias("n_flagged"),
        F.sum(F.coalesce(F.col("__m"), F.lit(0)).cast("long")).alias(
            "n_members"
        ),
    )


@query(
    "q78_trailing_window_features",
    """
    SELECT event_id,
           COUNT(*) OVER w AS n_1h,
           SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) OVER w / 100.0
               AS v_1h
    FROM events
    WINDOW w AS (
        PARTITION BY user_id ORDER BY ts
        RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW
    )
    """,
)
def q78_trailing_window_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time feature generation: for every event, the user's
    trailing-1-hour event count and value sum — a RANGE window frame over
    event time, so features at time t never read past t (leakage-safe by
    construction).  One shuffle on user_id, sort within; the frame is
    value-based (peers included), so row-order ties are immaterial."""
    from pyspark.sql import Window

    events = load_events(spark, sf_dir)
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    base = events.select(
        "event_id", "user_id", ts_us.alias("ts_us"),
        _cents().alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-3_600_000_000, 0)
    )
    return base.select(
        "event_id",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        (F.sum("cents").over(w) / 100.0).alias("v_1h"),
    )


@query(
    "q79_cumulative_distinct_users",
    """
    WITH first_seen AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
        FROM events GROUP BY user_id
    ),
    per_day AS (
        SELECT first_day, COUNT(*) AS new_users
        FROM first_seen GROUP BY first_day
    )
    SELECT first_day AS day, new_users,
           CAST(SUM(new_users) OVER (ORDER BY first_day) AS BIGINT)
               AS cumulative_users
    FROM per_day
    """,
)
def q79_cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running DISTINCT-user count via the first-touch trick: cumulative
    distincts need no growing distinct state — each user collapses to one
    first-seen day (one group-by), and the running total is a window over
    the tiny per-day relation.  The naive per-day COUNT(DISTINCT ... WHERE
    ts <= day) is quadratic in days; this is the scalable restatement.
    The running total itself is the q66 distributed prefix sum — no
    single-partition WindowExec anywhere, even though the per-day relation
    is only #days rows."""
    from parquery_spark.operators.packing import prefix_sum

    events = load_events(spark, sf_dir)
    first_seen = (
        events.select("user_id", F.col("ts").cast("date").alias("day"))
        .groupBy("user_id")
        .agg(F.min("day").alias("first_day"))
    )
    per_day = first_seen.groupBy("first_day").agg(
        F.count(F.lit(1)).alias("new_users")
    )
    return prefix_sum(
        per_day, "new_users", "first_day", "cumulative_users"
    ).select(
        F.col("first_day").alias("day"), "new_users", "cumulative_users"
    )


@query(
    "q80_retention_cohorts",
    """
    WITH first_seen AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
        FROM events GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT e.user_id, f.cohort_day,
               datediff('day', f.cohort_day, CAST(e.ts AS DATE)) AS day_offset
        FROM events e JOIN first_seen f USING (user_id)
    )
    SELECT cohort_day, CAST(day_offset AS BIGINT) AS day_offset,
           COUNT(*) AS active_users
    FROM activity
    WHERE day_offset <= 7
    GROUP BY cohort_day, day_offset
    """,
)
def q80_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohorts: users grouped by first-seen day, activity
    counted at each day offset (first week).  first_seen is one group-by;
    the cohort join broadcasts it when small and shuffles on user_id when
    not — either way activity dedups per (user, offset) before counting,
    so the aggregation never sees raw event volume."""
    events = load_events(spark, sf_dir)
    first_seen = (
        events.select("user_id", F.col("ts").cast("date").alias("day"))
        .groupBy("user_id")
        .agg(F.min("day").alias("cohort_day"))
    )
    activity = (
        events.select("user_id", F.col("ts").cast("date").alias("day"))
        .join(first_seen, "user_id")
        .select(
            "user_id", "cohort_day",
            F.datediff(F.col("day"), F.col("cohort_day")).cast("long").alias(
                "day_offset"
            ),
        )
        .distinct()
    )
    return (
        activity.filter(F.col("day_offset") <= 7)
        .groupBy("cohort_day", "day_offset")
        .agg(F.count(F.lit(1)).alias("active_users"))
    )


@query(
    "q81_funnel",
    """
    WITH stages AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
               MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
               MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
               MIN(CASE WHEN event_type = 'purchase' THEN ts END)
                   AS t_purchase
        FROM events GROUP BY user_id
    )
    SELECT COUNT(*) AS n_users,
           CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS viewed,
           CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                         THEN 1 ELSE 0 END) AS BIGINT) AS clicked_after,
           CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                          AND t_signup > t_click
                         THEN 1 ELSE 0 END) AS BIGINT) AS signed_up_after,
           CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                          AND t_signup > t_click AND t_purchase > t_signup
                         THEN 1 ELSE 0 END) AS BIGINT) AS purchased_after
    FROM stages
    """,
)
def q81_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view → click → signup → purchase): each user
    collapses to one row of first-touch timestamps per stage (conditional
    MIN aggregation — ONE pass, one shuffle on user_id), then the ordering
    predicates are a driver-free narrow reduction.  The classic quadratic
    formulation (self-join per funnel step) never appears: funnel depth
    adds conditional aggregates, not joins."""
    events = load_events(spark, sf_dir)

    def first_ts(et):
        return F.min(F.when(F.col("event_type") == et, F.col("ts")))

    stages = events.groupBy("user_id").agg(
        first_ts("view").alias("t_view"),
        first_ts("click").alias("t_click"),
        first_ts("signup").alias("t_signup"),
        first_ts("purchase").alias("t_purchase"),
    )
    viewed = F.col("t_view").isNotNull()
    clicked = viewed & (F.col("t_click") > F.col("t_view"))
    signed = clicked & (F.col("t_signup") > F.col("t_click"))
    purchased = signed & (F.col("t_purchase") > F.col("t_signup"))
    return stages.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(viewed.cast("long")).alias("viewed"),
        F.sum(clicked.cast("long")).alias("clicked_after"),
        F.sum(signed.cast("long")).alias("signed_up_after"),
        F.sum(purchased.cast("long")).alias("purchased_after"),
    )


@query("q82_indexed_dedup_probe", _sql_lsh_join(16, 4, 2, 1000, 20))
def q82_indexed_dedup_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time dedup against the PERSISTED band-key index: the corpus's
    banded MinHash signatures live as a hive layout partitioned by
    ``(band, band_key-prefix)`` (built once per corpus version, cached by
    source stat identity like any relation), and each arriving batch bands
    only itself, prunes the index read to its probe directories
    (PartitionFilters — pinned in ``tests/test_scale_plans.py``), and
    equi-joins on the full band key.  Same oracle as q75: indexing must
    not change a single candidate pair."""
    from parquery_spark.operators.dedup import (
        lsh_join_indexed,
        write_minhash_index,
    )

    # a 5% ingest batch vs a 95% corpus — the realistic ratio where the
    # index pays: the probe set covers few (band, prefix) directories, so
    # partition pruning skips most of the index
    docs = load(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    # trailing v2 = adaptive-prefix layout generation (writer logic tag)
    idx = artifact(
        sf_dir, "documents", "16|4|2|20|v2", "mh_idx",
        lambda t: write_minhash_index(
            corpus.select("doc_id", "text"), t, "text", "doc_id",
            num_hashes=16, bands=4, shingle_k=2,
        ),
    )
    new = docs.filter(F.col("doc_id") % 20 == 0)
    return lsh_join_indexed(
        spark, idx, new.select("doc_id", "text"), "text", "doc_id",
        num_hashes=16, bands=4, shingle_k=2, max_bucket_size=1000,
    )


_Q83_QUERY_IDS = (0, 1, 2, 3)


@query(
    "q83_ivf_ann",
    # q54-style gate: the exact brute-force top-1 (id + rounded cosine) is
    # hash-matched against DuckDB; the IVF path's quality is encoded as a
    # boolean — recall@10 against the exact top-10 must clear 0.5, or the
    # Spark side emits FALSE and the round hash-mismatches.  (The index
    # contents themselves are quantizer-dependent, hence not hashable.)
    f"""
    WITH qs AS (
        SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        FROM embeddings WHERE vec_id IN {_Q83_QUERY_IDS}
    ),
    ranked AS (
        SELECT qs.query_id, e.vec_id,
               ROUND(list_dot_product(e.embedding::DOUBLE[], qs.qv) /
                     (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                            e.embedding::DOUBLE[]))
                      * sqrt(list_dot_product(qs.qv, qs.qv))), 6) AS sim,
               ROW_NUMBER() OVER (
                   PARTITION BY qs.query_id
                   ORDER BY ROUND(list_dot_product(e.embedding::DOUBLE[], qs.qv) /
                     (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                            e.embedding::DOUBLE[]))
                      * sqrt(list_dot_product(qs.qv, qs.qv))), 6) DESC,
                   e.vec_id
               ) AS rn
        FROM embeddings e CROSS JOIN qs
    )
    SELECT query_id,
           MAX(CASE WHEN rn = 1 THEN vec_id END) AS top1_id,
           MAX(CASE WHEN rn = 1 THEN sim END) AS top1_sim,
           TRUE AS recall_ok
    FROM ranked WHERE rn <= 10 GROUP BY query_id
    """,
)
def q83_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate nearest neighbor, end to end: k-means coarse
    quantizer (fixed seed), corpus persisted hive-partitioned by cell,
    probes pruned to ``nprobe`` directories (PartitionFilters — pinned in
    ``tests/test_scale_plans.py``), exact cosine ranking the survivors.

    Index + centroids are built once per corpus version (stat-identity
    cache, centroids stored next to the data as the index metadata —
    exactly what a production layout persists)."""
    import numpy as np

    from parquery_spark.operators import ivf

    # nprobe=8 of 16 cells: these synthetic embeddings are near-uniform
    # (weak cluster structure — the ANN worst case), so honest recall
    # needs wide probes; measured recall@10 is 0.7-1.0 across SFs, the
    # 0.5 gate detects a broken quantizer with 2 steps of margin
    k_cells, nprobe, topk = 16, 8, 10

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def _build_ivf(t):
        centroids = ivf.train_ivf_centroids(emb, k=k_cells, seed=7)
        ivf.write_ivf_index(emb, t, centroids)
        np.save(os.path.join(t, "centroids.npy"), centroids)

    idx = artifact(
        sf_dir, "embeddings", "ivf16", "ivf_idx", _build_ivf,
        marker="centroids.npy",
    )
    centroids = np.load(os.path.join(idx, "centroids.npy"))

    qvecs = {
        r["vec_id"]: list(r["embedding"])
        for r in _probe_rows(sf_dir, _Q83_QUERY_IDS)
    }

    def tag_q(df, qid):
        return df.select(
            F.lit(qid).cast("long").alias("query_id"), "vec_id", "cosine_sim"
        )

    import functools

    from pyspark.sql import Window

    from parquery_spark.operators.similarity import cosine

    # exact truth: ONE corpus scan for the whole probe batch — broadcast
    # the 4-row query relation, fold-compute cosine on the joined arrays
    # (textually the oracle's list_dot_product recipe, including the
    # query-norm fold), per-query window top-k (WindowGroupLimit-pruned).
    # The IVF side stays per-query: each probe prunes a DIFFERENT cell
    # set, and partition pruning needs literal filters.
    qdf = spark.createDataFrame(
        [(int(q), [float(x) for x in qvecs[q]]) for q in _Q83_QUERY_IDS],
        "query_id long, qv array<double>",
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), "vec_id"
    )
    exact = (
        emb.crossJoin(F.broadcast(qdf))
        .select(
            "query_id",
            "vec_id",
            F.round(cosine(F.col("embedding"), F.col("qv")), 6).alias(
                "cosine_sim"
            ),
        )
        .withColumn("__rk", F.row_number().over(wq))
        .where(F.col("__rk") <= topk)
        .drop("__rk")
    )
    approx = functools.reduce(
        DataFrame.unionByName,
        [
            tag_q(
                ivf.ivf_topk(spark, idx, centroids, qvecs[q],
                             k=topk, nprobe=nprobe),
                q,
            )
            for q in _Q83_QUERY_IDS
        ],
    )
    # ONE aggregation wave (round 12, the q211 shape): exact and IVF
    # top-k rows union into a flagged stream; a single groupBy yields
    # top-1 (a struct max over the exact rows — same (sim desc, id asc)
    # order as the former max_by) and both id sets.  The IVF side emits
    # top-k rows for every probe whenever its cells are non-empty, so
    # the former inner join's both-sides-present invariant carries over.
    u = exact.withColumn("is_exact", F.lit(True)).unionByName(
        approx.withColumn("is_exact", F.lit(False))
    )
    top1 = F.max(
        F.when(
            F.col("is_exact"),
            F.struct(
                "cosine_sim",
                (-F.col("vec_id")).alias("t"),
                F.col("vec_id").alias("v"),
            ),
        )
    )
    recall = (
        F.size(F.array_intersect("exact_ids", "ivf_ids"))
        / F.lit(float(topk))
    )
    return (
        u.groupBy("query_id")
        .agg(
            top1.getField("v").alias("top1_id"),
            top1.getField("cosine_sim").alias("top1_sim"),
            F.collect_set(F.when(F.col("is_exact"), F.col("vec_id"))).alias(
                "exact_ids"
            ),
            F.collect_set(
                F.when(~F.col("is_exact"), F.col("vec_id"))
            ).alias("ivf_ids"),
        )
        .select(
            "query_id", "top1_id", "top1_sim",
            (recall >= F.lit(0.5)).alias("recall_ok"),
        )
    )


#: logic tags of the stream source layouts; a drain's tag names the tag of
#: the layout it reads, so a layout change re-drains every reader
_EVENTS_LINK_TAG = "link-v1"
_SENTINEL_TAG = "sentinel-v1"
_DOCSTREAM_TAG = "docstream-3b-v2"


def _events_stream_dir(sf_dir: str) -> str:
    """A directory-shaped streaming source for the events file: hardlink
    (copy fallback) into a temp dir keyed by the file's stat identity —
    the file stream source requires a directory, and the link pins the
    snapshot the same way the batch read hardening does."""

    def _build(t):
        os.makedirs(t)
        fs.link_or_copy(_path(sf_dir, "events"), os.path.join(t, "events.parquet"))

    return artifact(
        sf_dir, "events", _EVENTS_LINK_TAG, "events_src", _build,
        marker="events.parquet",
    )


def _drained(
    spark: SparkSession,
    sf_dir: str,
    tables: str,
    tag: str,
    prefix: str,
    make_stream: Callable[[], DataFrame],
    output_mode: str = "append",
) -> DataFrame:
    """The result of the bounded stream ``make_stream()``, drained once per
    version of ``tables`` (``streaming.events.drain`` into a stat-keyed
    artifact) and read like any other input.  The result is a pure
    function of the source versions and ``tag``, so a warm call reads
    parquet: the stream is built inside the build and never started.
    ``tag`` is the drain's logic version plus its source layout's tag;
    bump it whenever either changes."""
    from parquery_spark.streaming.events import drain

    path = artifact(
        sf_dir, tables, tag, prefix,
        lambda t: drain(make_stream(), t, output_mode),
    )
    return relations.get_relation(spark, path)


@query(
    "q84_streaming_window_counts",
    """
    SELECT CAST(epoch_us(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT)
               AS window_start_us,
           event_type,
           COUNT(event_id) AS n,
           SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) / 100.0
               AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def q84_streaming_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window aggregation through the REAL streaming
    engine: the events table drained as a file stream (availableNow
    trigger — same watermark/state machinery as a live run, finite input)
    in complete mode, gated against the batch SQL oracle.  This is the
    stream/batch consistency contract made a hard gate: the streaming
    result must be value-identical to the batch twin's."""
    from parquery_spark.streaming.events import events_stream

    def windowed():
        stream = events_stream(spark, _events_stream_dir(sf_dir))
        return (
            stream.groupBy(
                F.window("ts", "1 hour").alias("win"), "event_type"
            )
            .agg(
                F.count("event_id").alias("n"),
                (F.sum(_cents()) / 100.0).alias("total_value"),
            )
            .select(
                # epoch µs as BIGINT: tz-free on every engine (Spark
                # timestamps carry the session tz through Arrow; the
                # oracle's don't)
                F.unix_micros(F.col("win.start")).alias("window_start_us"),
                "event_type", "n", "total_value",
            )
        )

    return _drained(
        spark, sf_dir, "events", f"v1+{_EVENTS_LINK_TAG}", "q84_drain",
        windowed, output_mode="complete",
    )


@query(
    "q85_streaming_dedup",
    """
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_unique,
           COUNT(*) AS n_raw
    FROM events GROUP BY event_type
    """,
)
def q85_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup gated end to end: one availableNow pass of
    ``dropDuplicatesWithinWatermark`` on (user_id, event_type) — all rows
    fall inside one batch, so state never expires mid-run and the
    survivor set is EXACTLY one row per key; the oracle's COUNT(DISTINCT)
    twin makes that a hash-matched contract.  (Mid-stream state expiry —
    the unbounded-ingest property — is pinned by the multi-batch pytest;
    this gate pins correctness of the surviving set.)"""
    from parquery_spark.streaming.events import events_stream

    survivors = _drained(
        spark, sf_dir, "events", f"v1+{_EVENTS_LINK_TAG}", "q85_drain",
        lambda: events_stream(
            spark, _events_stream_dir(sf_dir)
        ).dropDuplicatesWithinWatermark(["user_id", "event_type"]),
    )
    raw = load_events(spark, sf_dir).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_raw")
    )
    return (
        survivors.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_unique"))
        .join(raw, "event_type")
        .select("event_type", "n_unique", "n_raw")
    )


@query(
    "q86_snapshot_upsert",
    """
    WITH cur AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
    ),
    b1 AS (
        SELECT o_orderkey, o_orderstatus,
               ROUND(o_totalprice * 2, 2) AS o_totalprice
        FROM orders WHERE o_orderkey % 7 = 0
    ),
    b2 AS (
        SELECT o_orderkey + 100000000 AS o_orderkey,
               'N' AS o_orderstatus, 1.0 AS o_totalprice
        FROM orders WHERE o_orderkey % 1000 = 0
    ),
    batch AS (SELECT * FROM b1 UNION ALL SELECT * FROM b2)
    SELECT * FROM cur
    WHERE o_orderkey NOT IN (SELECT o_orderkey FROM batch)
    UNION ALL SELECT * FROM batch
    """,
)
def q86_snapshot_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC snapshot merge: a change batch (updated prices for every 7th
    key + brand-new keys) upserted into the orders snapshot — one
    ANTI JOIN on the key (batch keys broadcast) plus a union, the plan
    ``MERGE INTO`` lowers to in any table format.  Row-level gate: every
    surviving, updated, and inserted row hash-matched."""
    from parquery_spark.operators.upsert import upsert

    cur = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    b1 = cur.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey", "o_orderstatus",
        F.round(F.col("o_totalprice") * 2, 2).alias("o_totalprice"),
    )
    b2 = cur.filter(F.col("o_orderkey") % 1000 == 0).select(
        (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
        F.lit("N").alias("o_orderstatus"),
        F.lit(1.0).alias("o_totalprice"),
    )
    return upsert(cur, b1.unionByName(b2), ["o_orderkey"])


@query(
    "q87_gap_fill",
    """
    WITH f AS (
        SELECT event_type,
               CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hour_bucket,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        FROM events WHERE value > 95
    ),
    agg AS (
        SELECT event_type, hour_bucket, COUNT(*) AS n,
               SUM(cents) / (COUNT(*) * 100.0) AS avg_value
        FROM f GROUP BY 1, 2
    ),
    bounds AS (
        SELECT event_type, MIN(hour_bucket) AS lo, MAX(hour_bucket) AS hi
        FROM agg GROUP BY 1
    ),
    spine AS (
        SELECT event_type, unnest(generate_series(lo, hi)) AS hour_bucket
        FROM bounds
    ),
    dense AS (
        SELECT s.event_type, s.hour_bucket,
               COALESCE(a.n, 0) AS n, a.avg_value
        FROM spine s LEFT JOIN agg a USING (event_type, hour_bucket)
    )
    SELECT event_type, hour_bucket, n,
           LAST_VALUE(avg_value IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY hour_bucket
           ) AS avg_value
    FROM dense
    """,
)
def q87_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series densification: sparse per-(event_type, hour) stats
    re-emitted on a gap-free hourly spine — counts zero-filled, average
    value carried forward (LOCF).  The spine explodes from ONE row per
    key (min/max aggregate + ``sequence``), never a calendar cross join;
    LOCF windows are partitioned by key, so partition size is one key's
    buckets, not the corpus."""
    from parquery_spark.operators.upsert import fill_gaps

    events = load_events(spark, sf_dir)
    hour = (F.unix_micros(F.col("ts").cast("timestamp"))
            / F.lit(3_600_000_000)).cast("long")
    # exact-cents average: the data is 2-decimal, so per-row integer cents
    # (a deterministic per-row floor — identical doubles on every engine)
    # sum exactly in int64 and the average is one exact division.  Any
    # double-domain AVG+ROUND here flips at sf0.1: group averages land
    # EXACTLY on half-way points (2-decimal data), where a 1-ulp
    # summation-order difference between engines crosses the boundary.
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    agg = (
        events.filter(F.col("value") > 95)
        .select("event_type", hour.alias("hour_bucket"), cents.alias("cents"))
        .groupBy("event_type", "hour_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum("cents") / (F.count(F.lit(1)) * 100.0)).alias(
                "avg_value"
            ),
        )
    )
    return fill_gaps(
        agg, "event_type", "hour_bucket", 1,
        agg_cols=["n"], locf_cols=["avg_value"],
    )


@query(
    "q88_unpivot",
    """
    WITH agg AS (
        SELECT l_returnflag,
               ROUND(CAST(SUM(l_quantity) AS DOUBLE), 2) AS quantity,
               ROUND(CAST(SUM(l_extendedprice) AS DOUBLE), 2)
                   AS extendedprice,
               ROUND(CAST(SUM(l_discount) AS DOUBLE), 2) AS discount,
               ROUND(CAST(SUM(l_tax) AS DOUBLE), 2) AS tax
        FROM lineitem GROUP BY 1
    )
    SELECT l_returnflag, 'quantity' AS measure, quantity AS total FROM agg
    UNION ALL
    SELECT l_returnflag, 'extendedprice', extendedprice FROM agg
    UNION ALL
    SELECT l_returnflag, 'discount', discount FROM agg
    UNION ALL
    SELECT l_returnflag, 'tax', tax FROM agg
    """,
)
def q88_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshaping (melt): per-flag measure totals unpivoted to
    (flag, measure, total) rows with the built-in ``unpivot`` — a narrow
    Expand over the already-aggregated relation (4 rows per group), not a
    re-scan per measure like the oracle's UNION ALL formulation."""
    li = load(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.round(F.sum("l_quantity").cast("double"), 2).alias("quantity"),
        F.round(F.sum("l_extendedprice").cast("double"), 2)
        .alias("extendedprice"),
        F.round(F.sum("l_discount").cast("double"), 2).alias("discount"),
        F.round(F.sum("l_tax").cast("double"), 2).alias("tax"),
    )
    return agg.unpivot(
        ["l_returnflag"],
        ["quantity", "extendedprice", "discount", "tax"],
        "measure", "total",
    )


@query(
    "q89_doc_chunking",
    """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
                           t -> t != '') AS tk
        FROM documents
    ),
    chunks AS (
        SELECT doc_id,
               CAST((s - 1) // 24 AS BIGINT) AS chunk_idx,
               tk[s:least(s + 31, len(tk))] AS chunk
        FROM toks, unnest(generate_series(1, len(tk), 24)) AS u(s)
    )
    SELECT doc_id, chunk_idx,
           CAST(len(chunk) AS BIGINT) AS chunk_len,
           md5(array_to_string(chunk, ' ')) AS chunk_fp
    FROM chunks
    """,
)
def q89_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking — the step that turns cleaned
    documents into fixed-token training sequences: 32-token windows with
    stride 24 (8-token overlap preserves cross-boundary context).  Pure
    narrow plan: tokenize once, ``sequence`` the window starts, posexplode,
    ``slice`` each window from the SAME token array (no per-window
    re-tokenize) — zero shuffles, zero Python; chunk identity is an md5
    fingerprint so downstream dedup/packing can treat chunks as documents."""
    from parquery_spark.operators.dedup import shingle_tokens

    C, S = 32, 24
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", shingle_tokens("text").alias("tk")
    )
    starts = F.sequence(F.lit(1), F.size("tk"), F.lit(S))
    exploded = toks.select(
        "doc_id", "tk", F.posexplode(starts).alias("chunk_idx", "s")
    )
    chunk = F.slice(F.col("tk"), F.col("s"), C)
    return exploded.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.size(chunk).cast("long").alias("chunk_len"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_fp"),
    )


@query(
    "q90_salted_hot_key_agg",
    """
    SELECT l_suppkey, COUNT(l_orderkey) AS n,
           ROUND(CAST(SUM(l_quantity) AS DOUBLE), 2) AS total_qty,
           ROUND(CAST(MAX(l_extendedprice) AS DOUBLE), 2) AS max_price
    FROM lineitem GROUP BY l_suppkey
    """,
)
def q90_salted_hot_key_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation under a HOT KEY: stage 1 aggregates on
    (key, random salt) so any key holding 30% of the input spreads over 16
    reducers; stage 2 re-aggregates the partials on the true key.  Results
    must be bit-identical to the direct groupBy — that is exactly what the
    oracle hash-checks (only decomposable ops allowed; a mean of partial
    means would be wrong and is rejected, mirroring the reference's
    SAFE_PREAGGREGATE set, reference: parquery/tool.py:37)."""
    from parquery_spark.operators.skew import salted_groupby

    li = load(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_orderkey", "l_quantity", "l_extendedprice"
    )
    out = salted_groupby(
        li, ["l_suppkey"],
        [["l_orderkey", "count", "n"],
         ["l_quantity", "sum", "total_qty"],
         ["l_extendedprice", "max", "max_price"]],
        salt_buckets=16,
    )
    return out.select(
        "l_suppkey",
        "n",
        F.round(F.col("total_qty").cast("double"), 2).alias("total_qty"),
        F.round(F.col("max_price").cast("double"), 2).alias("max_price"),
    )


@query(
    "q91_shard_manifest",
    """
    WITH sized AS (
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '[A-Za-z0-9_'']+')) AS BIGINT)
                   AS n_tokens
        FROM documents
    ),
    cum AS (
        SELECT doc_id, n_tokens,
               CAST(COALESCE(SUM(n_tokens) OVER (
                   ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS tokens_before
        FROM sized
    )
    SELECT tokens_before // 4096 AS shard_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc
    FROM cum GROUP BY shard_id
    """,
)
def q91_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-run manifest: one row per packed shard (doc count,
    token count, doc-id range) — what a data loader reads to schedule
    epochs and verify shard integrity.  Rolls up the q66 distributed
    prefix-sum assignment; shards are contiguous doc-id ranges by
    construction, so (first_doc, last_doc) doubles as a coverage check."""
    from parquery_spark.functions.text import token_count
    from parquery_spark.operators.packing import pack_shards

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    packed = pack_shards(docs, token_count("text"), 4096, "doc_id")
    return (
        packed.select("doc_id", "shard_id",
                      token_count("text").alias("n_tokens"))
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


@query(
    "q92_grouping_sets",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority)
                AS BIGINT) AS gid,
           COUNT(*) AS n,
           ROUND(SUM(o_totalprice), 2) AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q92_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority): all four grouping sets — detail, two
    marginals, grand total — in ONE pass (Spark plans an Expand of 4
    projections over the scan, each partial-aggregated map-side; one
    shuffle total instead of four query runs).  ``grouping_id`` keeps the
    NULL-as-total rows distinguishable from genuine NULL dimension
    values."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            # grouping_id() is only resolvable INSIDE the cube aggregate
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .select("o_orderstatus", "o_orderpriority", "gid", "n", "total")
    )


@query(
    "q93_decile_stats",
    """
    WITH ranked AS (
        SELECT c_nationkey, c_acctbal,
               NTILE(10) OVER (
                   PARTITION BY c_nationkey
                   ORDER BY c_acctbal, c_custkey
               ) AS decile
        FROM customer
    )
    SELECT c_nationkey, decile, COUNT(*) AS n,
           ROUND(MIN(c_acctbal), 2) AS lo,
           ROUND(MAX(c_acctbal), 2) AS hi
    FROM ranked GROUP BY c_nationkey, decile
    """,
)
def q93_decile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation account-balance deciles (NTILE windows PARTITIONED by
    nation — the scale-safe shape: each window sorts one nation's
    customers, never a single global sort; ties broken by c_custkey so
    every engine assigns identical deciles)."""
    from pyspark.sql import Window

    cust = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    return (
        cust.select(
            "c_nationkey", "c_acctbal", F.ntile(10).over(w).cast("long").alias("decile")
        )
        .groupBy("c_nationkey", "decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("c_acctbal"), 2).alias("lo"),
            F.round(F.max("c_acctbal"), 2).alias("hi"),
        )
    )


_Q94_SQL = """
SELECT l_orderkey,
       CAST(floor((SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5) AS BIGINT)) + 50) / 100) AS DOUBLE) / 100 AS revenue,
       o_orderdate, o_shippriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate > TIMESTAMP '1998-03-15'
GROUP BY l_orderkey, o_orderdate, o_shippriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


@query("q94_tpch_q3", _Q94_SQL.replace("o_shippriority", "o_orderpriority"))
def q94_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority) through the SQL interface: the
    classic dim-filter → fact join → revenue top-10.  Catalyst broadcasts
    the filtered customer side into orders, lineitem joins on l_orderkey,
    and the LIMIT plans as TakeOrderedAndProject — no global sort.  (The
    synthetic orders table has no o_shippriority; o_orderpriority stands
    in, same shape.)"""
    for t in ("customer", "orders", "lineitem"):
        load(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_Q94_SQL.replace("o_shippriority", "o_orderpriority"))


_Q95_SQL = """
SELECT n_name,
       CAST(floor((SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5) AS BIGINT)) + 50) / 100) AS DOUBLE) / 100 AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


@query("q95_tpch_q5", _Q95_SQL)
def q95_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume): the six-way star join — region
    and nation broadcast into supplier, customer broadcast into orders,
    the only shuffle joins are the two fact-sized sides meeting on
    l_orderkey / l_suppkey.  The n_nationkey = c_nationkey equality is
    the classic join-graph cycle Catalyst handles by predicate
    propagation."""
    for t in ("customer", "orders", "lineitem", "supplier", "nation",
              "region"):
        load(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_Q95_SQL)


def _session_seq(sessions: DataFrame) -> DataFrame:
    """Renumber native session windows to the oracle's per-user 1-based
    sequence (tiny per-user window — one user's sessions)."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("session_start_us")
    return sessions.select(
        "user_id",
        F.row_number().over(w).cast("long").alias("session_seq"),
        "n_events", "session_start_us", "duration_us",
    )


@query("q96_session_window", _SESSION_SQL)
def q96_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via Spark's NATIVE ``session_window`` (dynamic-gap
    merging inside the aggregation operator) gated against the
    independent lag-and-running-sum SQL formulation — two different
    algorithms, one answer.  Boundary note: ``session_window`` starts a
    new session at gap ≥ 30 min, the lag rule at gap > 30 min; with
    microsecond event times an exactly-1800.000000s gap is the only
    divergence point (none exist in any SF — asserted empirically)."""
    events = load_events(spark, sf_dir).withColumn(
        "ts", F.col("ts").cast("timestamp")  # parquet µs loads as NTZ
    )
    grouped = events.groupBy(
        "user_id", F.session_window("ts", "30 minutes").alias("w")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.unix_micros(F.min("ts")).alias("session_start_us"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
        .alias("duration_us"),
    )
    return _session_seq(grouped)


def _sentinel_stream_dir(
    spark: SparkSession, sf_dir: str, types: tuple = ("sentinel",)
) -> str:
    """The events stream directory augmented with two far-future SENTINEL
    events (a reserved negative user) as separate mtime-ordered files:
    with ``maxFilesPerTrigger=1`` they form the closing micro-batches that
    first advance the watermark past all real data and then trigger the
    state-store flush — the harness that lets append-mode stateful
    operators (session windows, outer joins) drain completely under the
    availableNow trigger.

    ``types``: event_type value(s) the sentinel rows carry.  CRITICAL for
    queries that FILTER on event_type upstream of the stateful operator:
    Catalyst pushes deterministic filters below the EventTimeWatermark
    node, so a sentinel whose type the filter drops never reaches the
    watermark tracker and the watermark silently stops at the real data's
    max (observed: a stream-stream join over type-filtered sides never
    flushed its last <delay + join-window> of outer-join state).  Pass
    one type per filtered branch so every branch's watermark advances."""
    import shutil

    def _build(sent_dir):
        os.makedirs(sent_dir)
        fs.link_or_copy(
            _path(sf_dir, "events"), os.path.join(sent_dir, "events.parquet")
        )
        base = load_events(spark, sf_dir).select(
            "event_id", "ts", "user_id", "event_type", "value", "props"
        )
        hi = base.agg(F.max("ts").alias("m")).first()["m"]
        for i, name in enumerate(("z1.parquet", "z2.parquet")):
            sent = spark.createDataFrame(
                [
                    (-(len(types) * i + j + 1), hi, -1, t, 0.0, "{}")
                    for j, t in enumerate(types)
                ],
                "event_id long, ts timestamp, user_id long, "
                "event_type string, value double, props string",
            ).select(
                "event_id",
                (F.col("ts") + F.expr(f"INTERVAL {100 + i} DAYS")).alias("ts"),
                "user_id", "event_type", "value", "props",
            )
            tmp = os.path.join(sent_dir, f"__tmp_{name}")
            sent.coalesce(1).write.mode("overwrite").parquet(tmp)
            part = next(
                p for p in os.listdir(tmp) if p.endswith(".parquet")
            )
            os.replace(os.path.join(tmp, part), os.path.join(sent_dir, name))
            shutil.rmtree(tmp)
            # FileStreamSource orders by modification time: sentinels must
            # sort after the real data so they form the closing batches
            ts_mtime = os.stat(
                os.path.join(sent_dir, "events.parquet")
            ).st_mtime + 10 * (i + 1)
            os.utime(os.path.join(sent_dir, name), (ts_mtime, ts_mtime))

    # one prefix per type set, so each keeps its own versions
    return artifact(
        sf_dir, "events", _SENTINEL_TAG, "events_" + "_".join(types), _build,
        marker="z2.parquet",
    )


def _click_purchase_join(
    spark: SparkSession, sf_dir: str, how: str
) -> DataFrame:
    """Clicks joined to the same user's purchases within the following
    hour: a watermarked stream-stream join of type ``how`` over the
    sentinel source, columns ``c_event_id, c_user, c_ts`` and ``p_event_id,
    p_user, p_ts``.  The sentinels carry BOTH filtered types: the type
    filters push below each side's watermark node, so a generic sentinel
    would never advance the join watermark (see
    ``_sentinel_stream_dir``)."""
    from parquery_spark.streaming.events import events_stream

    src = _sentinel_stream_dir(spark, sf_dir, types=("click", "purchase"))

    def side(event_type, p):
        return (
            events_stream(
                spark, src, watermark="2 hours",
                options={"maxFilesPerTrigger": "1"},
            )
            .where(F.col("event_type") == event_type)
            .select(
                F.col("event_id").alias(f"{p}_event_id"),
                F.col("user_id").alias(f"{p}_user"),
                F.col("ts").alias(f"{p}_ts"),
            )
        )

    return side("click", "c").join(
        side("purchase", "p"),
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
        how,
    )


@query("q97_streaming_sessionize", _SESSION_SQL)
def q97_streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization through the REAL streaming engine: watermarked
    ``session_window`` aggregation in append mode, drained with
    availableNow.  Append mode only emits a session once the watermark
    passes its close — so the source carries the ``_sentinel_stream_dir``
    closing batches that advance the watermark and flush state.  The
    sentinel user is filtered from the result; the output must hash-match
    the same lag-based SQL oracle as the batch twins — stream parity as a
    hard gate."""
    from parquery_spark.streaming.events import events_stream

    def grouped():
        # one file per micro-batch so watermark advance and state flush
        # land in separate batches (append mode emits one batch AFTER the
        # advance)
        stream = events_stream(
            spark, _sentinel_stream_dir(spark, sf_dir), watermark="2 hours",
            options={"maxFilesPerTrigger": "1"},
        )
        return stream.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("w")
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.unix_micros(F.min("ts")).alias("session_start_us"),
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
            .alias("duration_us"),
        )

    out = _drained(
        spark, sf_dir, "events", f"v1+{_SENTINEL_TAG}", "q97_drain", grouped
    )
    return _session_seq(out.filter(F.col("user_id") >= 0))


@query(
    "q98_partitioned_dataset",
    """
    SELECT event_type, COUNT(*) AS n,
           SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) / 100.0
               AS total_value
    FROM events
    WHERE CAST(ts AS DATE) >= DATE '2024-01-10'
      AND CAST(ts AS DATE) < DATE '2024-01-20'
    GROUP BY event_type
    """,
)
def q98_partitioned_dataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned time layout end to end: the events table written
    once partitioned by day (``write_partitioned`` — the layout a
    long-lived event store uses), then a ten-day aggregate whose day
    predicate becomes directory-level PartitionFilters: the scan never
    opens files outside the range (asserted in
    ``tests/test_scale_plans.py``).  The oracle filters the RAW table —
    the layout must change I/O, never results."""
    from parquery_spark.sources.parquet import write_partitioned

    def _build_byday(t):
        events = load_events(spark, sf_dir).select(
            "event_id", "ts", "user_id", "event_type", "value",
            F.col("ts").cast("date").alias("day"),
        )
        write_partitioned(events.repartition("day"), t, ["day"])

    lay = artifact(sf_dir, "events", "byday", "events_byday", _build_byday)
    part = relations.get_relation(spark, lay)
    return (
        part.filter(
            (F.col("day") >= F.lit("2024-01-10").cast("date"))
            & (F.col("day") < F.lit("2024-01-20").cast("date"))
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(_cents()) / 100.0).alias("total_value"),
        )
    )


@query(
    "q99_stream_static_join",
    """
    WITH seg AS (
        SELECT DISTINCT user_id, user_id % 10 AS segment FROM events
    )
    SELECT CAST(epoch_us(time_bucket(INTERVAL '1 day', e.ts)) AS BIGINT)
               AS window_start_us,
           s.segment,
           COUNT(*) AS n,
           SUM(CAST(floor(e.value * 100 + 0.5) AS BIGINT)) / 100.0
               AS total_value
    FROM events e JOIN seg s USING (user_id)
    GROUP BY 1, 2
    """,
)
def q99_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment — the standard ingest topology: each
    micro-batch of the event stream joins a STATIC dimension (per-user
    segment; in production a broadcast user/tenant table) before the
    watermarked windowed aggregate.  The static side never streams; Spark
    re-plans the join per micro-batch.  Hash-gated against the batch SQL
    twin over the same relations."""
    from parquery_spark.streaming.events import events_stream

    def enriched():
        seg = (
            load_events(spark, sf_dir).select("user_id").distinct()
            .select("user_id", (F.col("user_id") % 10).alias("segment"))
        )
        stream = events_stream(spark, _events_stream_dir(sf_dir))
        joined = stream.join(F.broadcast(seg), "user_id")
        return (
            joined.groupBy(
                F.window("ts", "1 day").alias("win"), "segment"
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                (F.sum(_cents()) / 100.0).alias("total_value"),
            )
            .select(
                F.unix_micros(F.col("win.start")).alias("window_start_us"),
                "segment", "n", "total_value",
            )
        )

    return _drained(
        spark, sf_dir, "events", f"v1+{_EVENTS_LINK_TAG}", "q99_drain",
        enriched, output_mode="complete",
    )


@query(
    "q100_table_checksum",
    """
    SELECT l_returnflag, COUNT(*) AS n,
           bit_xor(('0x' || substr(md5(
               CAST(l_orderkey AS VARCHAR) || '|' ||
               CAST(l_linenumber AS VARCHAR) || '|' ||
               CAST(CAST(l_quantity AS DECIMAL(18,2)) AS VARCHAR)
           ), 1, 15))::BIGINT) AS checksum
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q100_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent table fingerprint — the migration/replication
    validation primitive: per-row md5 over a canonical string form,
    folded with ``bit_xor`` (commutative, overflow-free), segmented by a
    coarse key so a mismatch localizes.  Two engines/layouts holding the
    same rows produce the same checksums regardless of partitioning or
    row order; floats enter via DECIMAL(18,2) strings because raw
    double→string formatting is engine-specific.

    The checksum table is corpus-pure BY DEFINITION — a fingerprint is
    computed once per table version and stored next to it (that is the
    operator's production lifecycle: compute on ingest, compare on
    read) — so it is staged as a stat-keyed storage artifact (round-10,
    VERDICT r9 #7): the full-table hash pass runs once per corpus
    version, later calls read the |segments|-row parquet."""
    from parquery_spark.operators.dedup import hash64

    def _build(t):
        li = load(spark, sf_dir, "lineitem")
        row_str = F.concat_ws(
            "|",
            F.col("l_orderkey").cast("string"),
            F.col("l_linenumber").cast("string"),
            F.col("l_quantity").cast("decimal(18,2)").cast("string"),
        )
        li.groupBy("l_returnflag").agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(hash64(row_str)).alias("checksum"),
        ).write.parquet(t)

    return relations.get_relation(spark, artifact(
        sf_dir, "lineitem", "cksum-v1", "cksum", _build,
    ))


@query(
    "q101_bucketed_join",
    """
    SELECT o_orderstatus, COUNT(*) AS n,
           CAST(floor((SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5) AS BIGINT)) + 50) / 100) AS DOUBLE) / 100 AS revenue
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderstatus
    """,
)
def q101_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join with the shuffle DELETED by bucketing: both tables
    written CLUSTERED BY the join key into the same bucket count, so the
    join needs no Exchange on either side (the lever that turns the
    biggest recurring shuffle of a 100 TB star schema into a map-side
    join; shuffle-freeness is plan-asserted in CI).  Results are gated
    against the plain-join oracle — bucketing must change the plan, never
    the answer."""
    specs = (
        ("orders", "o_orderkey", "o_orderkey, o_orderstatus"),
        ("lineitem", "l_orderkey",
         "l_orderkey, l_extendedprice, l_discount"),
    )
    for table, _key, _cols in specs:
        load(spark, sf_dir, table).createOrReplaceTempView(f"__src_{table}")

    def _build_bucketed(t):
        # CTAS through a staging catalog name at the tmp location, then
        # drop the (external) staging entry — files stay, the data
        # publishes atomically with the root rename below.  The staging
        # name carries the per-ATTEMPT build-root suffix: two threads of
        # one session racing this fixture (the case atomic publish
        # handles) must not collide on CREATE/DROP of one catalog name.
        attempt = os.path.basename(t).rsplit("-", 1)[-1]
        for table, key, cols in specs:
            stage = f"pqs_stage_{table}_{attempt}"
            spark.sql(f"DROP TABLE IF EXISTS {stage}")
            spark.sql(
                f"CREATE TABLE {stage} USING parquet "
                f"CLUSTERED BY ({key}) INTO 8 BUCKETS "
                f"LOCATION '{os.path.join(t, table)}' "
                f"AS SELECT {cols} FROM __src_{table}"
            )
            spark.sql(f"DROP TABLE {stage}")

    base = artifact(
        sf_dir, "orders", "bkt8", "bucketed", _build_bucketed,
        marker=os.path.join("lineitem", "_SUCCESS"),
    )
    tag = base.rsplit("_", 1)[-1]
    for table, key, cols in specs:
        name = f"pqs_b_{table}_{tag}"
        if spark.catalog.tableExists(name):
            continue
        # register the external bucketed table over the published layout
        schema = ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in spark.table(f"__src_{table}")
            .selectExpr(*cols.split(", ")).schema.fields
        )
        spark.sql(
            f"CREATE TABLE {name} ({schema}) USING parquet "
            f"CLUSTERED BY ({key}) INTO 8 BUCKETS "
            f"LOCATION '{os.path.join(base, table)}'"
        )
    o = spark.table(f"pqs_b_orders_{tag}")
    li = spark.table(f"pqs_b_lineitem_{tag}")
    return (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _e4_to_cents(F.sum(_rev_e4())).alias("revenue"),
        )
    )


#: q102's NAIVE all-pairs oracle — O(n^2) levenshtein calls, by design.
#: Runs as the oracle's RECALL PROOF in pytest at sf0.01 (differential
#: vs the delete-variant form below, `tests/test_operators.py`); at sf1
#: it would be ~22.5e9 pairs (~7.5 h measured rate), so the GATE oracle
#: uses the provably-equivalent scalable form.
_Q102_DIRTY_SQL = """
    SELECT c_custkey AS dirty_id,
           CASE
             WHEN c_custkey % 3 = 0 THEN
               substr(c_name, 1, (c_custkey % 10) + 4) || 'X' ||
               substr(c_name, (c_custkey % 10) + 6)
             WHEN c_custkey % 7 = 0 THEN
               substr(c_name, 1, (c_custkey % 10) + 4) ||
               substr(c_name, (c_custkey % 10) + 6)
             ELSE c_name
           END AS dirty_name
    FROM customer
"""

_Q102_NAIVE_SQL = f"""
    WITH dirty AS ({_Q102_DIRTY_SQL})
    SELECT d.dirty_id, c.c_custkey AS canon_id,
           CAST(levenshtein(d.dirty_name, c.c_name) AS BIGINT) AS distance
    FROM dirty d
    JOIN customer c
      ON abs(length(d.dirty_name) - length(c.c_name)) <= 1
     AND levenshtein(d.dirty_name, c.c_name) <= 1
"""

#: Delete-variant candidate generation (the SymSpell THEOREM, not the
#: engine's code): for max distance 1, lev(a,b) <= 1 implies a and b
#: share a member of {s} ∪ {s minus one char} — substitution meets at
#: the same-position deletes, insert/delete at the shorter string itself
#: — so the variant equi-join's candidate set provably contains every
#: true pair; candidates are then VERIFIED with levenshtein.  Same
#: result set as the naive join at every SF (pinned by the sf0.01
#: differential test), but linear in corpus size.
_Q102_ORACLE_SQL = f"""
    WITH dirty AS ({_Q102_DIRTY_SQL}),
    dvd AS (
        SELECT dirty_id, unnest(list_append(
            [substr(dirty_name, 1, i) ||
             substr(dirty_name, i + 2, length(dirty_name))
             FOR i IN range(0, length(dirty_name))],
            dirty_name)) AS variant
        FROM dirty
    ),
    dvc AS (
        SELECT c_custkey, unnest(list_append(
            [substr(c_name, 1, i) || substr(c_name, i + 2, length(c_name))
             FOR i IN range(0, length(c_name))],
            c_name)) AS variant
        FROM customer
    ),
    cand AS (
        SELECT DISTINCT d.dirty_id, c.c_custkey
        FROM dvd d JOIN dvc c ON d.variant = c.variant
    )
    SELECT d.dirty_id, cand.c_custkey AS canon_id,
           CAST(levenshtein(d.dirty_name, c.c_name) AS BIGINT) AS distance
    FROM cand JOIN dirty d USING (dirty_id)
    JOIN customer c ON cand.c_custkey = c.c_custkey
    WHERE levenshtein(d.dirty_name, c.c_name) <= 1
"""


@query("q102_fuzzy_match", _Q102_ORACLE_SQL)
def q102_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo-tolerant entity resolution: customer names deterministically
    corrupted (every 3rd key one substitution, every 7th one deletion)
    and matched back to the canonical table by symmetric-delete blocked
    edit-distance join.  Recall is the contract being gated: the oracle
    is the delete-variant equi-join, equal to the naive all-pairs
    comparison by the SymSpell theorem (see ``_Q102_ORACLE_SQL``) — the
    naive form itself is kept as ``_Q102_NAIVE_SQL`` and differentially
    pinned against the gate oracle at sf0.01 in pytest, where its O(n^2)
    cost is affordable (at sf1 it measures ~7.5 h; the theorem form
    gates the same result set in under a minute)."""
    from parquery_spark.operators.dedup import fuzzy_join

    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    pos = (F.col("c_custkey") % 10) + 5
    sub = F.concat(
        F.expr("substring(c_name, 1, (c_custkey % 10) + 4)"),
        F.lit("X"),
        F.expr("substring(c_name, (c_custkey % 10) + 6, length(c_name))"),
    )
    dele = F.concat(
        F.expr("substring(c_name, 1, (c_custkey % 10) + 4)"),
        F.expr("substring(c_name, (c_custkey % 10) + 6, length(c_name))"),
    )
    dirty = cust.select(
        F.col("c_custkey").alias("dirty_id"),
        F.when(F.col("c_custkey") % 3 == 0, sub)
        .when(F.col("c_custkey") % 7 == 0, dele)
        .otherwise(F.col("c_name"))
        .alias("dirty_name"),
    )
    return fuzzy_join(
        dirty, cust, "dirty_name", "c_name", "dirty_id", "c_custkey"
    ).select(
        "dirty_id", F.col("c_custkey").alias("canon_id"), "distance"
    )


# ===========================================================================
# Data-quality / lineage surface (round 4, batch A)
# ===========================================================================

@query(
    "q103_fk_integrity",
    """
    SELECT 'orders_custkey_orphans' AS check_name, COUNT(*) AS n_bad
    FROM orders o ANTI JOIN customer c ON o.o_custkey = c.c_custkey
    UNION ALL
    SELECT 'lineitem_orderkey_orphans', COUNT(*)
    FROM lineitem l ANTI JOIN orders o ON l.l_orderkey = o.o_orderkey
    UNION ALL
    SELECT 'lineitem_partkey_orphans', COUNT(*)
    FROM lineitem l ANTI JOIN part p ON l.l_partkey = p.p_partkey
    UNION ALL
    SELECT 'customer_nationkey_orphans', COUNT(*)
    FROM customer c ANTI JOIN nation n ON c.c_nationkey = n.n_nationkey
    UNION ALL
    SELECT 'lineitem_discount_range', COUNT(*)
    FROM lineitem WHERE l_discount < 0 OR l_discount > 1
    UNION ALL
    SELECT 'lineitem_quantity_nonpos', COUNT(*)
    FROM lineitem WHERE l_quantity <= 0
    UNION ALL
    SELECT 'orders_null_custkey', COUNT(*)
    FROM orders WHERE o_custkey IS NULL
    """,
)
def q103_fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity + constraint audit — the pre-ingest data-quality
    gate of a pipeline: orphan foreign keys via LEFT ANTI joins (each a
    key-shuffle join AQE can turn broadcast when the dimension fits), plus
    range/null constraint violations as plain pushed-down filters.  Every
    check reduces to one row before the union, so the combined result moves
    seven rows regardless of fact-table size."""
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    cust = load(spark, sf_dir, "customer")
    part = load(spark, sf_dir, "part")
    nation = load(spark, sf_dir, "nation")

    def cnt(df, name):
        return df.agg(F.count(F.lit(1)).alias("n_bad")).select(
            F.lit(name).alias("check_name"), "n_bad"
        )

    checks = [
        cnt(
            orders.join(
                cust.select("c_custkey"),
                orders["o_custkey"] == F.col("c_custkey"),
                "left_anti",
            ),
            "orders_custkey_orphans",
        ),
        cnt(
            li.join(
                orders.select("o_orderkey"),
                li["l_orderkey"] == F.col("o_orderkey"),
                "left_anti",
            ),
            "lineitem_orderkey_orphans",
        ),
        cnt(
            li.join(
                part.select("p_partkey"),
                li["l_partkey"] == F.col("p_partkey"),
                "left_anti",
            ),
            "lineitem_partkey_orphans",
        ),
        cnt(
            cust.join(
                F.broadcast(nation.select("n_nationkey")),
                cust["c_nationkey"] == F.col("n_nationkey"),
                "left_anti",
            ),
            "customer_nationkey_orphans",
        ),
        cnt(
            li.where((F.col("l_discount") < 0) | (F.col("l_discount") > 1)),
            "lineitem_discount_range",
        ),
        cnt(li.where(F.col("l_quantity") <= 0), "lineitem_quantity_nonpos"),
        cnt(orders.where(F.col("o_custkey").isNull()), "orders_null_custkey"),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionAll(c)
    return out


@query(
    "q104_scd2_intervals",
    """
    WITH seq AS (
        SELECT user_id, event_type, ts, event_id,
               LAG(event_type) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        FROM events
    ), marked AS (
        SELECT *, CASE WHEN prev_type IS NULL OR prev_type <> event_type
                       THEN 1 ELSE 0 END AS chg
        FROM seq
    ), runs AS (
        SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS run
        FROM marked
    ), iv AS (
        SELECT user_id, run, MIN(event_type) AS event_type,
               epoch_us(MIN(ts)) AS valid_from_us
        FROM runs GROUP BY user_id, run
    )
    SELECT user_id, event_type, valid_from_us,
           LEAD(valid_from_us) OVER
               (PARTITION BY user_id ORDER BY valid_from_us) AS valid_to_us,
           (LEAD(valid_from_us) OVER
               (PARTITION BY user_id ORDER BY valid_from_us) IS NULL)
               AS is_current
    FROM iv
    """,
)
def q104_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-type-2 history build from an append-only event log: collapse
    consecutive runs of the same per-user state into [valid_from, valid_to)
    intervals with an is_current flag — the dimension-history shape every
    warehouse maintains.  Run detection is the lag-mark/running-sum idiom
    (one shuffle on user_id, sort within partition); the interval close is
    a LEAD over the already-collapsed (small) relation.  Epoch-µs BIGINTs
    keep the output tz-free across engines."""
    from pyspark.sql import Window

    events = load_events(spark, sf_dir)

    def us(c):
        return F.unix_micros(c.cast("timestamp"))

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("event_type").over(w)
    chg = F.when(
        prev.isNull() | (prev != F.col("event_type")), F.lit(1)
    ).otherwise(F.lit(0))
    runs = (
        events.select("user_id", "event_type", "ts", "event_id")
        .withColumn("__chg", chg)
        .withColumn(
            "run",
            F.sum("__chg").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    iv = runs.groupBy("user_id", "run").agg(
        F.min("event_type").alias("event_type"),
        us(F.min("ts")).alias("valid_from_us"),
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from_us")
    valid_to = F.lead("valid_from_us").over(w2)
    return iv.select(
        "user_id",
        "event_type",
        "valid_from_us",
        valid_to.alias("valid_to_us"),
        valid_to.isNull().alias("is_current"),
    )


@query(
    "q105_event_transitions",
    """
    WITH seq AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        FROM events
    ), pairs AS (
        SELECT prev_type, event_type AS next_type, COUNT(*) AS n
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY prev_type, event_type
    )
    SELECT prev_type, next_type, n,
           ROUND(CAST(n AS DOUBLE) /
                 SUM(n) OVER (PARTITION BY prev_type), 6) AS p
    FROM pairs
    """,
)
def q105_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences
    (session-flow analytics): LAG pairs within user, global pair counts,
    row-normalized into transition probabilities.  The expensive part —
    pairing — shuffles once on user_id; normalization runs over the tiny
    (|event_type|²) pair relation.  Integer count ratios divide identically
    in IEEE double on both engines; ROUND(6) pins the hash."""
    from pyspark.sql import Window

    events = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        events.select(
            "user_id",
            F.col("event_type").alias("next_type"),
            F.lag("event_type").over(w).alias("prev_type"),
            "ts",
            "event_id",
        )
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wn = Window.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "next_type",
        "n",
        F.round(
            F.col("n").cast("double") / F.sum("n").over(wn), 6
        ).alias("p"),
    )


@query(
    "q106_histogram",
    """
    SELECT CAST(FLOOR(o_totalprice / 25000) AS BIGINT) AS bin,
           CAST(FLOOR(o_totalprice / 25000) AS BIGINT)
               * CAST(25000 AS DOUBLE) AS bin_lo,
           COUNT(*) AS n,
           ROUND(SUM(o_totalprice), 2) AS total
    FROM orders
    GROUP BY 1, 2
    """,
)
def q106_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width numeric histogram — the profiling primitive behind data
    drift monitors: bin index by exact IEEE floor-division (identical on
    every engine, unlike quantile-based binning), one hash aggregate, bin
    count bounded by the value range, not the row count."""
    orders = load(spark, sf_dir, "orders")
    bin_ = F.floor(F.col("o_totalprice") / 25000).cast("long")
    return orders.groupBy(
        bin_.alias("bin"), (bin_ * 25000.0).alias("bin_lo")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@query(
    "q107_grouped_corr",
    """
    SELECT l_returnflag,
           COUNT(*) AS n,
           ROUND(CORR(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           ROUND(COVAR_SAMP(l_quantity, l_extendedprice), 4) AS covar,
           ROUND(REGR_SLOPE(l_extendedprice, l_quantity), 6) AS slope
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q107_grouped_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group bivariate statistics (correlation, sample covariance,
    regression slope) — feature-screening math done as single-pass partial
    aggregates (sum/sum-sq/cross-moments combine associatively; no second
    scan, no centering pass).  Rounding absorbs partial-order float drift
    between engines."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias(
            "corr_qty_price"
        ),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias(
            "covar"
        ),
        F.round(
            F.regr_slope(F.col("l_extendedprice"), F.col("l_quantity")), 6
        ).alias("slope"),
    )


# ===========================================================================
# TPC-H adaptations (round 4, batch B) — multi-join OLAP shapes
# ===========================================================================

@query(
    "q108_tpch_q10",
    """
    SELECT c_custkey, c_name, n_name,
           CAST(floor((SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5) AS BIGINT)) + 50) / 100) AS DOUBLE) / 100 AS revenue,
           COUNT(*) AS n_items
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1995-10-01'
      AND o_orderdate <  TIMESTAMP '1996-01-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q108_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting) on the trimmed schema: one
    quarter of orders x returned lineitems x customer x nation, top 20
    customers by lost revenue.  Date and returnflag filters push into both
    fact scans before the joins; nation broadcasts; the top-20 plans as
    TakeOrderedAndProject (no global sort).  Ranking runs on the ROUNDED
    revenue with c_custkey as tie-break so both engines pick the same 20."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1995-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    nation = load(spark, sf_dir, "nation")
    joined = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == F.col("n_nationkey"))
    )
    return (
        joined.groupBy("c_custkey", "c_name", "n_name")
        .agg(
            _e4_to_cents(F.sum(_rev_e4())).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@query(
    "q109_tpch_q14",
    """
    SELECT ROUND(CAST(100 AS DOUBLE) * SUM(CASE WHEN p_type = 'PROMO'
                     THEN CAST(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5) AS BIGINT) ELSE 0 END)
                 / SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5) AS BIGINT)), 6)
               AS promo_revenue_pct,
           CAST(floor((SUM(CASE WHEN p_type = 'PROMO'
                     THEN CAST(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5) AS BIGINT) ELSE 0 END) + 50) / 100) AS DOUBLE) / 100
               AS promo_revenue,
           CAST(floor((SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5) AS BIGINT)) + 50) / 100) AS DOUBLE) / 100 AS total_revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE l_shipdate >= TIMESTAMP '1995-09-01'
      AND l_shipdate <  TIMESTAMP '1995-10-01'
    """,
)
def q109_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): one month of shipments joined to part,
    conditional-sum ratio in a single aggregate — no second scan, no
    subquery.  The date filter pushes into the lineitem scan; part joins on
    the key only (two columns read).  Ratio-of-sums is rounded AFTER the
    division on both sides."""
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1995-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1995-10-01").cast("timestamp"))
    )
    part = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev_e4 = _rev_e4()
    promo_e4 = F.when(F.col("p_type") == "PROMO", rev_e4).otherwise(F.lit(0))
    return li.join(part, li["l_partkey"] == part["p_partkey"]).agg(
        F.round(
            F.lit(100.0) * F.sum(promo_e4) / F.sum(rev_e4), 6
        ).alias("promo_revenue_pct"),
        _e4_to_cents(F.sum(promo_e4)).alias("promo_revenue"),
        _e4_to_cents(F.sum(rev_e4)).alias("total_revenue"),
    )


@query(
    "q110_tpch_q19",
    """
    SELECT COUNT(*) AS n,
           CAST(floor((SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5) AS BIGINT)) + 50) / 100) AS DOUBLE) / 100 AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q110_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue, OR-of-ANDs): the disjunctive
    predicate references both sides of the join, so Catalyst splits it —
    per-side implied filters (brand/size on part, quantity on lineitem)
    push into the scans as `PushedFilters`, the residual disjunction
    evaluates post-join.  The shape that shows predicate decomposition
    working; a naive engine reads both tables in full."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    j = li.join(part, li["l_partkey"] == part["p_partkey"])
    q, b, s = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    cond = (
        ((b == "Brand#1") & s.between(1, 15) & q.between(1, 11))
        | ((b == "Brand#2") & s.between(1, 25) & q.between(10, 20))
        | ((b == "Brand#3") & s.between(1, 35) & q.between(20, 30))
    )
    return j.where(cond).agg(
        F.count(F.lit(1)).alias("n"),
        _e4_to_cents(F.sum(_rev_e4())).alias("revenue"),
    )


def _winnow_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stat-keyed winnowing-fingerprint INDEX (k=5, w=4) shared by q111
    (per-doc rollup) and q137 (overlap pairs) — the operator docstring
    already calls the (doc_id, fingerprint) relation "the reusable
    overlap-detection index", and this is it being reused: built once
    per corpus version, read as parquet by every consumer (round-8's
    banded-signature sharing, applied to winnowing).  Round-9 honesty
    note: q111 used to ride q137's leaked persist as an accidental
    cross-call memo; this is the explicit, restart-surviving form."""
    from parquery_spark.operators.dedup import winnow_fingerprints

    def _build(t):
        winnow_fingerprints(
            load(spark, sf_dir, "documents"), "text", "doc_id", k=5, w=4
        ).write.parquet(t)

    wdir = artifact(sf_dir, "documents", "winnow-k5w4-v1", "winnow", _build)
    return relations.get_relation(spark, wdir)


# ===========================================================================
# Round 4, batch C — winnowing, leakage-safe split, outliers, BM25
# ===========================================================================

@query(
    "q111_winnowing",
    f"""
    WITH sh AS ({_sql_shingles(5)}),
    pos AS (
        SELECT doc_id, p[2] AS pos,
               ('0x' || substr(md5(p[1]), 1, 15))::BIGINT AS h
        FROM (SELECT doc_id,
                     unnest(list_zip(shingles, range(len(shingles)))) AS p
              FROM sh)
    ),
    wins AS (
        SELECT doc_id, pos,
               MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
               COUNT(*) OVER (PARTITION BY doc_id) AS ng
        FROM pos
    ),
    sel AS (SELECT DISTINCT doc_id, fp FROM wins WHERE pos <= ng - 4)
    SELECT doc_id, COUNT(*) AS n_fp, bit_xor(fp) AS fp_xor
    FROM sel GROUP BY doc_id
    """,
)
def q111_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash winnowing fingerprints (MOSS scheme) rolled up per doc:
    count + order-independent XOR of the selected fingerprint set.  The
    full (doc_id, fingerprint) relation is the reusable overlap-detection
    index; the rollup keeps the oracle row count at |docs|."""
    fp = _winnow_fp(spark, sf_dir)
    return fp.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fp"),
        F.bit_xor("fingerprint").alias("fp_xor"),
    )


@query(
    "q112_group_split",
    f"""
    WITH d AS (
        SELECT lang, md5({_SQL_NORMALIZED_TEXT}) AS fp FROM documents
    ),
    s AS (
        SELECT lang, fp,
               CASE WHEN ('0x' || substr(md5(fp || '#42'), 1, 15))::BIGINT
                         % 100 < 90
                    THEN 'train' ELSE 'test' END AS split
        FROM d
    )
    SELECT lang, split, COUNT(*) AS n_docs, COUNT(DISTINCT fp) AS n_groups
    FROM s GROUP BY lang, split
    """,
)
def q112_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/test split: the split decision hashes the content
    FINGERPRINT (normalized-text md5), not the row, so every near-exact
    duplicate of a document lands on the same side — the invariant that
    stops test-set contamination in LLM corpus prep.  Inclusion is a pure
    function of (fingerprint, seed): deterministic across runs, engines,
    and partitionings, no sampling state to coordinate."""
    from parquery_spark.functions.text import fingerprint
    from parquery_spark.operators.dedup import hash64

    docs = load(spark, sf_dir, "documents")
    fp = fingerprint(F.col("text"))
    split = F.when(
        hash64(fp, seed=42) % 100 < 90, F.lit("train")
    ).otherwise(F.lit("test"))
    return (
        docs.select("lang", fp.alias("fp"), split.alias("split"))
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct(F.col("fp")).alias("n_groups"),
        )
    )


@query(
    "q113_zscore_outliers",
    """
    WITH stats AS (
        SELECT event_type, AVG(value) AS mu, STDDEV_SAMP(value) AS sd
        FROM events GROUP BY event_type
    )
    SELECT e.event_type, COUNT(*) AS n_outliers,
           MIN(e.value) AS min_out, MAX(e.value) AS max_out
    FROM events e JOIN stats s ON e.event_type = s.event_type
    WHERE s.sd > 0 AND ABS((e.value - s.mu) / s.sd) > 3
    GROUP BY e.event_type
    """,
)
def q113_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score outlier audit — the numeric-quality filter of a
    feature pipeline: one aggregate pass for group moments, the tiny stats
    relation broadcast back onto the fact scan (no second shuffle), outliers
    reduced to counts + extrema.  Min/max of raw doubles are exact on both
    engines; only membership at the 3-sigma boundary depends on float
    partials, ~1e-15 relative — far below value spacing."""
    events = load_events(spark, sf_dir)
    stats = events.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sd")
    )
    e = events.select("event_type", "value")
    return (
        e.join(F.broadcast(stats), "event_type")
        .where(
            (F.col("sd") > 0)
            & (F.abs((F.col("value") - F.col("mu")) / F.col("sd")) > 3)
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_outliers"),
            F.min("value").alias("min_out"),
            F.max("value").alias("max_out"),
        )
    )


@query(
    "q114_bm25_topk",
    f"""
    WITH toks AS ({_SQL_TOKS}),
    dl AS (SELECT doc_id, len(w) AS dl FROM toks),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
    tf AS (
        SELECT doc_id, t.token AS term, COUNT(*) AS tf
        FROM toks, unnest(w) AS t(token)
        WHERE t.token IN ('join', 'filter', 'vector')
        GROUP BY doc_id, t.token
    ),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    scored AS (
        SELECT tf.doc_id,
               SUM(ln((CAST(s.n_docs AS DOUBLE) - d.df + 0.5)
                       / (d.df + 0.5) + 1)
                   * tf.tf * 2.2
                   / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl)))
                   AS score
        FROM tf
        JOIN dfreq d USING (term)
        JOIN dl USING (doc_id)
        CROSS JOIN stats s
        GROUP BY tf.doc_id
    )
    SELECT doc_id, ROUND(score, 6) AS bm25
    FROM scored ORDER BY bm25 DESC, doc_id LIMIT 15
    """,
)
def q114_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 (k1=1.2, b=0.75) keyword retrieval, top-15 docs for a fixed
    term set: tf via explode+filter (term filter BEFORE the shuffle — the
    relation that aggregates is |matching tokens|, not |tokens|), df and
    corpus stats are one-row/3-row broadcasts, ranking plans as
    TakeOrderedAndProject on the rounded score with doc_id tie-break.
    Float discipline: identical association order both sides, ROUND(6)
    absorbs last-ulp ln/division drift."""
    from parquery_spark.operators.dedup import shingle_tokens

    docs = load(spark, sf_dir, "documents")
    terms = ["join", "filter", "vector"]
    # ONE tokenizer pass (round 12): the former shape evaluated the
    # regex tokenizer in three subtrees (doc lengths, corpus stats, and
    # the tf explode).  Tokenizing into (doc_id, dl, matching-terms
    # array) once and spreading through fan_out puts an Exchange above
    # the tokenize, so ReuseExchange serves every consumer from the one
    # materialized pass — and carrying dl through the tf groupBy (it is
    # functionally dependent on doc_id) drops the former per-doc length
    # join entirely.
    base = fan_out(
        docs.select(
            "doc_id",
            F.size(shingle_tokens("text")).cast("long").alias("dl"),
            F.filter(
                shingle_tokens("text"),
                lambda t: t.isin(terms),
            ).alias("mt"),
        ),
        "doc_id",
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        base.select("doc_id", "dl", F.explode("mt").alias("term"))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        (F.col("n_docs").cast("double") - F.col("df") + 0.5)
        / (F.col("df") + 0.5)
        + 1
    )
    contrib = (
        idf
        * F.col("tf")
        * 2.2
        / (
            F.col("tf")
            + 1.2 * (1 - 0.75 + 0.75 * F.col("dl") / F.col("avgdl"))
        )
    )
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(contrib).alias("score"))
    )
    return (
        scored.select("doc_id", F.round("score", 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), F.col("doc_id"))
        .limit(15)
    )


@query(
    "q115_time_grain_rollup",
    """
    WITH b AS (
        SELECT epoch_us(date_trunc('day', ts))   AS day_us,
               epoch_us(date_trunc('week', ts))  AS week_us,
               epoch_us(date_trunc('month', ts)) AS month_us,
               value
        FROM events
    ), g AS (
        SELECT day_us, week_us, month_us,
               CAST(GROUPING(day_us) * 4 + GROUPING(week_us) * 2
                    + GROUPING(month_us) AS BIGINT) AS gid,
               COUNT(*) AS n,
               SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) / 100.0
                   AS total
        FROM b GROUP BY GROUPING SETS ((day_us), (week_us), (month_us))
    )
    SELECT CASE gid WHEN 3 THEN 'day' WHEN 5 THEN 'week'
                    ELSE 'month' END AS grain,
           CASE gid WHEN 3 THEN day_us WHEN 5 THEN week_us
                    ELSE month_us END AS bucket_us,
           n, total
    FROM g
    """,
)
def q115_time_grain_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-grain time rollup (day + week + month) via GROUPING SETS:
    ONE scan of the event log feeds an Expand of three projections, each
    partial-aggregated map-side — one shuffle instead of three query runs
    over a 100 TB log.  grouping_id disambiguates the grain (a genuinely
    NULL bucket from null timestamps stays distinguishable)."""
    events = load_events(spark, sf_dir)
    ts = F.col("ts").cast("timestamp")
    b = events.select(
        F.unix_micros(F.date_trunc("day", ts)).alias("day_us"),
        F.unix_micros(F.date_trunc("week", ts)).alias("week_us"),
        F.unix_micros(F.date_trunc("month", ts)).alias("month_us"),
        "value",
    )
    g = b.groupingSets(
        [["day_us"], ["week_us"], ["month_us"]],
        "day_us", "week_us", "month_us",
    ).agg(
        F.grouping_id().cast("long").alias("gid"),
        F.count(F.lit(1)).alias("n"),
        (F.sum(_cents()) / 100.0).alias("total"),
    )
    grain = (
        F.when(F.col("gid") == 3, "day")
        .when(F.col("gid") == 5, "week")
        .otherwise("month")
    )
    bucket = (
        F.when(F.col("gid") == 3, F.col("day_us"))
        .when(F.col("gid") == 5, F.col("week_us"))
        .otherwise(F.col("month_us"))
    )
    return g.select(
        grain.alias("grain"), bucket.alias("bucket_us"), "n", "total"
    )


@query(
    "q116_int8_quantization",
    """
    WITH v AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS x FROM embeddings
    ), m AS (
        SELECT vec_id, label, x,
               CAST(127 AS DOUBLE)
                   / list_max(list_transform(x, e -> abs(e))) AS scale
        FROM v
    ), e AS (
        SELECT vec_id, label, len(x) AS dim,
               list_sum(list_transform(x, e2 ->
                   (e2 - floor(e2 * scale + 0.5) / scale)
                   * (e2 - floor(e2 * scale + 0.5) / scale))) AS sqerr
        FROM m
    )
    SELECT label, COUNT(*) AS n_vecs,
           ROUND(AVG(sqrt(sqerr / dim)), 6) AS avg_rms_err
    FROM e GROUP BY label
    """,
)
def q116_int8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization error profile (the compression
    every vector store applies before ANN serving): per-vector scale =
    127/max|x|, elementwise round-to-nearest via floor(x*scale + 0.5)
    (identical IEEE result on every engine, unlike ROUND's half-even /
    half-up ambiguity), RMS reconstruction error averaged per label.
    Shape: posexplode → per-vector max via one user-keyed window (explode
    and window share the vec_id shuffle) → same-partition aggregate; all
    whole-stage codegen, no interpreted lambdas in the bulk path."""
    from pyspark.sql import Window

    emb = load(spark, sf_dir, "embeddings")
    pos = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "pos", "x"
        ),
    )
    wv = Window.partitionBy("vec_id")
    scale = F.lit(127.0) / F.max(F.abs(F.col("x"))).over(wv)
    q = F.floor(F.col("x") * scale + 0.5)
    err = F.col("x") - q / scale
    per_vec = (
        pos.select("vec_id", "label", (err * err).alias("sq"))
        .groupBy("vec_id", "label")
        .agg(
            F.sum("sq").alias("sqerr"), F.count(F.lit(1)).alias("dim")
        )
    )
    return per_vec.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(
            F.avg(F.sqrt(F.col("sqerr") / F.col("dim"))), 6
        ).alias("avg_rms_err"),
    )


@query(
    "q117_partial_merge_rollup",
    """
    SELECT epoch_us(date_trunc('month', ts)) AS month_us, event_type,
           COUNT(value) AS n,
           SUM(CAST(value AS DECIMAL(18,6))) AS total,
           MIN(value) AS min_v, MAX(value) AS max_v,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(value), 6) AS avg_v
    FROM events GROUP BY 1, 2
    """,
)
def q117_partial_merge_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-aggregate demonstration: daily partial aggregates (the
    materialization a 100 TB pipeline persists per ingest day) merged into
    a monthly rollup WITHOUT rescanning raw data — count/min/max merge by
    sum/min/max, and the sum is carried in DECIMAL(18,6) so merging is
    EXACT and associative (a double sum would drift between the two-stage
    merge and the oracle's direct pass).  The oracle aggregates the raw
    table directly: merged-partials == direct is the contract."""
    events = load_events(spark, sf_dir)
    ts = F.col("ts").cast("timestamp")
    day = (
        events.select(
            F.unix_micros(F.date_trunc("day", ts)).alias("day_us"),
            F.unix_micros(F.date_trunc("month", ts)).alias("month_us"),
            "event_type",
            "value",
        )
        .groupBy("day_us", "month_us", "event_type")
        .agg(
            F.count("value").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("total"),
            F.min("value").alias("min_v"),
            F.max("value").alias("max_v"),
        )
    )
    merged = day.groupBy("month_us", "event_type").agg(
        F.sum("n").alias("n"),
        F.sum("total").alias("total"),
        F.min("min_v").alias("min_v"),
        F.max("max_v").alias("max_v"),
    )
    return merged.select(
        "month_us",
        "event_type",
        "n",
        "total",
        "min_v",
        "max_v",
        F.round(F.col("total").cast("double") / F.col("n"), 6).alias(
            "avg_v"
        ),
    )


_CMS_DEPTH, _CMS_WIDTH = 4, 1024


def _sql_cms_hash(token_expr: str, r: int) -> str:
    return (
        f"('0x' || substr(md5({token_expr} || '#cms{r}'), 1, 15))::BIGINT"
        f" % {_CMS_WIDTH}"
    )


@query(
    "q118_cms_heavy_hitters",
    f"""
    WITH toks AS ({_SQL_TOKS}),
    inst AS (SELECT t.token FROM toks, unnest(w) AS t(token)),
    counters AS (
        SELECT r, bucket, COUNT(*) AS c FROM (
            {" UNION ALL ".join(
                f"SELECT {r} AS r, {_sql_cms_hash('token', r)} AS bucket"
                " FROM inst"
                for r in range(_CMS_DEPTH)
            )}
        ) GROUP BY r, bucket
    ),
    top AS (
        SELECT token, COUNT(*) AS true_n FROM inst
        GROUP BY token ORDER BY true_n DESC, token LIMIT 20
    ),
    probes AS (
        {" UNION ALL ".join(
            f"SELECT token, true_n, {r} AS r,"
            f" {_sql_cms_hash('token', r)} AS bucket FROM top"
            for r in range(_CMS_DEPTH)
        )}
    )
    SELECT p.token, MIN(p.true_n) AS true_n, MIN(c.c) AS est_n,
           (MIN(c.c) >= MIN(p.true_n)) AS no_underestimate
    FROM probes p JOIN counters c ON p.r = c.r AND p.bucket = c.bucket
    GROUP BY p.token
    """,
)
def q118_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (depth 4 x width 1024) heavy-hitter frequency
    estimation, completing the mergeable-sketch family (HLL q54, Bloom
    q77): counters are grouped sums — mergeable across corpora by
    addition, O(depth x width) state regardless of corpus size.  The
    oracle replicates the SKETCH exactly (same md5-derived hash family),
    so estimated counts are hash-matched, and the CMS no-underestimate
    guarantee is emitted as a gated boolean per heavy hitter."""
    from parquery_spark.operators.dedup import hash64, shingle_tokens

    # both the sketch counters and the true heavy hitters derive from
    # the (token, count) HISTOGRAM — corpus-pure, staged once stat-keyed
    # (the vocabulary-artifact pattern): counters are count-weighted
    # bucket sums over the histogram (identical to counting raw token
    # instances, without re-tokenizing the corpus per consumer), top-20
    # is a TakeOrderedAndProject over the same relation
    def _build_hist(t):
        (
            load(spark, sf_dir, "documents")
            .select(F.explode(shingle_tokens("text")).alias("token"))
            .groupBy("token")
            .agg(F.count(F.lit(1)).alias("n"))
            .write.parquet(t)
        )

    hdir = artifact(
        sf_dir, "documents", "shingle-hist-v1", "shhist", _build_hist,
    )
    hist = relations.get_relation(spark, hdir)

    def bucket(r):
        return (hash64(F.col("token"), seed=f"cms{r}") % _CMS_WIDTH).alias(
            "bucket"
        )

    # the depth dimension fans out of ONE histogram scan (explode of a
    # 4-element literal — the q176 replicate pattern): the hash row is
    # (r, token) with the seed folded in as a column expression
    row_hash = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("token"), F.lit("#cms"),
                    F.col("r").cast("string"),
                )
            ),
            1, 15,
        ),
        16, 10,
    ).cast("long")
    counters = (
        hist.select(
            "token",
            "n",
            F.explode(
                F.array(*[F.lit(r) for r in range(_CMS_DEPTH)])
            ).alias("r"),
        )
        .select("r", (row_hash % _CMS_WIDTH).alias("bucket"), "n")
        .groupBy("r", "bucket")
        .agg(F.sum("n").alias("c"))
    )

    top = (
        hist.select("token", F.col("n").alias("true_n"))
        .orderBy(F.col("true_n").desc(), F.col("token"))
        .limit(20)
    )
    probe_parts = [
        top.select("token", "true_n", F.lit(r).alias("r"), bucket(r))
        for r in range(_CMS_DEPTH)
    ]
    probes = probe_parts[0]
    for pp in probe_parts[1:]:
        probes = probes.unionAll(pp)
    est = (
        F.broadcast(probes)
        .join(counters, ["r", "bucket"])
        .groupBy("token")
        .agg(F.min("true_n").alias("true_n"), F.min("c").alias("est_n"))
    )
    return est.select(
        "token",
        "true_n",
        "est_n",
        (F.col("est_n") >= F.col("true_n")).alias("no_underestimate"),
    )


@query(
    "q119_containment_pairs",
    f"""
    WITH toks AS ({_SQL_TOKS}),
    sh0 AS (
        SELECT d.doc_id, d.source, g.gram
        FROM (SELECT t.doc_id, t.source,
                     list_distinct(
                         CASE WHEN len(w) >= 3 THEN
                             [array_to_string(w[i+1:i+3], ' ')
                              for i in range(len(w) - 2)]
                         ELSE [] END) AS grams
              FROM (SELECT toks.doc_id, documents.source, toks.w
                    FROM toks JOIN documents USING (doc_id)) t) d,
             unnest(d.grams) AS g(gram)
    ),
    sh AS (
        SELECT doc_id, source, gram FROM (
            SELECT doc_id, source, gram,
                   COUNT(*) OVER (PARTITION BY source, gram) AS df
            FROM sh0)
        WHERE df <= 50
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
        FROM sh a JOIN sh b
          ON a.source = b.source AND a.gram = b.gram
         AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b, n_inter,
           ROUND(CAST(n_inter AS DOUBLE)
                 / LEAST(sa.n, sb.n), 6) AS containment
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(n_inter AS DOUBLE) / LEAST(sa.n, sb.n) >= 0.08
    """,
)
def q119_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment (asymmetric Jaccard, |A∩B| / min(|A|,|B|)) over
    source-blocked pairs — catches a small document embedded inside a
    large one, which symmetric-Jaccard LSH structurally misses.  Candidate
    generation is an equi-join on (block, shingle): grams whose
    within-block document frequency exceeds ``_Q119_MAX_DF`` are dropped
    BEFORE the self-join (the ``jaccard_pairs`` stop-gram discipline,
    ``operators/dedup.py``), so pair volume is Σ_g min(df(g), cap)² — a
    boilerplate 3-gram shared by d docs contributes cap², not d².  The
    containment ratio is then over the capped (informative-gram)
    vocabulary on both sides, exactly as the oracle computes it.  The
    df window partitions on the same (source, gram) key as the self-join,
    so the cap shares the join's exchange rather than adding one.  At
    100 TB the block key is whatever upstream partitioning exists
    (source, domain, time window)."""
    from pyspark.sql import Window

    from parquery_spark.operators.dedup import word_shingles

    _Q119_MAX_DF = 50  # matches q137's winnowing stop-fingerprint cap

    # the capped (doc, source, gram) relation IS the containment
    # inverted index — a pure function of the corpus version, so it is
    # staged once as a stat-keyed storage artifact (the q43-banding /
    # q223-span pattern): the explode + df-cap window run once per
    # corpus, and all three consumers here (sizes + both self-join
    # sides) read parquet
    def _build_grams(t):
        docs = load(spark, sf_dir, "documents")
        (
            docs.select(
                "doc_id",
                "source",
                F.explode(
                    F.array_distinct(word_shingles("text", 3))
                ).alias("gram"),
            )
            .withColumn(
                "__df",
                F.count(F.lit(1)).over(
                    Window.partitionBy("source", "gram")
                ),
            )
            .filter(F.col("__df") <= _Q119_MAX_DF)
            .drop("__df")
            .write.parquet(t)
        )

    gdir = artifact(
        sf_dir, "documents", f"grams3-df{_Q119_MAX_DF}-v1", "gramidx",
        _build_grams,
    )
    sh = relations.get_relation(spark, gdir)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        self_join_reusing(
            sh,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
            a="a", b="b",
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    c = F.col("n_inter").cast("double") / F.least(
        F.col("sa.n"), F.col("sb.n")
    )
    return (
        inter.join(sizes.alias("sa"), F.col("sa.doc_id") == F.col("id_a"))
        .join(sizes.alias("sb"), F.col("sb.doc_id") == F.col("id_b"))
        .where(c >= 0.08)
        .select("id_a", "id_b", "n_inter", F.round(c, 6).alias("containment"))
    )


@query(
    "q120_compaction_checksum",
    """
    SELECT l_linestatus, COUNT(*) AS n,
           bit_xor(('0x' || substr(md5(
               CAST(l_orderkey AS VARCHAR) || '|' ||
               CAST(l_linenumber AS VARCHAR) || '|' ||
               CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR)
           ), 1, 15))::BIGINT) AS checksum
    FROM lineitem GROUP BY l_linestatus
    """,
)
def q120_compaction_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction validated by content checksum: lineitem is
    deliberately fragmented into 64 small files, compacted back to
    target-sized files with the coalesce-based (shuffle-free) compactor,
    and the ORACLE reads the ORIGINAL table — the order-independent
    per-group checksum proves the rewrite moved every row exactly once.
    Both rewrite steps are stat-keyed to the source file version, so a
    regenerated corpus invalidates the fixture."""
    from parquery_spark.operators.dedup import hash64
    from parquery_spark.operators.maintenance import compact_files

    def _build_compacted(t):
        frag = os.path.join(t, "frag")
        load(spark, sf_dir, "lineitem").repartition(64).write.mode(
            "overwrite"
        ).parquet(frag)
        stats = compact_files(
            spark, frag, os.path.join(t, "compacted"),
            target_bytes=8 * 1024 * 1024,
        )
        assert stats["files_after"] < stats["files_before"], stats

    root = artifact(
        sf_dir, "lineitem", "compact", "compact", _build_compacted,
        marker=os.path.join("compacted", "_SUCCESS"),
    )
    # fan_out before the checksum (round 12): the compacted layout is
    # ~8 MB files, so the scan packs into a handful of splits and the
    # per-row md5 — the whole cost of this query — ran on 3-5 tasks;
    # project to the 4 referenced columns first so the spread exchange
    # carries nothing else (guide §2.3)
    li = fan_out(
        relations.get_relation(spark, os.path.join(root, "compacted")).select(
            "l_orderkey", "l_linenumber", "l_extendedprice", "l_linestatus"
        ),
        "l_orderkey",
    )
    row_str = F.concat_ws(
        "|",
        F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
        F.col("l_extendedprice").cast("decimal(18,2)").cast("string"),
    )
    return li.groupBy("l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(hash64(row_str)).alias("checksum"),
    )


@query(
    "q121_tpch_q13",
    """
    SELECT c_count, COUNT(*) AS custdist FROM (
        SELECT c_custkey, COUNT(o_orderkey) AS c_count
        FROM customer LEFT JOIN orders
          ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey
    ) GROUP BY c_count
    """,
)
def q121_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer order-count distribution): LEFT OUTER join with
    a join-side residual filter, two-level aggregation.  The outer join
    preserves zero-order customers (COUNT of NULL keys = 0); the second
    aggregate runs over the |customers| relation, then collapses to the
    tiny count-of-counts histogram."""
    cust = load(spark, sf_dir, "customer").select("c_custkey")
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderpriority"
    )
    per_cust = (
        cust.join(
            orders,
            (cust["c_custkey"] == orders["o_custkey"])
            & (orders["o_orderpriority"] != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


@query(
    "q122_tpch_q18",
    """
    SELECT c_custkey, c_name, o_orderkey,
           epoch_us(o_orderdate) AS orderdate_us,
           ROUND(o_totalprice, 2) AS totalprice,
           SUM(l_quantity) AS sum_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey HAVING SUM(l_quantity) > 300
    )
    GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
    ORDER BY totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def q122_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customers): IN-subquery on an aggregated
    fact expressed as a LEFT SEMI join against the HAVING-filtered rollup
    — the aggregate runs once, the semi join keeps probe-side columns
    only, and the final top-100 plans as TakeOrderedAndProject on the
    rounded price with o_orderkey tie-break."""
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sq"))
        .where(F.col("sq") > 300)
        .select("l_orderkey")
    )
    orders_big = orders.join(
        big, orders["o_orderkey"] == big["l_orderkey"], "left_semi"
    )
    return (
        orders_big.join(cust, orders_big["o_custkey"] == cust["c_custkey"])
        .join(li, orders_big["o_orderkey"] == li["l_orderkey"])
        .groupBy(
            "c_custkey", "c_name", "o_orderkey", "o_orderdate",
            "o_totalprice",
        )
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias(
                "orderdate_us"
            ),
            F.round("o_totalprice", 2).alias("totalprice"),
            "sum_qty",
        )
        .orderBy(F.col("totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


@query(
    "q123_dormant_rich_customers",
    """
    WITH ab AS (SELECT AVG(c_acctbal) AS a FROM customer
                WHERE c_acctbal > 0)
    SELECT c_nationkey, COUNT(*) AS numcust,
           ROUND(SUM(c_acctbal), 2) AS totacctbal
    FROM customer, ab
    WHERE c_acctbal > a AND NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey
          AND o_orderdate >= TIMESTAMP '2000-01-01'
    )
    GROUP BY c_nationkey
    """,
)
def q123_dormant_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape on the trimmed schema: scalar-subquery threshold
    (average positive balance, one broadcast row) + NOT EXISTS as a LEFT
    ANTI join against the date-filtered order scan — the lapsed-customer
    report.  Both subqueries reduce before touching the probe side; the
    anti join's build side carries one column."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    avg_bal = cust.where(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("a")
    )
    recent = orders.where(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    ).select("o_custkey")
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("a"))
        .join(recent, cust["c_custkey"] == recent["o_custkey"], "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


@query(
    "q124_latency_percentiles",
    """
    SELECT event_type,
           COUNT(value) AS n,
           ROUND(quantile_cont(value, 0.5), 6)  AS p50,
           ROUND(quantile_cont(value, 0.95), 6) AS p95,
           ROUND(quantile_cont(value, 0.99), 6) AS p99
    FROM events GROUP BY event_type
    """,
)
def q124_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (the SLA report): Spark's
    ``percentile`` and DuckDB's ``quantile_cont`` share the same linear
    interpolation definition, so exact values hash-match after rounding.
    Exact percentiles sort each group's values once; at 100 TB swap in
    ``approx_percentile`` (KLL-style mergeable sketch, no per-group sort)
    — same API shape, bounded error."""
    events = load_events(spark, sf_dir)
    return events.groupBy("event_type").agg(
        F.count("value").alias("n"),
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("value", F.lit(0.95)), 6).alias("p95"),
        F.round(F.percentile("value", F.lit(0.99)), 6).alias("p99"),
    )


@query(
    "q125_centroid_distances",
    """
    WITH zipped AS (
        SELECT label,
               unnest(list_zip(embedding::DOUBLE[],
                               range(len(embedding)))) AS z
        FROM embeddings
    ),
    expl AS (
        SELECT label, CAST(z[2] AS INTEGER) AS pos,
               CAST(z[1] AS DECIMAL(28,12)) AS x
        FROM zipped
    ),
    cent AS (
        SELECT label, pos,
               ROUND(CAST(SUM(x) AS DOUBLE) / COUNT(*), 6) AS c
        FROM expl GROUP BY label, pos
    ),
    dots AS (
        SELECT a.label AS label_a, b.label AS label_b,
               SUM(a.c * b.c) AS dot,
               SUM(a.c * a.c) AS na, SUM(b.c * b.c) AS nb
        FROM cent a JOIN cent b ON a.pos = b.pos AND a.label < b.label
        GROUP BY a.label, b.label
    )
    SELECT label_a, label_b,
           ROUND(dot / (sqrt(na) * sqrt(nb)), 6) AS cosine
    FROM dots
    """,
)
def q125_centroid_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine similarity between class centroids — the
    label-confusion / cluster-quality diagnostic.  Centroids come from the
    deterministic decimal-sum mean (q72's recipe) ROUNDED to 6 digits, so
    both engines feed bit-identical components into the distance; the
    pairwise stage runs over |labels| x dims rows — trivially small — via
    a pos-join (no vector re-materialization)."""
    from parquery_spark.operators.similarity import group_centroids

    emb = load(spark, sf_dir, "embeddings")
    cent = group_centroids(emb, "label").select("label", "pos", "c")
    dots = (
        self_join_reusing(
            cent,
            (F.col("a.pos") == F.col("b.pos"))
            & (F.col("a.label") < F.col("b.label")),
            a="a", b="b",
        )
        .groupBy(
            F.col("a.label").alias("label_a"),
            F.col("b.label").alias("label_b"),
        )
        .agg(
            F.sum(F.col("a.c") * F.col("b.c")).alias("dot"),
            F.sum(F.col("a.c") * F.col("a.c")).alias("na"),
            F.sum(F.col("b.c") * F.col("b.c")).alias("nb"),
        )
    )
    return dots.select(
        "label_a",
        "label_b",
        F.round(
            F.col("dot") / (F.sqrt(F.col("na")) * F.sqrt(F.col("nb"))), 6
        ).alias("cosine"),
    )


@query(
    "q126_streaming_upsert",
    """
    SELECT user_id, epoch_us(ts) AS ts_us, event_type, value FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def q126_streaming_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC materialization: the event log split into three
    time-ordered files, streamed ``maxFilesPerTrigger=1`` so THREE real
    micro-batches flow through ``foreachBatch``; each batch reduces to
    latest-per-user and MERGEs into a versioned parquet snapshot (the
    q86 upsert operator per batch — anti join + union, batch wins).
    Because micro-batches arrive in event-time order, batch-wins equals
    latest-wins, and the final snapshot must hash-match the oracle's
    latest-event-per-user over the WHOLE log — an end-to-end
    exactly-once contract for the commonest production streaming job.
    The snapshot is versioned per batch (write-new + pointer swap, the
    MERGE pattern of any snapshot-isolated table format)."""
    from pyspark.sql import Window

    from parquery_spark.operators.upsert import upsert
    from parquery_spark.streaming.events import await_drain, events_stream

    def latest_per_user(df):
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .select("user_id", "ts", "event_type", "value", "event_id")
        )

    def _build_supsert(t):
        os.makedirs(t, exist_ok=True)
        # fixture writes must be MICROS (session default; re-assert for
        # sessions built elsewhere): INT96 sniffs as timestamp[ns] and
        # breaks the stream schema dispatch
        spark.conf.set(
            "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
        )
        events = load_events(spark, sf_dir).select(
            "event_id",
            F.col("ts").cast("timestamp").alias("ts"),
            "user_id",
            "event_type",
            "value",
            "props",
        )
        # three time-ordered source files -> three micro-batches
        src_dir = os.path.join(t, "src")
        wt = Window.orderBy("ts", "event_id")
        tiled = events.withColumn("__tile", F.ntile(3).over(wt))
        for i in (1, 2, 3):
            tiled.where(F.col("__tile") == i).drop("__tile").coalesce(
                1
            ).write.mode("overwrite").parquet(
                os.path.join(src_dir, f"t{i}")
            )
        # FileStreamSource orders by mtime: pin the intended batch order
        flat = os.path.join(t, "stream_src")
        os.makedirs(flat, exist_ok=True)
        import glob as _glob

        for i in (1, 2, 3):
            part = _glob.glob(os.path.join(src_dir, f"t{i}", "*.parquet"))[0]
            dst = os.path.join(flat, f"batch{i}.parquet")
            if not os.path.exists(dst):
                os.link(part, dst)
            os.utime(dst, (1_000_000 + i, 1_000_000 + i))

        state = {"cur": None}

        def merge(batch_df, batch_id):
            latest = latest_per_user(batch_df)
            if state["cur"] is None:
                new = latest
            else:
                cur = spark.read.parquet(state["cur"])
                new = upsert(cur, latest, ["user_id"])
            out = os.path.join(t, f"v{batch_id}")
            new.write.mode("overwrite").parquet(out)
            state["cur"] = out

        stream = events_stream(
            spark, flat, options={"maxFilesPerTrigger": "1"}
        )
        q = (
            stream.writeStream.foreachBatch(merge)
            .option(
                "checkpointLocation", os.path.join(t, "ckpt")
            )
            .trigger(availableNow=True)
            .start()
        )
        await_drain(q)
        if state["cur"] is None:
            raise RuntimeError("the upsert stream drained no batch")
        # RELATIVE name: the build root is renamed on publish
        with open(os.path.join(t, "FINAL"), "w") as f:
            f.write(os.path.basename(state["cur"]))

    base = artifact(
        sf_dir, "events", "supsert", "supsert", _build_supsert, marker="FINAL"
    )
    with open(os.path.join(base, "FINAL")) as f:
        snap_dir = os.path.join(base, f.read().strip())
    snap = relations.get_relation(spark, snap_dir)
    return snap.select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "event_type",
        "value",
    )


@query(
    "q127_attribution",
    """
    WITH seq AS (
        SELECT user_id, event_id, event_type, ts,
               last_value(CASE WHEN event_type = 'click'
                               THEN {'ts': ts, 'id': event_id} END
                          IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS lc
        FROM events
    )
    SELECT event_id AS purchase_id, user_id,
           epoch_us(ts) AS purchase_ts_us,
           lc['id'] AS click_id,
           epoch_us(lc['ts']) AS click_ts_us
    FROM seq
    WHERE event_type = 'purchase' AND lc IS NOT NULL
      AND epoch_us(ts) - epoch_us(lc['ts']) <= 604800000000
    """,
)
def q127_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: every purchase joined to the same user's
    most recent click within 7 days — NOT an as-of join against a second
    relation but a single carry-forward pass (last_value IGNORE NULLS
    over the user timeline), which costs one user_id shuffle total and
    scales to any events:purchases ratio.  The struct payload carries the
    click's id and timestamp together so the attribution is row-exact."""
    from pyspark.sql import Window

    events = load_events(spark, sf_dir)

    def us(c):
        return F.unix_micros(c.cast("timestamp"))

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    lc = F.last(
        F.when(
            F.col("event_type") == "click",
            F.struct(F.col("ts").alias("ts"), F.col("event_id").alias("id")),
        ),
        ignorenulls=True,
    ).over(w)
    seq = events.select(
        "user_id", "event_id", "event_type", "ts", lc.alias("lc")
    )
    return (
        seq.where(
            (F.col("event_type") == "purchase")
            & F.col("lc").isNotNull()
            & (us(F.col("ts")) - us(F.col("lc.ts")) <= 604_800_000_000)
        )
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            us(F.col("ts")).alias("purchase_ts_us"),
            F.col("lc.id").alias("click_id"),
            us(F.col("lc.ts")).alias("click_ts_us"),
        )
    )


@query(
    "q128_co_occurrence",
    """
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           COUNT(*) AS support
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
    ORDER BY support DESC, part_a, part_b
    LIMIT 25
    """,
)
def q128_co_occurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence (frequent itemset support counting):
    self-join WITHIN the order key — candidate volume is Σ n_i² over
    baskets, bounded by basket size, never corpus² — then a top-25 that
    plans as TakeOrderedAndProject.  The same shape serves term
    co-occurrence (PMI) and co-citation graphs; at 100 TB the join is
    key-co-located (both sides shuffle once on the basket key)."""
    from parquery_spark.operators.util import fan_out

    # fan_out BEFORE the basket self-join (round 12): the ~11 MB scan
    # naturally packs into 3 splits, capping the Σn²-pair generation and
    # partial aggregation at 3 tasks — keying by the join key spreads it
    # across the machine and the join reuses that exchange (measured
    # 1.7 s -> 0.95 s noop).  Pair key packed into one int64 before the
    # exchange (q185's trick, guide §2.3): the pair relation has ~no
    # map-side reduction, so shuffle width and group-key hashing
    # dominate; unpack after the top-25.  Requires part ids < 2^32
    # (q158's wedge-packing bound).
    li = fan_out(
        load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey"),
        "l_orderkey",
    )
    return (
        self_join_reusing(
            li,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
            a="a", b="b",
        )
        .select(
            (
                F.col("a.l_partkey") * F.lit(4294967296)
                + F.col("b.l_partkey")
            ).alias("pk")
        )
        .groupBy("pk")
        .agg(F.count(F.lit(1)).alias("support"))
        .select(
            F.shiftright("pk", 32).alias("part_a"),
            F.col("pk").bitwiseAND(F.lit(4294967295)).alias("part_b"),
            "support",
        )
        .orderBy(
            F.col("support").desc(), F.col("part_a"), F.col("part_b")
        )
        .limit(25)
    )


@query(
    "q129_psi_drift",
    """
    WITH binned AS (
        SELECT event_type,
               CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 'a' ELSE 'b'
                   END AS period,
               LEAST(GREATEST(CAST(FLOOR(value / 25) AS BIGINT), 0), 19)
                   AS bin
        FROM events
    ),
    counts AS (
        SELECT event_type, bin,
               COUNT(*) FILTER (period = 'a') AS na,
               COUNT(*) FILTER (period = 'b') AS nb
        FROM binned GROUP BY event_type, bin
    ),
    tot AS (
        SELECT event_type, SUM(na) AS ta, SUM(nb) AS tb
        FROM counts GROUP BY event_type
    )
    SELECT c.event_type,
           ROUND(SUM(
               (CAST(na + 1 AS DOUBLE) / (ta + 20)
                - CAST(nb + 1 AS DOUBLE) / (tb + 20))
               * ln((CAST(na + 1 AS DOUBLE) / (ta + 20))
                    / (CAST(nb + 1 AS DOUBLE) / (tb + 20)))
           ), 6) AS psi
    FROM counts c JOIN tot t ON c.event_type = t.event_type
    GROUP BY c.event_type
    """,
)
def q129_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift monitor: value distributions of
    two time periods compared per event_type over 20 fixed-width bins
    (exact IEEE binning — quantile-free, so the bin edges are identical
    on every engine and every run), Laplace-smoothed so empty bins don't
    blow up the log ratio.  One scan, one tiny (type x bin) aggregate;
    the drift math runs over ≤ |types| x 20 rows."""
    events = load_events(spark, sf_dir)
    period = F.when(
        F.col("ts").cast("timestamp")
        < F.lit("2024-01-16").cast("timestamp"),
        "a",
    ).otherwise("b")
    bin_ = F.least(
        F.greatest(F.floor(F.col("value") / 25).cast("long"), F.lit(0)),
        F.lit(19),
    )
    counts = (
        events.select(
            "event_type", period.alias("period"), bin_.alias("bin")
        )
        .groupBy("event_type", "bin")
        .agg(
            F.count(F.when(F.col("period") == "a", 1)).alias("na"),
            F.count(F.when(F.col("period") == "b", 1)).alias("nb"),
        )
    )
    tot = counts.groupBy("event_type").agg(
        F.sum("na").alias("ta"), F.sum("nb").alias("tb")
    )
    pa = (F.col("na") + 1).cast("double") / (F.col("ta") + 20)
    pb = (F.col("nb") + 1).cast("double") / (F.col("tb") + 20)
    return (
        counts.join(tot, "event_type")
        .groupBy("event_type")
        .agg(F.round(F.sum((pa - pb) * F.log(pa / pb)), 6).alias("psi"))
    )


@query(
    "q130_snapshot_diff",
    """
    WITH cur AS (
        SELECT o_orderkey AS k, o_totalprice AS v FROM orders
    ),
    nxt AS (
        SELECT o_orderkey AS k,
               CASE WHEN o_orderkey % 7 = 0
                    THEN ROUND(o_totalprice * 2, 2)
                    ELSE o_totalprice END AS v
        FROM orders WHERE o_orderkey % 13 <> 0
        UNION ALL
        SELECT o_orderkey + 100000000 AS k, 1.0 AS v
        FROM orders WHERE o_orderkey % 1000 = 0
    ),
    classified AS (
        SELECT COALESCE(cur.k, nxt.k) AS k,
               CASE WHEN cur.k IS NULL THEN 'added'
                    WHEN nxt.k IS NULL THEN 'removed'
                    WHEN cur.v <> nxt.v THEN 'changed'
                    ELSE 'unchanged' END AS status
        FROM cur FULL OUTER JOIN nxt ON cur.k = nxt.k
    )
    SELECT status, COUNT(*) AS n,
           bit_xor(('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 15))::BIGINT)
               AS key_checksum
    FROM classified GROUP BY status
    """,
)
def q130_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff / changelog generation (the inverse of upsert): two
    table versions FULL OUTER joined on the key, every row classified
    added/removed/changed/unchanged — how a pipeline without CDC capture
    reconstructs a change feed between snapshot exports.  One key-shuffle
    join; the result collapses to per-class counts + order-independent
    key checksums, so verification moves four rows however large the
    snapshots are."""
    from parquery_spark.operators.dedup import hash64

    cur = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"), F.col("o_totalprice").alias("v")
    )
    base = load(spark, sf_dir, "orders")
    kept = base.where(F.col("o_orderkey") % 13 != 0).select(
        F.col("o_orderkey").alias("k"),
        F.when(
            F.col("o_orderkey") % 7 == 0,
            F.round(F.col("o_totalprice") * 2, 2),
        )
        .otherwise(F.col("o_totalprice"))
        .alias("v"),
    )
    new = base.where(F.col("o_orderkey") % 1000 == 0).select(
        (F.col("o_orderkey") + 100_000_000).alias("k"),
        F.lit(1.0).alias("v"),
    )
    nxt = kept.unionAll(new)
    c, n = cur.alias("c"), nxt.alias("n")
    joined = c.join(n, F.col("c.k") == F.col("n.k"), "full_outer")
    status = (
        F.when(F.col("c.k").isNull(), "added")
        .when(F.col("n.k").isNull(), "removed")
        .when(F.col("c.v") != F.col("n.v"), "changed")
        .otherwise("unchanged")
    )
    k = F.coalesce(F.col("c.k"), F.col("n.k"))
    return (
        joined.select(status.alias("status"), k.alias("k"))
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(hash64(F.col("k").cast("string"))).alias(
                "key_checksum"
            ),
        )
    )


@query(
    "q131_pandas_udf_scoring",
    """
    WITH w AS (
        SELECT [CAST((i * 2654435761 % 1000) AS DOUBLE) / 1000 - 0.5
                for i in range(64)] AS wv
    )
    SELECT label, COUNT(*) AS n,
           ROUND(AVG(1.0 / (1.0 + exp(-(
               list_dot_product(embedding::DOUBLE[], wv) + 0.1)))), 6)
               AS avg_score
    FROM embeddings, w
    GROUP BY label
    """,
)
def q131_pandas_udf_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model scoring through a VECTORIZED pandas UDF — the pattern for
    math Spark's expression language can't express (here a logistic head;
    in production an ONNX/torch forward): Arrow batches in, one numpy
    matmul per batch, doubles out.  Weights derive from a deterministic
    integer recipe replicated in the oracle; the sigmoid's float drift
    (numpy pairwise-sum dot vs the oracle's sequential fold) is absorbed
    by ROUND(6) after the per-label mean.  Everything around the UDF —
    scan, explode-free schema, per-label aggregate — stays JVM-side."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    w = np.array(
        [((i * 2654435761) % 1000) / 1000.0 - 0.5 for i in range(64)]
    )

    def _score(emb):
        x = np.vstack(emb.to_numpy())  # (batch, 64) float32
        z = x.astype(np.float64) @ w + 0.1
        return pd.Series(1.0 / (1.0 + np.exp(-z)))

    # explicit functional form: this module's `from __future__ import
    # annotations` stringifies type hints, which pandas_udf can't resolve
    score = pandas_udf(_score, "double")

    emb = load(spark, sf_dir, "embeddings")
    return (
        emb.select("label", score(F.col("embedding")).alias("s"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("s"), 6).alias("avg_score"),
        )
    )


def _sql_pagerank_iter(prev: str, out: str) -> str:
    return f"""{out} AS (
        SELECT e.dst AS v,
               CAST(0.15 AS DOUBLE) / MIN(n.nn)
                   + 0.85 * SUM({prev}.r / deg.d) AS r
        FROM edges e
        JOIN {prev} ON {prev}.v = e.src
        JOIN deg ON deg.src = e.src
        CROSS JOIN n
        GROUP BY e.dst
    )"""


@query(
    "q132_pagerank",
    f"""
    WITH pairs AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY pa, pb HAVING COUNT(*) >= 2
    ),
    edges AS (
        SELECT pa AS src, pb AS dst FROM pairs
        UNION ALL
        SELECT pb AS src, pa AS dst FROM pairs
    ),
    deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
    n AS (SELECT COUNT(*) AS nn FROM deg),
    r0 AS (SELECT src AS v, CAST(1 AS DOUBLE) / nn AS r FROM deg, n),
    {_sql_pagerank_iter("r0", "r1")},
    {_sql_pagerank_iter("r1", "r2")},
    {_sql_pagerank_iter("r2", "r3")}
    SELECT v, ROUND(r, 9) AS pr FROM r3
    """,
)
def q132_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, three fixed iterations) on the undirected
    co-purchase graph — the iterative-algorithm pattern beside q62's
    connected components, and still EXACTLY oracled: the fixed iteration
    count unrolls into three SQL CTE stages, so even this "non-SQL" class
    gets a value-matched gate.  The edge relation is a stat-keyed
    STORAGE artifact (pure function of lineitem — built once per corpus
    version, restart-surviving, exactly how a cluster deployment would
    stage a derived graph next to the data); round 12 folds the source
    DEGREE into the artifact (src, dst, d — denormalized exactly like a
    deployment would), so every iteration is ONE join + one aggregate
    instead of two joins, and one explicit src repartition above the
    artifact scan is the exchange all three iterations reuse.  Lineage
    stays flat because each iteration re-reads the edge parquet, not the
    previous plan — nothing persisted in-session."""

    def _build_edges(t):
        li = load(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey"
        )
        pairs = (
            self_join_reusing(
                li,
                (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                & (F.col("a.l_partkey") < F.col("b.l_partkey")),
                a="a", b="b",
            )
            .groupBy(
                F.col("a.l_partkey").alias("pa"),
                F.col("b.l_partkey").alias("pb"),
            )
            .agg(F.count(F.lit(1)).alias("cnt"))
            .where(F.col("cnt") >= 2)
            .select("pa", "pb")
        )
        und = pairs.selectExpr("pa AS src", "pb AS dst").unionAll(
            pairs.selectExpr("pb AS src", "pa AS dst")
        )
        deg = und.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
        und.join(deg, "src").write.parquet(t)

    adir = artifact(
        sf_dir, "lineitem", "pagerank-edges-v2", "pr", _build_edges,
    )
    ewd = relations.get_relation(spark, adir).repartition(F.col("src"))
    nn = (  # scalar: node count (driver-side by design)
        ewd.select("src").distinct().count()
    )
    r = ewd.select("src").distinct().select(
        F.col("src").alias("v"), (F.lit(1.0) / F.lit(nn)).alias("r")
    )
    for _ in range(3):
        contrib = ewd.join(r, ewd["src"] == r["v"]).select(
            "dst", (F.col("r") / F.col("d")).alias("c")
        )
        r = contrib.groupBy("dst").agg(
            (F.lit(0.15) / F.lit(nn) + F.lit(0.85) * F.sum("c")).alias("r")
        ).select(F.col("dst").alias("v"), "r")
    return r.select("v", F.round("r", 9).alias("pr"))


@query(
    "q133_grouped_regression",
    """
    SELECT event_type, COUNT(*) AS n,
           ROUND(regr_slope(value, xd), 6) AS slope,
           ROUND(regr_intercept(value, xd), 6) AS intercept
    FROM (
        SELECT event_type, value,
               (epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01'))
                   / 86400000000.0 AS xd
        FROM events WHERE value IS NOT NULL
    ) GROUP BY event_type
    """,
)
def q133_grouped_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group model fitting through ``applyInPandas`` (grouped-map
    Arrow UDF — the API for per-key scikit-style fits Spark expressions
    can't do): each event_type's (day-offset, value) series gets an OLS
    line via the closed-form moment formulas, matching SQL's
    regr_slope/regr_intercept definitions, so the oracle is exact after
    ROUND(6).  The x axis is CENTERED (days since 2024-01-01, not raw
    epoch-µs) — raw epoch abscissae put x² sums at 1e30 and the
    covariance cancellation destroys float64 precision on every engine.
    Groups shuffle once on event_type; each fit sees one Arrow batch."""
    import pandas as pd

    events = load_events(spark, sf_dir)
    base = F.unix_micros(F.lit("2024-01-01").cast("timestamp"))
    src = events.where(F.col("value").isNotNull()).select(
        "event_type",
        ((F.unix_micros(F.col("ts").cast("timestamp")) - base)
         / 86400000000.0).alias("xd"),
        "value",
    )

    def fit(pdf):
        import numpy as np

        x = pdf["xd"].to_numpy(dtype=np.float64)
        y = pdf["value"].to_numpy(dtype=np.float64)
        n = len(x)
        sx, sy = np.sum(x), np.sum(y)
        sxx, sxy = np.sum(x * x), np.sum(x * y)
        slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
        intercept = (sy - slope * sx) / n
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n": [n],
                "slope": [round(slope, 6)],
                "intercept": [round(intercept, 6)],
            }
        )

    return src.groupBy("event_type").applyInPandas(
        fit, "event_type string, n long, slope double, intercept double"
    )


@query(
    "q134_udtf_sentences",
    """
    WITH s AS (
        SELECT doc_id, unnest(string_split(text, '. ')) AS sentence
        FROM documents
    )
    SELECT doc_id, COUNT(*) AS n_sentences,
           ROUND(AVG(CAST(length(sentence) AS DOUBLE)), 6) AS avg_len
    FROM s GROUP BY doc_id
    """,
)
def q134_udtf_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation through a Python UDTF (table function: one
    input row → many output rows with typed schema) rolled up per doc —
    exercising the last Python-integration surface (scalar pandas UDF
    q131, grouped-map q133, mapInPandas multimodal, UDTF here).  UDTFs
    run row-at-a-time Python: correct tool for bounded fan-out
    transforms; the bulk-path equivalent stays `explode(split(...))`
    (q89 chunking), which this oracle's SQL twin mirrors."""
    from pyspark.sql.functions import udtf

    class SplitSentences:
        def eval(self, doc_id, text):
            for s in text.split(". "):
                yield doc_id, s

    split_fn = udtf(
        SplitSentences, returnType="doc_id bigint, sentence string"
    )
    spark.udtf.register("pqs_split_sentences", split_fn)
    docs = load(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("pqs_q134_docs")
    s = spark.sql(
        "SELECT s.doc_id, s.sentence FROM pqs_q134_docs, "
        "LATERAL pqs_split_sentences(doc_id, text) s"
    )
    return s.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_sentences"),
        F.round(F.avg(F.length("sentence").cast("double")), 6).alias(
            "avg_len"
        ),
    )


@query(
    "q135_zorder_scan",
    """
    SELECT COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
           ROUND(SUM(l_extendedprice), 2) AS total_price
    FROM lineitem
    WHERE l_partkey BETWEEN 100 AND 300
      AND l_suppkey BETWEEN 10 AND 40
    """,
)
def q135_zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D selective scan served from a Z-ORDERED copy of the fact table
    (Morton-interleaved (l_partkey, l_suppkey) sort — the OPTIMIZE ZORDER
    layout): every file covers a compact rectangle of the key space, so
    footer min/max stats prune files for predicates on EITHER column,
    where a single-column sort only prunes one.  The oracle reads the
    ORIGINAL table — the layout must change the I/O, never the answer.
    The narrowing of per-file min/max spans is asserted quantitatively in
    tests/test_pipeline_ops.py::TestZOrder."""
    from parquery_spark.operators.maintenance import write_zordered

    zdir = artifact(
        sf_dir, "lineitem", "zorder", "zorder",
        lambda t: write_zordered(
            load(spark, sf_dir, "lineitem"),
            t,
            ("l_partkey", "l_suppkey"),
            n_files=8,
        ),
    )
    li = relations.get_relation(spark, zdir)
    return li.where(
        F.col("l_partkey").between(100, 300)
        & F.col("l_suppkey").between(10, 40)
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("long")).alias("total_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
    )


@query(
    "q136_session_paths",
    """
    WITH marked AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                            > 1800000000
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT *, SUM(new_s) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS session_seq
        FROM marked
    ),
    paths AS (
        SELECT user_id, session_seq,
               array_to_string(
                   list_slice(list(event_type ORDER BY ts, event_id), 1, 5),
                   '>') AS path
        FROM sess GROUP BY user_id, session_seq
    )
    SELECT path, COUNT(*) AS n_sessions
    FROM paths GROUP BY path
    ORDER BY n_sessions DESC, path LIMIT 20
    """,
)
def q136_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top navigation paths (first five events of each session, q71's
    30-minute gap rule): the product-analytics 'common journeys' report.
    Ordered within-group sequences come from sort_array over
    (ts, event_id, type) structs — deterministic total order, engine-
    independent — NOT from collect_list's arrival order, which is
    partition-layout-dependent and would be flaky on any engine.  One
    user_id shuffle builds sessions; paths aggregate to a tiny relation;
    top-20 plans as TakeOrderedAndProject."""
    from pyspark.sql import Window

    events = load_events(spark, sf_dir)

    def us(c):
        return F.unix_micros(c.cast("timestamp"))

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    new_s = F.when(
        prev.isNull() | (us(F.col("ts")) - us(prev) > 1_800_000_000),
        F.lit(1),
    ).otherwise(F.lit(0))
    sess = (
        events.select("user_id", "ts", "event_id", "event_type")
        .withColumn("__new", new_s)
        .withColumn(
            "session_seq",
            F.sum("__new").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    ordered = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("ts").alias("ts"),
                F.col("event_id").alias("event_id"),
                F.col("event_type").alias("t"),
            )
        )
    )
    paths = (
        sess.groupBy("user_id", "session_seq")
        .agg(ordered.alias("evs"))
        .select(
            F.concat_ws(
                ">",
                F.transform(
                    F.slice(F.col("evs"), 1, 5), lambda e: e["t"]
                ),
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), F.col("path"))
        .limit(20)
    )


@query(
    "q137_winnow_overlap",
    f"""
    WITH sh AS ({_sql_shingles(5)}),
    pos AS (
        SELECT doc_id, p[2] AS pos,
               ('0x' || substr(md5(p[1]), 1, 15))::BIGINT AS h
        FROM (SELECT doc_id,
                     unnest(list_zip(shingles, range(len(shingles)))) AS p
              FROM sh)
    ),
    wins AS (
        SELECT doc_id, pos,
               MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
               COUNT(*) OVER (PARTITION BY doc_id) AS ng
        FROM pos
    ),
    sel AS (SELECT DISTINCT doc_id, fp FROM wins WHERE pos <= ng - 4),
    rare AS (
        SELECT fp FROM sel GROUP BY fp HAVING COUNT(*) <= 50
    ),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
        FROM sel a JOIN rare USING (fp) JOIN sel b USING (fp)
        WHERE a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b, n_shared FROM pairs WHERE n_shared >= 2
    """,
)
def q137_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plagiarism/overlap detection USING the winnowing index (q111's
    fingerprints put to work): docs sharing >= 2 selected fingerprints.
    Candidate generation is a fingerprint equi-join — volume bounded by
    per-fingerprint bucket size, with stop-fingerprints (shared by > 50
    docs: boilerplate) dropped before pairing, the same max_df discipline
    as the inverted-index Jaccard path.  Never corpus²; the winnowing
    guarantee bounds recall (any shared 8-word run surfaces)."""
    # rare, keyed and the b join side all read the stat-keyed
    # fingerprint index artifact (shared with q111) — winnowing runs
    # once per corpus version, nothing persisted in-session
    fp = _winnow_fp(spark, sf_dir)
    rare = (
        fp.groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= 50)
        .select("fingerprint")
    )
    keyed = fp.join(rare, "fingerprint")
    a, b = keyed.alias("a"), fp.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fingerprint") == F.col("b.fingerprint"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= 2)
    )


@query(
    "q138_schema_evolution_union",
    """
    WITH v1 AS (
        SELECT o_orderkey, o_totalprice, NULL::VARCHAR AS channel
        FROM orders WHERE o_orderkey % 2 = 0
    ),
    v2 AS (
        SELECT o_orderkey, o_totalprice,
               CASE WHEN o_orderkey % 3 = 0 THEN 'web' ELSE 'store' END
                   AS channel
        FROM orders WHERE o_orderkey % 2 = 1
    ),
    unioned AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
    SELECT COALESCE(channel, '<pre-schema>') AS channel,
           COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total
    FROM unioned GROUP BY channel
    """,
)
def q138_schema_evolution_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across snapshot generations: an old extract
    written BEFORE the `channel` column existed unioned with a new one
    via ``unionByName(allowMissingColumns=True)`` — absent columns
    surface as NULLs, exactly the mergeSchema semantics of the multi-file
    reader (q52) applied across writes.  Both generations are materialized
    parquet fixtures (stat-keyed), so the union reads real files with
    genuinely different physical schemas."""
    def _build_generations(t):
        orders = load(spark, sf_dir, "orders")
        orders.where(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", "o_totalprice"
        ).write.mode("overwrite").parquet(os.path.join(t, "v1"))
        orders.where(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey",
            "o_totalprice",
            F.when(F.col("o_orderkey") % 3 == 0, "web")
            .otherwise("store")
            .alias("channel"),
        ).write.mode("overwrite").parquet(os.path.join(t, "v2"))

    base = artifact(
        sf_dir, "orders", "evo", "evo", _build_generations,
        marker=os.path.join("v2", "_SUCCESS"),
    )
    v1 = relations.get_relation(spark, os.path.join(base, "v1"))
    v2 = relations.get_relation(spark, os.path.join(base, "v2"))
    unioned = v1.unionByName(v2, allowMissingColumns=True)
    return unioned.groupBy(
        F.coalesce(F.col("channel"), F.lit("<pre-schema>")).alias("channel")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@query(
    "q139_targeted_purge",
    """
    WITH purged AS (
        SELECT * FROM events WHERE user_id % 37 <> 0
    )
    SELECT event_type, COUNT(*) AS n,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           bit_xor(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))
                   ::BIGINT) AS id_checksum
    FROM purged GROUP BY event_type
    """,
)
def q139_targeted_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten purge: a deletion list (every 37th user)
    removed from the event log by LEFT ANTI join (the broadcast-able
    shape — the deletion list is always ≪ the log), and the surviving
    rewrite validated with per-group counts + order-independent event-id
    checksums against the oracle's NOT-IN semantics.  At 100 TB this is
    the per-partition rewrite job a compliance pipeline runs; the gate
    proves it deletes exactly the targeted rows and nothing else."""
    from parquery_spark.operators.dedup import hash64

    events = load_events(spark, sf_dir)
    # deletion list as a RELATION (not a filter) — the production shape
    forget = (
        events.select("user_id")
        .distinct()
        .where(F.col("user_id") % 37 == 0)
    )
    purged = events.join(forget, "user_id", "left_anti")
    return purged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("user_id").alias("n_users"),
        F.bit_xor(hash64(F.col("event_id").cast("string"))).alias(
            "id_checksum"
        ),
    )


@query(
    "q140_rolling_distinct_users",
    """
    WITH du AS (
        SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day,
               user_id
        FROM events
    ),
    days AS (SELECT DISTINCT day FROM du)
    SELECT epoch_us(CAST(d.day AS TIMESTAMP)) AS day_us,
           CAST(COUNT(DISTINCT du.user_id) AS BIGINT) AS wau
    FROM days d JOIN du
      ON du.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
    GROUP BY d.day
    """,
)
def q140_rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users (WAU): COUNT(DISTINCT) over a sliding
    window can't partial-aggregate directly, so the scale shape dedups to
    the (day, user) grain FIRST — one shuffle collapses the log by ~|log|
    / |day-user| — and only then fans each row out to the ≤ 7 window days
    it serves (a bounded range join, |days| × 7 rows).  The HLL variant
    (mergeable per-day sketches, q54) replaces the exact distinct when
    |users| explodes."""
    events = load_events(spark, sf_dir)
    du = (
        events.select(
            F.date_trunc("day", F.col("ts").cast("timestamp"))
            .cast("date")
            .alias("day"),
            "user_id",
        )
        .where(F.col("day").isNotNull())
        .distinct()
    )
    # days is NOT exchange-shared with the join branch — and that is the
    # optimizer being right, not a missed reuse: Catalyst collapses
    # distinct(project(distinct)) so the day spine plans as a
    # single-column ts scan + |days|-row aggregate, cheaper than reading
    # the (day, user) exchange it would have shared.  No persist either
    # way; the second scan is column-pruned to one column.
    days = du.select("day").distinct().withColumnRenamed("day", "d")
    joined = days.join(
        du,
        (F.col("day") >= F.date_sub(F.col("d"), 6))
        & (F.col("day") <= F.col("d")),
    )
    return joined.groupBy("d").agg(
        F.count_distinct("user_id").alias("wau")
    ).select(
        F.unix_micros(F.col("d").cast("timestamp")).alias("day_us"), "wau"
    )


def _sql_kmeans_assign(cent: str, out: str, expl: str = "expl") -> str:
    """Assignment CTE: nearest centroid per vector (rank over distance,
    cluster id as tie-break).  ``expl`` selects which exploded relation
    the pass runs over — the full corpus, or a training sample (q221)."""
    return f"""{out}_d AS (
        SELECT e.vec_id, c.cluster,
               SUM((e.x - c.c) * (e.x - c.c)) AS d
        FROM {expl} e JOIN {cent} c ON e.pos = c.pos
        GROUP BY e.vec_id, c.cluster
    ),
    {out} AS (
        SELECT vec_id, cluster FROM (
            SELECT vec_id, cluster,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY d, cluster) AS rn
            FROM {out}_d
        ) WHERE rn = 1
    )"""


def _sql_kmeans_update(assign: str, out: str, expl: str = "expl") -> str:
    """Centroid update CTE: decimal-exact per-(cluster,pos) mean,
    rounded to 6 digits (the engine-stable float contract)."""
    return f"""{out} AS (
        SELECT a.cluster, e.pos,
               ROUND(CAST(SUM(CAST(e.x AS DECIMAL(28,12))) AS DOUBLE)
                     / COUNT(*), 6) AS c
        FROM {expl} e JOIN {assign} a ON e.vec_id = a.vec_id
        GROUP BY a.cluster, e.pos
    )"""


@query(
    "q141_kmeans",
    f"""
    WITH expl AS (
        SELECT vec_id,
               CAST(z[2] AS INTEGER) AS pos,
               CAST(z[1] AS DOUBLE) AS x
        FROM (SELECT vec_id,
                     unnest(list_zip(embedding::DOUBLE[],
                                     range(len(embedding)))) AS z
              FROM embeddings)
    ),
    cent0 AS (
        SELECT vec_id AS cluster, pos, x AS c FROM expl WHERE vec_id < 4
    ),
    {_sql_kmeans_assign("cent0", "a1")},
    {_sql_kmeans_update("a1", "cent1")},
    {_sql_kmeans_assign("cent1", "a2")},
    {_sql_kmeans_update("a2", "cent2")},
    {_sql_kmeans_assign("cent2", "a3")}
    SELECT cluster, COUNT(*) AS n,
           bit_xor(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))
                   ::BIGINT) AS member_checksum
    FROM a3 GROUP BY cluster
    """,
)
def q141_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means (Lloyd's, k=4, two update iterations,
    deterministic init = first four vectors) with EXACT oracle parity —
    the recipe that makes an iterative float algorithm gateable: centroid
    means are computed in DECIMAL (order-independent) and rounded to 6
    digits, so both engines feed bit-identical centroids into each
    assignment; assignments are then integers, gated by member checksums.
    Shapes (round 12): ONE explicit vec_id exchange above the exploded
    relation satisfies every iteration's distance aggregation
    (ClusteredDistribution(vec_id, cluster)), argmin, and update join —
    the unrolled loop adds no further exchange of vector data, only the
    |k x dim| centroid aggregates and their broadcasts; the argmin is
    ``min(struct(d, cluster))`` (identical (d, cluster) lexicographic
    choice) instead of a per-iteration row_number window, dropping the
    window sorts.  Same pattern at 100 TB with k=65k IVF cells —
    assignment via the vectorized pandas_udf path (operators/ivf.py)
    instead of the explode join."""
    emb = load(spark, sf_dir, "embeddings")
    expl = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "pos", "x"
        ),
    ).repartition(F.col("vec_id"))
    cents = (
        expl.where(F.col("vec_id") < 4)
        .select(
            F.col("vec_id").alias("cluster"), "pos", F.col("x").alias("c")
        )
    )

    assign = None
    for _ in range(3):
        d = (
            expl.join(F.broadcast(cents), "pos")
            .groupBy("vec_id", "cluster")
            .agg(
                F.sum(
                    (F.col("x") - F.col("c")) * (F.col("x") - F.col("c"))
                ).alias("d")
            )
        )
        assign = (
            d.groupBy("vec_id")
            .agg(F.min(F.struct("d", "cluster")).alias("m"))
            .select(
                "vec_id", F.col("m").getField("cluster").alias("cluster")
            )
        )
        cents = (
            expl.join(assign, "vec_id")
            .groupBy("cluster", "pos")
            .agg(
                F.round(
                    F.sum(F.col("x").cast("decimal(28,12)")).cast(
                        "double"
                    )
                    / F.count(F.lit(1)),
                    6,
                ).alias("c")
            )
        )

    from parquery_spark.operators.dedup import hash64

    return assign.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(hash64(F.col("vec_id").cast("string"))).alias(
            "member_checksum"
        ),
    )


@query(
    "q142_ab_experiment",
    """
    WITH assigned AS (
        SELECT user_id,
               CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)
                          || '#exp1'), 1, 15))::BIGINT % 2 = 0
                    THEN 'control' ELSE 'treatment' END AS variant
        FROM (SELECT DISTINCT user_id FROM events)
    )
    SELECT a.variant,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users,
           COUNT(*) AS n_events,
           ROUND(AVG(e.value), 6) AS avg_value,
           ROUND(CAST(COUNT(DISTINCT CASE WHEN e.event_type = 'purchase'
                                          THEN e.user_id END) AS DOUBLE)
                 / COUNT(DISTINCT e.user_id), 6) AS conversion
    FROM events e JOIN assigned a ON e.user_id = a.user_id
    GROUP BY a.variant
    """,
)
def q142_ab_experiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout with DETERMINISTIC assignment: variant is a
    pure hash of (user_id, experiment salt) — stable across runs, engines
    and partitionings, no assignment table to keep consistent (the same
    discipline as the q58/q112 splits, applied to experimentation).
    Assignment broadcasts onto the event scan; conversion is a
    distinct-user conditional ratio computed in one aggregate."""
    from parquery_spark.operators.dedup import hash64

    events = load_events(spark, sf_dir)
    users = events.select("user_id").distinct()
    assigned = users.select(
        "user_id",
        F.when(
            hash64(F.col("user_id").cast("string"), seed="exp1") % 2 == 0,
            "control",
        )
        .otherwise("treatment")
        .alias("variant"),
    )
    j = events.join(F.broadcast(assigned), "user_id")
    return j.groupBy("variant").agg(
        F.count_distinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.avg("value"), 6).alias("avg_value"),
        F.round(
            F.count_distinct(
                F.when(F.col("event_type") == "purchase", F.col("user_id"))
            ).cast("double")
            / F.count_distinct("user_id"),
            6,
        ).alias("conversion"),
    )


@query(
    "q143_wow_deltas",
    """
    WITH weekly AS (
        SELECT epoch_us(date_trunc('week', o_orderdate)) AS week_us,
               COUNT(*) AS n,
               ROUND(SUM(o_totalprice), 2) AS revenue
        FROM orders GROUP BY week_us
    )
    SELECT week_us, n, revenue,
           revenue - LAG(revenue) OVER (ORDER BY week_us) AS delta,
           ROUND((revenue - LAG(revenue) OVER (ORDER BY week_us))
                 / LAG(revenue) OVER (ORDER BY week_us) * 100, 4)
               AS pct_change
    FROM weekly
    """,
)
def q143_wow_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week deltas: the fact table collapses to the weekly
    grain FIRST (one shuffle, partial-aggregated), then LAG runs over
    the tiny weekly relation — the unpartitioned window is safe because
    its input is |weeks| rows by construction, the cardinality contract
    that q79 taught us to state explicitly.  Deltas subtract the ROUNDED
    revenues, so both engines difference identical doubles."""
    from pyspark.sql import Window

    orders = load(spark, sf_dir, "orders")
    weekly = orders.groupBy(
        F.unix_micros(
            F.date_trunc("week", F.col("o_orderdate").cast("timestamp"))
        ).alias("week_us")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )
    w = Window.orderBy("week_us")
    prev = F.lag("revenue").over(w)
    return weekly.select(
        "week_us",
        "n",
        "revenue",
        (F.col("revenue") - prev).alias("delta"),
        F.round((F.col("revenue") - prev) / prev * 100, 4).alias(
            "pct_change"
        ),
    )


@query(
    "q144_signup_to_purchase",
    """
    WITH firsts AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'signup' THEN ts END)
                   AS signup_ts,
               MIN(CASE WHEN event_type = 'purchase' THEN ts END)
                   AS purchase_ts
        FROM events GROUP BY user_id
    )
    SELECT CAST(FLOOR((epoch_us(purchase_ts) - epoch_us(signup_ts))
                      / 86400000000.0) AS BIGINT) AS delay_days,
           COUNT(*) AS n_users
    FROM firsts
    WHERE signup_ts IS NOT NULL AND purchase_ts IS NOT NULL
      AND purchase_ts >= signup_ts
    GROUP BY delay_days
    """,
)
def q144_signup_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activation-delay distribution (signup → first purchase, in whole
    days): both first-touch timestamps come from ONE conditional-min
    aggregate over the log — the q81 funnel trick — so the lifecycle
    metric costs a single user_id shuffle, no self-join of the event
    table against itself.  Exact IEEE floor-division binning."""
    events = load_events(spark, sf_dir)

    def us(c):
        return F.unix_micros(c.cast("timestamp"))

    firsts = events.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "signup", F.col("ts"))
        ).alias("signup_ts"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("purchase_ts"),
    )
    delay = F.floor(
        (us(F.col("purchase_ts")) - us(F.col("signup_ts")))
        / 86400000000.0
    ).cast("long")
    return (
        firsts.where(
            F.col("signup_ts").isNotNull()
            & F.col("purchase_ts").isNotNull()
            & (F.col("purchase_ts") >= F.col("signup_ts"))
        )
        .groupBy(delay.alias("delay_days"))
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@query(
    "q145_null_aware_anti_join",
    """
    WITH probe_keys AS (
        SELECT CASE WHEN o_orderkey % 100 = 0 THEN NULL
                    ELSE o_custkey END AS k
        FROM orders WHERE o_orderkey % 3 = 0
    )
    SELECT
        (SELECT COUNT(*) FROM customer
         WHERE c_custkey NOT IN (SELECT k FROM probe_keys)) AS not_in_n,
        (SELECT COUNT(*) FROM customer ANTI JOIN probe_keys
         ON c_custkey = probe_keys.k) AS anti_join_n,
        (SELECT COUNT(*) FROM customer
         WHERE c_custkey NOT IN (SELECT k FROM probe_keys
                                 WHERE k IS NOT NULL)) AS not_in_filtered_n
    """,
)
def q145_null_aware_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-aware anti-join semantics, side by side: SQL's ``NOT IN``
    against a list containing a NULL is three-valued — no row can prove
    non-membership, so the count is ZERO — while a plain ANTI JOIN
    null-rejects and returns the intuitive answer.  Spark plans the
    former as a null-aware anti join (the expensive broadcast variant)
    and the latter as a hash anti join; both produced here from the same
    probe relation, hash-matched against the oracle's three counts.  The
    production lesson the query encodes: filter NULLs from the subquery
    (third column) and the cheap join returns."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    probe = orders.where(F.col("o_orderkey") % 3 == 0).select(
        F.when(F.col("o_orderkey") % 100 == 0, F.lit(None))
        .otherwise(F.col("o_custkey"))
        .alias("k")
    )
    probe.createOrReplaceTempView("pqs_q145_probe")
    cust.createOrReplaceTempView("pqs_q145_cust")
    not_in = spark.sql(
        "SELECT COUNT(*) AS n FROM pqs_q145_cust "
        "WHERE c_custkey NOT IN (SELECT k FROM pqs_q145_probe)"
    )
    anti = cust.join(
        probe, cust["c_custkey"] == probe["k"], "left_anti"
    ).agg(F.count(F.lit(1)).alias("n"))
    not_in_filtered = cust.join(
        probe.where(F.col("k").isNotNull()).distinct(),
        cust["c_custkey"] == F.col("k"),
        "left_anti",
    ).agg(F.count(F.lit(1)).alias("n"))
    return (
        not_in.select(F.col("n").alias("not_in_n"))
        .crossJoin(anti.select(F.col("n").alias("anti_join_n")))
        .crossJoin(
            not_in_filtered.select(F.col("n").alias("not_in_filtered_n"))
        )
    )


@query(
    "q146_mixture_sampling",
    """
    WITH counts AS (
        SELECT source, COUNT(*) AS n_s FROM documents GROUP BY source
    ),
    budget AS (
        SELECT CAST(SUM(n_s) * 0.6 / COUNT(*) AS BIGINT) AS quota
        FROM counts
    ),
    rates AS (
        SELECT source,
               LEAST(1000000, quota * 1000000 // n_s) AS rate_ppm
        FROM counts, budget
    )
    SELECT d.source, r.rate_ppm, COUNT(*) AS n_selected
    FROM documents d
    JOIN rates r ON d.source = r.source
    WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || '#mix1'),
                          1, 15))::BIGINT % 1000000 < r.rate_ppm
    GROUP BY d.source, r.rate_ppm
    """,
)
def q146_mixture_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset mixture sampling — the data-mixing step of LLM corpus prep:
    per-source quotas (here: uniform mixture over 60% of the corpus)
    converted to integer parts-per-million rates, inclusion decided by a
    pure hash of (doc_id, mixture salt).  All integer math: the rate
    table is exact on every engine, membership is deterministic, re-runs
    and engine swaps reproduce the identical sample — the property that
    makes a 100 TB mixture auditable.  The tiny rate table broadcasts;
    the corpus scan filters in place (no shuffle)."""
    from parquery_spark.operators.dedup import hash64

    docs = load(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    budget = counts.agg(
        (F.sum("n_s") * 0.6 / F.count(F.lit(1)))
        .cast("long")
        .alias("quota")
    )
    rates = counts.crossJoin(F.broadcast(budget)).select(
        "source",
        F.least(
            F.lit(1_000_000).cast("long"),
            F.expr("quota * 1000000 DIV n_s"),
        ).alias("rate_ppm"),
    )
    j = docs.join(F.broadcast(rates), "source")
    return (
        j.where(
            hash64(F.col("doc_id").cast("string"), seed="mix1") % 1_000_000
            < F.col("rate_ppm")
        )
        .groupBy("source", "rate_ppm")
        .agg(F.count(F.lit(1)).alias("n_selected"))
    )


@query(
    "q147_canonical_selection",
    f"""
    WITH RECURSIVE verified AS ({_sql_lsh_verified(15, 5, 2, 1000, 0.5)}),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM verified
        UNION
        SELECT id_b AS src, id_a AS dst FROM verified
    ),
    reach(src, dst) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    cluster AS (
        SELECT src AS v, LEAST(src, MIN(dst)) AS cluster_id
        FROM reach GROUP BY src
    ),
    labeled AS (
        SELECT d.doc_id, d.n_chars,
               COALESCE(c.cluster_id, d.doc_id) AS cluster_id
        FROM documents d LEFT JOIN cluster c ON c.v = d.doc_id
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster_id
                                     ORDER BY n_chars DESC, doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
        FROM labeled
    )
    SELECT cluster_id, cluster_size, doc_id AS keep_id,
           n_chars AS keep_n_chars
    FROM ranked WHERE rn = 1
    """,
)
def q147_canonical_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection per near-dup cluster: after the q62
    transitive closure, each cluster keeps its BEST copy — longest text,
    doc_id tie-break — rather than the arbitrary minimum id; the
    'which duplicate survives' policy of a real corpus dedup.  One window
    over the labeled relation (partitioned by cluster — never global);
    quality policy swaps freely (any deterministic ORDER BY)."""
    from pyspark.sql import Window

    from parquery_spark.operators.graph import dedup_clusters

    docs = load(spark, sf_dir, "documents")
    labeled = dedup_clusters(
        docs, _verified_pairs(spark, sf_dir), "doc_id"
    ).select("doc_id", "cluster_id")
    withq = labeled.join(docs.select("doc_id", "n_chars"), "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    wc = Window.partitionBy("cluster_id")
    return (
        withq.withColumn("rn", F.row_number().over(w))
        .withColumn("cluster_size", F.count(F.lit(1)).over(wc))
        .where(F.col("rn") == 1)
        .select(
            "cluster_id",
            "cluster_size",
            F.col("doc_id").alias("keep_id"),
            F.col("n_chars").alias("keep_n_chars"),
        )
    )


@query(
    "q148_invariant_audit",
    """
    WITH parts AS (
        SELECT l_orderkey,
               SUM(CAST(floor(l_extendedprice * (1 - l_discount)
                              * (1 + l_tax) * 100 + 0.5) AS BIGINT))
                   AS parts_cents
        FROM lineitem GROUP BY l_orderkey
    )
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           COUNT(*) FILTER (parts_cents IS NULL) AS n_no_lineitems,
           COUNT(*) FILTER (
               parts_cents IS NOT NULL
               AND abs(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                       - parts_cents) > 1
           ) AS n_divergent,
           SUM(CASE WHEN parts_cents IS NOT NULL
                    THEN abs(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                             - parts_cents)
                    ELSE 0 END) / 100.0 AS total_abs_gap
    FROM orders LEFT JOIN parts ON o_orderkey = l_orderkey
    GROUP BY o_orderstatus
    """,
)
def q148_invariant_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table business-invariant audit: does each order's header
    total equal the sum of its lines (with discount and tax applied)?
    The reconciliation check every warehouse runs between fact grains.
    One aggregate collapses lineitem to the order grain before the join
    (shuffle carries |orders| rows, not |lineitems|); headers without
    lines and divergent totals are counted per status with the absolute
    gap — the rounded per-order sums make the comparison engine-exact."""
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    # per-LINE integer cents (deterministic per-row floor on identical
    # doubles), summed exactly: any double-domain order-total at sf0.1
    # magnitude (~1e10) carries ~0.5 absolute summation error — beyond
    # every rounding discipline.  This is also the realistic ledger rule:
    # money is rounded per line item, then summed.
    line_cents = F.floor(
        F.col("l_extendedprice")
        * (1 - F.col("l_discount"))
        * (1 + F.col("l_tax"))
        * 100
        + F.lit(0.5)
    ).cast("long")
    parts = li.groupBy("l_orderkey").agg(
        F.sum(line_cents).alias("parts_cents")
    )
    j = orders.join(
        parts, orders["o_orderkey"] == parts["l_orderkey"], "left"
    )
    header_cents = F.floor(
        F.col("o_totalprice") * 100 + F.lit(0.5)
    ).cast("long")
    gap_cents = F.abs(header_cents - F.col("parts_cents"))
    return j.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count(
            F.when(F.col("parts_cents").isNull(), 1)
        ).alias("n_no_lineitems"),
        F.count(
            F.when(F.col("parts_cents").isNotNull() & (gap_cents > 1), 1)
        ).alias("n_divergent"),
        (
            F.sum(
                F.when(
                    F.col("parts_cents").isNotNull(), gap_cents
                ).otherwise(F.lit(0))
            )
            / 100.0
        ).alias("total_abs_gap"),
    )


@query(
    "q149_grouped_agg_udaf",
    """
    WITH q AS (
        SELECT event_type,
               quantile_cont(value, 0.1) AS lo,
               quantile_cont(value, 0.9) AS hi
        FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           ROUND(AVG(e.value), 6) AS trimmed_mean,
           COUNT(*) AS n_used
    FROM events e JOIN q ON e.event_type = q.event_type
    WHERE e.value BETWEEN q.lo AND q.hi
    GROUP BY e.event_type
    """,
)
def q149_grouped_agg_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom aggregation through a GROUPED_AGG pandas UDF — PySpark's
    UDAF surface (Series in, scalar out per group), completing the Python
    integration matrix: here a 10-90% trimmed mean, whose trim boundaries
    (pandas linear-interpolated quantiles == DuckDB quantile_cont, same
    (n-1)q formula) and member count are replicated by the oracle.
    Grouped-agg UDFs can't partial-aggregate — each group's full series
    ships to one worker — so at 100 TB this is for moderate-cardinality
    groups; unbounded-cardinality trims switch to the two-pass
    quantile-join shape the oracle itself uses."""
    import pandas as pd
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    def _trimmed(s):
        lo, hi = s.quantile(0.1), s.quantile(0.9)
        return float(s[(s >= lo) & (s <= hi)].mean())

    def _trimmed_n(s):
        lo, hi = s.quantile(0.1), s.quantile(0.9)
        return int(((s >= lo) & (s <= hi)).sum())

    trimmed = pandas_udf(_trimmed, "double", PandasUDFType.GROUPED_AGG)
    trimmed_n = pandas_udf(_trimmed_n, "long", PandasUDFType.GROUPED_AGG)
    events = load_events(spark, sf_dir)
    return events.groupBy("event_type").agg(
        F.round(trimmed(F.col("value")), 6).alias("trimmed_mean"),
        trimmed_n(F.col("value")).alias("n_used"),
    )


@query(
    "q150_corpus_prep_pipeline",
    f"""
    WITH filtered AS (
        SELECT doc_id, source, text,
               md5({_SQL_NORMALIZED_TEXT}) AS fp,
               length(list_filter(string_split_regex(lower(text),
                      '[^a-z0-9'']+'), t -> t != '')) AS n_tokens
        FROM documents
        WHERE lang = 'en' AND n_chars >= 200
    ),
    kept AS (
        SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY fp
                                         ORDER BY doc_id) AS rn
            FROM filtered
        ) WHERE rn = 1
    ),
    sampled AS (
        SELECT * FROM kept
        WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#corpus1'),
                              1, 15))::BIGINT % 1000000 < 500000
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(CEIL(CAST(n_tokens AS DOUBLE) / 512)) AS BIGINT)
               AS n_chunks
    FROM sampled GROUP BY source
    """,
)
def q150_corpus_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LLM corpus-prep pipeline END TO END in one lazy plan — the
    composition a user of this engine actually ships: quality gate (lang
    + length) pushed into the scan, near-exact dedup (normalized-text
    fingerprint, first-id survivor), deterministic hash sampling (50%,
    pure function of doc_id + salt), and training accounting (token totals
    and 512-token chunk counts per source).  One scan, one fp shuffle,
    one final aggregate; every stage reuses an operator gated elsewhere
    (q41 dedup, q58 sampling, q48 token stats, q89 chunk math), and the
    whole composition is hash-matched here — the proof the pieces compose
    without semantic drift."""
    from pyspark.sql import Window

    from parquery_spark.functions.text import fingerprint
    from parquery_spark.operators.dedup import hash64, shingle_tokens

    docs = load(spark, sf_dir, "documents")
    filtered = docs.where(
        (F.col("lang") == "en") & (F.col("n_chars") >= 200)
    ).select(
        "doc_id",
        "source",
        fingerprint(F.col("text")).alias("fp"),
        F.size(shingle_tokens("text")).cast("long").alias("n_tokens"),
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    kept = (
        filtered.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    sampled = kept.where(
        hash64(F.col("doc_id").cast("string"), seed="corpus1") % 1_000_000
        < 500_000
    )
    return sampled.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum(
            F.ceil(F.col("n_tokens").cast("double") / 512)
        ).alias("n_chunks"),
    )


# ===========================================================================
# TPC-H completion set (continuation session 2): every remaining TPC-H query
# expressible on the trimmed schema (no partsupp / commitdate / receiptdate,
# so Q2/Q4/Q9/Q11/Q12/Q16/Q20/Q21 have shape-adapted or no equivalents).
# ===========================================================================

@query(
    "q151_tpch_q6",
    """
    SELECT CAST(floor((SUM(CAST(floor(l_extendedprice * l_discount
                      * 10000 + 0.5) AS BIGINT)) + 50) / 100) AS DOUBLE)
               / 100 AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q151_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): the canonical
    pushdown-everything query — three conjunctive range predicates, all
    reaching the parquet scan as PushedFilters, one global aggregate with
    map-side partials and no shuffle of data rows.  At 100 TB this is
    bounded by scan bandwidth alone; row-group stats skip everything
    outside the ship-date year."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            _e4_to_cents(
                F.sum(
                    F.floor(
                        F.col("l_extendedprice") * F.col("l_discount")
                        * 10000
                        + F.lit(0.5)
                    ).cast("long")
                )
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "q152_tpch_q7",
    """
    SELECT supp_nation, cust_nation, l_year,
           CAST(floor((SUM(volume_e4) + 50) / 100) AS DOUBLE) / 100
               AS revenue
    FROM (
        SELECT n1.n_name AS supp_nation,
               n2.n_name AS cust_nation,
               CAST(year(l_shipdate) AS INT) AS l_year,
               CAST(floor(l_extendedprice * (1 - l_discount) * 10000
                          + 0.5) AS BIGINT) AS volume_e4
        FROM lineitem
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey  = o_custkey
        JOIN supplier ON s_suppkey  = l_suppkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
          AND l_shipdate BETWEEN TIMESTAMP '1996-01-01'
                             AND TIMESTAMP '1997-12-31'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q152_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): bidirectional nation-pair trade flow.
    Both nation legs and both entity dims (supplier, customer) broadcast —
    the fact table shuffles once for the orders join and never again; the
    nation-pair disjunction filters AFTER the broadcast joins so Catalyst
    keeps it a post-join filter on two tiny-cardinality columns."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    j = (
        li.where(
            F.col("l_shipdate").between(
                F.lit("1996-01-01").cast("timestamp"),
                F.lit("1997-12-31").cast("timestamp"),
            )
        )
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), F.col("o_custkey") == cust["c_custkey"])
        .join(F.broadcast(supp), F.col("l_suppkey") == supp["s_suppkey"])
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .where(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
    )
    return j.groupBy(
        "supp_nation",
        "cust_nation",
        F.year("l_shipdate").cast("int").alias("l_year"),
    ).agg(_e4_to_cents(F.sum(_rev_e4())).alias("revenue"))


@query(
    "q153_tpch_q8",
    """
    SELECT o_year,
           ROUND(CAST(SUM(CASE WHEN nation = 'NATION_3' THEN volume_e4
                          ELSE 0 END) AS DOUBLE) / SUM(volume_e4), 6)
               AS mkt_share
    FROM (
        SELECT CAST(year(o_orderdate) AS INT) AS o_year,
               CAST(floor(l_extendedprice * (1 - l_discount) * 10000
                          + 0.5) AS BIGINT) AS volume_e4,
               n2.n_name AS nation
        FROM lineitem
        JOIN part     ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region    ON n1.n_regionkey = r_regionkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        WHERE r_name = 'ASIA'
          AND o_orderdate BETWEEN TIMESTAMP '1995-01-01'
                              AND TIMESTAMP '1996-12-31'
          AND p_type = 'ECONOMY'
    ) all_nations
    GROUP BY o_year
    """,
)
def q153_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): a nation's share of regional
    trade volume in one product segment, per year.  Classic
    conditional-aggregation ratio — one pass, no self-join; every
    dimension (part, supplier, customer, nation x2, region) broadcasts,
    the fact shuffles once on orderkey.  The p_type filter prunes parts
    BEFORE the broadcast so the fact-side join discards non-segment lines
    in the probe."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY")
    supp = load(spark, sf_dir, "supplier")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"),
        F.col("n_regionkey").alias("n1_region"),
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    j = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            orders.where(
                F.col("o_orderdate").between(
                    F.lit("1995-01-01").cast("timestamp"),
                    F.lit("1996-12-31").cast("timestamp"),
                )
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(region), F.col("n1_region") == F.col("r_regionkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
    )
    vol = _rev_e4()
    return j.groupBy(
        F.year("o_orderdate").cast("int").alias("o_year")
    ).agg(
        F.round(
            F.sum(
                F.when(F.col("nation") == "NATION_3", vol).otherwise(F.lit(0))
            ).cast("double")
            / F.sum(vol),
            6,
        ).alias("mkt_share")
    )


@query(
    "q154_tpch_q15",
    """
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               CAST(floor((SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5) AS BIGINT)) + 50) / 100) AS DOUBLE) / 100
                   AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate <  TIMESTAMP '1997-04-01'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
)
def q154_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): quarterly revenue view + scalar-subquery
    max — the arg-max-with-ties shape.  Revenue is rounded to cents
    BEFORE the max comparison so double partial-agg order can't split a
    tie between engines.  The per-supplier rollup is the only shuffle;
    the max is a one-row broadcast joined back, and the supplier dim
    broadcasts — no window, no global sort."""
    li = load(spark, sf_dir, "lineitem")
    supp = load(spark, sf_dir, "supplier")
    revenue = (
        # isnotnull(l_suppkey) is what the supplier join would infer into
        # ONLY the join-back branch (defeating the max-branch exchange
        # reuse) — assert it on the shared relation instead
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
            & F.col("l_suppkey").isNotNull()
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(_e4_to_cents(F.sum(_rev_e4())).alias("total_revenue"))
    )
    # the max branch and the join-back branch share revenue's
    # supplier-grain exchange via ReuseExchange — no persist
    mx = revenue.agg(F.max("total_revenue").alias("__mx"))
    top = revenue.join(
        F.broadcast(mx), F.col("total_revenue") == F.col("__mx")
    ).drop("__mx")
    return (
        F.broadcast(supp)
        .join(top, F.col("s_suppkey") == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "q155_tpch_q17",
    """
    SELECT ROUND(CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5)
                      AS BIGINT)) AS DOUBLE) / 700, 2) AS avg_yearly,
           COUNT(*) AS n_lines
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#3' AND p_size < 15
      AND l_quantity < (
          SELECT 0.2 * AVG(l_quantity)
          FROM lineitem l2 WHERE l2.l_partkey = p_partkey
      )
    """,
)
def q155_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue): correlated scalar
    subquery — average quantity PER PART decides which lines count.
    Decorrelated by hand into one per-part aggregate joined back to the
    fact (exactly what Catalyst's subquery decorrelation would emit):
    the threshold side aggregates the FULL lineitem (the correlation is
    on partkey alone, not the brand filter), the brand/size part filter
    broadcasts, and the comparison is engine-exact because integral
    quantities sum exactly in double regardless of partial order."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").where(
        (F.col("p_brand") == "Brand#3") & (F.col("p_size") < 15)
    )
    thresholds = li.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_threshold")
    )
    j = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(thresholds, F.col("l_partkey") == F.col("t_partkey"))
        .where(F.col("l_quantity") < F.col("qty_threshold"))
    )
    return j.agg(
        F.round(
            F.sum(
                F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
                .cast("long")
            ).cast("double")
            / 700,
            2,
        ).alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@query(
    "q156_tpch_q4_shape",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1996-07-01'
      AND EXISTS (
          SELECT 1 FROM lineitem
          WHERE l_orderkey = o_orderkey
            AND l_shipdate > o_orderdate + INTERVAL 90 DAY
      )
    GROUP BY o_orderpriority
    """,
)
def q156_tpch_q4_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (order priority checking), shape-adapted: the trimmed
    schema has no commit/receipt dates, so 'late order' is an EXISTS over
    lineitems shipped >90 days after the order date — the same
    correlated-EXISTS → LeftSemi decorrelation the real Q4 exercises.
    The semi join keeps at most one match per order and drops the
    lineitem payload before the aggregate; the date filter prunes the
    orders scan."""
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    filtered = orders.where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    late = filtered.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAY")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


@query(
    "q157_stream_stream_join",
    """
    WITH pairs AS (
        SELECT c.user_id,
               (epoch_us(p.ts) - epoch_us(c.ts)) / 1000000.0 AS delay_sec
        FROM events c JOIN events p
          ON c.user_id = p.user_id
         AND c.event_type = 'click' AND p.event_type = 'purchase'
         AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    )
    SELECT COUNT(*) AS n_pairs,
           COUNT(DISTINCT user_id) AS n_users,
           ROUND(AVG(delay_sec), 6) AS avg_delay_sec,
           ROUND(MAX(delay_sec), 6) AS max_delay_sec
    FROM pairs
    """,
)
def q157_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM inner interval join through the real streaming
    engine — in the PRE-AGGREGATED shape (``interval_join_preagg``):
    click and purchase events from the same watermarked file stream,
    each side first aggregated to (user, sliding 2h window) grain with
    packed timestamp arrays, the two aggregated streams joined on
    (window, user) equality, and the exact pairs (purchase within 1h of
    the click) enumerated from the arrays with higher-order functions.

    This shape exists because the RAW watermarked interval join (q170
    keeps it as the documented worst case) buffers every in-watermark
    event as its own state row — state measured exactly linear in event
    rate (8.7 MB → 822 MB at ×100, SCALING.md round 9).  Here state
    rows are bounded by distinct (user, window) — invariant to rate —
    which is what makes the operator survive an unbounded high-rate
    feed.  Results are identical: delays are still exact
    integer-microsecond differences of the original timestamps, gated
    against the same batch self-join oracle.

    Aggregated rows only EMIT once the watermark passes their window,
    so the source carries the ``_sentinel_stream_dir`` closing batches
    (one sentinel per filtered type — q170's mechanism); the sentinel
    user is filtered batch-side."""
    from parquery_spark.streaming.events import (
        events_stream,
        interval_join_preagg,
    )

    def joined():
        src = _sentinel_stream_dir(
            spark, sf_dir, types=("click", "purchase")
        )
        opts = {"maxFilesPerTrigger": "1"}
        clicks = (
            events_stream(spark, src, watermark="2 hours", options=opts)
            .where(F.col("event_type") == "click")
            .select("user_id", F.col("ts").alias("c_ts"))
        )
        purchases = (
            events_stream(spark, src, watermark="2 hours", options=opts)
            .where(F.col("event_type") == "purchase")
            .select("user_id", F.col("ts").alias("p_ts"))
        )
        return interval_join_preagg(
            clicks, purchases, "user_id", "c_ts", "p_ts", interval_sec=3600
        ).select(
            "user_id",
            (
                (F.unix_micros("p_ts") - F.unix_micros("c_ts")) / 1000000.0
            ).alias("delay_sec"),
        )

    pairs = _drained(
        spark, sf_dir, "events", f"v2+{_SENTINEL_TAG}", "q157_drain", joined
    ).where(F.col("user_id") >= 0)
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.avg("delay_sec"), 6).alias("avg_delay_sec"),
        F.round(F.max("delay_sec"), 6).alias("max_delay_sec"),
    )


@query(
    "q158_triangle_count",
    """
    WITH edges AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    deg AS (
        SELECT node, COUNT(*) AS d FROM (
            SELECT u AS node FROM edges
            UNION ALL SELECT v AS node FROM edges
        ) GROUP BY node
    ),
    oriented AS (
        -- direct each edge from lower (degree, id) to higher: bounds the
        -- wedge join by out-degree <= sqrt(2m)
        SELECT CASE WHEN (du.d, u) < (dv.d, v) THEN u ELSE v END AS s,
               CASE WHEN (du.d, u) < (dv.d, v) THEN v ELSE u END AS t
        FROM edges JOIN deg du ON du.node = u JOIN deg dv ON dv.node = v
    ),
    tri AS (
        SELECT COUNT(*) AS n_triangles
        FROM oriented e1
        JOIN oriented e2 ON e2.s = e1.t
        JOIN oriented e3 ON e3.s = e1.s AND e3.t = e2.t
    )
    SELECT (SELECT COUNT(*) FROM edges) AS n_edges,
           (SELECT CAST(SUM(d * (d - 1) / 2) AS BIGINT) FROM deg)
               AS n_wedges,
           n_triangles,
           ROUND(3.0 * n_triangles /
                 (SELECT SUM(d * (d - 1) / 2) FROM deg), 6)
               AS clustering_coeff
    FROM tri
    """,
)
def q158_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed triangle counting on the co-purchase graph (parts
    bought in the same order), with the degree-orientation optimization:
    every edge is directed from its lower-(degree, id) endpoint, so each
    triangle is generated exactly once and the wedge join's fan-out per
    vertex is bounded by out-degree <= sqrt(2m) — the standard trick that
    keeps the join volume near m^1.5 instead of sum(d^2) on power-law
    graphs.  Edge building is bounded per order (basket-size fan-out,
    like q128's co-occurrence); wedges shuffle on the pivot vertex and
    close via one more hash join on the (s, t) pair.  Global clustering
    coefficient = 3*triangles / wedges comes from the same degree
    relation — everything integer-exact except the final rounded ratio."""
    # the co-purchase edge set is a corpus-pure derived graph — staged
    # once as a stat-keyed storage artifact (the q132 pagerank-edges
    # pattern; round-9 honesty note: the former warm numbers here were
    # reading triangle_stats' leaked internal persists across calls)
    def _build_edges(t):
        li = load(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey"
        )
        a = li.select(
            F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("u")
        )
        b = li.select(
            F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("v")
        )
        (
            a.join(b, "k")
            .where(F.col("u") < F.col("v"))
            .select("u", "v")
            .distinct()
            .write.parquet(t)
        )

    edir = artifact(
        sf_dir, "lineitem", "tri-edges-v1", "triedges", _build_edges,
    )
    from parquery_spark.operators.graph import triangle_stats

    # round 12 note: deriving the edge count from parquet footers and
    # passing it as a literal (skipping triangle_stats' count() job)
    # measured SLOWER (2.27 -> 2.73 s min-of-5): the count job doubles as
    # the cheap materialization of the persisted edge relation, which the
    # summary job's branches otherwise race to build.  Kept as-is.
    return triangle_stats(relations.get_relation(spark, edir))


@query(
    "q159_fuzzy_dedup_verify",
    f"""
    WITH cand AS ({_sql_minhash_lsh(16, 4, 2, 1000)}),
    norm AS (
        SELECT doc_id, substr({_SQL_NORMALIZED_TEXT}, 1, 120) AS prefix
        FROM documents
    )
    SELECT id_a, id_b,
           CAST(levenshtein(na.prefix, nb.prefix) AS BIGINT) AS edit_dist,
           levenshtein(na.prefix, nb.prefix) <= 30 AS is_dup
    FROM cand
    JOIN norm na ON na.doc_id = id_a
    JOIN norm nb ON nb.doc_id = id_b
    """,
)
def q159_fuzzy_dedup_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy dedup with edit-distance verification: MinHash-LSH proposes
    candidate pairs (the q43 generator over the SAME stat-keyed banded
    signature artifact), then Levenshtein distance over a 120-char
    normalized prefix confirms.
    The O(len^2) DP runs ONLY on LSH candidates — bounded by band
    collisions, never all pairs — and the prefix cap bounds each DP at
    120x120 regardless of document length; both are what keep
    edit-distance dedup feasible at corpus scale.  Distance is computed
    JVM-side (built-in levenshtein), replicated exactly by DuckDB's."""
    from parquery_spark.functions.text import normalized_text
    from parquery_spark.operators.dedup import lsh_candidate_pairs

    docs = load(spark, sf_dir, "documents")
    cand = lsh_candidate_pairs(
        docs, "text", "doc_id",
        num_hashes=16, bands=4, shingle_k=2, max_bucket_size=1000,
        banded=_mh_banded(spark, sf_dir),
    ).select("id_a", "id_b", "est_jaccard")
    norm = docs.select(
        "doc_id",
        F.substring(normalized_text(F.col("text")), 1, 120).alias("prefix"),
    )
    na = norm.select(
        F.col("doc_id").alias("id_a"), F.col("prefix").alias("pa")
    )
    nb = norm.select(
        F.col("doc_id").alias("id_b"), F.col("prefix").alias("pb")
    )
    dist = F.levenshtein(F.col("pa"), F.col("pb"))
    return (
        cand.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            dist.cast("long").alias("edit_dist"),
            (dist <= 30).alias("is_dup"),
        )
    )


@query(
    "q160_mixture_weights",
    """
    WITH per_source AS (
        SELECT source,
               COUNT(*) AS n_docs,
               CAST(SUM(length(list_filter(
                   string_split_regex(lower(text), '[^a-z0-9'']+'),
                   t -> t != ''))) AS BIGINT) AS total_tokens
        FROM documents GROUP BY source
    ),
    tot AS (
        SELECT SUM(power(CAST(total_tokens AS DOUBLE), 0.5)) AS z_sqrt,
               SUM(CAST(total_tokens AS DOUBLE)) AS z_prop
        FROM per_source
    )
    SELECT source, n_docs, total_tokens,
           ROUND(power(CAST(total_tokens AS DOUBLE), 0.5) / z_sqrt, 6)
               AS weight_t05,
           ROUND(CAST(total_tokens AS DOUBLE) / z_prop, 6)
               AS weight_prop
    FROM per_source, tot
    """,
)
def q160_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture weights per source (UniMax/temperature-sampling
    style): token counts per source, normalized proportionally and with
    a 0.5-temperature exponent that up-weights small sources — the
    computation every multi-source pretraining run does before writing
    its sampling config.  One aggregate to source grain (token counting
    fused into the scan pass); the normalizers are GLOBAL WINDOW sums
    over the already-aggregated |sources|-row relation — one linear
    pipeline, so the corpus is scanned once with nothing persisted (the
    single-partition window funnel only ever sees source-grain rows)."""
    from pyspark.sql import Window

    from parquery_spark.functions.text import token_count

    docs = load(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col("text")).cast("long")).alias("total_tokens"),
    )
    tok_d = F.col("total_tokens").cast("double")
    w = Window.partitionBy()
    z_sqrt = F.sum(F.pow(tok_d, 0.5)).over(w)
    z_prop = F.sum(tok_d).over(w)
    return per_source.select(
        "source",
        "n_docs",
        "total_tokens",
        F.round(F.pow(tok_d, 0.5) / z_sqrt, 6).alias("weight_t05"),
        F.round(tok_d / z_prop, 6).alias("weight_prop"),
    )


@query(
    "q161_gram_matrix",
    """
    SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
           CAST(SUM(
               CAST(floor(CAST(embedding[i + 1] AS DOUBLE) * 1000 + 0.5)
                    AS BIGINT)
             * CAST(floor(CAST(embedding[j + 1] AS DOUBLE) * 1000 + 0.5)
                    AS BIGINT)
           ) AS BIGINT) AS gram
    FROM embeddings,
         (SELECT unnest(range(64)) AS i) ii,
         (SELECT unnest(range(64)) AS j) jj
    GROUP BY i, j
    """,
)
def q161_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Gram matrix X^T X over the embedding corpus — the
    reduction under covariance/PCA/whitening at 100 TB: each Arrow batch
    collapses to one 64x64 int64 partial via a numpy matmul inside
    mapInPandas, and only those d^2-sized partials shuffle (three-int
    rows; volume is batches x 4096, independent of corpus size).
    Quantizing with the engine-stable floor(x*1000 + 0.5) makes every
    partial exact, so the merged matrix hash-matches the oracle's
    sequential sum — the q141 exact-domain recipe applied to linear
    algebra.  ``operators.linalg.pca_components`` finishes eigvecs
    driver-side from these 4096 scalars (pytest-gated)."""
    from parquery_spark.operators.linalg import gram_matrix

    emb = load(spark, sf_dir, "embeddings")
    return gram_matrix(emb, "embedding", dim=64, scale=1000)


@query(
    "q162_incremental_view_maintenance",
    """
    SELECT event_type,
           CAST(SUM(sign) AS BIGINT) AS n,
           SUM(sign * CAST(floor(value * 100 + 0.5) AS BIGINT)) / 100.0
               AS total_value
    FROM (
        SELECT event_type, value,
               CASE WHEN ts < TIMESTAMP '2024-01-15' THEN 1
                    WHEN CAST(regexp_extract(props, '[0-9]+') AS BIGINT)
                         % 2 = 0 THEN 1
                    ELSE -1 END AS sign
        FROM events
    )
    GROUP BY event_type
    HAVING SUM(sign) > 0
    """,
)
def q162_incremental_view_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Algebraic incremental view maintenance: a maintained SUM/COUNT
    rollup absorbs a signed changelog (inserts +1/+v, retractions
    -1/-v) WITHOUT re-reading the base — delta propagation for
    distributive aggregates, the mechanism behind streaming materialized
    views.  Base = events before Jan 15 rolled up per type; changelog =
    later events, insert/retract decided by the payload key's parity.
    The merge is a full-outer join on the group key costing O(|groups| +
    |delta|); the oracle recomputes the same view directly from the whole
    log, so the gate proves maintained == recomputed — the IVM
    correctness contract."""
    from parquery_spark.operators.maintenance import merge_aggregate_delta

    events = load_events(spark, sf_dir)
    cutoff = F.lit("2024-01-15").cast("timestamp")
    base = (
        events.where(F.col("ts") < cutoff)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_cents()).alias("total_value"),
        )
    )
    sign = F.when(
        F.regexp_extract("props", "[0-9]+", 0).cast("long") % 2 == 0, 1
    ).otherwise(-1)
    delta = (
        events.where(F.col("ts") >= cutoff)
        .select("event_type", "value", sign.alias("sign"))
        .groupBy("event_type")
        .agg(
            F.sum("sign").alias("n"),
            F.sum(F.col("sign") * _cents()).alias("total_value"),
        )
    )
    merged = merge_aggregate_delta(
        base, delta, ["event_type"], ["total_value"], count_col="n"
    )
    return merged.select(
        "event_type",
        "n",
        (F.col("total_value") / 100.0).alias("total_value"),
    )


@query(
    "q163_quality_suite",
    """
    SELECT 'not_null(o_custkey)' AS check,
           ROUND(CAST(COUNT(o_custkey) AS DOUBLE) / COUNT(*), 6) AS metric,
           CAST(COUNT(o_custkey) AS DOUBLE) / COUNT(*) >= 1.0 AS passed
    FROM orders
    UNION ALL
    SELECT 'unique(o_orderkey)',
           ROUND(CAST(COUNT(DISTINCT o_orderkey) AS DOUBLE)
                 / COUNT(o_orderkey), 6),
           CAST(COUNT(DISTINCT o_orderkey) AS DOUBLE)
                 / COUNT(o_orderkey) >= 1.0
    FROM orders
    UNION ALL
    SELECT 'bounds(o_totalprice)',
           ROUND(CAST(SUM(CASE WHEN o_totalprice NOT BETWEEN 0 AND 1000000
                               THEN 1 ELSE 0 END) AS DOUBLE), 6),
           SUM(CASE WHEN o_totalprice NOT BETWEEN 0 AND 1000000
                    THEN 1 ELSE 0 END) = 0
    FROM orders
    UNION ALL
    SELECT 'accepted_values(o_orderstatus)',
           ROUND(CAST(SUM(CASE WHEN o_orderstatus NOT IN ('F','O','P')
                               OR o_orderstatus IS NULL
                               THEN 1 ELSE 0 END) AS DOUBLE), 6),
           SUM(CASE WHEN o_orderstatus NOT IN ('F','O','P')
                    OR o_orderstatus IS NULL THEN 1 ELSE 0 END) = 0
    FROM orders
    UNION ALL
    SELECT 'row_count',
           ROUND(CAST(COUNT(*) AS DOUBLE), 6),
           COUNT(*) >= 100
    FROM orders
    UNION ALL
    SELECT 'referential(o_custkey)',
           ROUND(CAST((SELECT COUNT(*) FROM orders
                       WHERE o_custkey NOT IN
                             (SELECT c_custkey FROM customer)) AS DOUBLE), 6),
           (SELECT COUNT(*) FROM orders
            WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)) = 0
    """,
)
def q163_quality_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality suite (Deequ-style) compiled to ONE
    aggregate pass: completeness, uniqueness, bounds, accepted values and
    row count all become expressions in a single global agg (the whole
    suite = one scan however many checks), plus one broadcast LeftAnti
    join for referential integrity — the per-ingest-batch validation a
    100 TB pipeline runs before publishing a partition.  Long-form
    (check, metric, passed) output; the unpivot Expand multiplies one
    aggregated row, never the table."""
    from parquery_spark.operators import quality as Q

    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    suite = Q.run_checks(
        orders,
        [
            Q.not_null("o_custkey"),
            Q.unique("o_orderkey"),
            Q.bounds("o_totalprice", 0, 1_000_000),
            Q.accepted_values("o_orderstatus", ["F", "O", "P"]),
            Q.row_count_at_least(100),
        ],
    )
    fk = Q.referential_check(orders, "o_custkey", customer, "c_custkey")
    return suite.unionAll(fk)


@query(
    "q164_rolling_sketch_wau",
    """
    WITH du AS (
        SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day,
               user_id
        FROM events
    ),
    days AS (SELECT DISTINCT day FROM du)
    SELECT epoch_us(CAST(d.day AS TIMESTAMP)) AS day_us,
           CAST(COUNT(DISTINCT du.user_id) AS BIGINT) AS exact_wau,
           TRUE AS estimate_within_bound
    FROM days d JOIN du
      ON du.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
    GROUP BY d.day
    """,
)
def q164_rolling_sketch_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct users from MERGEABLE PER-DAY SKETCHES: one
    HLL sketch per day (a few KB — the persisted state), each window day
    unions <= 7 sketches instead of re-deduping raw rows.  This is the
    O(1)-state-per-day scale path next to q140's exact day-grain shape:
    at 100 TB the day-user grain itself explodes, the sketch state
    doesn't, and yesterday's sketches never get recomputed.  Gated the
    q54 way — the exact WAU is hash-matched and a boolean asserts every
    window estimate inside 5x the lg_k=12 HLL standard error."""
    events = load_events(spark, sf_dir)
    day = F.date_trunc("day", F.col("ts").cast("timestamp")).cast("date")
    sketches = (
        events.select(day.alias("day"), "user_id")
        .groupBy("day")
        .agg(F.hll_sketch_agg("user_id", F.lit(12)).alias("sk"))
    )
    # days comes from the day-user relation, NOT the sketch relation:
    # each relation then has consumers whose subplans are identical
    # below their exchanges (du: days + exact; sketches: merged only),
    # so ReuseExchange shares the work with nothing persisted — deriving
    # days from sketches would let the days branch prune the sketch
    # aggregate out of its exchange copy and recompute the HLL pass
    du = (
        events.select(day.alias("day"), "user_id").distinct()
    )
    days = du.select("day").distinct().withColumnRenamed("day", "d")
    merged = (
        days.join(
            sketches,
            (F.col("day") >= F.date_sub(F.col("d"), 6))
            & (F.col("day") <= F.col("d")),
        )
        .groupBy("d")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
        )
    )
    exact = (
        days.join(
            du,
            (F.col("day") >= F.date_sub(F.col("d"), 6))
            & (F.col("day") <= F.col("d")),
        )
        .groupBy("d")
        .agg(F.count_distinct("user_id").alias("exact_wau"))
    )
    rel_err = 5 * 1.04 / (2 ** 12) ** 0.5
    return exact.join(merged, "d").select(
        F.unix_micros(F.col("d").cast("timestamp")).alias("day_us"),
        "exact_wau",
        (
            F.abs(F.col("est") - F.col("exact_wau"))
            <= F.lit(rel_err) * F.col("exact_wau")
        ).alias("estimate_within_bound"),
    )


@query(
    "q165_mad_outliers",
    """
    WITH stats AS (
        SELECT event_type,
               ROUND(quantile_cont(value, 0.5), 6) AS med
        FROM events GROUP BY event_type
    ),
    mads AS (
        SELECT e.event_type,
               ROUND(quantile_cont(abs(e.value - s.med), 0.5), 6) AS mad
        FROM events e JOIN stats s ON e.event_type = s.event_type
        GROUP BY e.event_type
    )
    SELECT e.event_type,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN abs(e.value - s.med) > 4.4478 * m.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           s.med AS median_value,
           m.mad AS mad
    FROM events e
    JOIN stats s ON e.event_type = s.event_type
    JOIN mads m ON e.event_type = m.event_type
    GROUP BY e.event_type, s.med, m.mad
    """,
)
def q165_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via median absolute deviation — the
    heavy-tail-safe alternative to q113's z-score (mean/stddev are
    themselves dragged by the outliers they're hunting; median/MAD are
    50%-breakdown robust).  Two exact-percentile passes at GROUP grain
    with the tiny stats broadcast back (zero fact re-shuffle, q113's
    shape); the 3-sigma-equivalent threshold is 3 x 1.4826 x MAD.  Both
    quantiles are ROUNDED to 6 digits BEFORE thresholding so the
    engines' last-ulp interpolation differences can't flip a borderline
    classification — the float-discipline rule applied to an
    intermediate, not just an output."""
    events = load_events(spark, sf_dir).select("event_type", "value")
    stats = events.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("med")
    )
    with_med = events.join(F.broadcast(stats), "event_type")
    mads = with_med.groupBy("event_type").agg(
        F.round(
            F.percentile(F.abs(F.col("value") - F.col("med")), F.lit(0.5)),
            6,
        ).alias("mad")
    )
    j = with_med.join(F.broadcast(mads), "event_type")
    is_out = F.abs(F.col("value") - F.col("med")) > 4.4478 * F.col("mad")
    return j.groupBy("event_type", "med", "mad").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(is_out, 1).otherwise(0)).cast("long").alias("n_outliers"),
    ).select(
        "event_type",
        "n",
        "n_outliers",
        F.col("med").alias("median_value"),
        "mad",
    )


@query(
    "q166_arrow_python_udf",
    """
    SELECT substr(reverse(lower(source)), 1, 8)
               || CAST(length(source) % 97 AS VARCHAR) AS short_code,
           COUNT(*) AS n_docs
    FROM documents GROUP BY 1
    """,
)
def q166_arrow_python_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-optimized scalar Python UDF (useArrow=True) — the last cell
    of the Python-integration matrix (q131 pandas UDF, q133
    applyInPandas, q50 mapInPandas, q134 UDTF, q126 foreachBatch, q97
    state, q149 grouped-agg): rows cross to Python in Arrow record
    batches instead of pickled one-at-a-time, ~2-5x the throughput of a
    classic UDF while keeping the per-row programming model.  Still the
    slow path vs built-in Columns (the oracle shows the same logic as
    pure SQL) — the engine rule stands: UDFs only where expressions
    can't reach; this query exists to pin the surface works and matches
    its expression twin exactly."""
    def _short_code(s: str) -> str:
        return s[::-1].lower()[:8] + str(len(s) % 97)

    short_code = F.udf(_short_code, "string", useArrow=True)
    docs = load(spark, sf_dir, "documents")
    return docs.groupBy(
        short_code(F.col("source")).alias("short_code")
    ).agg(F.count(F.lit(1)).alias("n_docs"))


@query(
    "q167_semdedup",
    f"""
    WITH expl AS (
        SELECT vec_id,
               CAST(z[2] AS INTEGER) AS pos,
               CAST(z[1] AS DOUBLE) AS x
        FROM (SELECT vec_id,
                     unnest(list_zip(embedding::DOUBLE[],
                                     range(len(embedding)))) AS z
              FROM embeddings)
    ),
    cent0 AS (
        SELECT e.vec_id AS cluster, e.pos, e.x AS c
        FROM expl e
        JOIN (SELECT vec_id FROM embeddings ORDER BY vec_id
              LIMIT (SELECT GREATEST(2, CAST(ceil(COUNT(*) / 64.0)
                                             AS BIGINT))
                     FROM embeddings)) s
          ON e.vec_id = s.vec_id
    ),
    {_sql_kmeans_assign("cent0", "a1")},
    {_sql_kmeans_update("a1", "cent1")},
    {_sql_kmeans_assign("cent1", "a2")},
    {_sql_kmeans_update("a2", "cent2")},
    {_sql_kmeans_assign("cent2", "a3")},
    norms AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               sqrt(list_dot_product(embedding::DOUBLE[],
                                     embedding::DOUBLE[])) AS nrm
        FROM embeddings
    ),
    pairs AS (
        SELECT aa.cluster, ab.vec_id AS id_drop,
               ROUND(list_dot_product(na.v, nb.v) / (na.nrm * nb.nrm), 6)
                   AS sim
        FROM a3 aa JOIN a3 ab
          ON aa.cluster = ab.cluster AND aa.vec_id < ab.vec_id
        JOIN norms na ON na.vec_id = aa.vec_id
        JOIN norms nb ON nb.vec_id = ab.vec_id
    )
    SELECT id_drop AS vec_id, cluster,
           MAX(sim) AS max_sim_to_earlier
    FROM pairs WHERE sim >= 0.4
    GROUP BY id_drop, cluster
    """,
)
def q167_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup via :func:`parquery_spark.operators.semdedup.semdedup`
    (Abbas et al. 2023): k-means the embedding space, prune any document
    too cosine-close to an EARLIER document in its own cluster.  k scales
    with the corpus via ``target_cell`` (here 64: ``k = ceil(n/64)``,
    cells of expected size 64, pair volume ≈ 32·n — linear in n, never
    n²); the oracle computes the identical k from its own COUNT(*).
    Assignment runs the vectorized Arrow-batched Lloyd kernel
    (bit-identical fold order to the oracle — no O(n·k·d) join rows),
    composed with the q45-style explode-shaped cosine (dots
    partial-aggregate JVM-side; sims rounded to 6 before thresholding).
    Returns the pruned set with evidence: each dropped vector, its
    cluster, and its closest earlier neighbor's similarity.

    The Lloyd assignment — the trained model — is persisted stat-keyed
    next to the working set (the q82/q83 index-amortization pattern):
    train once, prune per batch; a regenerated corpus invalidates the
    artifact and retrains."""
    from parquery_spark.operators.semdedup import kmeans_assign, semdedup

    emb = load(spark, sf_dir, "embeddings")

    def _build_assign(t):
        trained = kmeans_assign(
            emb, id_col="vec_id", vec_col="embedding", iters=3,
            target_cell=64, n=_footer_rows(_path(sf_dir, "embeddings")),
            # the DuckDB oracle always trains full-corpus; pinning
            # sample_rows=None keeps the gate honest at ANY SF instead of
            # relying on test corpora staying under the default budget
            # (q221 gates the sampled path explicitly)
            sample_rows=None,
        )
        trained.write.mode("overwrite").parquet(t)
        trained.unpersist()  # artifact now lives on disk

    # logic-version tag: vectorized kernel + target_cell-derived k
    # (round 7) — a stale kmeans3 artifact would silently mask the new
    # training path
    adir = artifact(
        sf_dir, "embeddings", "kmeans4-vec-tc64", "semdedup", _build_assign
    )
    assign = relations.get_relation(spark, adir)

    # the prune set is ALSO corpus-pure (embeddings + pinned params), so
    # it is staged the same way: semdedup materializes it in-session to
    # release its heavyweight intermediates, we copy it to the stat-keyed
    # artifact and RELEASE the in-session copy — repeat calls read
    # parquet and the CacheManager stays flat (the former shape returned
    # semdedup's persisted relation, leaking one cache per call)
    def _build_prune(t):
        pruned = semdedup(
            emb, id_col="vec_id", vec_col="embedding", threshold=0.4,
            assign=assign,
        )
        pruned.select(
            "vec_id", "cluster", "max_sim_to_earlier"
        ).write.parquet(t)
        pruned.unpersist()

    pdir = artifact(
        sf_dir, "embeddings", "semdedup-prune-t04-tc64-v1", "sdprune",
        _build_prune,
    )
    return relations.get_relation(spark, pdir)


@query(
    "q168_sequence_packing",
    """
    WITH toks AS (
        SELECT doc_id,
               CAST(length(list_filter(string_split_regex(lower(text),
                    '[^a-z0-9'']+'), t -> t != '')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    packed AS (
        SELECT doc_id, n_tokens,
               CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS start_tok
        FROM toks
    )
    SELECT doc_id, n_tokens,
           CAST(start_tok // 2048 AS BIGINT) AS example_start,
           CAST(start_tok % 2048 AS BIGINT) AS offset_start,
           CAST((start_tok + n_tokens - 1) // 2048 AS BIGINT)
               AS example_end,
           CAST((start_tok + n_tokens - 1) // 2048
                - start_tok // 2048 + 1 AS BIGINT) AS n_examples_spanned
    FROM packed WHERE n_tokens > 0
    """,
)
def q168_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing: concatenate the corpus in doc order
    and map every document to its fixed-length example slots (seq_len
    2048) — example index and token offset where it starts, where it
    ends, how many examples it spans.  This is the boundary index a
    tokenized-dataset writer needs to emit packed samples without
    materializing the token stream.  The global running token count uses
    the DISTRIBUTED prefix sum (range partition + per-partition window +
    one-row-per-partition offset fold, q66's operator) — never the
    single-task unpartitioned SUM OVER (ORDER BY) that serializes at
    corpus scale.  Everything downstream is integer div/mod — exact."""
    from parquery_spark.functions.text import token_count
    from parquery_spark.operators.packing import prefix_sum

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).cast("long").alias("n_tokens")
    )
    packed = prefix_sum(
        docs,
        "n_tokens",
        "doc_id",
        out_col="start_tok",
        inclusive=False,
    )
    seq = 2048
    last = F.col("start_tok") + F.col("n_tokens") - 1
    ex_start = (F.col("start_tok") / seq).cast("long")
    ex_end = (last / seq).cast("long")
    return packed.where(F.col("n_tokens") > 0).select(
        "doc_id",
        "n_tokens",
        ex_start.alias("example_start"),
        (F.col("start_tok") % seq).alias("offset_start"),
        ex_end.alias("example_end"),
        (ex_end - ex_start + 1).alias("n_examples_spanned"),
    )


@query(
    "q169_recency_weighted_value",
    """
    WITH w AS (
        SELECT user_id,
               datediff('day', CAST(date_trunc('day', ts) AS DATE),
                        DATE '2024-01-31') AS age_days,
               value
        FROM events WHERE event_type = 'purchase'
    )
    SELECT user_id,
           COUNT(*) AS n_purchases,
           ROUND(SUM(value * power(2.0, -LEAST(age_days // 7, 30))), 6)
               AS decayed_value,
           ROUND(SUM(value * power(2.0, -LEAST(age_days // 7, 30)))
                 / SUM(power(2.0, -LEAST(age_days // 7, 30))), 6)
               AS recency_weighted_avg
    FROM w GROUP BY user_id
    HAVING COUNT(*) >= 3
    """,
)
def q169_recency_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-decayed user features — the exponential-decay aggregate
    behind churn/LTV features, with half-life = one week at a reference
    date.  The decay weight is 2^(-floor(age/7)) with an integer,
    clamped exponent: a POWER OF TWO, so both engines produce the exact
    same IEEE double (libm exp()/arbitrary pow() differ in last ulps
    across runtimes and would poison a hash gate — the engine-stable
    float rule applied to decay curves).  One aggregate pass; weights
    are computed inline, no window needed."""
    events = load_events(spark, sf_dir)
    age_days = F.datediff(
        F.lit("2024-01-31").cast("date"),
        F.date_trunc("day", F.col("ts").cast("timestamp")).cast("date"),
    )
    wexp = F.least(F.floor(age_days / 7).cast("long"), F.lit(30))
    weight = F.pow(F.lit(2.0), -wexp)
    p = events.where(F.col("event_type") == "purchase").select(
        "user_id", "value", weight.alias("wt")
    )
    return (
        p.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(F.sum(F.col("value") * F.col("wt")), 6).alias(
                "decayed_value"
            ),
            F.round(
                F.sum(F.col("value") * F.col("wt")) / F.sum("wt"), 6
            ).alias("recency_weighted_avg"),
        )
        .where(F.col("n_purchases") >= 3)
    )


@query(
    "q170_stream_outer_join_funnel",
    """
    WITH clicks AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ),
    purchases AS (
        SELECT user_id, ts FROM events WHERE event_type = 'purchase'
    ),
    flags AS (
        SELECT c.event_id,
               EXISTS (
                   SELECT 1 FROM purchases p
                   WHERE p.user_id = c.user_id
                     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
               ) AS converted
        FROM clicks c
    )
    SELECT COUNT(*) AS n_clicks,
           CAST(SUM(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT)
               AS n_converted,
           CAST(SUM(CASE WHEN converted THEN 0 ELSE 1 END) AS BIGINT)
               AS n_unconverted,
           ROUND(CAST(SUM(CASE WHEN converted THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS conversion_rate
    FROM flags
    """,
)
def q170_stream_outer_join_funnel(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-stream LEFT OUTER join — the deepest streaming-state
    machinery: unmatched clicks can only be emitted (with a NULL
    purchase side) after the watermark proves no purchase can still
    arrive inside their 1-hour window, so correctness depends on
    watermark-driven state EVICTION, not just state lookup.  The
    ``_sentinel_stream_dir`` closing batches advance the watermark past
    all real data and flush the evicted non-matches (q97's mechanism,
    applied to join state).  Conversion accounting then runs batch-side
    on the drained pairs; the oracle is a batch EXISTS — so
    matched-AND-unmatched parity is one hash gate.  State is keyed by
    user and bounded by watermark + range condition on both sides —
    the unbounded-feed contract."""
    pairs = _drained(
        spark, sf_dir, "events", f"v1+{_SENTINEL_TAG}", "q170_drain",
        lambda: _click_purchase_join(spark, sf_dir, "left_outer").select(
            "c_event_id", "c_user", "p_ts"
        ),
    ).where(F.col("c_user") >= 0)
    per_click = pairs.groupBy("c_event_id").agg(
        F.max(F.col("p_ts").isNotNull()).alias("converted")
    )
    return per_click.agg(
        F.count(F.lit(1)).alias("n_clicks"),
        F.sum(F.when(F.col("converted"), 1).otherwise(0))
        .cast("long")
        .alias("n_converted"),
        F.sum(F.when(F.col("converted"), 0).otherwise(1))
        .cast("long")
        .alias("n_unconverted"),
        F.round(
            F.sum(F.when(F.col("converted"), 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("conversion_rate"),
    )


@query(
    "q171_dynamic_partition_overwrite",
    """
    WITH src AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
               COUNT(*) AS n,
               SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) / 100.0
                   AS total_value
        FROM events GROUP BY 1, 2
    ),
    patched AS (
        SELECT day, event_type,
               CASE WHEN day >= DATE '2024-01-25' THEN n * 2 ELSE n END AS n,
               CASE WHEN day >= DATE '2024-01-25'
                    THEN total_value * 2 ELSE total_value END
                   AS total_value
        FROM src
    )
    SELECT epoch_us(CAST(day AS TIMESTAMP)) AS day_us, event_type,
           CAST(n AS BIGINT) AS n, total_value
    FROM patched
    """,
)
def q171_dynamic_partition_overwrite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dynamic partition overwrite — the day-partitioned warehouse's
    backfill primitive: ``partitionOverwriteMode=dynamic`` INSERT
    OVERWRITE replaces ONLY the partitions present in the incoming
    batch (here: days >= Jan 25 rewritten with doubled metrics) and
    leaves every other partition's files physically untouched — the
    difference between rewriting 6 days and rewriting 100 TB.  The
    final table read proves it: untouched days carry the original
    values, patched days the new ones, matching the oracle's CASE
    twin.  Repartitioned on the partition column before the write so
    each day lands as one file, not (tasks x days) fragments."""
    events = load_events(spark, sf_dir)
    day = F.date_trunc("day", F.col("ts").cast("timestamp")).cast("date")
    daily = events.groupBy(
        day.alias("day"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(_cents()) / 100.0).alias("total_value"),
    )

    def _build_dpo(t):
        table_dir = os.path.join(t, "daily")
        # full initial load
        daily.repartition("day").write.mode("overwrite").partitionBy(
            "day"
        ).parquet(table_dir)
        before = {
            f: os.stat(os.path.join(table_dir, f)).st_mtime_ns
            for f in os.listdir(table_dir) if f.startswith("day=")
        }
        # backfill batch: only late-January partitions, metrics doubled
        patch = daily.where(
            F.col("day") >= F.lit("2024-01-25").cast("date")
        ).select(
            "event_type",
            (F.col("n") * 2).alias("n"),
            # doubling a double is an exponent bump — exact, no re-round
            (F.col("total_value") * 2).alias("total_value"),
            "day",
        )
        # the per-write option, never the session conf: the session is
        # shared, and dynamic mode writes no _SUCCESS marker
        patch.repartition("day").write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("day").parquet(table_dir)
        after = {
            f: os.stat(os.path.join(table_dir, f)).st_mtime_ns
            for f in os.listdir(table_dir) if f.startswith("day=")
        }
        untouched = [
            f for f in before
            if f < "day=2024-01-25" and before[f] != after.get(f)
        ]
        assert not untouched, (
            f"dynamic overwrite rewrote untouched partitions: {untouched}"
        )
        open(os.path.join(t, "_done"), "w").close()

    base = artifact(
        sf_dir, "events", "cents-v2", "dpo", _build_dpo, marker="_done"
    )
    out = relations.get_relation(spark, os.path.join(base, "daily"))
    return out.select(
        F.unix_micros(F.col("day").cast("timestamp")).alias("day_us"),
        "event_type",
        "n",
        "total_value",
    )


@query(
    "q172_negative_sampling",
    """
    WITH nn AS (SELECT COUNT(*) AS n_docs FROM documents),
    anchors AS (
        SELECT doc_id AS anchor_id, lang AS anchor_lang
        FROM documents WHERE doc_id % 10 = 0
    ),
    cand AS (
        SELECT anchor_id, anchor_lang, j,
               ('0x' || substr(md5(CAST(anchor_id AS VARCHAR) || ':'
                    || CAST(j AS VARCHAR) || '#negs'), 1, 15))::BIGINT
                   % n_docs AS neg_id
        FROM anchors, nn, (SELECT unnest(range(4)) AS j)
    )
    SELECT anchor_id, CAST(j AS INT) AS j, neg_id,
           d.lang AS neg_lang,
           anchor_lang = d.lang AS same_lang
    FROM cand JOIN documents d ON d.doc_id = neg_id
    WHERE neg_id != anchor_id
    """,
)
def q172_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training: each
    anchor document draws 4 pseudo-random negatives as a PURE FUNCTION
    of (anchor_id, slot, salt) — hash-mod into the corpus id space, then
    an equi-join fetches the negative's features.  No shuffle-the-world
    'random' orderBy, no driver-side RNG: the sample is reproducible
    across engines, retries and backfills (the q58 sampling law applied
    to pair generation), and the join is an ordinary key join the
    optimizer can broadcast or shuffle as size dictates.  Accidental
    positives (negative == anchor) are rejected; slot indices make
    collision behavior auditable."""
    from parquery_spark.operators.dedup import hash64

    docs = load(spark, sf_dir, "documents")
    n_docs = docs.count()
    anchors = docs.where(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("anchor_id"),
        F.col("lang").alias("anchor_lang"),
    )
    slots = spark.range(4).select(F.col("id").cast("int").alias("j"))
    cand = anchors.crossJoin(F.broadcast(slots)).select(
        "anchor_id",
        "anchor_lang",
        "j",
        (
            hash64(
                F.concat_ws(
                    ":",
                    F.col("anchor_id").cast("string"),
                    F.col("j").cast("string"),
                ),
                seed="negs",
            )
            % n_docs
        ).alias("neg_id"),
    )
    negs = docs.select(
        F.col("doc_id").alias("neg_id"), F.col("lang").alias("neg_lang")
    )
    return (
        cand.join(negs, "neg_id")
        .where(F.col("neg_id") != F.col("anchor_id"))
        .select(
            "anchor_id",
            "j",
            "neg_id",
            "neg_lang",
            (F.col("anchor_lang") == F.col("neg_lang")).alias("same_lang"),
        )
    )


@query(
    "q173_weighted_median",
    """
    WITH cum AS (
        SELECT l_returnflag, l_extendedprice,
               SUM(l_quantity) OVER (
                   PARTITION BY l_returnflag ORDER BY l_extendedprice
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cw,
               SUM(l_quantity) OVER (PARTITION BY l_returnflag) AS tw
        FROM lineitem
    )
    SELECT l_returnflag,
           MIN(l_extendedprice) AS weighted_median_price,
           CAST(MIN(tw) AS BIGINT) AS total_weight
    FROM cum WHERE cw >= tw / 2
    GROUP BY l_returnflag
    """,
)
def q173_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median (quantity-weighted price per return flag) — the
    robust aggregate plain percentile can't express: the median of a
    distribution where each row counts with its own mass.  One
    partitioned window pass: per-group sort by value, running weight,
    first value whose cumulative weight crosses half the total.  The
    window is keyed by the group — per-group parallel sort, no global
    ordering — and all weights are whole-number doubles, so cumulative
    and total sums are exact and the crossing row is engine-deterministic
    (equal values tie harmlessly: the crossing VALUE is unchanged by
    intra-tie order)."""
    from pyspark.sql import Window

    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_quantity"
    )
    wc = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_extendedprice")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("l_returnflag")
    cum = li.select(
        "l_returnflag",
        "l_extendedprice",
        F.sum("l_quantity").over(wc).alias("cw"),
        F.sum("l_quantity").over(wt).alias("tw"),
    )
    return (
        cum.where(F.col("cw") >= F.col("tw") / 2)
        .groupBy("l_returnflag")
        .agg(
            F.min("l_extendedprice").alias("weighted_median_price"),
            F.min("tw").cast("long").alias("total_weight"),
        )
    )


@query(
    "q174_mergeable_quantiles",
    """
    SELECT event_type,
           ROUND(quantile_cont(value, 0.50), 6) AS exact_p50,
           ROUND(quantile_cont(value, 0.95), 6) AS exact_p95,
           TRUE AS approx_within_bound
    FROM events GROUP BY event_type
    """,
)
def q174_mergeable_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable approximate quantiles — the scale path q124's exact
    per-group sort hands over to when groups stop fitting:
    ``approx_percentile`` builds a bounded-size summary per partition and
    MERGES them (one map-side-combinable aggregate, no per-group sort).
    Gated the q54 way: exact quantiles are hash-matched, and a boolean
    asserts the approximate p50/p95 landed within the accuracy
    contract's rank tolerance, checked in rank space: the estimate's
    rank range in its group must come within max(5n/acc, 1) rows of
    p*n.  The 5x slack over the n/acc contract is kept from the value-
    space check this replaced; the one-row floor is needed because the
    estimator returns an actual data value, so in a group of fewer than
    acc/5 rows a correct neighbouring value sits a whole row from p*n
    (groups of ~180 rows failed the value-space bracket)."""
    events = load_events(spark, sf_dir).select("event_type", "value")
    acc = 1000  # rank error <= n/1000
    approx = events.groupBy("event_type").agg(
        F.percentile_approx("value", F.array(F.lit(0.5), F.lit(0.95)),
                            F.lit(acc)).alias("ap"),
    )
    # one pass over the rows beside their group's estimates: the exact
    # quantiles plus each estimate's rank range [lt + 1, le]
    j = events.join(F.broadcast(approx), "event_type")
    stats = j.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("exact_p50"),
        F.round(F.percentile("value", F.lit(0.95)), 6).alias("exact_p95"),
        F.count("value").alias("n"),
        *[
            F.count_if(F.col("value") < F.col("ap")[i]).alias(f"lt{i}")
            for i in range(2)
        ],
        *[
            F.count_if(F.col("value") <= F.col("ap")[i]).alias(f"le{i}")
            for i in range(2)
        ],
    )
    ok = _quantile_rank_within("lt0", "le0", "n", 0.5, acc) & (
        _quantile_rank_within("lt1", "le1", "n", 0.95, acc)
    )
    return stats.select(
        "event_type", "exact_p50", "exact_p95",
        ok.alias("approx_within_bound"),
    )


def _quantile_rank_within(lt: str, le: str, n: str, p: float, acc: int):
    """True when an estimate of quantile ``p`` whose 1-based rank range in
    its group is ``[lt + 1, le]`` lies within max(5n/acc, 1) rows of
    ``p * n``."""
    target = F.col(n) * p
    tol = F.greatest(F.col(n) * (5.0 / acc), F.lit(1.0))
    return (F.col(le) >= target - tol) & (F.col(lt) + 1 <= target + tol)


@query(
    "q175_partition_repair_diff",
    """
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
               COUNT(*) AS n,
               CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS total_cents
        FROM events GROUP BY 1, 2
    ),
    a AS (
        SELECT day,
               bit_xor(('0x' || substr(md5(event_type || '|'
                   || CAST(n AS VARCHAR) || '|'
                   || CAST(total_cents AS VARCHAR)), 1, 15))::BIGINT)
                   AS checksum
        FROM daily GROUP BY day
    ),
    b AS (
        SELECT day,
               bit_xor(('0x' || substr(md5(event_type || '|'
                   || CAST(CASE WHEN day >= DATE '2024-01-25'
                           THEN n * 2 ELSE n END AS VARCHAR) || '|'
                   || CAST(CASE WHEN day >= DATE '2024-01-25'
                           THEN total_cents * 2
                           ELSE total_cents END AS VARCHAR)), 1, 15))
                   ::BIGINT) AS checksum
        FROM daily GROUP BY day
    )
    SELECT epoch_us(CAST(a.day AS TIMESTAMP)) AS day_us,
           a.checksum AS src_checksum, b.checksum AS dst_checksum
    FROM a JOIN b ON a.day = b.day
    WHERE a.checksum != b.checksum
    """,
)
def q175_partition_repair_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-entropy repair planner: which partitions of a replicated /
    derived table need re-sync?  Both sides reduce to one
    order-independent checksum PER PARTITION (bit_xor of row hashes —
    commutative, so partial aggregation and row order don't matter), and
    only checksums cross the network: the diff costs O(|partitions|)
    transfer regardless of table size — how a 100 TB backfill decides
    to rewrite 6 day-directories instead of all of them (q171 executes
    the repair this query plans).  Source = the daily rollup; target =
    the q171-patched variant, recomputed here so the query is
    self-contained; the mismatched days are exactly the patched ones."""
    from parquery_spark.operators.dedup import hash64

    events = load_events(spark, sf_dir)
    day = F.date_trunc("day", F.col("ts").cast("timestamp")).cast("date")
    daily = events.groupBy(day.alias("day"), "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_cents()).alias("total_cents"),
    )
    # both checksum sides (source and patched) consume the ONE daily
    # plan; its (day, event_type) exchange is shared via ReuseExchange

    def checksum(df):
        row_hash = hash64(
            F.concat_ws(
                "|",
                F.col("event_type"),
                F.col("n").cast("string"),
                F.col("total_cents").cast("string"),
            )
        )
        return df.groupBy("day").agg(
            F.bit_xor(row_hash).alias("checksum")
        )

    patched = daily.select(
        "day",
        "event_type",
        F.when(F.col("day") >= F.lit("2024-01-25").cast("date"),
               F.col("n") * 2).otherwise(F.col("n")).alias("n"),
        F.when(
            F.col("day") >= F.lit("2024-01-25").cast("date"),
            F.col("total_cents") * 2,
        ).otherwise(F.col("total_cents")).alias("total_cents"),
    )
    a = checksum(daily).select(
        "day", F.col("checksum").alias("src_checksum")
    )
    b = checksum(patched).select(
        "day", F.col("checksum").alias("dst_checksum")
    )
    return (
        a.join(b, "day")
        .where(F.col("src_checksum") != F.col("dst_checksum"))
        .select(
            F.unix_micros(F.col("day").cast("timestamp")).alias("day_us"),
            "src_checksum",
            "dst_checksum",
        )
    )


@query(
    "q176_bootstrap_ci",
    """
    WITH reps AS (
        SELECT r, AVG(value) AS rep_mean
        FROM events, (SELECT unnest(range(16)) AS r)
        WHERE event_type = 'purchase'
          AND ('0x' || substr(md5(CAST(event_id AS VARCHAR) || ':'
               || CAST(r AS VARCHAR) || '#boot'), 1, 15))::BIGINT % 2 = 0
        GROUP BY r
    )
    SELECT COUNT(*) AS n_replicates,
           ROUND(AVG(rep_mean), 6) AS mean_of_means,
           ROUND(STDDEV_SAMP(rep_mean), 6) AS half_sample_se
    FROM reps
    """,
)
def q176_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed resampling uncertainty — half-sample bootstrap: 16
    replicates, each keeping a row iff a pure hash of (row id, replicate,
    salt) is even, so every replicate is a deterministic, reproducible
    50% subsample computed in ONE pass (explode by replicate index,
    filter, aggregate — no RNG state, no per-replicate scan).  The
    spread of replicate means estimates the sampling error of the mean —
    the cluster-friendly alternative to classic bootstrap-with-
    replacement, whose Poisson-counts variant plugs into the same shape.
    At 100 TB: 16x row fan-out BEFORE the filter halves it, all
    map-side; the shuffle carries 16 partial aggregates."""
    from parquery_spark.operators.dedup import hash64

    events = load_events(spark, sf_dir)
    purchases = events.where(F.col("event_type") == "purchase").select(
        "event_id", "value"
    )
    reps = spark.range(16).select(F.col("id").cast("int").alias("r"))
    kept = purchases.crossJoin(F.broadcast(reps)).where(
        hash64(
            F.concat_ws(
                ":",
                F.col("event_id").cast("string"),
                F.col("r").cast("string"),
            ),
            seed="boot",
        )
        % 2
        == 0
    )
    rep_means = kept.groupBy("r").agg(F.avg("value").alias("rep_mean"))
    return rep_means.agg(
        F.count(F.lit(1)).alias("n_replicates"),
        F.round(F.avg("rep_mean"), 6).alias("mean_of_means"),
        F.round(F.stddev_samp("rep_mean"), 6).alias("half_sample_se"),
    )


@query(
    "q177_sketch_intersection",
    """
    SELECT
        CAST(COUNT(DISTINCT CASE WHEN event_type = 'click'
                                 THEN user_id END) AS BIGINT) AS exact_a,
        CAST(COUNT(DISTINCT CASE WHEN event_type = 'purchase'
                                 THEN user_id END) AS BIGINT) AS exact_b,
        CAST(COUNT(DISTINCT CASE WHEN user_id IN (
                 SELECT user_id FROM events WHERE event_type = 'click')
             AND user_id IN (
                 SELECT user_id FROM events WHERE event_type = 'purchase')
             THEN user_id END) AS BIGINT) AS exact_overlap,
        TRUE AS estimate_within_bound
    FROM events
    """,
)
def q177_sketch_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch set algebra: audience overlap (|clickers ∩ purchasers|)
    from HLL sketches by inclusion-exclusion — |A|+|B|-|A∪B| — where the
    union comes from MERGING the two sketches, never re-reading raw
    data.  This is how persisted per-segment sketches answer arbitrary
    overlap questions at 100 TB (intersection isn't directly mergeable;
    inclusion-exclusion over unions is).  The error compounds across
    three estimates, so the gate bound scales with the sum of the set
    sizes (5 sigma each); exact counts are hash-matched alongside."""
    events = load_events(spark, sf_dir)
    a = events.where(F.col("event_type") == "click")
    b = events.where(F.col("event_type") == "purchase")
    sk = a.select(F.col("user_id")).agg(
        F.hll_sketch_agg("user_id", F.lit(12)).alias("sk_a")
    ).crossJoin(
        b.select(F.col("user_id")).agg(
            F.hll_sketch_agg("user_id", F.lit(12)).alias("sk_b")
        )
    )
    est = sk.select(
        F.hll_sketch_estimate("sk_a").alias("est_a"),
        F.hll_sketch_estimate("sk_b").alias("est_b"),
        F.hll_sketch_estimate(
            F.hll_union("sk_a", "sk_b")
        ).alias("est_union"),
    )
    exact = events.agg(
        F.countDistinct(
            F.when(F.col("event_type") == "click", F.col("user_id"))
        ).alias("exact_a"),
        F.countDistinct(
            F.when(F.col("event_type") == "purchase", F.col("user_id"))
        ).alias("exact_b"),
    )
    clickers = a.select("user_id").distinct()
    purchasers = b.select("user_id").distinct()
    overlap = clickers.join(purchasers, "user_id").agg(
        F.count(F.lit(1)).alias("exact_overlap")
    )
    rel = 5 * 1.04 / (2 ** 12) ** 0.5
    j = exact.crossJoin(overlap).crossJoin(F.broadcast(est))
    est_overlap = F.col("est_a") + F.col("est_b") - F.col("est_union")
    return j.select(
        "exact_a",
        "exact_b",
        "exact_overlap",
        (
            F.abs(est_overlap - F.col("exact_overlap"))
            <= F.lit(rel) * (F.col("exact_a") + F.col("exact_b"))
        ).alias("estimate_within_bound"),
    )


@query(
    "q178_cross_source_dup_matrix",
    f"""
    WITH cand AS ({_sql_minhash_lsh(16, 4, 2, 1000)}),
    src AS (SELECT doc_id, source FROM documents)
    SELECT LEAST(sa.source, sb.source) AS source_a,
           GREATEST(sa.source, sb.source) AS source_b,
           COUNT(*) AS n_candidate_pairs,
           CAST(SUM(CASE WHEN est_jaccard >= 0.5 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_strong_pairs
    FROM cand
    JOIN src sa ON sa.doc_id = id_a
    JOIN src sb ON sb.doc_id = id_b
    GROUP BY 1, 2
    """,
)
def q178_cross_source_dup_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-source duplication matrix — which corpus sources copy from
    which: MinHash-LSH candidate pairs (q43's generator over the SAME
    stat-keyed banded signature artifact) rolled up to unordered
    (source, source)
    cells with a strong-pair count at estimated Jaccard >= 0.5.  The
    per-pair source lookup is two broadcastable dimension joins; cell
    count is bounded by |sources|^2, so the matrix is driver-readable
    at any corpus size.  This is the report that decides which source
    to drop when mixtures double-count content (feeds q160's weights)."""
    from parquery_spark.operators.dedup import lsh_candidate_pairs

    docs = load(spark, sf_dir, "documents")
    cand = lsh_candidate_pairs(
        docs, "text", "doc_id",
        num_hashes=16, bands=4, shingle_k=2, max_bucket_size=1000,
        banded=_mh_banded(spark, sf_dir),
    )
    src = docs.select("doc_id", "source")
    sa = src.select(
        F.col("doc_id").alias("id_a"), F.col("source").alias("sa")
    )
    sb = src.select(
        F.col("doc_id").alias("id_b"), F.col("source").alias("sb")
    )
    j = cand.join(F.broadcast(sa), "id_a").join(F.broadcast(sb), "id_b")
    return j.groupBy(
        F.least("sa", "sb").alias("source_a"),
        F.greatest("sa", "sb").alias("source_b"),
    ).agg(
        F.count(F.lit(1)).alias("n_candidate_pairs"),
        F.sum(F.when(F.col("est_jaccard") >= 0.5, 1).otherwise(0))
        .cast("long")
        .alias("n_strong_pairs"),
    )


@query(
    "q179_linear_interpolation",
    """
    WITH daily AS (
        SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
               SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) / 100.0 AS v
        FROM events WHERE event_type = 'purchase' AND user_id < 40
        GROUP BY 1, 2
    ),
    spine AS (
        SELECT user_id,
               CAST(unnest(range(CAST(mn AS TIMESTAMP),
                                 CAST(md + INTERVAL 1 DAY AS TIMESTAMP),
                                 INTERVAL 1 DAY)) AS DATE) AS day
        FROM (SELECT user_id, MIN(day) AS mn, MAX(day) AS md
              FROM daily GROUP BY user_id)
    ),
    joined AS (
        SELECT s.user_id, s.day, d.v FROM spine s
        LEFT JOIN daily d ON d.user_id = s.user_id AND d.day = s.day
    ),
    bracketed AS (
        SELECT user_id, day, v,
               last_value(v IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS prev_v,
               first_value(v IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY day
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
               ) AS next_v,
               CAST(day - last_value(CASE WHEN v IS NOT NULL THEN day END
                   IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS gap_back,
               CAST(first_value(CASE WHEN v IS NOT NULL THEN day END
                   IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY day
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
               ) - day AS BIGINT) AS gap_fwd
        FROM joined
    )
    SELECT user_id, epoch_us(CAST(day AS TIMESTAMP)) AS day_us,
           ROUND(CASE WHEN v IS NOT NULL THEN v
                ELSE prev_v + (next_v - prev_v) * gap_back
                     / (gap_back + gap_fwd) END, 6) AS v_interp,
           (v IS NULL) AS was_gap
    FROM bracketed
    """,
)
def q179_linear_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series regularization with LINEAR interpolation — the step
    up from q87's carry-forward: each user's sparse daily series is
    joined to its dense day spine (sequence() off one min/max row per
    key — no cross join) and gaps are filled by the straight line
    between the bracketing observations, weighted by integer day
    distances.  One user-partitioned window pass computes both brackets
    and both gaps (carry-forward + carry-backward in the same shuffle);
    the interpolation arithmetic is identical double math on both
    engines, rounded at the boundary.  Restricted to a user subset only
    to keep the gate output reviewable."""
    from pyspark.sql import Window

    events = load_events(spark, sf_dir)
    daily = (
        events.where(
            (F.col("event_type") == "purchase") & (F.col("user_id") < 40)
        )
        .groupBy(
            "user_id",
            F.date_trunc("day", F.col("ts").cast("timestamp"))
            .cast("date")
            .alias("day"),
        )
        .agg((F.sum(_cents()) / 100.0).alias("v"))
    )
    bounds = daily.groupBy("user_id").agg(
        F.min("day").alias("mn"), F.max("day").alias("md")
    )
    spine = bounds.select(
        "user_id",
        F.explode(F.sequence("mn", "md")).alias("day"),
    )
    joined = spine.join(daily, ["user_id", "day"], "left")
    back = Window.partitionBy("user_id").orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    fwd = Window.partitionBy("user_id").orderBy("day").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    obs_day = F.when(F.col("v").isNotNull(), F.col("day"))
    b = joined.select(
        "user_id",
        "day",
        "v",
        F.last("v", ignorenulls=True).over(back).alias("prev_v"),
        F.first("v", ignorenulls=True).over(fwd).alias("next_v"),
        F.datediff(
            F.col("day"), F.last(obs_day, ignorenulls=True).over(back)
        ).cast("long").alias("gap_back"),
        F.datediff(
            F.first(obs_day, ignorenulls=True).over(fwd), F.col("day")
        ).cast("long").alias("gap_fwd"),
    )
    interp = F.when(F.col("v").isNotNull(), F.col("v")).otherwise(
        F.col("prev_v")
        + (F.col("next_v") - F.col("prev_v"))
        * F.col("gap_back")
        / (F.col("gap_back") + F.col("gap_fwd"))
    )
    return b.select(
        "user_id",
        F.unix_micros(F.col("day").cast("timestamp")).alias("day_us"),
        F.round(interp, 6).alias("v_interp"),
        F.col("v").isNull().alias("was_gap"),
    )


@query(
    "q180_join_size_estimate",
    """
    WITH co AS (SELECT o_custkey AS k, COUNT(*) AS c FROM orders GROUP BY 1),
    cl AS (SELECT l_orderkey AS k, COUNT(*) AS c FROM lineitem GROUP BY 1),
    oo AS (SELECT o_orderkey AS k, COUNT(*) AS c FROM orders GROUP BY 1)
    SELECT CAST((SELECT SUM(a.c * b.c) FROM oo a JOIN cl b ON a.k = b.k)
               AS BIGINT) AS predicted_pairs,
           CAST((SELECT COUNT(*) FROM orders JOIN lineitem
                 ON o_orderkey = l_orderkey) AS BIGINT) AS actual_pairs,
           (SELECT MAX(c) FROM co) AS max_cust_fanout,
           (SELECT SUM(a.c * b.c) FROM oo a JOIN cl b ON a.k = b.k)
               = (SELECT COUNT(*) FROM orders JOIN lineitem
                  ON o_orderkey = l_orderkey) AS estimate_is_exact
    """,
)
def q180_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size estimation from per-key histograms — the planner math
    made a first-class audit: |A join B on k| = sum over k of
    cnt_A(k) * cnt_B(k), computed from two key-grain rollups whose
    shuffle carries |distinct keys| rows instead of the join's output.
    Running the estimator BEFORE a 100 TB join is how a pipeline
    refuses a fan-out explosion (the max per-key fanout is reported for
    exactly that decision); the oracle pins the identity by ALSO
    executing the join and asserting equality — for equi-joins the
    histogram product is exact, not an estimate."""
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    oo = orders.groupBy(F.col("o_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("ca")
    )
    cl = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("cb")
    )
    predicted = oo.join(cl, "k").agg(
        F.sum(F.col("ca") * F.col("cb")).alias("predicted_pairs")
    )
    actual = orders.join(
        li, orders["o_orderkey"] == li["l_orderkey"]
    ).agg(F.count(F.lit(1)).alias("actual_pairs"))
    fanout = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("c")
    ).agg(F.max("c").alias("max_cust_fanout"))
    return (
        predicted.crossJoin(actual)
        .crossJoin(F.broadcast(fanout))
        .select(
            "predicted_pairs",
            "actual_pairs",
            "max_cust_fanout",
            (F.col("predicted_pairs") == F.col("actual_pairs")).alias(
                "estimate_is_exact"
            ),
        )
    )


@query(
    "q181_dead_letter_udf",
    """
    WITH parsed AS (
        SELECT event_id,
               CAST(regexp_extract(props, '[0-9]+') AS BIGINT) AS k
        FROM events
    )
    SELECT (k % 3 = 0) IS FALSE AS ok, COUNT(*) AS n,
           CAST(SUM(CASE WHEN k % 3 != 0 THEN k ELSE 0 END) AS BIGINT)
               AS sum_parsed,
           bit_xor(CASE WHEN k % 3 = 0 THEN event_id ELSE 0 END)
               AS failed_id_checksum
    FROM parsed
    GROUP BY 1
    """,
)
def q181_dead_letter_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter handling for Python stages: a mapInPandas row
    function that RAISES on poison rows (here: payload key divisible by
    3 simulates undecodable blobs) runs under the ``safety.
    dead_letter_map`` wrapper — failures become (ok=false, err) rows
    instead of task-killing exceptions, so one bad row can't burn the
    job's retries at 100 TB.  The gate proves the routing is lossless:
    per-status counts, the sum of successfully parsed values, and a
    checksum of exactly which rows failed all hash-match the oracle's
    CASE twin."""
    from parquery_spark.operators.safety import dead_letter_map

    events = load_events(spark, sf_dir).select("event_id", "props")

    def parse_strict(rec):
        import re

        k = int(re.search(r"[0-9]+", rec["props"]).group())
        if k % 3 == 0:
            raise ValueError(f"poison payload k={k}")
        return k

    routed = dead_letter_map(
        events, parse_strict, "k", "long", id_cols=["event_id"]
    )
    return routed.groupBy("ok").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.coalesce(F.col("k"), F.lit(0))).alias("sum_parsed"),
        F.bit_xor(
            F.when(~F.col("ok"), F.col("event_id")).otherwise(F.lit(0))
        ).alias("failed_id_checksum"),
    )


@query(
    "q182_k_anonymity_audit",
    """
    SELECT c_mktsegment, c_nationkey,
           COUNT(*) AS n,
           COUNT(*) < 5 AS below_k
    FROM customer
    GROUP BY c_mktsegment, c_nationkey
    """,
)
def q182_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over quasi-identifiers (segment x nation):
    any equivalence class smaller than k=5 re-identifies its members
    under linkage attacks and must be generalized or suppressed before
    release.  One rollup at QI grain — the privacy complement to q64's
    direct-PII scan, and the gate a training-data export runs before
    leaving the trust boundary."""
    cust = load(spark, sf_dir, "customer")
    return cust.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).alias("n"),
        (F.count(F.lit(1)) < 5).alias("below_k"),
    )


@query(
    "q183_pipeline_api",
    f"""
    WITH prof AS ({_SQL_TEXT_PROFILE}),
    gated AS (
        SELECT d.doc_id, d.source, p.fingerprint,
               CAST(p.n_tokens AS BIGINT) AS n_tokens
        FROM documents d JOIN prof p USING (doc_id)
        WHERE d.lang = 'de' AND d.n_chars >= 100
          AND p.quality BETWEEN 0.5 AND 1.0
    ),
    kept AS (
        SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY fingerprint
                                         ORDER BY doc_id) AS rn
            FROM gated
        ) WHERE rn = 1
    ),
    sampled AS (
        SELECT * FROM kept
        WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#mix-v2'),
                              1, 15))::BIGINT % 1000000 < 700000
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(CEIL(CAST(n_tokens AS DOUBLE) / 512)) AS BIGINT)
               AS n_chunks
    FROM sampled GROUP BY source
    """,
)
def q183_pipeline_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The declarative pipeline FRONT DOOR (`parquery_spark.pipeline`):
    the q150 composition rebuilt through the CorpusPipeline API with a
    different configuration (German, quality-score gate, 70% sample) —
    proving the API assembles the same gated operators into one lazy
    plan: narrow quality stages fuse into the scan, dedup pays the one
    fingerprint shuffle, sampling is a pure hash function, and the
    summary rollup closes the plan.  Stage declarations are data, so a
    100 TB job can log/diff its pipeline config (`stage_names`)."""
    from parquery_spark.pipeline import CorpusPipeline

    docs = load(spark, sf_dir, "documents")
    pipe = (
        CorpusPipeline(text_col="text", id_col="doc_id")
        .filter_lang("de")
        .min_chars(100)
        .quality_range(0.5, 1.0)
        .dedup_fingerprint()
        .hash_sample(0.7, salt="mix-v2")
        .with_token_counts()
    )
    return pipe.summary(docs, by="source")


@query(
    "q184_seasonal_anomaly",
    """
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               dayofweek(CAST(date_trunc('day', ts) AS DATE)) AS dow,
               SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) / 100.0 AS v
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1, 2
    ),
    with_base AS (
        SELECT day, v,
               AVG(v) OVER (
                   PARTITION BY dow ORDER BY day
                   ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING
               ) AS baseline,
               COUNT(v) OVER (
                   PARTITION BY dow ORDER BY day
                   ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING
               ) AS n_base
        FROM daily
    )
    SELECT epoch_us(CAST(day AS TIMESTAMP)) AS day_us, v,
           ROUND(baseline, 6) AS baseline,
           ROUND((v - ROUND(baseline, 6)) / ROUND(baseline, 6) * 100, 4)
               AS pct_vs_baseline,
           abs(v - ROUND(baseline, 6)) > ROUND(baseline, 6) * 0.5
               AS is_anomaly
    FROM with_base WHERE n_base >= 2
    """,
)
def q184_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware anomaly detection: each day's purchase volume
    is compared against the trailing average of the SAME WEEKDAY (last
    4 observations, current excluded) — the baseline that doesn't flag
    every Saturday as an anomaly the way a plain trailing mean does.
    One window pass partitioned by weekday (7-way parallel, each
    partition a short ordered series; at years of history this key is
    still bounded, so the partition-per-weekday contract holds).  Days
    without enough history are withheld rather than scored against a
    noisy baseline; baselines are rounded before the ratio so both
    engines difference identical doubles."""
    from pyspark.sql import Window

    events = load_events(spark, sf_dir)
    day = F.date_trunc("day", F.col("ts").cast("timestamp")).cast("date")
    daily = (
        events.where(F.col("event_type") == "purchase")
        .groupBy(day.alias("day"))
        .agg((F.sum(_cents()) / 100.0).alias("v"))
        .withColumn("dow", F.dayofweek("day"))
    )
    w = (
        Window.partitionBy("dow")
        .orderBy("day")
        .rowsBetween(-4, -1)
    )
    scored = daily.select(
        "day",
        "v",
        F.avg("v").over(w).alias("baseline_raw"),
        F.count("v").over(w).alias("n_base"),
    )
    baseline = F.round(F.col("baseline_raw"), 6)
    return scored.where(F.col("n_base") >= 2).select(
        F.unix_micros(F.col("day").cast("timestamp")).alias("day_us"),
        "v",
        baseline.alias("baseline"),
        F.round(
            (F.col("v") - baseline) / baseline * 100, 4
        ).alias("pct_vs_baseline"),
        (F.abs(F.col("v") - baseline) > baseline * 0.5).alias("is_anomaly"),
    )


@query(
    "q185_item_similarity",
    """
    WITH bi0 AS (
        SELECT DISTINCT o_custkey AS cust, l_partkey AS item
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    bi AS (
        SELECT cust, item FROM (
            SELECT cust, item,
                   COUNT(*) OVER (PARTITION BY cust) AS basket_n
            FROM bi0)
        WHERE basket_n <= 200
    ),
    cnt AS (SELECT item, COUNT(*) AS c FROM bi GROUP BY item),
    co AS (
        SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS cab
        FROM bi a JOIN bi b ON a.cust = b.cust AND a.item < b.item
        GROUP BY a.item, b.item
    ),
    sims AS (
        SELECT item_a, item_b, cab,
               ROUND(cab / sqrt(ca.c * cb.c), 6) AS cosine
        FROM co
        JOIN cnt ca ON ca.item = item_a
        JOIN cnt cb ON cb.item = item_b
        WHERE cab >= 3
    )
    SELECT * FROM sims
    ORDER BY cosine DESC, item_a, item_b LIMIT 50
    """,
)
def q185_item_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering: cosine similarity over the
    binary customer-item incidence (co-buyers / sqrt of popularity
    product) — the classic Amazon-style neighborhood model.  The
    customer-grain self-join bounds pair volume per customer basket
    (q128's law); popularity counts broadcast back; a minimum-support
    cut (co-count >= 3) kills the noise pairs BEFORE ranking; the final
    top-50 is TakeOrderedAndProject, not a global sort.  Pair volume per
    customer is basket², so a single degenerate customer with a 10⁴-item
    basket would contribute 10⁸ join rows — the explicit
    ``_Q185_MAX_BASKET`` guard (enforced identically in the oracle)
    excludes baskets above 200 distinct items from the incidence relation
    BEFORE the self-join, bounding the shuffle at |bi|·200 regardless of
    corpus skew.  A basket that large is a bot/aggregator account, not a
    shopper — dropping it is the standard CF hygiene step, not a loss.
    The basket-size window partitions on ``cust``, the same key as the
    self-join, so the guard shares that exchange.  At 100 TB the support
    cut (co-count >= 3) then keeps the pair relation near-linear in
    |bi|."""
    from pyspark.sql import Window

    _Q185_MAX_BASKET = 200

    # the capped (cust, item) basket relation IS the co-purchase index
    # this query probes — a pure function of (orders, lineitem), staged
    # once as a stat-keyed storage artifact keyed on both tables; the
    # join + distinct + basket-cap window run once per corpus version and
    # all three consumers (popularity count + both self-join sides) read
    # parquet.  No persist (the former pre-renamed a/b select() sides
    # defeated reuse entirely and leaked a cache to compensate).
    def _build_baskets(t):
        orders = load(spark, sf_dir, "orders")
        li = load(spark, sf_dir, "lineitem")
        (
            orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
            .select(
                F.col("o_custkey").alias("cust"),
                F.col("l_partkey").alias("item"),
            )
            .distinct()
            .withColumn(
                "__basket_n",
                F.count(F.lit(1)).over(Window.partitionBy("cust")),
            )
            .filter(F.col("__basket_n") <= _Q185_MAX_BASKET)
            .drop("__basket_n")
            .write.parquet(t)
        )

    bdir = artifact(
        sf_dir, ["lineitem", "orders"], f"basket-b{_Q185_MAX_BASKET}-v1",
        "basket", _build_baskets,
    )
    from parquery_spark.operators.util import fan_out

    # fan_out on the self-join key (round 12): the basket artifact reads
    # as ~3 byte-packed splits, capping the 13M-row pair generation at 3
    # tasks; cust-keyed spread lets the self-join and its partial
    # aggregation use the whole machine (q128's measured fix)
    bi = fan_out(relations.get_relation(spark, bdir), "cust")
    cnt = bi.groupBy("item").agg(F.count(F.lit(1)).alias("c"))
    # the pair key is PACKED into one int64 before the exchange (round
    # 12, guide §2.3 "narrower types"): the pair relation is ~13M rows
    # with ~no map-side reduction (distinct pairs ≈ rows), so the
    # exchange width and the 12.7M-group hash aggregation dominate —
    # one long key halves the shuffled key bytes and hashes once.
    # Requires item ids < 2^32 (same bound as q158's wedge packing);
    # l_partkey satisfies it at every TPC-H SF this engine targets.
    # Unpacking after the support cut touches only the few survivors.
    co = (
        self_join_reusing(
            bi,
            (F.col("__ia.cust") == F.col("__ib.cust"))
            & (F.col("__ia.item") < F.col("__ib.item")),
            a="__ia", b="__ib",
        )
        .select(
            (
                F.col("__ia.item") * F.lit(4294967296) + F.col("__ib.item")
            ).alias("pk")
        )
        .groupBy("pk")
        .agg(F.count(F.lit(1)).alias("cab"))
        .where(F.col("cab") >= 3)
        .select(
            F.shiftright("pk", 32).alias("item_a"),
            F.col("pk").bitwiseAND(F.lit(4294967295)).alias("item_b"),
            "cab",
        )
    )
    # both popularity lookups join the SAME broadcast subtree (renames
    # applied ABOVE the joins, so ReuseExchange builds cnt once — the
    # former pre-renamed ca/cb sides each paid their own scan+agg)
    sims = (
        co.join(F.broadcast(cnt), F.col("item_a") == F.col("item"))
        .select("item_a", "item_b", "cab", F.col("c").alias("ca"))
        .join(F.broadcast(cnt), F.col("item_b") == F.col("item"))
        .select(
            "item_a",
            "item_b",
            "cab",
            F.round(
                F.col("cab") / F.sqrt(F.col("ca") * F.col("c")), 6
            ).alias("cosine"),
        )
    )
    return sims.orderBy(
        F.desc("cosine"), "item_a", "item_b"
    ).limit(50)


@query(
    "q186_incremental_sessionize",
    """
    WITH marked AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                       > 1800000000
                    THEN 1 ELSE 0 END AS is_start
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id, ts,
               SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS sid
        FROM marked
    ),
    closed AS (
        SELECT user_id, sid,
               MIN(ts) AS session_start, MAX(ts) AS session_end,
               COUNT(*) AS n_events
        FROM sess GROUP BY user_id, sid
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(n_events) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN session_start
                         < TIMESTAMP '2024-01-15 12:00:00' AND session_end
                         >= TIMESTAMP '2024-01-15 12:00:00'
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_boundary_spanning,
           bit_xor(('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':'
               || CAST(epoch_us(session_start) AS VARCHAR) || ':'
               || CAST(n_events AS VARCHAR)), 1, 15))::BIGINT)
               AS session_checksum
    FROM closed
    """,
)
def q186_incremental_sessionize(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Batch-INCREMENTAL sessionization: day N's job must not rescan
    the whole log, so it processes only new events plus a carried
    OPEN-SESSION state table (one row per user still inside the idle
    window at the cutoff).  Here the log is split at Jan 15 noon (chosen to split a live session): batch 1
    sessionizes the head and persists (closed sessions, open-session
    state); batch 2 sessionizes the tail WITH the open state unioned in
    as synthetic session seeds, stitching boundary-spanning sessions
    back together.  The gate proves incremental == full-log: session
    count, event total and a per-session checksum (user, exact start,
    size) all hash-match the single-pass oracle, and the
    boundary-spanning count shows the stitching actually exercised
    (zero would mean the cutoff hit only idle users).  State size is
    |active users|, not |log| — the batch twin of q97's streaming
    state."""
    from pyspark.sql import Window

    from parquery_spark.operators.dedup import hash64

    gap_us = 1800 * 1000 * 1000
    cutoff = F.lit("2024-01-15 12:00:00").cast("timestamp")
    events = load_events(spark, sf_dir).select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "event_id"
    )

    def sessionize(df, seed=None):
        """Close sessions over df; seed = (user_id, open_start, open_last,
        open_n) rows prepended as zero-width synthetic events."""
        ev = df.select(
            "user_id", "ts", "event_id",
            F.lit(None).cast("timestamp").alias("seed_start"),
            F.lit(0).cast("long").alias("seed_n"),
        )
        if seed is not None:
            ev = ev.unionByName(
                seed.select(
                    "user_id",
                    F.col("open_last").alias("ts"),
                    F.lit(-1).alias("event_id"),
                    F.col("open_start").alias("seed_start"),
                    F.col("open_n").alias("seed_n"),
                )
            )
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
        marked = ev.withColumn(
            "is_start",
            F.when(
                F.lag("ts").over(w).isNull() | (gap > gap_us), 1
            ).otherwise(0),
        )
        run = (
            Window.partitionBy("user_id")
            .orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        sess = marked.withColumn("sid", F.sum("is_start").over(run))
        return sess.groupBy("user_id", "sid").agg(
            # a seed row contributes its ORIGINAL start and its event
            # count; its synthetic row itself is not an event
            F.min(
                F.coalesce(F.col("seed_start"), F.col("ts"))
            ).alias("session_start"),
            F.max("ts").alias("session_end"),
            (
                F.count(F.lit(1))
                + F.sum("seed_n")
                - F.sum(F.when(F.col("event_id") == -1, 1).otherwise(0))
            ).alias("n_events"),
        )

    head = events.where(F.col("ts") < cutoff)
    tail = events.where(F.col("ts") >= cutoff)
    # open_state and closed_head both consume head_sessions; as two lazy
    # branches of one plan the whole head pipeline (scan → exchange →
    # sort → 2 windows → agg) planned and ran TWICE — only the exchange
    # was shared (round 13, guide §5: localCheckpoint cuts the duplicate
    # subtree).  The checkpoint holds SESSION rows (one per head
    # session, not per event), materializes inside this one query's
    # action, and its RDD blocks are context-cleaner-reaped — never a
    # CacheManager entry, never cross-call state.  A/B min-of-7:
    # 2.01 → 1.61 s at sf0.1; at scale it removes the second sort of
    # half the log.  (On a cluster prefer a reliable checkpoint dir —
    # the graph-loop precedent in SCALING.md.)
    head_sessions = sessionize(head).localCheckpoint(eager=False)
    # open = sessions still inside the idle window at the cutoff
    open_state = head_sessions.where(
        F.unix_micros(cutoff) - F.unix_micros(F.col("session_end"))
        <= gap_us
    ).select(
        "user_id",
        F.col("session_start").alias("open_start"),
        F.col("session_end").alias("open_last"),
        F.col("n_events").alias("open_n"),
    )
    closed_head = head_sessions.where(
        F.unix_micros(cutoff) - F.unix_micros(F.col("session_end"))
        > gap_us
    )
    tail_sessions = sessionize(tail, seed=open_state)
    # an open session with NO tail continuation closes as-is (its seed
    # formed a lone synthetic session whose n_events excludes the seed
    # row, but seed_n restores the real count) — already handled by the
    # arithmetic above; union everything
    all_sessions = closed_head.select(
        "user_id", "session_start", "session_end", "n_events"
    ).unionByName(
        tail_sessions.select(
            "user_id", "session_start", "session_end", "n_events"
        )
    )
    boundary = (F.col("session_start") < cutoff) & (
        F.col("session_end") >= cutoff
    )
    return all_sessions.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_events").alias("n_events"),
        F.sum(F.when(boundary, 1).otherwise(0)).cast("long").alias(
            "n_boundary_spanning"
        ),
        F.bit_xor(
            hash64(
                F.concat_ws(
                    ":",
                    F.col("user_id").cast("string"),
                    F.unix_micros("session_start").cast("string"),
                    F.col("n_events").cast("string"),
                )
            )
        ).alias("session_checksum"),
    )


@query(
    "q187_ingestion_ledger",
    """
    WITH batch1 AS (
        SELECT 'f1' AS file_id UNION ALL SELECT 'f2' UNION ALL SELECT 'f3'
    ),
    batch2 AS (
        SELECT 'f2' AS file_id UNION ALL SELECT 'f3'
        UNION ALL SELECT 'f4' UNION ALL SELECT 'f5'
    ),
    ledger1 AS (SELECT file_id FROM batch1),
    new2 AS (
        SELECT file_id FROM batch2
        WHERE file_id NOT IN (SELECT file_id FROM ledger1)
    ),
    files AS (
        SELECT 'f' || CAST(1 + (event_id % 5) AS VARCHAR) AS file_id,
               event_id, value
        FROM events
    ),
    ingested AS (
        SELECT f.* FROM files f JOIN (
            SELECT file_id FROM ledger1 UNION ALL SELECT file_id FROM new2
        ) l ON f.file_id = l.file_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows_ingested,
           CAST(COUNT(DISTINCT file_id) AS BIGINT) AS n_files,
           bit_xor(event_id) AS row_checksum,
           COUNT(*) = (SELECT COUNT(*) FROM events) AS exactly_once
    FROM ingested
    """,
)
def q187_ingestion_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once file ingestion via a processed-files ledger: batch 2
    re-delivers two of batch 1's files (at-least-once delivery is the
    norm for object-store notifications) and the ledger anti-join admits
    only genuinely new file ids — so every source row is ingested
    EXACTLY once despite the overlap, proven by the total row count,
    the per-row XOR checksum, and an explicit exactly_once boolean
    against the raw source.  The ledger is |files| rows (broadcastable
    at any realistic scale); the pattern is the batch twin of the
    streaming source's offset log, and what q126's CDC assumes
    upstream."""
    events = load_events(spark, sf_dir)
    files = events.select(
        F.concat(
            F.lit("f"), (1 + F.col("event_id") % 5).cast("string")
        ).alias("file_id"),
        "event_id",
    )
    batch1 = spark.createDataFrame(
        [("f1",), ("f2",), ("f3",)], ["file_id"]
    )
    batch2 = spark.createDataFrame(
        [("f2",), ("f3",), ("f4",), ("f5",)], ["file_id"]
    )
    ledger1 = batch1
    new2 = batch2.join(F.broadcast(ledger1), "file_id", "left_anti")
    admitted = ledger1.unionByName(new2)
    ingested = files.join(F.broadcast(admitted), "file_id")
    # the raw-source row count is parquet footer metadata (round 12):
    # the former shape paid a SECOND full events scan plus a broadcast
    # and a cross join to carry one number the driver already knows
    total = _footer_rows(_path(sf_dir, "events"))
    return ingested.agg(
        F.count(F.lit(1)).alias("n_rows_ingested"),
        F.countDistinct("file_id").alias("n_files"),
        F.bit_xor("event_id").alias("row_checksum"),
    ).select(
        "n_rows_ingested",
        "n_files",
        "row_checksum",
        (F.col("n_rows_ingested") == F.lit(total)).alias("exactly_once"),
    )


@query(
    "q188_rank_fusion",
    """
    WITH scored AS (
        SELECT doc_id, source,
               length(list_filter(string_split_regex(lower(text),
                   '[^a-z0-9'']+'), t -> t != '')) AS n_tokens,
               n_chars
        FROM documents
    ),
    ranked AS (
        SELECT doc_id, source,
               PERCENT_RANK() OVER (ORDER BY n_tokens, doc_id) AS r_tok,
               PERCENT_RANK() OVER (ORDER BY n_chars, doc_id) AS r_len
        FROM scored
    )
    SELECT doc_id, source,
           ROUND((r_tok + r_len) / 2, 6) AS fused_score
    FROM ranked
    ORDER BY fused_score DESC, doc_id LIMIT 25
    """,
)
def q188_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-based score fusion: two quality signals on incomparable
    scales (token count, char count) are each converted to percentile
    ranks and averaged — the scale-free way to blend heterogeneous
    scorers (the same shape fuses a perplexity filter with a quality
    classifier).  PERCENT_RANK ties are broken by doc_id so both
    engines rank identically — and because the ordering is then total,
    percent_rank reduces to exclusive-prefix-count / (n-1), which the
    Spark side computes with the DISTRIBUTED prefix sum (range
    partition + per-partition window + offset fold, q66's operator)
    instead of the single-partition global window the oracle's
    PERCENT_RANK would naively plan.  Top-25 is TakeOrderedAndProject."""
    from parquery_spark.functions.text import token_count
    from parquery_spark.operators.packing import prefix_sum

    # the doc-grain feature table (id, source, token/char counts) is
    # corpus-pure — staged once as a stat-keyed storage artifact so the
    # prefix-sum passes' driver round-trips (boundaries + per-bucket
    # totals, twice) re-read a 4-column parquet instead of re-running
    # token_count over the text column each time
    def _build_stats(t):
        load(spark, sf_dir, "documents").select(
            "doc_id",
            "source",
            token_count(F.col("text")).cast("long").alias("n_tokens"),
            "n_chars",
        ).write.parquet(t)

    sdir = artifact(
        sf_dir, "documents", "docstats-v1", "docstats", _build_stats,
    )
    docs = relations.get_relation(spark, sdir)
    # cardinality from the artifact's footers, not a count() job (r12)
    n = _footer_rows(sdir)
    SHIFT = F.lit(4294967296)

    def pct_rank(df, value_col, out):
        keyed = df.withColumn(
            "__key",
            F.col(value_col).cast("long") * SHIFT + F.col("doc_id"),
        )
        ranked = prefix_sum(
            keyed, F.lit(1), "__key", out_col="__rk", inclusive=False
        )
        return ranked.select(
            "doc_id", (F.col("__rk") / F.lit(n - 1)).alias(out)
        )

    r_tok = pct_rank(docs, "n_tokens", "r_tok")
    r_len = pct_rank(docs, "n_chars", "r_len")
    fused = (
        docs.select("doc_id", "source")
        .join(r_tok, "doc_id")
        .join(r_len, "doc_id")
        .select(
            "doc_id",
            "source",
            F.round((F.col("r_tok") + F.col("r_len")) / 2, 6).alias(
                "fused_score"
            ),
        )
    )
    return fused.orderBy(F.desc("fused_score"), "doc_id").limit(25)


@query(
    "q189_vocab_coverage",
    """
    WITH toks AS (
        SELECT unnest(list_filter(string_split_regex(lower(text),
               '[^a-z0-9'']+'), t -> t != '')) AS term
        FROM documents
    ),
    vocab AS (SELECT term, COUNT(*) AS c FROM toks GROUP BY term),
    ranked AS (
        SELECT term, c,
               ROW_NUMBER() OVER (ORDER BY c DESC, term) AS rnk,
               SUM(c) OVER (ORDER BY c DESC, term
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum,
               SUM(c) OVER () AS total
        FROM vocab
    )
    SELECT threshold,
           CAST(MIN(rnk) AS BIGINT) AS vocab_size_needed,
           CAST(MIN(total) AS BIGINT) AS total_tokens
    FROM ranked,
         (SELECT CAST(unnest([0.5, 0.9, 0.99]) AS DOUBLE) AS threshold)
    WHERE cum >= threshold * total
    GROUP BY threshold
    """,
)
def q189_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve — the tokenizer-design question 'how
    many types cover X% of all tokens?': frequency-ranked vocabulary,
    cumulative share, smallest rank crossing each coverage threshold.
    Token counting shuffles (term, count) pairs only; the ranking runs
    over the VOCABULARY relation (types, not tokens — orders of
    magnitude smaller than the corpus), and its running sum uses the
    distributed prefix sum keyed on (-count, term), never a
    single-partition window.  Thresholds fan out as a 3-row broadcast."""
    from parquery_spark.functions.text import tokens
    from parquery_spark.operators.packing import prefix_sum

    # the (term, count) vocabulary IS the tokenizer-design artifact this
    # query exists to analyze — corpus-pure, staged once stat-keyed; the
    # prefix-sum passes and the normalizer then read a two-column
    # parquet instead of re-tokenizing the corpus per driver round-trip
    def _build_vocab(t):
        (
            load(spark, sf_dir, "documents")
            .select(F.explode(tokens(F.col("text"))).alias("term"))
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("c"))
            .write.parquet(t)
        )

    vdir = artifact(sf_dir, "documents", "vocab-v1", "vocab", _build_vocab)
    vocab = relations.get_relation(spark, vdir)
    total = vocab.agg(F.sum("c").alias("total"))
    # rank key: descending count, ascending term — encode as a single
    # orderable string key so the range partitioner sorts once
    keyed = vocab.withColumn(
        "__key",
        F.concat(
            F.lpad((F.lit(10**12) - F.col("c")).cast("string"), 13, "0"),
            F.lit("|"),
            F.col("term"),
        ),
    )
    ranked = prefix_sum(
        keyed, F.col("c"), "__key", out_col="cum", inclusive=True
    )
    rnk = prefix_sum(
        keyed, F.lit(1), "__key", out_col="rnk", inclusive=True
    ).select("term", "rnk")
    thresholds = spark.createDataFrame(
        [(0.5,), (0.9,), (0.99,)], ["threshold"]
    )
    j = (
        ranked.join(rnk, "term")
        .crossJoin(F.broadcast(total))
        .crossJoin(F.broadcast(thresholds))
        .where(F.col("cum") >= F.col("threshold") * F.col("total"))
    )
    return j.groupBy("threshold").agg(
        F.min("rnk").alias("vocab_size_needed"),
        F.min("total").alias("total_tokens"),
    )


@query(
    "q190_error_rate_control",
    """
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS hour,
               COUNT(*) AS n,
               SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                   AS n_err
        FROM events GROUP BY 1
    ),
    overall AS (
        SELECT CAST(SUM(n_err) AS DOUBLE) / SUM(n) AS p FROM hourly
    )
    SELECT epoch_us(hour) AS hour_us, CAST(n AS BIGINT) AS n,
           CAST(n_err AS BIGINT) AS n_err,
           ROUND(CAST(n_err AS DOUBLE) / n, 6) AS err_rate,
           ROUND(p + 3 * sqrt(p * (1 - p) / n), 6) AS ucl,
           CAST(n_err AS DOUBLE) / n
               > p + 3 * sqrt(p * (1 - p) / n) AS out_of_control
    FROM hourly, overall
    WHERE n >= 10
    """,
)
def q190_error_rate_control(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical process control for pipeline health: hourly error
    rates against a binomial p-chart — center line = overall error
    rate, upper control limit = p + 3*sqrt(p(1-p)/n) with n varying per
    hour, flagging hours whose error rate is distinguishable from noise
    rather than merely 'above average'.  One rollup to hour grain + a
    one-row broadcast for the center line; low-volume hours (n < 10)
    are withheld, where the normal approximation lies.  sqrt is
    IEEE-exact on both engines (unlike exp/log) so the limits
    hash-match without decimal games."""
    events = load_events(spark, sf_dir)
    hourly = events.groupBy(
        F.date_trunc("hour", F.col("ts").cast("timestamp")).alias("hour")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(F.col("event_type") == "error", 1).otherwise(0)
        ).alias("n_err"),
    )
    overall = hourly.agg(
        (
            F.sum("n_err").cast("double") / F.sum("n")
        ).alias("p")
    )
    j = hourly.crossJoin(F.broadcast(overall)).where(F.col("n") >= 10)
    rate = F.col("n_err").cast("double") / F.col("n")
    ucl = F.col("p") + 3 * F.sqrt(
        F.col("p") * (1 - F.col("p")) / F.col("n")
    )
    return j.select(
        F.unix_micros("hour").alias("hour_us"),
        F.col("n").cast("long").alias("n"),
        F.col("n_err").cast("long").alias("n_err"),
        F.round(rate, 6).alias("err_rate"),
        F.round(ucl, 6).alias("ucl"),
        (rate > ucl).alias("out_of_control"),
    )


@query(
    "q191_runtime_pruned_join",
    """
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
               value, event_id
        FROM events
    )
    SELECT event_type, COUNT(*) AS n,
           SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) / 100.0
               AS total_value,
           bit_xor(event_id) AS id_checksum
    FROM daily WHERE dayofmonth(day) <= 5
    GROUP BY event_type
    """,
)
def q191_runtime_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning END TO END: a day-partitioned fact is
    joined to a dimension whose filter exists only as a comparison
    predicate — at plan time the fact's partition list is unknown, so
    Catalyst injects a runtime subquery (dynamicpruningexpression) that
    broadcasts the dim's surviving days and opens ONLY those fact
    directories.  The query asserts the mechanism fired (plan check
    inline — a silent fallback to full scan would still return correct
    rows, which is exactly why the plan must be checked, q98's static
    analog); the oracle recomputes from the raw log.  The
    stored-boolean-flag trap this guards against is pinned in
    tests/test_scale_plans.py::TestRuntimeOptimizations."""
    events = load_events(spark, sf_dir)

    def _build_star(t):
        day = F.date_trunc("day", F.col("ts").cast("timestamp")).cast("date")
        events.select(
            "event_id", "event_type", "value", day.alias("day")
        ).repartition("day").write.mode("overwrite").partitionBy(
            "day"
        ).parquet(os.path.join(t, "fact"))
        events.select(
            F.date_trunc("day", F.col("ts").cast("timestamp"))
            .cast("date")
            .alias("d")
        ).distinct().write.mode("overwrite").parquet(os.path.join(t, "dim"))
        open(os.path.join(t, "_done"), "w").close()

    base = artifact(
        sf_dir, "events", "star-v1", "dppq", _build_star, marker="_done"
    )
    fact = relations.get_relation(spark, os.path.join(base, "fact"))
    dim = relations.get_relation(spark, os.path.join(base, "dim")).where(
        F.dayofmonth("d") <= 5
    )
    j = fact.join(dim, F.col("day") == F.col("d"))
    out = j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(_cents()) / 100.0).alias("total_value"),
        F.bit_xor("event_id").alias("id_checksum"),
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), (
        "DPP did not fire — the fact scan would read every partition"
    )
    return out


@query(
    "q192_tpch_q2_shape",
    """
    WITH supplies AS (
        SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem
    ),
    candidates AS (
        SELECT p_partkey, p_brand, s_suppkey, s_name, s_acctbal
        FROM part
        JOIN supplies ON pk = p_partkey
        JOIN supplier ON s_suppkey = sk
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE p_size = 15 AND p_type = 'ECONOMY' AND r_name = 'EUROPE'
    )
    SELECT p_partkey, p_brand, s_suppkey, s_name, s_acctbal
    FROM candidates c
    WHERE s_acctbal = (
        SELECT MIN(s_acctbal) FROM candidates c2
        WHERE c2.p_partkey = c.p_partkey
    )
    """,
)
def q192_tpch_q2_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (minimum-cost supplier), shape-adapted: no partsupp
    table, so 'supplies part P' is derived from lineitem history and
    'cost' proxied by supplier account balance — preserving the query's
    real structure: a correlated MIN subquery over the SAME filtered
    candidate relation it selects from, decorrelated into one per-part
    aggregate joined back (with ties kept, as in the original).  The
    candidate relation feeds both roles through ReuseExchange in the
    final adaptive plan — NO persist, per the registry-wide cache
    contract; every dimension broadcasts; the supplies derivation is
    the only fact-sized operation, and (round 12) a broadcast semi-join
    on the filtered part keys runs BELOW the distinct, so the one
    remaining shuffle carries only lines of qualifying parts
    (distinct-then-filter == filter-then-distinct)."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").where(
        (F.col("p_size") == 15) & (F.col("p_type") == "ECONOMY")
    )
    supp = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    supplies = (
        li.select(
            F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
        )
        .join(
            F.broadcast(part.select(F.col("p_partkey").alias("pk"))),
            "pk", "semi",
        )
        .distinct()
    )
    candidates = (
        F.broadcast(part)
        .join(supplies, F.col("pk") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("sk") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("p_partkey", "p_brand", "s_suppkey", "s_name", "s_acctbal")
    )
    # the min-aggregate branch and the join-back branch share the
    # supplies distinct-exchange and every dimension broadcast via
    # ReuseExchange — no persist
    mins = candidates.groupBy(F.col("p_partkey").alias("mp")).agg(
        F.min("s_acctbal").alias("min_bal")
    )
    return (
        candidates.join(
            F.broadcast(mins),
            (F.col("p_partkey") == F.col("mp"))
            & (F.col("s_acctbal") == F.col("min_bal")),
        )
        .select("p_partkey", "p_brand", "s_suppkey", "s_name", "s_acctbal")
    )


@query(
    "q193_tpch_q21_shape",
    """
    WITH late AS (
        SELECT l_orderkey, l_suppkey
        FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
    )
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier, lineitem l1, orders
    WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
      AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND EXISTS (
          SELECT 1 FROM lineitem l2
          WHERE l2.l_orderkey = l1.l_orderkey
            AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
          SELECT 1 FROM late l3
          WHERE l3.l_orderkey = l1.l_orderkey
            AND l3.l_suppkey <> l1.l_suppkey
      )
    GROUP BY s_name
    """,
)
def q193_tpch_q21_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (suppliers who kept orders waiting), shape-adapted
    ('late' = shipped >60 days after order date, standing in for the
    missing receipt/commit dates): the hardest decorrelation shape in
    the suite — an EXISTS and a NOT EXISTS against the SAME fact at the
    same correlation key, i.e. a LeftSemi and a LeftAnti chained on one
    relation.  Both auxiliary relations collapse to order grain before
    joining (other-supplier presence and other-supplier-late presence
    as per-order booleans via conditional aggregation — one shuffle
    each, never a per-row subquery), then the late lines semi-join
    those boolean relations."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    supp = load(spark, sf_dir, "supplier")
    lo = li.join(
        orders.select("o_orderkey", "o_orderdate"),
        li["l_orderkey"] == F.col("o_orderkey"),
    )
    late = lo.where(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")
    ).select("l_orderkey", "l_suppkey", "o_orderdate")
    # late feeds its per-order aggregate AND the final join chain from
    # the ONE plan object — exchanges shared via ReuseExchange
    # per-(order, supplier) flags of OTHER suppliers' presence/lateness.
    # The EXISTS tests need only "more than one distinct supplier" /
    # "exactly one distinct late supplier", and for those min/max are
    # sufficient statistics: COUNT(DISTINCT) plans as TWO exchange
    # rounds (distinct-key pre-aggregation, then the group), while
    # min/max partial-aggregate map-side and exchange ONCE (round 12,
    # guide §2.4) — n_supp > 1 ⇔ min ≠ max, n_late_supp = 1 ⇔ min = max.
    per_order = li.groupBy("l_orderkey").agg(
        F.min("l_suppkey").alias("supp_lo"),
        F.max("l_suppkey").alias("supp_hi"),
    )
    late_per_order = late.groupBy(F.col("l_orderkey").alias("lk")).agg(
        F.min("l_suppkey").alias("late_lo"),
        F.max("l_suppkey").alias("late_hi"),
    )
    j = (
        late.join(per_order, "l_orderkey")
        .join(late_per_order, F.col("l_orderkey") == F.col("lk"))
        .where(
            # EXISTS other supplier in the order
            (F.col("supp_lo") != F.col("supp_hi"))
            # NOT EXISTS other LATE supplier: this supplier is the only one
            & (F.col("late_lo") == F.col("late_hi"))
            & (F.col("late_lo") == F.col("l_suppkey"))
        )
    )
    return (
        j.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@query(
    "q194_bitmap_audience_algebra",
    """
    WITH bm AS (
        SELECT event_type,
               user_id // 32 AS word,
               bit_or(1::BIGINT << CAST(user_id % 32 AS INT)) AS bits
        FROM events
        WHERE event_type IN ('click', 'purchase', 'view')
        GROUP BY event_type, user_id // 32
    ),
    pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               a.word, a.bits & b.bits AS both_bits,
               a.bits | b.bits AS either_bits
        FROM bm a JOIN bm b
          ON a.word = b.word AND a.event_type < b.event_type
    )
    SELECT type_a, type_b,
           CAST(SUM(bit_count(both_bits)) AS BIGINT) AS n_intersection,
           CAST(SUM(bit_count(either_bits)) AS BIGINT) AS n_union_lb,
           ROUND(CAST(SUM(bit_count(both_bits)) AS DOUBLE)
                 / SUM(bit_count(either_bits)), 6) AS jaccard_lb
    FROM pairs GROUP BY type_a, type_b
    """,
)
def q194_bitmap_audience_algebra(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT audience set algebra via distributed bitmap indexes (the
    roaring-bitmap pattern): each segment's users compress into 32-bit
    words (word = id/32, bit_or of 1<<id%32 — ≤32 bits per word keeps
    every shift oracle-replicable, the q77 rule), and intersections /
    unions become word-aligned AND/OR + popcount — no re-shuffle of raw
    user ids to compare ANY pair of segments, and the bitmaps persist
    as reusable state.  The exact complement to q177's HLL
    inclusion-exclusion: sketches when |users| is huge, bitmaps when the
    id space is dense enough to pack.  Union counts here are
    lower-bounds per shared word-join (words absent from one side drop
    out of the inner join; the full union adds an outer-join pass) —
    named _lb accordingly and replicated identically by the oracle."""
    events = load_events(spark, sf_dir)
    seg = events.where(
        F.col("event_type").isin("click", "purchase", "view")
    ).select("event_type", "user_id")
    bm = seg.groupBy(
        "event_type", (F.col("user_id") / 32).cast("long").alias("word")
    ).agg(
        F.bit_or(
            F.expr("shiftleft(1L, CAST(user_id % 32 AS INT))")
        ).alias("bits")
    )
    a = bm.select(
        F.col("event_type").alias("type_a"), "word",
        F.col("bits").alias("ba"),
    )
    b = bm.select(
        F.col("event_type").alias("type_b"), "word",
        F.col("bits").alias("bb"),
    )
    pairs = a.join(b, "word").where(F.col("type_a") < F.col("type_b"))
    return pairs.groupBy("type_a", "type_b").agg(
        F.sum(F.bit_count(F.col("ba").bitwiseAND(F.col("bb"))))
        .cast("long")
        .alias("n_intersection"),
        F.sum(F.bit_count(F.col("ba").bitwiseOR(F.col("bb"))))
        .cast("long")
        .alias("n_union_lb"),
        F.round(
            F.sum(F.bit_count(F.col("ba").bitwiseAND(F.col("bb"))))
            .cast("double")
            / F.sum(F.bit_count(F.col("ba").bitwiseOR(F.col("bb")))),
            6,
        ).alias("jaccard_lb"),
    )


@query(
    "q195_asof_tolerance",
    """
    WITH purchases AS (
        SELECT event_id, user_id, ts FROM events
        WHERE event_type = 'purchase'
    ),
    clicks AS (
        SELECT user_id, ts FROM events WHERE event_type = 'click'
    ),
    matched AS (
        SELECT p.event_id, p.user_id,
               (SELECT MAX(c.ts) FROM clicks c
                WHERE c.user_id = p.user_id AND c.ts <= p.ts) AS last_click
        FROM purchases p
    )
    SELECT event_id, user_id,
           CASE WHEN last_click IS NOT NULL
                 AND epoch_us(ts_p) - epoch_us(last_click) <= 7200000000
                THEN CAST(floor((epoch_us(ts_p) - epoch_us(last_click))
                          / 1000000.0) AS BIGINT) END AS click_age_sec,
           last_click IS NOT NULL
               AND epoch_us(ts_p) - epoch_us(last_click) <= 7200000000
               AS attributed
    FROM (SELECT m.*, p2.ts AS ts_p FROM matched m
          JOIN purchases p2 ON p2.event_id = m.event_id)
    """,
)
def q195_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with TOLERANCE (pandas merge_asof semantics): each
    purchase picks up its most recent prior click per user, but the
    match is voided when older than 2 hours — the staleness bound every
    feature-store lookup needs (a price quote from last week must not
    enrich today's trade).  Implemented by carrying the matched
    timestamp through the union+carry-forward as-of operator (one
    user-keyed shuffle, q31's shape) and nulling out-of-tolerance
    matches afterwards — the bound costs zero extra joins.  The
    correlated-MAX oracle pins 1:1 last-match semantics (vs q157's
    all-pairs join)."""
    from parquery_spark.operators.joins import asof_join

    events = load_events(spark, sf_dir)
    purchases = events.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    clicks = events.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts").cast("timestamp").alias("click_ts")
    )
    out = asof_join(
        purchases,
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="click_ts",
        right_cols=["click_ts"],
        direction="backward",
    )
    age_us = F.unix_micros("ts") - F.unix_micros("click_ts")
    in_tol = F.col("click_ts").isNotNull() & (age_us <= 7200 * 1000 * 1000)
    return out.select(
        "event_id",
        "user_id",
        # floor, not cast-truncate: DuckDB CAST(double AS BIGINT) ROUNDS
        # while Spark cast truncates — floor agrees on both engines
        F.when(in_tol, F.floor(age_us / 1000000.0).cast("long")).alias(
            "click_age_sec"
        ),
        in_tol.alias("attributed"),
    )


@query(
    "q196_rolling_bitmap_wau",
    """
    WITH du AS (
        SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day,
               user_id
        FROM events
    ),
    days AS (SELECT DISTINCT day FROM du)
    SELECT epoch_us(CAST(d.day AS TIMESTAMP)) AS day_us,
           CAST(COUNT(DISTINCT du.user_id) AS BIGINT) AS wau
    FROM days d JOIN du
      ON du.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
    GROUP BY d.day
    """,
)
def q196_rolling_bitmap_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct users from PER-DAY BITMAP state — the
    EXACT middle ground between q140 (raw day-user grain) and q164
    (HLL sketches): each day persists as (word, bits) rows packing its
    user set 32/word; a window's distinct count is bit_or over its <= 7
    days per word, then popcount — the union is exact, the state is
    |days| x |users|/32 rows, and merging is associative bit algebra
    (q194's machinery made temporal).  Same oracle as q140, so all
    three strategies are pinned to identical answers."""
    events = load_events(spark, sf_dir)
    day = F.date_trunc("day", F.col("ts").cast("timestamp")).cast("date")
    bm = (
        events.select(day.alias("day"), "user_id")
        .groupBy(
            "day", (F.col("user_id") / 32).cast("long").alias("word")
        )
        .agg(
            F.bit_or(
                F.expr("shiftleft(1L, CAST(user_id % 32 AS INT))")
            ).alias("bits")
        )
    )
    # days comes straight from the event scan (a map-side distinct over
    # day values), NOT from bm: deriving it from bm would prune the
    # bitmap aggregate out of that branch's exchange copy and recompute
    # the whole bitmap pass — this way bm has ONE consumer and nothing
    # needs persisting
    days = (
        events.select(day.alias("d")).distinct()
    )
    merged = (
        days.join(
            bm,
            (F.col("day") >= F.date_sub(F.col("d"), 6))
            & (F.col("day") <= F.col("d")),
        )
        .groupBy("d", "word")
        .agg(F.bit_or("bits").alias("bits"))
    )
    return (
        merged.groupBy("d")
        .agg(F.sum(F.bit_count("bits")).cast("long").alias("wau"))
        .select(
            F.unix_micros(F.col("d").cast("timestamp")).alias("day_us"),
            "wau",
        )
    )


@query(
    "q197_effective_tokens",
    f"""
    WITH fp AS (
        SELECT doc_id, source,
               md5({_SQL_NORMALIZED_TEXT}) AS fingerprint,
               CAST(length(list_filter(string_split_regex(lower(text),
                    '[^a-z0-9'']+'), t -> t != '')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    weighted AS (
        SELECT source, n_tokens,
               COUNT(*) OVER (PARTITION BY fingerprint) AS dup_count
        FROM fp
    ),
    by_mult AS (
        SELECT source, dup_count,
               CAST(SUM(n_tokens) AS BIGINT) AS tok
        FROM weighted GROUP BY source, dup_count
    )
    SELECT source,
           CAST(SUM(tok) AS BIGINT) AS raw_tokens,
           ROUND(SUM(CAST(tok AS DOUBLE) / dup_count), 4)
               AS effective_tokens,
           ROUND(SUM(CAST(tok AS DOUBLE) / dup_count)
                 / SUM(tok), 6) AS uniqueness_ratio
    FROM by_mult GROUP BY source
    """,
)
def q197_effective_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-aware data budgeting: every document's tokens are weighted
    by 1/dup_count of its content fingerprint, so a page copied to five
    sources contributes its tokens ONCE, split pro-rata — the
    'effective unique tokens' number a mixture designer should feed into
    q160's weights instead of raw counts (raw counts over-budget
    heavily-mirrored sources).  One fingerprint shuffle computes the
    duplicate multiplicity (a count window at fingerprint grain, q150's
    shuffle reused); everything else stays at source grain.  The
    1/dup_count weights are summed at (source, dup_count) grain first —
    the integer token totals collapse exactly, so the only floating
    addition is over the handful of distinct multiplicities (~10 terms,
    ~10 ulps) instead of one term per document: the summation-order
    error no longer grows with corpus size, so the ROUND boundary is
    scale-stable (the hazard class NOTES.md documents for
    double-domain ROUND(SUM) aggregates)."""
    from pyspark.sql import Window

    from parquery_spark.functions.text import fingerprint, token_count

    docs = load(spark, sf_dir, "documents").select(
        "source",
        fingerprint(F.col("text")).alias("fingerprint"),
        token_count(F.col("text")).cast("long").alias("n_tokens"),
    )
    w = Window.partitionBy("fingerprint")
    weighted = docs.withColumn("dup_count", F.count(F.lit(1)).over(w))
    by_mult = weighted.groupBy("source", "dup_count").agg(
        F.sum("n_tokens").alias("tok")
    )
    return by_mult.groupBy("source").agg(
        F.sum("tok").alias("raw_tokens"),
        F.round(
            F.sum(F.col("tok").cast("double") / F.col("dup_count")), 4
        ).alias("effective_tokens"),
        F.round(
            F.sum(F.col("tok").cast("double") / F.col("dup_count"))
            / F.sum("tok"),
            6,
        ).alias("uniqueness_ratio"),
    )


@query(
    "q198_pseudonymization_invariance",
    """
    WITH pseudo AS (
        SELECT md5(CAST(user_id AS VARCHAR) || '#pseudo-v1') AS pid,
               event_type, value
        FROM events
    ),
    agg_p AS (
        SELECT event_type, COUNT(DISTINCT pid) AS n_entities,
               COUNT(*) AS n,
               SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) / 100.0
                   AS total_value
        FROM pseudo GROUP BY event_type
    ),
    agg_r AS (
        SELECT event_type, COUNT(DISTINCT user_id) AS n_entities_raw
        FROM events GROUP BY event_type
    )
    SELECT p.event_type, CAST(n_entities AS BIGINT) AS n_entities,
           CAST(n AS BIGINT) AS n, total_value,
           n_entities = n_entities_raw AS lossless
    FROM agg_p p JOIN agg_r r ON p.event_type = r.event_type
    """,
)
def q198_pseudonymization_invariance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Privacy-preserving analytics contract: replace raw user ids with
    salted-hash pseudonyms (deterministic, so joinability and
    grouping survive) and PROVE the analytics are unchanged — distinct
    entities per segment under pseudonyms must equal the raw count
    (collision-free at this scale; a collision would flip `lossless`
    and fail the hash gate).  The pseudonym is a pure column expression
    — no lookup-table state to secure, rotate the salt to rotate the
    pseudonym space.  Complements q64 (PII detection) and q182
    (k-anonymity): detect, generalize, then pseudonymize what remains."""
    events = load_events(spark, sf_dir)
    pid = F.md5(F.concat(F.col("user_id").cast("string"), F.lit("#pseudo-v1")))
    agg_p = (
        events.select(pid.alias("pid"), "event_type", "value")
        .groupBy("event_type")
        .agg(
            F.count_distinct("pid").alias("n_entities"),
            F.count(F.lit(1)).alias("n"),
            (F.sum(_cents()) / 100.0).alias("total_value"),
        )
    )
    agg_r = events.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_entities_raw")
    )
    return agg_p.join(agg_r, "event_type").select(
        "event_type",
        "n_entities",
        "n",
        "total_value",
        (F.col("n_entities") == F.col("n_entities_raw")).alias("lossless"),
    )


@query(
    "q199_user_feature_store",
    """
    WITH base AS (
        SELECT user_id,
               COUNT(*) AS n_events,
               COUNT(*) FILTER (event_type = 'purchase') AS n_purchases,
               COUNT(*) FILTER (event_type = 'error') AS n_errors,
               COUNT(DISTINCT CAST(date_trunc('day', ts) AS DATE))
                   AS days_active,
               epoch_us(MIN(ts)) AS first_seen_us,
               epoch_us(MAX(ts)) AS last_seen_us,
               SUM(CASE WHEN event_type = 'purchase'
                        THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                        ELSE 0 END) / 100.0 AS purchase_value,
               ROUND(SUM(CASE WHEN event_type = 'purchase'
                    THEN value * power(2.0, -LEAST(
                         datediff('day', CAST(date_trunc('day', ts) AS DATE),
                                  DATE '2024-01-31') // 7, 30))
                    ELSE CAST(0 AS DOUBLE) END), 6) AS decayed_value
        FROM events GROUP BY user_id
    )
    SELECT user_id, n_events,
           CAST(n_purchases AS BIGINT) AS n_purchases,
           CAST(n_errors AS BIGINT) AS n_errors,
           CAST(days_active AS BIGINT) AS days_active,
           first_seen_us, last_seen_us,
           purchase_value, decayed_value,
           n_purchases > 0 AS is_converted,
           ROUND(CAST(n_errors AS DOUBLE) / n_events, 6) AS error_rate
    FROM base
    """,
)
def q199_user_feature_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone #2 — the USER FEATURE TABLE an ML platform materializes
    nightly: eleven features (activity counts, lifecycle timestamps,
    monetary + recency-decayed value, conversion flag, error rate)
    computed in ONE groupBy over one scan — conditional aggregation
    fuses what naive pipelines compute as eleven separate jobs, and
    every feature reuses a gated recipe (q169's power-of-two decay,
    q81's conditional first-touch counts, q190's rate discipline).
    The day-distinct is this plan's only Expand; at extreme scale it
    swaps for the q164 sketch per the q65 rule.  This table is what
    q195's tolerance-bounded as-of serves to training jobs.

    Float discipline: ``purchase_value`` uses the integer-cents recipe
    (exact at any scale).  ``decayed_value`` stays in the double domain
    deliberately: the weight is a power of two, so each per-row product
    ``value * 2^-k`` is EXACT (exponent shift) and bit-identical across
    engines; the only divergence source is summation order, whose error
    is bounded by group size — and the group key is ``user_id``, so group
    cardinality is a user's event count (10²-10⁴), not corpus size.
    Worst case ~10⁴ adds × 2⁻⁵² relative ≈ 2e-12 relative error, five
    orders of magnitude under the 5e-7 half-way boundary of ROUND(..,6).
    Per-key-bounded groups are the documented exemption from the cents
    rule (NOTES.md)."""
    events = load_events(spark, sf_dir)
    day = F.date_trunc("day", F.col("ts").cast("timestamp")).cast("date")
    is_purchase = F.col("event_type") == "purchase"
    age_days = F.datediff(F.lit("2024-01-31").cast("date"), day)
    wt = F.pow(
        F.lit(2.0), -F.least(F.floor(age_days / 7).cast("long"), F.lit(30))
    )
    ts = F.col("ts").cast("timestamp")
    out = events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(is_purchase, 1).otherwise(0)).cast("long").alias(
            "n_purchases"
        ),
        F.sum(
            F.when(F.col("event_type") == "error", 1).otherwise(0)
        ).cast("long").alias("n_errors"),
        F.count_distinct(day).alias("days_active"),
        F.unix_micros(F.min(ts)).alias("first_seen_us"),
        F.unix_micros(F.max(ts)).alias("last_seen_us"),
        (
            F.sum(F.when(is_purchase, _cents()).otherwise(F.lit(0)))
            / 100.0
        ).alias("purchase_value"),
        F.round(
            F.sum(
                F.when(is_purchase, F.col("value") * wt).otherwise(F.lit(0.0))
            ),
            6,
        ).alias("decayed_value"),
    )
    return out.select(
        "*",
        (F.col("n_purchases") > 0).alias("is_converted"),
        F.round(
            F.col("n_errors").cast("double") / F.col("n_events"), 6
        ).alias("error_rate"),
    )


@query(
    "q200_glob_schema_drift",
    """
    WITH v1 AS (
        SELECT o_orderkey, o_totalprice, NULL::VARCHAR AS channel
        FROM orders WHERE o_orderkey % 2 = 0
    ),
    v2 AS (
        SELECT o_orderkey, o_totalprice,
               CASE WHEN o_orderkey % 3 = 0 THEN 'web' ELSE 'store' END
                   AS channel
        FROM orders WHERE o_orderkey % 2 = 1
    ),
    u AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
    SELECT channel, ROUND(SUM(o_totalprice), 2) AS total,
           COUNT(o_orderkey) AS n,
           CAST(0.0 AS DOUBLE) AS g, -1 AS ghost_dim
    FROM u GROUP BY channel
    """,
)
def q200_glob_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Glob input + schema drift + tolerant splice, all through the parity
    API in ONE query: ``aggregate_pq("dir/gen*.parquet", ...)`` over a
    fixture whose two generations have physically different schemas (gen1
    predates the ``channel`` column).  Pins three contracts at the query
    level: (1) glob patterns expand to a sorted file list driver-side
    (``relations.expand_globs``) and read as one distributed mergeSchema
    scan; (2) a column present in only SOME files surfaces as null for the
    others' rows — gen1's rows land in the null ``channel`` group, exactly
    the oracle's NULL::VARCHAR generation; (3) the fully-missing-column
    splice (U3, reference: parquery/tool.py:240-301) still applies on top:
    ``ghost_dim`` → -1, ``ghost_m`` → 0.0.  Fixture generations are
    written via Spark and re-laid as flat files so the glob genuinely
    selects among siblings of one directory."""
    import shutil

    def _build_gens(t):
        orders = load(spark, sf_dir, "orders")
        os.makedirs(t, exist_ok=True)
        for gen, df in (
            (
                "gen1",
                orders.where(F.col("o_orderkey") % 2 == 0).select(
                    "o_orderkey", "o_totalprice"
                ),
            ),
            (
                "gen2",
                orders.where(F.col("o_orderkey") % 2 == 1).select(
                    "o_orderkey",
                    "o_totalprice",
                    F.when(F.col("o_orderkey") % 3 == 0, "web")
                    .otherwise("store")
                    .alias("channel"),
                ),
            ),
        ):
            gen_dir = os.path.join(t, f"_{gen}_stage")
            df.coalesce(1).write.mode("overwrite").parquet(gen_dir)
            part = next(
                f for f in os.listdir(gen_dir)
                if f.endswith(".parquet") and f.startswith("part-")
            )
            os.replace(
                os.path.join(gen_dir, part),
                os.path.join(t, f"{gen}.parquet"),
            )
            shutil.rmtree(gen_dir)
        open(os.path.join(t, "_done"), "w").close()

    base = artifact(
        sf_dir, "orders", "globdrift", "glob", _build_gens, marker="_done"
    )

    df = build_aggregation_plan(
        spark,
        os.path.join(base, "gen*.parquet"),
        ["channel", "ghost_dim"],
        [
            ["o_totalprice", "sum", "total"],
            ["o_orderkey", "count", "n"],
            ["ghost_m", "sum", "g"],
        ],
    )
    return df.withColumn("total", F.round("total", 2))


@query(
    "q201_next_event_labels",
    """
    WITH marked AS (
        SELECT event_id, user_id, ts, event_type,
               CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                       > 1800000000
                    THEN 1 ELSE 0 END AS is_start
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT event_id, user_id, ts, event_type,
               SUM(is_start) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM marked
    )
    SELECT event_id, user_id, CAST(sid AS BIGINT) AS sid, event_type,
           lead(event_type) OVER s AS next_type,
           epoch_us(lead(ts) OVER s) - epoch_us(ts) AS next_gap_us
    FROM sess
    WINDOW s AS (PARTITION BY user_id, sid ORDER BY ts, event_id)
    """,
)
def q201_next_event_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-label GENERATION (the dataset-materialization shape a
    next-action model trains on): every event labeled with its session's
    next event type and the exact microsecond gap — leads within
    (user, session), null at session end, so labels never leak across
    the 30-minute session boundary.  Composes the q186 sessionization
    prefix with one more window on the same (user_id) partitioning: all
    three windows share a single exchange.  Gaps are integer
    microseconds — engine-exact, no float discipline needed."""
    from pyspark.sql import Window

    events = load_events(spark, sf_dir)
    ts = F.col("ts").cast("timestamp")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap_us = F.unix_micros(ts) - F.unix_micros(
        F.lag(ts).over(w)
    )
    is_start = F.when(
        gap_us.isNull() | (gap_us > 1_800_000_000), 1
    ).otherwise(0)
    sess = events.select(
        "event_id",
        "user_id",
        ts.alias("ts"),
        "event_type",
        F.sum(is_start).over(run).alias("sid"),
    )
    sw = Window.partitionBy("user_id", "sid").orderBy("ts", "event_id")
    return sess.select(
        "event_id",
        "user_id",
        F.col("sid").cast("long").alias("sid"),
        "event_type",
        F.lead("event_type").over(sw).alias("next_type"),
        (
            F.unix_micros(F.lead("ts").over(sw)) - F.unix_micros("ts")
        ).alias("next_gap_us"),
    )


@query(
    "q202_length_bucketing",
    """
    WITH toks AS (
        SELECT doc_id, source,
               CAST(length(list_filter(string_split_regex(lower(text),
                    '[^a-z0-9'']+'), t -> t != '')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    bucketed AS (
        SELECT doc_id, source, n_tokens,
               CASE WHEN n_tokens <= 64 THEN 64
                    WHEN n_tokens <= 128 THEN 128
                    WHEN n_tokens <= 256 THEN 256
                    WHEN n_tokens <= 512 THEN 512
                    WHEN n_tokens <= 1024 THEN 1024
                    ELSE 2048 END AS bucket
        FROM toks WHERE n_tokens > 0
    )
    SELECT bucket, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(bucket - n_tokens) AS BIGINT) AS total_padding,
           ROUND(CAST(SUM(bucket - n_tokens) AS DOUBLE)
                 / SUM(CAST(bucket AS BIGINT)), 6) AS waste_ratio
    FROM bucketed GROUP BY bucket
    """,
)
def q202_length_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-grouped batching accounting — the padding-efficiency
    planner every training pipeline runs before choosing bucket
    boundaries: docs binned to power-of-two token-length buckets, per-
    bucket padding waste vs the tokens actually carried.  Buckets are a
    fixed integer CASE ladder (never log2 — libm rounding at exact
    powers of two is engine-dependent); the waste ratio divides two
    exact integer sums.  One scan, one aggregate; complements q168
    (packing into fixed windows) with the bucketed-batching strategy."""
    from parquery_spark.functions.text import token_count

    docs = load(spark, sf_dir, "documents")
    n = token_count(F.col("text")).cast("long")
    bucket = (
        F.when(n <= 64, 64)
        .when(n <= 128, 128)
        .when(n <= 256, 256)
        .when(n <= 512, 512)
        .when(n <= 1024, 1024)
        .otherwise(2048)
    )
    b = docs.select(
        n.alias("n_tokens"), bucket.alias("bucket")
    ).where(F.col("n_tokens") > 0)
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum(F.col("bucket") - F.col("n_tokens")).alias("total_padding"),
        F.round(
            F.sum(F.col("bucket") - F.col("n_tokens")).cast("double")
            / F.sum(F.col("bucket").cast("long")),
            6,
        ).alias("waste_ratio"),
    )


@query(
    "q203_stream_semi_join",
    """
    SELECT c.event_id AS c_event_id, c.user_id AS c_user
    FROM events c
    WHERE c.event_type = 'click'
      AND EXISTS (
          SELECT 1 FROM events p
          WHERE p.event_type = 'purchase'
            AND p.user_id = c.user_id
            AND p.ts >= c.ts
            AND p.ts <= c.ts + INTERVAL 1 HOUR
      )
    """,
)
def q203_stream_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT SEMI join — the third join mode of the
    streaming surface (q157 inner, q170 left-outer): clicks that
    convert within the hour, each emitted ONCE however many purchases
    match — existence, not pairing, so the purchase side never fans the
    output out.  Same watermark + time-range state bounds as the other
    two modes; the oracle is the batch EXISTS.  Emission of a matched
    click still waits on the watermark (the engine must rule out
    nothing — semi means at-most-once, and once = when the window
    closes), so the sentinel close batches flush it like q170's
    unmatched rows."""
    out = _drained(
        spark, sf_dir, "events", f"v1+{_SENTINEL_TAG}", "q203_drain",
        lambda: _click_purchase_join(spark, sf_dir, "left_semi"),
    )
    return out.where(F.col("c_user") >= 0).select("c_event_id", "c_user")


@query(
    "q204_stream_full_outer_join",
    """
    WITH clicks AS (
        SELECT event_id AS c_event_id, user_id AS c_user, ts AS c_ts
        FROM events WHERE event_type = 'click'
    ),
    purchases AS (
        SELECT event_id AS p_event_id, user_id AS p_user, ts AS p_ts
        FROM events WHERE event_type = 'purchase'
    ),
    joined AS (
        SELECT c.c_event_id, p.p_event_id
        FROM clicks c
        FULL OUTER JOIN purchases p
          ON c.c_user = p.p_user
         AND p.p_ts >= c.c_ts
         AND p.p_ts <= c.c_ts + INTERVAL 1 HOUR
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN c_event_id IS NOT NULL
                          AND p_event_id IS NOT NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
           CAST(SUM(CASE WHEN p_event_id IS NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_click_only,
           CAST(SUM(CASE WHEN c_event_id IS NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase_only
    FROM joined
    """,
)
def q204_stream_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER join — completes the streaming join
    matrix (q157 inner, q170 left-outer, q203 left-semi): matched pairs
    emit on match; unmatched CLICKS evict with null purchase AND
    unmatched PURCHASES evict with null click, each once the watermark
    proves no counterpart can arrive.  Both sides' states face eviction
    pressure, so this is the mode that exercises the store on both
    sides.  The drained relation reduces to the match/only-left/
    only-right census and hash-matches the batch FULL OUTER twin."""
    out = _drained(
        spark, sf_dir, "events", f"v1+{_SENTINEL_TAG}", "q204_drain",
        lambda: _click_purchase_join(spark, sf_dir, "full_outer").select(
            "c_event_id", "c_user", "p_event_id", "p_user"
        ),
    )
    # drop sentinel-user rows from EITHER side before the census
    real = out.where(
        (F.coalesce("c_user", F.lit(0)) >= 0)
        & (F.coalesce("p_user", F.lit(0)) >= 0)
    )
    matched = F.col("c_event_id").isNotNull() & F.col(
        "p_event_id"
    ).isNotNull()
    return real.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(matched, 1).otherwise(0)).cast("long").alias(
            "n_matched"
        ),
        F.sum(
            F.when(F.col("p_event_id").isNull(), 1).otherwise(0)
        ).cast("long").alias("n_click_only"),
        F.sum(
            F.when(F.col("c_event_id").isNull(), 1).otherwise(0)
        ).cast("long").alias("n_purchase_only"),
    )


@query(
    "q205_bpe_pair_counts",
    f"""
    WITH toks AS ({_SQL_TOKS}),
    words AS (SELECT t.w AS word FROM toks, unnest(toks.w) AS t(w)),
    pairs AS (
        SELECT word[i+1:i+1] AS a, word[i+2:i+2] AS b
        FROM (SELECT word, unnest(range(len(word) - 1)) AS i FROM words
              WHERE len(word) >= 2)
    )
    SELECT a, b, COUNT(*) AS n
    FROM pairs GROUP BY a, b
    ORDER BY n DESC, a, b LIMIT 20
    """,
)
def q205_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first step of BPE vocabulary induction over the corpus:
    adjacent character-pair frequencies within words (with multiplicity
    — every occurrence votes), top 20 merge candidates.  Production-
    trainer shape (operators/bpe.py): the corpus collapses to its
    DISTINCT-word histogram first (one partial-aggregated shuffle with
    at most |vocabulary| keys), so the per-character explode runs over
    vocabulary entries and pair votes weight by word frequency — the
    char-pair stream then partial-aggregates into at most 36² keys; the
    shuffle carries counts, never characters, and the top-20 is
    TakeOrderedAndProject.  Iterating this (merge the winner, recount)
    is the full BPE trainer (q210); one round is the gateable
    distributed kernel.  Counts are exact integers."""
    from parquery_spark.operators.dedup import shingle_tokens

    docs = load(spark, sf_dir, "documents")
    vocab = (
        fan_out(docs, "doc_id")
        .select(F.explode(shingle_tokens("text")).alias("word"))
        .where(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    pairs = vocab.select(
        "w",
        F.explode(
            F.expr(
                "transform(sequence(1, length(word) - 1),"
                " i -> substring(word, i, 2))"
            )
        ).alias("pair"),
    )
    return (
        pairs.select(
            F.substring("pair", 1, 1).alias("a"),
            F.substring("pair", 2, 1).alias("b"),
            "w",
        )
        .groupBy("a", "b")
        .agg(F.sum("w").alias("n"))
        .orderBy(F.desc("n"), "a", "b")
        .limit(20)
    )


@query(
    "q206_template_prefix_detection",
    f"""
    WITH corpus AS (
        SELECT doc_id, source,
               CASE WHEN doc_id % 5 = 0
                    THEN 'this document is provided under the standard license agreement version two all rights reserved worldwide inc ' || text
                    ELSE text END AS text
        FROM documents
    ),
    toks AS (
        SELECT doc_id, list_filter(string_split_regex(lower(text),
               '[^a-z0-9'']+'), t -> t != '') AS w FROM corpus
    ),
    pref AS (
        SELECT toks.doc_id, c.source,
               md5(array_to_string(toks.w[1:16], ' ')) AS prefix_fp
        FROM toks JOIN corpus c USING (doc_id)
        WHERE len(toks.w) >= 16
    )
    SELECT source, prefix_fp,
           COUNT(*) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS canonical_doc
    FROM pref
    GROUP BY source, prefix_fp
    HAVING COUNT(*) >= 3
    """,
)
def q206_template_prefix_detection(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Template/boilerplate detection at document granularity: documents
    opening with the SAME first-16-token prefix inside one source are
    instances of a shared template (scraped headers, license blocks,
    generated pages) — the cheap screen that runs before expensive
    near-dup machinery, because a prefix fingerprint costs one hash per
    doc and groups exactly.  Emits each template (source, prefix
    fingerprint) with its instance count and the smallest doc id as the
    canonical representative — the same first-id-survivor convention as
    q40's exact dedup.  One narrow projection, one groupBy on the
    fingerprint; no joins, no text through the shuffle.  The synthetic
    corpus is templateless word salad, so — as q102 corrupts names to
    exercise fuzzy matching — every fifth document is deterministically
    prefixed with a 16-token license template here, and the detector
    must recover exactly those groups."""
    from parquery_spark.operators.dedup import shingle_tokens

    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit("this document is provided under the standard license agreement version two all rights reserved worldwide inc "), F.col("text")),
        ).otherwise(F.col("text")).alias("text"),
    )
    w = shingle_tokens("text")
    pref = docs.select(
        "doc_id",
        "source",
        F.md5(
            F.array_join(F.slice(w, 1, 16), " ")
        ).alias("prefix_fp"),
        F.size(w).alias("__n"),
    ).where(F.col("__n") >= 16)
    return (
        pref.groupBy("source", "prefix_fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("canonical_doc"),
        )
        .where(F.col("n_docs") >= 3)
    )


@query(
    "q207_resample_ffill",
    """
    WITH daily AS (
        SELECT o_orderpriority AS priority,
               CAST(o_orderdate AS DATE) AS day,
               COUNT(*) AS n_orders,
               SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
        FROM orders GROUP BY 1, 2
    ),
    cal AS (
        SELECT s.priority, CAST(u.d AS DATE) AS day
        FROM (SELECT priority, MIN(day) AS d0, MAX(day) AS d1
              FROM daily GROUP BY 1) s,
             unnest(generate_series(CAST(s.d0 AS TIMESTAMP),
                                    CAST(s.d1 AS TIMESTAMP),
                                    INTERVAL 1 DAY)) AS u(d)
    )
    SELECT c.priority, c.day,
           COALESCE(d.n_orders, 0) AS n_orders,
           LAST_VALUE(d.cents IGNORE NULLS) OVER (
               PARTITION BY c.priority ORDER BY c.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) / 100.0 AS last_day_value
    FROM cal c LEFT JOIN daily d USING (priority, day)
    """,
)
def q207_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar resampling + forward fill — the time-series densify the
    reference's groupby cannot express (absent buckets simply vanish
    from its output).  Per order priority: one row for EVERY day of the
    key's active span, order counts zero-filled on gap days and the
    daily order value carried forward from the most recent present day.

    Plan: one exchange to the (priority, day) grain, one exchange on
    priority for the span/calendar/fill; the calendar explodes
    JVM-side via ``sequence()`` (rows = span days x keys, never a
    cross product), and the fill window's span-per-key is bounded by
    calendar days, not data volume — no single-task window at 100 TB.
    Money stays integer-cents until the final divide (NOTES.md
    discipline)."""
    from parquery_spark.operators.timeseries import resample_daily

    orders = load(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        "o_orderdate",
        "o_totalprice",
    )
    dense = resample_daily(
        orders,
        keys=["priority"],
        day_col="o_orderdate",
        aggs={
            "n_orders": F.count(F.lit(1)),
            "cents": F.sum(_cents("o_totalprice")),
        },
        zero_fill=["n_orders"],
        ffill=["cents"],
    )
    return dense.select(
        "priority",
        "day",
        "n_orders",
        (F.col("cents") / 100.0).alias("last_day_value"),
    )


@query(
    "q208_embedding_quantization",
    """
    WITH q AS (
        SELECT label, embedding,
               CAST(list_min(embedding) AS DOUBLE) AS mn,
               CAST(list_max(embedding) AS DOUBLE) AS mx
        FROM embeddings
    ),
    c AS (
        SELECT label, embedding, mn, mx,
               CASE WHEN mx > mn THEN list_transform(embedding, x ->
                   CAST(floor((CAST(x AS DOUBLE) - mn) / (mx - mn) * 255
                              + 0.5) AS BIGINT))
               ELSE list_transform(embedding, x -> CAST(0 AS BIGINT))
               END AS codes
        FROM q
    ),
    e AS (
        SELECT label, codes,
               CASE WHEN mx > mn THEN
               list_max(list_transform(generate_series(1, len(embedding)),
                   i -> abs(mn + CAST(codes[i] AS DOUBLE) * (mx - mn) / 255
                            - CAST(embedding[i] AS DOUBLE))))
               ELSE 0.0 END AS err
        FROM c
    )
    SELECT label,
           COUNT(*) AS n_vecs,
           CAST(SUM(list_sum(codes)) AS BIGINT) AS sum_codes,
           MAX(err) AS max_abs_err
    FROM e GROUP BY label
    """,
)
def q208_embedding_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of the embedding corpus (4x storage and
    ANN-scan bandwidth cut) with its distortion audit: per label, the
    vector count, the exact integer sum of all quantization codes
    (bit-level proof both engines produced identical codes) and the
    worst per-component reconstruction error.

    Narrow map + one partial-aggregated groupBy — zero extra shuffles,
    scales with scan bandwidth.  Determinism: every arithmetic step is
    explicitly DOUBLE and textually identical to the oracle, so codes
    and errors are bit-stable cross-engine (random floats never land on
    decimal half-way points; the only exact halves, the range
    endpoints, floor identically — see operators/quantize.py)."""
    from parquery_spark.operators.quantize import quantize_int8

    emb = load(spark, sf_dir, "embeddings")
    qd = quantize_int8(emb, "embedding")
    return (
        qd.select(
            "label",
            F.expr("aggregate(codes, 0L, (a, x) -> a + x)").alias("__sc"),
            "max_abs_err",
        )
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("__sc").alias("sum_codes"),
            F.max("max_abs_err").alias("max_abs_err"),
        )
    )


@query(
    "q209_exact_quantiles",
    """
    WITH v AS (
        SELECT l_returnflag AS flag,
               CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
        FROM lineitem
    ),
    h AS (SELECT flag, cents, COUNT(*) AS cnt FROM v GROUP BY 1, 2),
    c AS (
        SELECT flag, cents,
               SUM(cnt) OVER (PARTITION BY flag ORDER BY cents
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS cum,
               SUM(cnt) OVER (PARTITION BY flag) AS n
        FROM h
    )
    SELECT flag,
           MIN(CASE WHEN cum >= ceil(0.5 * n) THEN cents END) / 100.0 AS p50,
           MIN(CASE WHEN cum >= ceil(0.9 * n) THEN cents END) / 100.0 AS p90,
           MIN(CASE WHEN cum >= ceil(0.99 * n) THEN cents END) / 100.0 AS p99,
           MAX(cents) / 100.0 AS pmax,
           TRUE AS approx_p50_ok
    FROM c GROUP BY flag
    """,
)
def q209_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distributed order statistics (p50/p90/p99/max of extended
    price per return flag) via histogram selection — NOT a per-group
    sort: group to the (flag, cents) histogram first (partial-aggregated
    shuffle bounded by the fixed price domain, <= ~1.1e7 distinct cents,
    INDEPENDENT of corpus size), then a cumulative count over the
    histogram picks the value at rank ceil(p*n).  The per-flag window
    runs over histogram rows only — a documented cardinality contract,
    same as q79's prefix-sum discipline, not a data-volume window.

    Also self-gates the scale path: ``percentile_approx`` (the t-digest
    sketch you would actually ship at 100 TB) must land within 1% of the
    exact p50 — emitted as a boolean against the oracle's TRUE, the
    q54 sketch-gating pattern.  Integer-cents discipline throughout;
    selection compares integers, so no float rounding can move a rank.
    """
    from pyspark.sql import Window

    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        _cents("l_extendedprice").alias("cents"),
    )
    hist = li.groupBy("flag", "cents").agg(F.count(F.lit(1)).alias("cnt"))
    wc = (
        Window.partitionBy("flag")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("cum", F.sum("cnt").over(wc)).withColumn(
        "n", F.sum("cnt").over(Window.partitionBy("flag"))
    )
    exact = cum.groupBy("flag").agg(
        (
            F.min(
                F.when(
                    F.col("cum") >= F.ceil(F.lit(0.5) * F.col("n")),
                    F.col("cents"),
                )
            )
            / 100.0
        ).alias("p50"),
        (
            F.min(
                F.when(
                    F.col("cum") >= F.ceil(F.lit(0.9) * F.col("n")),
                    F.col("cents"),
                )
            )
            / 100.0
        ).alias("p90"),
        (
            F.min(
                F.when(
                    F.col("cum") >= F.ceil(F.lit(0.99) * F.col("n")),
                    F.col("cents"),
                )
            )
            / 100.0
        ).alias("p99"),
        (F.max("cents") / 100.0).alias("pmax"),
    )
    approx = li.groupBy("flag").agg(
        (F.percentile_approx("cents", 0.5, 10000) / 100.0).alias("__ap50")
    )
    return (
        exact.join(F.broadcast(approx), "flag")
        .withColumn(
            "approx_p50_ok",
            (F.abs(F.col("__ap50") - F.col("p50")) <= 0.01 * F.col("p50")),
        )
        .drop("__ap50")
    )


#: trained-tokenizer memo, keyed by corpus file identity + params — the
#: in-process twin of the stat-keyed /tmp model artifacts (q83/q167/
#: q211): q210 (train) and q214 (apply+account) share one training run
#: per corpus version.  1-char words carry no pairs, so training on the
#: full vs len>=2-filtered word stream yields identical merges.
_BPE_MERGES_CACHE: dict[tuple, list[tuple[str, str, int]]] = {}


def _bpe_merges(
    spark: SparkSession, sf_dir: str, n_merges: int = 3
) -> list[tuple[str, str, int]]:
    from parquery_spark.operators.bpe import bpe_train
    from parquery_spark.operators.dedup import shingle_tokens

    src = _path(sf_dir, "documents")
    key = (fs.canonical(src), *fs.stat(src), n_merges)
    if key not in _BPE_MERGES_CACHE:
        docs = load(spark, sf_dir, "documents")
        words = (
            fan_out(docs, "doc_id")
            .select(F.explode(shingle_tokens("text")).alias("word"))
            .where(F.length("word") >= 2)
        )
        _BPE_MERGES_CACHE[key] = bpe_train(words, n_merges=n_merges)
    return _BPE_MERGES_CACHE[key]


@query(
    "q210_bpe_train_merges",
    # The 3-round trainer, unrolled into SQL: each learned symbol is
    # encoded as a placeholder char (chr(1)/chr(2)), because SQL
    # replace() IS greedy left-to-right non-overlapping pair merging —
    # exactly the BPE merge semantics of the Spark fold (and the
    # pure-Python reference in tests/test_bpe.py).  Pairs are counted
    # in the encoded char domain and decoded back before the
    # (count DESC, a, b) tie-break so both engines compare identical
    # symbol strings.
    f"""
    WITH toks AS ({_SQL_TOKS}),
    words AS (SELECT t.w AS word FROM toks, unnest(toks.w) AS t(w)
              WHERE len(t.w) >= 2),
    p1 AS (
        SELECT word[i+1:i+1] AS a, word[i+2:i+2] AS b, COUNT(*) AS n
        FROM (SELECT word, unnest(range(len(word) - 1)) AS i FROM words)
        GROUP BY a, b
    ),
    t1 AS (SELECT a, b, n FROM p1 ORDER BY n DESC, a, b LIMIT 1),
    w2 AS (SELECT replace(word, (SELECT t1.a || t1.b FROM t1), chr(1))
               AS word FROM words),
    p2raw AS (
        SELECT word[i+1:i+1] AS a, word[i+2:i+2] AS b, COUNT(*) AS n
        FROM (SELECT word, unnest(range(len(word) - 1)) AS i FROM w2
              WHERE len(word) >= 2)
        GROUP BY a, b
    ),
    p2 AS (
        SELECT CASE WHEN a = chr(1) THEN (SELECT t1.a || t1.b FROM t1)
                    ELSE a END AS a,
               CASE WHEN b = chr(1) THEN (SELECT t1.a || t1.b FROM t1)
                    ELSE b END AS b,
               n
        FROM p2raw
    ),
    t2 AS (SELECT a, b, n FROM p2 ORDER BY n DESC, a, b LIMIT 1),
    enc2 AS (
        SELECT CASE WHEN t2.a = (SELECT t1.a || t1.b FROM t1) THEN chr(1)
                    ELSE t2.a END ||
               CASE WHEN t2.b = (SELECT t1.a || t1.b FROM t1) THEN chr(1)
                    ELSE t2.b END AS pat
        FROM t2
    ),
    w3 AS (SELECT replace(word, (SELECT pat FROM enc2), chr(2))
               AS word FROM w2),
    p3raw AS (
        SELECT word[i+1:i+1] AS a, word[i+2:i+2] AS b, COUNT(*) AS n
        FROM (SELECT word, unnest(range(len(word) - 1)) AS i FROM w3
              WHERE len(word) >= 2)
        GROUP BY a, b
    ),
    p3 AS (
        SELECT CASE WHEN a = chr(1) THEN (SELECT t1.a || t1.b FROM t1)
                    WHEN a = chr(2) THEN (SELECT t2.a || t2.b FROM t2)
                    ELSE a END AS a,
               CASE WHEN b = chr(1) THEN (SELECT t1.a || t1.b FROM t1)
                    WHEN b = chr(2) THEN (SELECT t2.a || t2.b FROM t2)
                    ELSE b END AS b,
               n
        FROM p3raw
    ),
    t3 AS (SELECT a, b, n FROM p3 ORDER BY n DESC, a, b LIMIT 1)
    SELECT 0 AS merge_idx, a, b, n FROM t1
    UNION ALL SELECT 1, a, b, n FROM t2
    UNION ALL SELECT 2, a, b, n FROM t3
    """,
)
def q210_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training, 3 merge rounds over the
    document corpus: the corpus first collapses to its distinct-word
    histogram (production-trainer shape — merge rounds then fold over
    |vocabulary| weighted rows, not |corpus| occurrences), then each
    round is one map-side-combined pair-count aggregation (the q205
    kernel — shuffle carries (a, b, count), at most |vocab|^2 keys,
    never text) + a 1-row top-pair collect + a pure-Column greedy fold
    rewriting the persisted symbol histogram (plan depth O(1) per
    round, k-means-loop discipline).  Returns the
    learned merge table (a, b, count) in merge order — deterministic
    under the (count DESC, a, b) tie-break, property-tested against a
    pure-Python reference in tests/test_bpe.py."""
    merges = _bpe_merges(spark, sf_dir)
    return spark.createDataFrame(
        [(i, a, b, n) for i, (a, b, n) in enumerate(merges)],
        "merge_idx INT, a STRING, b STRING, n BIGINT",
    )


@query(
    "q211_pq_adc_ann",
    # q83-style gate: exact brute-force top-1 (id + rounded squared L2)
    # hash-matches DuckDB; PQ quality is a boolean — re-ranked recall@10
    # vs the exact top-10 must clear 0.5 or Spark emits FALSE and the
    # round mismatches.  (Codes/codebooks are quantizer state, not
    # hashable.)
    """
    WITH qs AS (
        SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        FROM embeddings WHERE vec_id IN (0, 1, 2, 3)
    ),
    ranked AS (
        SELECT qs.query_id, e.vec_id,
               ROUND(list_sum(list_transform(generate_series(1, len(qs.qv)),
                     i -> (CAST(e.embedding[i] AS DOUBLE) - qs.qv[i])
                        * (CAST(e.embedding[i] AS DOUBLE) - qs.qv[i]))),
                     6) AS d2,
               ROW_NUMBER() OVER (
                   PARTITION BY qs.query_id
                   ORDER BY ROUND(list_sum(list_transform(
                       generate_series(1, len(qs.qv)),
                       i -> (CAST(e.embedding[i] AS DOUBLE) - qs.qv[i])
                          * (CAST(e.embedding[i] AS DOUBLE) - qs.qv[i]))),
                       6), e.vec_id
               ) AS rn
        FROM embeddings e CROSS JOIN qs
    )
    SELECT query_id,
           MAX(CASE WHEN rn = 1 THEN vec_id END) AS top1_id,
           MAX(CASE WHEN rn = 1 THEN d2 END) AS top1_d2,
           TRUE AS recall_ok
    FROM ranked WHERE rn <= 10 GROUP BY query_id
    """,
)
def q211_pq_adc_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization end to end (Jégou et al. 2011 — the PQ rung
    of the IVF-PQ stack, between q208's scalar quantization and q83's
    IVF): per-subspace k-means codebooks (m=8 x k=16 — 8 bytes/vector
    instead of 256), corpus encoded once per corpus version (stat-keyed
    model artifact, the q82/q83/q167 pattern), queries answered the
    production way: ADC shortlist (broadcast m x k lookup table per
    query summed over the CODE scan — full-precision vectors never
    touch it), then exact re-rank of the max(50, n/20)-candidate
    shortlist only.

    Exact brute-force squared-L2 top-1 per query is hash-matched against
    the oracle (per-row left-to-right array fold on both engines, round
    6); re-ranked recall@10 vs exact top-10 gates as a boolean >= 0.5
    (honest bar: near-uniform synthetic embeddings are the PQ worst
    case; measured 0.6-1.0 across SFs)."""
    from parquery_spark.operators.pq import adc_topk, pq_train

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def _build_pq(t):
        codes, codebook = pq_train(emb, m=8, k=16, iters=2)
        codes.write.mode("overwrite").parquet(os.path.join(t, "codes"))
        codebook.write.mode("overwrite").parquet(
            os.path.join(t, "codebook")
        )
        codes.unpersist()
        codebook.unpersist()

    # v2 logic tag: vectorized Lloyd kernel (round 7) — force re-encode so
    # the gate exercises the new training path, not a stale artifact
    adir = artifact(
        sf_dir, "embeddings", "pq_m8k16i2v2", "pq_model", _build_pq,
        marker=os.path.join("codebook", "_SUCCESS"),
    )
    codes = relations.get_relation(spark, os.path.join(adir, "codes"))
    codebook = relations.get_relation(spark, os.path.join(adir, "codebook"))

    # row count from the parquet footer (round 12): the corpus relation
    # is the unfiltered single-file scan, so its cardinality is driver
    # metadata, not a Spark job
    n = _footer_rows(_path(sf_dir, "embeddings"))
    shortlist = max(50, n // 20)
    qids = [0, 1, 2, 3]
    qrows = _probe_rows(sf_dir, qids)
    queries = spark.createDataFrame(
        [(int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in qrows],
        "q_id long, q_vec array<double>",
    )
    short = adc_topk(
        codes, codebook, queries, topk=shortlist, m=8,
        dims=len(qrows[0]["embedding"]) if qrows else None,
    ).select("q_id", "vec_id")

    # exact-distance fold per query (left-to-right, the oracle's
    # list_sum order); over the full corpus for the hash-matched truth,
    # over the shortlist only for the re-rank — TakeOrderedAndProject
    # top-10 both ways
    from parquery_spark.operators.similarity import fold_sum_pairs

    # ONE corpus scan serves all queries: broadcast the 4-row probe
    # batch, fold the pairwise distance on the joined arrays (same
    # left-to-right order as the per-query literal form), then per-query
    # window top-10 — WindowGroupLimit prunes each partition's candidate
    # set before the q_id exchange, so no task sorts corpus-sized data.
    # (The previous shape unioned 2 subplans PER QUERY — 12 scans whose
    # fixed stage overhead dominated the 4s warm time in local mode.)
    from pyspark.sql import Window

    d2_pair = F.round(
        fold_sum_pairs(
            F.col("embedding"), F.col("q_vec"),
            lambda x, y: (x - y) * (x - y),
        ),
        6,
    )
    wq = Window.partitionBy("query_id").orderBy("d2", "vec_id")

    def topk_all(src_df: DataFrame) -> DataFrame:
        scored = src_df.select(
            F.col("q_id").alias("query_id"), "vec_id", d2_pair.alias("d2")
        )
        return (
            scored.withColumn("__rk", F.row_number().over(wq))
            .where(F.col("__rk") <= 10)
            .drop("__rk")
        )

    # ONE aggregation wave instead of two-aggregates-plus-a-join (round
    # 12): the exact top-10 rows and the re-ranked top-10 rows union into
    # a single flagged stream and one groupBy computes top-1, the exact
    # id set and the shortlist id set together — the former shape paid a
    # window wave, an agg wave and a broadcast PER SIDE before the final
    # join.  Both windows keep their shapes (the exact side's rk<=10
    # filter still plans as WindowGroupLimit, so no task sorts
    # corpus-sized data; the re-rank window's input is already bounded
    # by the shortlist).  Inner-join parity: the shortlist is non-empty
    # for every probe whenever the corpus is (adc_topk emits top-k per
    # query), so every query carries rows on both flags.
    exact = topk_all(emb.crossJoin(F.broadcast(queries)))
    rerank = topk_all(
        short.join(F.broadcast(queries), "q_id").join(emb, "vec_id")
    )
    u = exact.withColumn("is_exact", F.lit(True)).unionByName(
        rerank.withColumn("is_exact", F.lit(False))
    )
    top1 = F.min(F.when(F.col("is_exact"), F.struct("d2", "vec_id")))
    return (
        u.groupBy("query_id")
        .agg(
            top1.getField("vec_id").alias("top1_id"),
            top1.getField("d2").alias("top1_d2"),
            F.collect_set(F.when(F.col("is_exact"), F.col("vec_id"))).alias(
                "exact_ids"
            ),
            F.collect_set(
                F.when(~F.col("is_exact"), F.col("vec_id"))
            ).alias("pq_ids"),
        )
        .withColumn(
            "recall_ok",
            (
                F.size(F.array_intersect("exact_ids", "pq_ids"))
                / F.lit(10.0)
                >= 0.5
            ),
        )
        .select("query_id", "top1_id", "top1_d2", "recall_ok")
    )


@query(
    "q212_rag_chunking",
    f"""
    WITH toks AS ({_SQL_TOKS}),
    starts AS (
        SELECT doc_id, w, unnest(range(0, len(w), 32)) AS start
        FROM toks WHERE len(w) > 0
    )
    SELECT doc_id,
           CAST(start // 32 AS BIGINT) AS chunk_idx,
           CAST(start AS BIGINT) AS start_tok,
           CAST(least(64, len(w) - start) AS BIGINT) AS chunk_len,
           md5(array_to_string(w[start + 1 : start + 64], ' ')) AS chunk_fp
    FROM starts
    """,
)
def q212_rag_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-side document chunking: every document split into
    64-token sliding windows at stride 32 (the standard RAG overlap),
    one row per chunk with offset, length, and an md5 fingerprint of the
    chunk text — the relation an embedding/indexing stage consumes.

    Via :func:`parquery_spark.operators.packing.sliding_chunks`: start
    offsets generate JVM-side (``sequence`` + explode, factor ≈
    tokens/32 — linear, no join), the per-chunk ``slice`` runs after the
    explode (never inside a ``transform`` lambda — the HOF-hoisting
    hazard), and the fingerprint keeps chunk TEXT out of the shuffle
    wherever this composes with dedup (q206) or the q45 indexing path.
    """
    from parquery_spark.operators.dedup import shingle_tokens
    from parquery_spark.operators.packing import sliding_chunks

    docs = fan_out(load(spark, sf_dir, "documents"), "doc_id").select(
        "doc_id", shingle_tokens("text").alias("w")
    )
    return sliding_chunks(docs, "doc_id", "w", size=64, stride=32)


def _matryoshka_topk_parts(
    emb: DataFrame, qrows, k: int = 10, trunc_dim: int = 16
) -> tuple[DataFrame, DataFrame]:
    """The shared full-vs-truncated top-k lists of q213/q216 from ONE
    explode pass (round 12): the former shape built 8 independent
    ``cosine_topk`` plans (4 probe queries × full/truncated), each with
    its own fan_out/posexplode/aggregate over the same corpus — 8 scans
    and ~1 s of driver plan-building per call.  Here one
    ``_explode_sums`` computes all 8 dots plus both norms (the truncated
    terms sum the SAME leading elements the sliced-array explode would,
    via a NULL-outside-prefix CASE — SUM skips NULLs, so the per-id
    left-to-right accumulation is float-identical to ``cosine_topk`` over
    ``slice(embedding, 1, 16)``), and the 8 top-k branches share the one
    aggregated subtree through ReuseExchange.  Ranking, rounding and
    tie-breaks are unchanged, so results are identical row-for-row."""
    import numpy as np

    from parquery_spark.operators.similarity import (
        _dot_term_sql,
        _explode_sums,
        _lit_array_sql,
    )

    terms = {
        "__nn": "__x * __x",
        "__nnt": f"CASE WHEN __p < {trunc_dim} THEN __x * __x END",
    }
    qmeta = []
    for r in qrows:
        qid = int(r["vec_id"])
        qv = [float(x) for x in r["embedding"]]
        terms[f"__df{qid}"] = _dot_term_sql(qv)
        terms[f"__dt{qid}"] = (
            f"CASE WHEN __p < {trunc_dim} THEN __x * "
            f"element_at({_lit_array_sql(qv[:trunc_dim])}, __p + 1) END"
        )
        qmeta.append((
            qid,
            float(np.linalg.norm(qv)),
            float(np.linalg.norm(qv[:trunc_dim])),
        ))
    sums = _explode_sums(emb, "embedding", "vec_id", terms)

    # ONE ranking pass for all 8 lists (round 12, guide §2.4): the former
    # shape unioned 8 orderBy+limit branches over the shared subtree — 8
    # reads of the reused exchange (8 × 32 reduction tasks) and 8× the
    # Catalyst analysis per call.  Each corpus row now explodes into its
    # 8 (query_id, kind, sim) scores and one rank-filtered window ranks
    # them all; the row_number ≤ k filter plans as WindowGroupLimit, so
    # each map partition forwards at most k rows per (query, kind) group
    # into the single exchange — the same partial-top-k pruning
    # TakeOrderedAndProject did, at any corpus size.  Sim expressions,
    # rounding and the (sim DESC, vec_id) tie-break are unchanged, so
    # the selected rows are identical; both consumers aggregate these
    # lists order-insensitively.
    from pyspark.sql import Window

    branches = []
    for qid, qnf, qnt in qmeta:
        for kind, dot_col, nn_col, qn in (
            (0, f"__df{qid}", "__nn", qnf),
            (1, f"__dt{qid}", "__nnt", qnt),
        ):
            branches.append(
                F.struct(
                    F.lit(qid).cast("long").alias("query_id"),
                    F.lit(kind).alias("kind"),
                    F.round(
                        F.col(dot_col) / (F.sqrt(F.col(nn_col)) * F.lit(qn)),
                        6,
                    ).alias("cosine_sim"),
                )
            )
    scored = sums.select(
        "vec_id", F.explode(F.array(*branches)).alias("s")
    ).select("vec_id", "s.query_id", "s.kind", "s.cosine_sim")
    w = Window.partitionBy("query_id", "kind").orderBy(
        F.col("cosine_sim").desc(), "vec_id"
    )
    top = (
        scored.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= k)
        .drop("__rk")
    )
    full = top.where(F.col("kind") == 0).select(
        "query_id", "vec_id", "cosine_sim"
    )
    trunc = top.where(F.col("kind") == 1).select(
        "query_id", "vec_id", "cosine_sim"
    )
    return full, trunc



@query(
    "q213_matryoshka_eval",
    # fully hash-matched (unlike the q83/q211 recall booleans): BOTH
    # rankings are exact brute force, so overlap/top1 are deterministic
    # integers on both engines
    """
    WITH qs AS (
        SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        FROM embeddings WHERE vec_id IN (0, 1, 2, 3)
    ),
    sims AS (
        SELECT qs.query_id, e.vec_id,
               ROUND(list_dot_product(e.embedding::DOUBLE[], qs.qv) /
                     (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                            e.embedding::DOUBLE[]))
                      * sqrt(list_dot_product(qs.qv, qs.qv))), 6) AS simf,
               ROUND(list_dot_product((e.embedding[1:16])::DOUBLE[],
                                      qs.qv[1:16]) /
                     (sqrt(list_dot_product((e.embedding[1:16])::DOUBLE[],
                                            (e.embedding[1:16])::DOUBLE[]))
                      * sqrt(list_dot_product(qs.qv[1:16], qs.qv[1:16]))),
                     6) AS simt
        FROM embeddings e CROSS JOIN qs
    ),
    r AS (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY simf DESC, vec_id) AS rf,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY simt DESC, vec_id) AS rt
        FROM sims
    )
    SELECT query_id,
           MAX(CASE WHEN rf = 1 THEN vec_id END) AS top1_full,
           MAX(CASE WHEN rt = 1 THEN vec_id END) AS top1_trunc,
           CAST(COUNT(CASE WHEN rf <= 10 AND rt <= 10 THEN 1 END)
                AS BIGINT) AS overlap_at_10
    FROM r GROUP BY query_id
    """,
)
def q213_matryoshka_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation evaluation: how much retrieval
    quality survives when the 64-dim embeddings are truncated to their
    first 16 dims (4x cheaper storage/scan — the dimension-reduction
    sibling of q208's precision reduction and q211's PQ)?  Per probe
    query: exact full-dim top-1, exact truncated top-1, and the overlap
    between the two exact top-10 sets — the standard eval a pipeline
    runs before committing to a cheaper index.

    Every ranking is brute-force-exact (q45's explode-shaped cosine,
    TakeOrderedAndProject top-k per query — no window over the corpus),
    so the whole output hash-matches the oracle; integers only.  All 8
    rankings come from one fused explode pass
    (:func:`_matryoshka_topk_parts`)."""
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qids = [0, 1, 2, 3]
    qrows = _probe_rows(sf_dir, qids)
    full, trunc = _matryoshka_topk_parts(emb, qrows, k=10, trunc_dim=16)

    f = full.groupBy("query_id").agg(
        F.max_by(
            "vec_id", F.struct("cosine_sim", (-F.col("vec_id")).alias("t"))
        ).alias("top1_full"),
        F.collect_set("vec_id").alias("full_ids"),
    )
    t = trunc.groupBy("query_id").agg(
        F.max_by(
            "vec_id", F.struct("cosine_sim", (-F.col("vec_id")).alias("t"))
        ).alias("top1_trunc"),
        F.collect_set("vec_id").alias("trunc_ids"),
    )
    return (
        f.join(F.broadcast(t), "query_id")
        .select(
            "query_id",
            "top1_full",
            "top1_trunc",
            F.size(F.array_intersect("full_ids", "trunc_ids"))
            .cast("long")
            .alias("overlap_at_10"),
        )
    )


def _word_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (source, word, c) token histogram of the documents corpus as
    a stat-keyed storage artifact (round-10, VERDICT r9 #7): the
    tokenize-explode-aggregate pass is corpus-pure and was re-run from
    raw text by EVERY consumer each call (q214's BPE application grain,
    q219's KL histogram) — the honest-uncached-scan cost the round-9
    ledger priced at ~1 s/query.  Staged once per corpus version, the
    consumers read a |sources|x|vocab|-row parquet instead; same
    explicit, labeled sharing as q158's edge artifact, no persist."""

    def _build(t):
        from parquery_spark.operators.dedup import shingle_tokens

        fan_out(load(spark, sf_dir, "documents"), "doc_id").select(
            "source", F.explode(shingle_tokens("text")).alias("word")
        ).groupBy("source", "word").agg(
            F.count(F.lit(1)).alias("c")
        ).write.parquet(t)

    return relations.get_relation(spark, artifact(
        sf_dir, "documents", "wordhist-v1", "wordhist", _build,
    ))


@query(
    "q214_bpe_tokenize_accounting",
    # q210's unrolled trainer chain, extended: after the 3rd merge the
    # corpus is STILL one placeholder char per symbol, so the token
    # count of a word is just len() of its encoded string — tokenizer
    # application and corpus accounting fall out of the same replace
    # chain.  1-char words train nothing (range(0) is empty) but still
    # count 1 token each.
    f"""
    WITH toks AS ({_SQL_TOKS}),
    words AS (SELECT d.source, t.w AS word
              FROM toks JOIN documents d USING (doc_id),
                   unnest(toks.w) AS t(w)),
    p1 AS (
        SELECT word[i+1:i+1] AS a, word[i+2:i+2] AS b, COUNT(*) AS n
        FROM (SELECT word, unnest(range(len(word) - 1)) AS i FROM words)
        GROUP BY a, b
    ),
    t1 AS (SELECT a, b, n FROM p1 ORDER BY n DESC, a, b LIMIT 1),
    w2 AS (SELECT source, replace(word, (SELECT t1.a || t1.b FROM t1),
                                  chr(1)) AS word FROM words),
    p2raw AS (
        SELECT word[i+1:i+1] AS a, word[i+2:i+2] AS b, COUNT(*) AS n
        FROM (SELECT word, unnest(range(len(word) - 1)) AS i FROM w2)
        GROUP BY a, b
    ),
    p2 AS (
        SELECT CASE WHEN a = chr(1) THEN (SELECT t1.a || t1.b FROM t1)
                    ELSE a END AS a,
               CASE WHEN b = chr(1) THEN (SELECT t1.a || t1.b FROM t1)
                    ELSE b END AS b,
               n
        FROM p2raw
    ),
    t2 AS (SELECT a, b, n FROM p2 ORDER BY n DESC, a, b LIMIT 1),
    enc2 AS (
        SELECT CASE WHEN t2.a = (SELECT t1.a || t1.b FROM t1) THEN chr(1)
                    ELSE t2.a END ||
               CASE WHEN t2.b = (SELECT t1.a || t1.b FROM t1) THEN chr(1)
                    ELSE t2.b END AS pat
        FROM t2
    ),
    w3 AS (SELECT source, replace(word, (SELECT pat FROM enc2), chr(2))
               AS word FROM w2),
    p3raw AS (
        SELECT word[i+1:i+1] AS a, word[i+2:i+2] AS b, COUNT(*) AS n
        FROM (SELECT word, unnest(range(len(word) - 1)) AS i FROM w3)
        GROUP BY a, b
    ),
    p3 AS (
        SELECT CASE WHEN a = chr(1) THEN (SELECT t1.a || t1.b FROM t1)
                    WHEN a = chr(2) THEN (SELECT t2.a || t2.b FROM t2)
                    ELSE a END AS a,
               CASE WHEN b = chr(1) THEN (SELECT t1.a || t1.b FROM t1)
                    WHEN b = chr(2) THEN (SELECT t2.a || t2.b FROM t2)
                    ELSE b END AS b,
               n
        FROM p3raw
    ),
    t3 AS (SELECT a, b, n FROM p3 ORDER BY n DESC, a, b LIMIT 1),
    enc3 AS (
        SELECT CASE WHEN t3.a = (SELECT t1.a || t1.b FROM t1) THEN chr(1)
                    WHEN t3.a = (SELECT t2.a || t2.b FROM t2) THEN chr(2)
                    ELSE t3.a END ||
               CASE WHEN t3.b = (SELECT t1.a || t1.b FROM t1) THEN chr(1)
                    WHEN t3.b = (SELECT t2.a || t2.b FROM t2) THEN chr(2)
                    ELSE t3.b END AS pat
        FROM t3
    ),
    w4 AS (SELECT source, replace(word, (SELECT pat FROM enc3), chr(3))
               AS word FROM w3)
    SELECT source,
           COUNT(*) AS n_words,
           CAST(SUM(len(word)) AS BIGINT) AS n_tokens_bpe
    FROM w4 GROUP BY source
    """,
)
def q214_bpe_tokenize_accounting(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Tokenizer lifecycle end to end: TRAIN 3 BPE merges on the corpus
    (operators/bpe.py — distributed pair counts over the word
    histogram), APPLY them with the greedy fold, and ACCOUNT tokens per
    source — the number a data-mixture planner actually budgets with
    (q160/q197 consume exactly this grain).

    The application runs on the (source, word) HISTOGRAM too: the fold
    rewrites each distinct word once per source and the counts weight
    the sum — |vocab| x |sources| fold rows, not |corpus| — and the
    histogram itself is the shared ``_word_hist`` storage artifact
    (with q219), so the tokenize pass runs once per corpus version.
    All-integer output, exactly hash-matched: the oracle unrolls the
    same trainer (q210's placeholder-encoded replace chain, where one
    encoded char = one symbol, so post-merge token count is just
    len())."""
    from parquery_spark.operators.bpe import bpe_apply

    merges = _bpe_merges(spark, sf_dir)
    hist = _word_hist(spark, sf_dir).withColumnRenamed("c", "w")
    tok = bpe_apply(hist, merges)
    return tok.groupBy("source").agg(
        F.sum("w").alias("n_words"),
        F.sum(F.col("w") * F.size("tokens")).alias("n_tokens_bpe"),
    )


@query(
    "q215_loo_target_encoding",
    """
    WITH v AS (
        SELECT o_orderkey, o_orderpriority AS priority,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        FROM orders
    ),
    g AS (
        SELECT priority, SUM(cents) AS s, COUNT(*) AS n
        FROM v GROUP BY priority
    )
    SELECT v.o_orderkey, v.priority,
           CASE WHEN g.n > 1
                THEN CAST(g.s - v.cents AS DOUBLE) / (g.n - 1) / 100
                ELSE NULL END AS loo_avg_price
    FROM v JOIN g USING (priority)
    """,
)
def q215_loo_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding — the leakage-safe categorical
    feature (each row's category encoded as the target mean of every
    OTHER row in its category, so a model can't read its own label
    back).  Same leakage discipline as q78's trailing windows and
    q112's group-disjoint split.

    Scale shape: NOT a window over the corpus (a per-category window
    would sort data volume); one partial-aggregated groupBy to the
    category stats (rows = |categories|), broadcast back, narrow
    arithmetic.  Determinism: (S - x) and (n - 1) are exact integers;
    the single division of the same two integers is the same double on
    both engines — no summation-order exposure anywhere."""
    v = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("priority"),
        _cents("o_totalprice").alias("cents"),
    )
    g = v.groupBy("priority").agg(
        F.sum("cents").alias("s"), F.count(F.lit(1)).alias("n")
    )
    return v.join(F.broadcast(g), "priority").select(
        "o_orderkey",
        "priority",
        F.when(
            F.col("n") > 1,
            (F.col("s") - F.col("cents")).cast("double")
            / (F.col("n") - 1)
            / 100,
        ).alias("loo_avg_price"),
    )


@query(
    "q216_ranking_metrics",
    """
    WITH qs AS (
        SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        FROM embeddings WHERE vec_id IN (0, 1, 2, 3)
    ),
    sims AS (
        SELECT qs.query_id, e.vec_id,
               ROUND(list_dot_product(e.embedding::DOUBLE[], qs.qv) /
                     (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                            e.embedding::DOUBLE[]))
                      * sqrt(list_dot_product(qs.qv, qs.qv))), 6) AS simf,
               ROUND(list_dot_product((e.embedding[1:16])::DOUBLE[],
                                      qs.qv[1:16]) /
                     (sqrt(list_dot_product((e.embedding[1:16])::DOUBLE[],
                                            (e.embedding[1:16])::DOUBLE[]))
                      * sqrt(list_dot_product(qs.qv[1:16], qs.qv[1:16]))),
                     6) AS simt
        FROM embeddings e CROSS JOIN qs
    ),
    r AS (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY simf DESC, vec_id) AS rf,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY simt DESC, vec_id) AS rt
        FROM sims
    ),
    idcg AS (
        SELECT SUM(1.0 / log2(i + 1)) AS v
        FROM (SELECT unnest(range(1, 11)) AS i)
    )
    SELECT query_id,
           ROUND(SUM(CASE WHEN rf <= 10
                          THEN 1.0 / log2(rt + 1) ELSE 0 END)
                 / (SELECT v FROM idcg), 6) AS ndcg_at_10,
           ROUND(1.0 / MIN(CASE WHEN rf <= 10 THEN rt END), 6) AS mrr
    FROM r WHERE rt <= 10
    GROUP BY query_id
    """,
)
def q216_ranking_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded retrieval-quality metrics — nDCG@10 and MRR of the
    16-dim truncated ranking against full-dim relevance (binary: the
    exact full top-10) — the metric layer on top of q213's set overlap
    that an index-selection pipeline actually reports.  Both rankings
    are brute-force-exact, so the metrics hash-match the oracle
    (rounded 6; each is a <=10-term sum of identical doubles).

    Plan: the two top-10 lists come from TakeOrderedAndProject per
    probe query (q213's shape — no corpus-volume window); positions
    are assigned by a window over the 10 SURVIVING rows per query, and
    the metric reduction is a 10-row aggregate per query.  All 8
    rankings come from one fused explode pass
    (:func:`_matryoshka_topk_parts`)."""
    import math

    from pyspark.sql import Window

    idcg = sum(1.0 / math.log2(i + 1) for i in range(1, 11))
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qrows = _probe_rows(sf_dir, [0, 1, 2, 3])
    full, trunc = _matryoshka_topk_parts(emb, qrows, k=10, trunc_dim=16)

    # positions within each 10-row survivor list (window over <=10 rows
    # per query — k-bounded, not corpus-bounded)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), "vec_id"
    )
    ranked_t = trunc.withColumn("rt", F.row_number().over(w))
    rel = full.select("query_id", "vec_id", F.lit(1).alias("rel"))
    joined = ranked_t.join(rel, ["query_id", "vec_id"], "left")
    return joined.groupBy("query_id").agg(
        F.round(
            F.sum(
                F.when(
                    F.col("rel").isNotNull(),
                    1.0 / F.log2(F.col("rt") + 1),
                ).otherwise(0.0)
            )
            / F.lit(idcg),
            6,
        ).alias("ndcg_at_10"),
        F.round(
            1.0 / F.min(F.when(F.col("rel").isNotNull(), F.col("rt"))), 6
        ).alias("mrr"),
    )


@query(
    "q217_dp_histogram_release",
    """
    WITH h AS (
        SELECT event_type, CAST(month(ts) AS BIGINT) AS m, COUNT(*) AS n
        FROM events GROUP BY 1, 2
    ),
    u AS (
        SELECT event_type, m, n,
               CAST(('0x' || substr(md5(event_type || '|' ||
                    CAST(m AS VARCHAR) || '#42'), 1, 15)) AS BIGINT)
                   / 1152921504606846976.0 AS u01
        FROM h
    )
    SELECT event_type, m,
           ROUND(GREATEST(0.0, n +
               CASE WHEN u01 < 0.5
                    THEN ln(GREATEST(1e-18, 2 * u01))
                    ELSE -ln(GREATEST(1e-18, 2 * (1 - u01))) END), 4)
               AS dp_count
    FROM u
    """,
)
def q217_dp_histogram_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private histogram release (eps = 1, sensitivity 1
    -> Laplace b = 1): per (event_type, month) event counts with
    Laplace noise, clamped non-negative — the privacy-preserving
    statistics-release step that completes the privacy suite (q64 PII
    detect/redact, q182 k-anonymity, q198 pseudonymization).

    The noise is SEEDED, not sampled: u01 = the q58-family 60-bit md5
    hash of the group key mapped to [0, 1), pushed through the Laplace
    inverse CDF (ln(2u) / -ln(2(1-u))) — both engines evaluate the
    identical double pipeline, so the release is reproducible AND
    hash-matches the oracle (round 4).  A production run swaps the
    group-key hash for hash(key || release_nonce) — same plan, fresh
    draw per release.  Plan: one partial-aggregated groupBy (rows =
    |types| x 12), then narrow arithmetic; nothing else shuffles."""
    from parquery_spark.operators.dedup import hash64

    ev = load_events(spark, sf_dir)
    h = ev.groupBy(
        "event_type", F.month("ts").cast("long").alias("m")
    ).agg(F.count(F.lit(1)).alias("n"))
    key = F.concat(
        F.col("event_type"), F.lit("|"), F.col("m").cast("string")
    )
    u01 = hash64(key, 42) / F.lit(float(1 << 60))
    noise = F.when(
        u01 < 0.5, F.log(F.greatest(F.lit(1e-18), 2 * u01))
    ).otherwise(-F.log(F.greatest(F.lit(1e-18), 2 * (1 - u01))))
    return h.select(
        "event_type",
        "m",
        F.round(
            F.greatest(F.lit(0.0), F.col("n") + noise), 4
        ).alias("dp_count"),
    )


@query(
    "q218_multivector_retrieval",
    """
    WITH qs AS (
        SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        FROM embeddings WHERE vec_id IN (0, 1, 2, 3)
    ),
    sims AS (
        SELECT qs.query_id, e.label,
               ROUND(list_dot_product(e.embedding::DOUBLE[], qs.qv) /
                     (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                            e.embedding::DOUBLE[]))
                      * sqrt(list_dot_product(qs.qv, qs.qv))), 6) AS sim
        FROM embeddings e CROSS JOIN qs
    ),
    grp AS (
        SELECT query_id, label, MAX(sim) AS max_sim, COUNT(*) AS n_vecs
        FROM sims GROUP BY query_id, label
    ),
    r AS (
        SELECT query_id, label, max_sim, n_vecs,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY max_sim DESC, label) AS rn
        FROM grp
    )
    SELECT query_id, label, max_sim, CAST(rn AS BIGINT) AS rank
    FROM r WHERE rn <= 3
    """,
)
def q218_multivector_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-vector (ColBERT/late-interaction-style) retrieval: a
    "document" is its GROUP of vectors (label here), scored by the max
    similarity over its members — retrieve the top-3 groups per probe
    query.  The aggregation shape that passage-level indexes need:
    vector-level sims reduce group-wise BEFORE any ranking, so the
    shuffle carries |groups| rows per query, not |vectors|.

    Exact end to end: per-row left-to-right array folds (the oracle's
    ``list_dot_product`` order — narrow, no shuffle until the
    group-max), then a partial-aggregated group-max and a rank over
    |groups| x |queries| rows — cardinality-bounded, never
    corpus-volume.  Hash-matched including the rounded max sims."""
    from pyspark.sql import Window

    from parquery_spark.operators.similarity import dot_literal, norm

    emb = load(spark, sf_dir, "embeddings")
    qrows = _probe_rows(sf_dir, [0, 1, 2, 3])

    import functools

    parts = []
    ed = F.col("embedding").cast("array<double>")
    for r in qrows:
        qid = int(r["vec_id"])
        qv = [float(x) for x in r["embedding"]]
        qq = sum(v * v for v in qv)  # left-to-right, = list_dot_product
        sim = F.round(
            dot_literal(F.col("embedding"), qv)
            / (norm(ed) * F.lit(qq ** 0.5)),
            6,
        )
        parts.append(
            emb.select(
                F.lit(qid).cast("long").alias("query_id"),
                "label",
                sim.alias("sim"),
            )
        )
    allsims = functools.reduce(DataFrame.unionByName, parts)
    grp = allsims.groupBy("query_id", "label").agg(
        F.max("sim").alias("max_sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("max_sim"), "label")
    return (
        grp.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 3)
        .select("query_id", "label", "max_sim", "rank")
    )


@query(
    "q219_source_kl_divergence",
    f"""
    WITH toks AS ({_SQL_TOKS}),
    words AS (SELECT d.source, t.w AS word
              FROM toks JOIN documents d USING (doc_id),
                   unnest(toks.w) AS t(w)),
    ws AS (SELECT source, word, COUNT(*) AS c FROM words GROUP BY 1, 2),
    st AS (SELECT source, SUM(c) AS tot FROM ws GROUP BY 1),
    cw AS (SELECT word, SUM(c) AS cc FROM ws GROUP BY 1),
    ct AS (SELECT SUM(c) AS ctot FROM ws)
    SELECT ws.source,
           CAST(st.tot AS BIGINT) AS n_tokens,
           ROUND(CAST(SUM(CAST(floor((CAST(ws.c AS DOUBLE) / st.tot)
                     * ln((CAST(ws.c AS DOUBLE) / st.tot)
                          / (CAST(cw.cc AS DOUBLE) / ct.ctot))
                     * 1000000000 + 0.5) AS BIGINT)) AS DOUBLE)
                 / 1000000000, 6) AS kl_to_corpus
    FROM ws
    JOIN st USING (source)
    JOIN cw USING (word)
    CROSS JOIN ct
    GROUP BY ws.source, st.tot
    """,
)
def q219_source_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Information-theoretic source profiling: KL(p_source || p_corpus)
    over the word distribution — the categorical-distribution sibling
    of q129's numeric PSI drift, and the signal a mixture planner uses
    to spot off-distribution sources before weighting them (q160).

    Shuffles carry the (source, word) histogram (|sources| x |vocab|
    keys), never tokens; the corpus marginal is a |vocab|-row broadcast.
    The KL reduction uses the integer-scaling discipline (NOTES.md):
    each term p*ln(p/q) is bit-identical per row on both engines, so
    floor(term * 1e9 + 0.5) is an identical int64, the SUM is exact,
    and the one final /1e9 divides the same integer everywhere — no
    summation-order exposure at any vocabulary size."""
    # st/cw/ct and the final join are FOUR consumers of the (source,
    # word) histogram — since round 10 that histogram is the shared
    # ``_word_hist`` stat-keyed artifact (also q214's application
    # grain), so all four consumers scan a small parquet instead of
    # re-tokenizing the corpus; nothing persisted
    ws = _word_hist(spark, sf_dir)
    st = ws.groupBy("source").agg(F.sum("c").alias("tot"))
    cw = ws.groupBy("word").agg(F.sum("c").alias("cc"))
    ct = ws.agg(F.sum("c").alias("ctot"))
    p = F.col("c").cast("double") / F.col("tot")
    q = F.col("cc").cast("double") / F.col("ctot")
    term_e9 = F.floor(
        p * F.log(p / q) * F.lit(1000000000) + F.lit(0.5)
    ).cast("long")
    out = (
        ws.join(F.broadcast(st), "source")
        .join(F.broadcast(cw), "word")
        .crossJoin(F.broadcast(ct))  # one-row corpus total
        .groupBy("source", "tot")
        .agg(
            F.round(
                F.sum(term_e9).cast("double") / F.lit(1000000000), 6
            ).alias("kl_to_corpus")
        )
        .select(
            "source",
            F.col("tot").cast("long").alias("n_tokens"),
            "kl_to_corpus",
        )
    )
    return out


@query(
    "q220_triplet_mining",
    """
    WITH qs AS (
        SELECT vec_id AS anchor, label AS a_label,
               embedding::DOUBLE[] AS qv
        FROM embeddings WHERE vec_id IN (0, 1, 2, 3)
    ),
    sims AS (
        SELECT qs.anchor, qs.a_label, e.vec_id, e.label,
               ROUND(list_dot_product(e.embedding::DOUBLE[], qs.qv) /
                     (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                            e.embedding::DOUBLE[]))
                      * sqrt(list_dot_product(qs.qv, qs.qv))), 6) AS sim
        FROM embeddings e CROSS JOIN qs
        WHERE e.vec_id <> qs.anchor
    ),
    pos AS (
        SELECT anchor, vec_id AS pos_id, sim AS pos_sim,
               ROW_NUMBER() OVER (PARTITION BY anchor
                                  ORDER BY sim DESC, vec_id) AS rn
        FROM sims WHERE label = a_label
    ),
    neg AS (
        SELECT anchor, vec_id AS neg_id, sim AS neg_sim,
               ROW_NUMBER() OVER (PARTITION BY anchor
                                  ORDER BY sim DESC, vec_id) AS rn
        FROM sims WHERE label <> a_label
    )
    SELECT p.anchor, p.pos_id, p.pos_sim, n.neg_id, n.neg_sim,
           ROUND(p.pos_sim - n.neg_sim, 6) AS margin
    FROM pos p JOIN neg n USING (anchor)
    WHERE p.rn = 1 AND n.rn = 1
    """,
)
def q220_triplet_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training data mining: for each anchor, the hardest
    positive (most-similar vector with the SAME label, excluding self)
    and the hardest negative (most-similar with a DIFFERENT label) —
    the (anchor, positive, hard-negative) triplets an embedding-model
    fine-tune trains on, with the margin the loss would see.

    Exact sims via per-row left-to-right folds (oracle's
    list_dot_product order); the per-anchor argmaxes are
    max_by-with-struct-tie-break aggregates (partial-aggregated — no
    corpus-volume window), matching the oracle's (sim DESC, vec_id)
    rank."""
    from parquery_spark.operators.similarity import dot_literal, norm

    emb = load(spark, sf_dir, "embeddings")
    qrows = _probe_rows(sf_dir, [0, 1, 2, 3])

    import functools

    ed = F.col("embedding").cast("array<double>")
    parts = []
    for r in qrows:
        qid = int(r["vec_id"])
        qv = [float(x) for x in r["embedding"]]
        qq = sum(v * v for v in qv)
        sim = F.round(
            dot_literal(F.col("embedding"), qv)
            / (norm(ed) * F.lit(qq ** 0.5)),
            6,
        )
        parts.append(
            emb.where(F.col("vec_id") != qid).select(
                F.lit(qid).cast("long").alias("anchor"),
                F.lit(int(r["label"])).alias("a_label"),
                "vec_id",
                "label",
                sim.alias("sim"),
            )
        )
    sims = functools.reduce(DataFrame.unionByName, parts)
    best = F.max_by(
        F.struct("vec_id", "sim"),
        F.struct("sim", (-F.col("vec_id")).alias("t")),
    )
    pos = (
        sims.where(F.col("label") == F.col("a_label"))
        .groupBy("anchor")
        .agg(best.alias("b"))
        .select(
            "anchor",
            F.col("b.vec_id").alias("pos_id"),
            F.col("b.sim").alias("pos_sim"),
        )
    )
    neg = (
        sims.where(F.col("label") != F.col("a_label"))
        .groupBy("anchor")
        .agg(best.alias("b"))
        .select(
            "anchor",
            F.col("b.vec_id").alias("neg_id"),
            F.col("b.sim").alias("neg_sim"),
        )
    )
    return pos.join(neg, "anchor").select(
        "anchor",
        "pos_id",
        "pos_sim",
        "neg_id",
        "neg_sim",
        F.round(F.col("pos_sim") - F.col("neg_sim"), 6).alias("margin"),
    )


@query(
    "q221_kmeans_sampled",
    f"""
    WITH expl AS (
        SELECT vec_id,
               CAST(z[2] AS INTEGER) AS pos,
               CAST(z[1] AS DOUBLE) AS x
        FROM (SELECT vec_id,
                     unnest(list_zip(embedding::DOUBLE[],
                                     range(len(embedding)))) AS z
              FROM embeddings)
    ),
    samp AS (
        SELECT vec_id FROM embeddings
        WHERE ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT
              % (SELECT CAST(ceil(COUNT(*) / 128.0) AS BIGINT)
                 FROM embeddings) = 0
    ),
    texpl AS (SELECT e.* FROM expl e JOIN samp USING (vec_id)),
    cent0 AS (
        SELECT e.vec_id AS cluster, e.pos, e.x AS c
        FROM texpl e
        JOIN (SELECT vec_id FROM samp ORDER BY vec_id LIMIT 4) s
          USING (vec_id)
    ),
    {_sql_kmeans_assign("cent0", "a1", expl="texpl")},
    {_sql_kmeans_update("a1", "cent1", expl="texpl")},
    {_sql_kmeans_assign("cent1", "a2", expl="texpl")},
    {_sql_kmeans_update("a2", "cent2", expl="texpl")},
    {_sql_kmeans_assign("cent2", "a3")}
    SELECT cluster, COUNT(*) AS n,
           bit_xor(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))
                   ::BIGINT) AS member_checksum
    FROM a3 GROUP BY cluster
    """,
)
def q221_kmeans_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION k-means training shape, oracle-gated: Lloyd
    iterations run on a deterministic md5-mod hash-sample (here
    ``sample_rows=128`` → stride ``ceil(n/128)``, active at every test
    SF), assignment runs the vectorized Arrow-batched kernel, and only
    the FINAL pass touches the full corpus.  The oracle replicates the
    identical sample (same md5-prefix predicate), seeds (4 smallest
    SAMPLE ids), two DECIMAL-exact update rounds over the sample, and
    the full-corpus final assignment — proving the scale path
    bit-matches the exact recipe, not just the full-corpus path that
    q141/q167 pin.  At 100 TB the sample bounds per-iteration cost and
    the k × dim driver matrix by the training budget, independent of
    corpus size (SCALING.md)."""
    from parquery_spark.operators.dedup import hash64
    from parquery_spark.operators.semdedup import kmeans_assign

    emb = load(spark, sf_dir, "embeddings")
    # materialize=False: the assignment has exactly ONE consumer (the
    # rollup below), so the returned plan re-runs the final kernel pass
    # at action time instead of pinning a session-lived cache — training
    # (the driver-side Lloyd loop on the hash-sample) already happened
    # by the time kmeans_assign returns, backed by the final centroid
    # broadcast
    assign = kmeans_assign(
        emb, id_col="vec_id", vec_col="embedding", k=4, iters=3,
        sample_rows=128, materialize=False,
        # cardinality from the footer — the unfiltered single-file scan's
        # count is driver metadata, not a Spark job (round 12)
        n=_footer_rows(_path(sf_dir, "embeddings")),
    )
    return assign.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(hash64(F.col("vec_id").cast("string"))).alias(
            "member_checksum"
        ),
    )


@query(
    "q222_binary_file_ingest",
    # Image rows carry REAL PNG/JPEG headers whose dimensions derive
    # from doc_id, so the oracle recomputes width/height/n_bytes from
    # the same recipe the fixture bytes encode — a parser endianness or
    # offset bug breaks parity.  content_hash is NULL for image rows on
    # BOTH sides: their payloads contain non-UTF8 header bytes and the
    # oracle engine's md5 is VARCHAR-only (byte-hash parity is gated by
    # q50, whose payloads are UTF-8-safe).  doc_id%15==0 image rows are
    # written with a corrupted magic byte → decode_ok=false, null dims.
    """
    WITH sel AS (
        SELECT doc_id, text,
               md5(text) AS content_hash,
               CAST(octet_length(encode(text)) AS BIGINT) AS text_bytes,
               CASE CAST(doc_id % 3 AS INTEGER)
                    WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                    ELSE 'video' END AS media_type,
               doc_id % 6 = 0 AS is_png,
               doc_id % 15 = 0 AS corrupt,
               ('0x' || substr(md5(text), 1, 8))::BIGINT AS seed
        FROM documents WHERE doc_id < 60
    )
    SELECT doc_id, media_type,
           text_bytes + CASE WHEN media_type = 'image'
                             THEN CASE WHEN is_png THEN 33 ELSE 21 END
                             ELSE 0 END AS n_bytes,
           CASE WHEN media_type = 'image' THEN NULL
                ELSE content_hash END AS content_hash,
           CASE WHEN media_type = 'image' THEN
                    CASE WHEN corrupt THEN NULL
                         ELSE CAST(1 + (doc_id * 37) % 4000 AS INTEGER) END
                WHEN media_type = 'audio' THEN NULL
                ELSE CAST(64 + seed % 1024 AS INTEGER) END AS width,
           CASE WHEN media_type = 'image' THEN
                    CASE WHEN corrupt THEN NULL
                         ELSE CAST(1 + (doc_id * 53) % 3000 AS INTEGER) END
                WHEN media_type = 'audio' THEN NULL
                ELSE CAST(64 + (seed // 1024) % 1024 AS INTEGER)
                END AS height,
           CASE WHEN media_type = 'image' THEN
                    CASE WHEN corrupt THEN NULL ELSE CAST(1 AS BIGINT) END
                ELSE CAST(1 + seed % 300 AS BIGINT) END AS n_frames,
           CASE WHEN media_type = 'image' THEN NOT corrupt
                ELSE TRUE END AS decode_ok
    FROM sel
    """,
)
def q222_binary_file_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-file multimodal ingest end to end: a directory of real media
    files (a stat-keyed :func:`~parquery_spark.artifacts.artifact`,
    published atomically — 60 files whose bytes derive from the
    ``documents`` corpus, extensions cycling png/jpg/wav/mp4) is ingested
    with :func:`parquery_spark.sources.binary.read_binary_files`
    (distributed ``binaryFile`` listing+read, extension → media_type),
    then feature-extracted through the Arrow-batched ``mapInPandas``
    decode plumbing.  Image files carry REAL PNG/JPEG headers (doc_id-
    derived dimensions, built by ``make_png``/``make_jpeg``), so the
    header parser's output — including decode_ok=false for the rows
    written with a corrupted magic byte — is value-gated against the
    oracle's recomputation from the same recipe.

    Scale shape: the driver lists paths; tasks read bytes (no driver
    data path); ``pathGlobFilter``/``modifiedAfter`` prune at listing
    time; the payload column is dropped before any shuffle."""
    from parquery_spark.operators.multimodal import (
        extract_media_features,
        make_jpeg,
        make_png,
    )
    from parquery_spark.sources.binary import read_binary_files

    src = _path(sf_dir, "documents")

    def _build(t):
        import pyarrow.parquet as papq

        os.makedirs(t, exist_ok=True)
        # predicate pushed into the parquet read: only the 60 fixture
        # rows reach the driver, not the whole corpus's text
        with fs.open_input(src) as fh:
            tbl = papq.read_table(
                fh, columns=["doc_id", "text"], filters=[("doc_id", "<", 60)]
            )
        for doc_id, text in zip(
            tbl.column("doc_id").to_pylist(), tbl.column("text").to_pylist()
        ):
            data = text.encode("utf-8")
            if doc_id % 3 == 0:  # image rows: real headers
                w = 1 + (doc_id * 37) % 4000
                h = 1 + (doc_id * 53) % 3000
                if doc_id % 6 == 0:
                    payload, ext = make_png(w, h, data), "png"
                else:
                    payload, ext = make_jpeg(w, h, data), "jpg"
                if doc_id % 15 == 0:  # corrupt the magic byte
                    payload = b"\x00" + payload[1:]
            elif doc_id % 3 == 1:
                payload, ext = data, "wav"
            else:
                payload, ext = data, "mp4"
            with open(os.path.join(t, f"doc_{doc_id:06d}.{ext}"), "wb") as fh:
                fh.write(payload)
        with open(os.path.join(t, "_DONE"), "w") as fh:
            fh.write("ok")

    fdir = artifact(
        sf_dir, "documents", "media60-codec-v2", "media", _build,
        marker="_DONE",
    )
    # glob pinned to the 3-char media extensions: never matches the
    # _DONE marker or any foreign staging file
    raw = read_binary_files(
        spark, fdir, path_glob="doc_*.???", media_type="auto"
    ).select("path", "payload", "media_type")
    feats = extract_media_features(raw)
    return feats.select(
        F.regexp_extract(F.col("path"), r"doc_(\d+)\.", 1)
        .cast("long")
        .alias("doc_id"),
        "media_type",
        "n_bytes",
        # image payloads contain non-UTF8 header bytes the oracle
        # engine's VARCHAR-only md5 cannot hash — nulled on both sides;
        # q50 gates byte-hash parity on UTF-8-safe payloads
        F.when(F.col("media_type") != "image", F.col("content_hash"))
        .alias("content_hash"),
        "width",
        "height",
        "n_frames",
        "decode_ok",
    )


_SUBSTR_L = 8
_SUBSTR_CAP = 64


def _substr_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stat-keyed exact-substring span artifact shared by q223 (report the
    spans) and q224 (removal accounting): ONE gram self-join per corpus
    version, staged to storage like the k-means assignment / PQ codebook
    model artifacts.  An ExactSubstr pipeline writes the span table and
    then cuts against it — the accounting pass must read that table, not
    re-derive it (round-7 review: the re-derivation doubled the heaviest
    join in the family per gate run)."""
    from parquery_spark.operators.dedup import substring_spans

    def _build(t):
        substring_spans(
            load(spark, sf_dir, "documents"), "text", "doc_id",
            min_tokens=_SUBSTR_L, max_gram_occ=_SUBSTR_CAP,
            gram_key="hash",
        ).write.mode("overwrite").parquet(t)

    # v2: the artifact builds with gram_key="hash" — the petabyte
    # shuffle form (two xxhash64 longs per row instead of the ~50-byte
    # gram string; measured −29% shuffle bytes at ×100 in SCALING.md).
    # q225 gates its exact output equality against the raw-string
    # oracle, so the cheap form is also the proven form.
    sdir = artifact(
        sf_dir, "documents", f"substr-L{_SUBSTR_L}-c{_SUBSTR_CAP}-v2",
        "substr", _build,
    )
    return relations.get_relation(spark, sdir)

# shared CTE chain for the exact-substring family (q223/q224): tokenize →
# positional grams → stop-gram cap → gram self-join → diagonal islands.
# One fragment interpolated into both oracles so the gram recipe cannot
# drift between the span query and its removal-accounting consumer.
_SUBSTR_SPAN_CTES = f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
        WHERE len(string_split(text, ' ')) >= {_SUBSTR_L}
    ),
    grams AS (
        SELECT doc_id, pos,
               array_to_string(t[pos:pos+{_SUBSTR_L}-1], ' ') AS gram
        FROM toks, unnest(range(1, len(t) - {_SUBSTR_L} + 2)) AS u(pos)
    ),
    keep AS (
        SELECT gram FROM grams GROUP BY gram
        HAVING COUNT(*) BETWEEN 2 AND {_SUBSTR_CAP}
    ),
    occ AS (SELECT g.* FROM grams g JOIN keep USING (gram)),
    hits AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.pos AS pos_a, b.pos AS pos_b
        FROM occ a JOIN occ b ON a.gram = b.gram AND a.doc_id < b.doc_id
    ),
    isl AS (
        SELECT *, pos_a - pos_b AS diag,
               pos_a - ROW_NUMBER() OVER (
                   PARTITION BY doc_a, doc_b, pos_a - pos_b
                   ORDER BY pos_a) AS island
        FROM hits
    )"""

_SUBSTRING_SPANS_SQL = f"""{_SUBSTR_SPAN_CTES}
    SELECT doc_a, doc_b,
           CAST(MIN(pos_a) AS INTEGER) AS a_start,
           CAST(MIN(pos_b) AS INTEGER) AS b_start,
           CAST(MAX(pos_a) - MIN(pos_a) + {_SUBSTR_L} AS INTEGER)
               AS span_tokens
    FROM isl GROUP BY doc_a, doc_b, diag, island
    """


@query("q223_substring_spans", _SUBSTRING_SPANS_SQL)
def q223_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplicate spans (ExactSubstr, Lee et al. 2022): every
    maximal verbatim run of >= 8 shared words between two documents, with
    its 1-based start offset in BOTH docs — the positional artifact needed
    to cut duplicated text rather than drop whole documents (which the
    MinHash / SimHash / winnowing family covers).  All-integer output, no
    float discipline needed; the gaps-and-islands diagonal merge is
    deterministic on both engines.  The spans are a stat-keyed storage
    artifact (:func:`_substr_spans`) that q224 consumes without
    re-running the gram join."""
    return _substr_spans(spark, sf_dir)


_SUBSTRING_DEDUP_SQL = f"""{_SUBSTR_SPAN_CTES},
    spans AS (
        SELECT doc_a, doc_b, MIN(pos_b) AS b_start,
               MAX(pos_a) - MIN(pos_a) + {_SUBSTR_L} AS span_tokens
        FROM isl GROUP BY doc_a, doc_b, diag, island
    ),
    ivals AS (
        SELECT doc_b AS doc_id, b_start AS s,
               b_start + span_tokens - 1 AS e
        FROM spans
    ),
    marked AS (
        SELECT doc_id, s, e,
               CASE WHEN s > COALESCE(MAX(e) OVER (
                        PARTITION BY doc_id ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), -1)
                    THEN 1 ELSE 0 END AS new_i
        FROM ivals
    ),
    grp AS (
        SELECT doc_id, s, e,
               SUM(new_i) OVER (
                   PARTITION BY doc_id ORDER BY s, e) AS isl2
        FROM marked
    ),
    merged AS (
        SELECT doc_id, MIN(s) AS ms, MAX(e) AS me
        FROM grp GROUP BY doc_id, isl2
    )
    SELECT m.doc_id,
           CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
           CAST(SUM(m.me - m.ms + 1) AS BIGINT) AS removed_tokens,
           CAST(len(string_split(d.text, ' '))
                - SUM(m.me - m.ms + 1) AS BIGINT) AS kept_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_cut_spans
    FROM merged m JOIN documents d ON m.doc_id = d.doc_id
    GROUP BY m.doc_id, d.text
    """


@query("q224_substring_dedup_stats", _SUBSTRING_DEDUP_SQL)
def q224_substring_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup REMOVAL accounting: cut every q223 span from
    the later doc of its pair (keep-first), merge overlapping cut intervals
    per doc, report removed vs kept token counts.  kept_tokens = 0 flags a
    doc that is a verbatim subset of an earlier one (droppable outright) —
    the decision artifact a corpus-cleaning pipeline actually consumes.
    All-integer output; the interval merge is one window pass after the
    span shuffle, no join back to pair space.  Reads the SAME span
    artifact q223 publishes (``spans=``) — the accounting plan contains
    zero gram tables."""
    from parquery_spark.operators.dedup import substring_dedup_stats

    docs = load(spark, sf_dir, "documents")
    return substring_dedup_stats(
        docs, "text", "doc_id",
        min_tokens=_SUBSTR_L,
        spans=_substr_spans(spark, sf_dir),
    )


@query("q225_substring_spans_hashkey", _SUBSTRING_SPANS_SQL)
def q225_substring_spans_hashkey(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The petabyte-shuffle form of q223: ``gram_key='hash'`` replaces
    the ~50-byte gram STRING as the shuffle/join key with two
    independent ``xxhash64`` values (16 bytes; collision bound
    ~n²/2¹²⁹, documented on the operator), measured -24% shuffle bytes
    in the substring scale smoke.  The ORACLE is q223's raw-string
    recipe unchanged — exact output equality across the key
    representations IS the gate.  Runs the operator live (no artifact),
    so the bench keeps a non-artifact measurement of the gram join."""
    from parquery_spark.operators.dedup import substring_spans

    docs = load(spark, sf_dir, "documents")
    return substring_spans(
        docs, "text", "doc_id",
        min_tokens=_SUBSTR_L, max_gram_occ=_SUBSTR_CAP, gram_key="hash",
    )


_SUBSTRING_CUT_SQL = f"""{_SUBSTR_SPAN_CTES},
    spans AS (
        SELECT doc_a, doc_b, MIN(pos_b) AS b_start,
               MAX(pos_a) - MIN(pos_a) + {_SUBSTR_L} AS span_tokens
        FROM isl GROUP BY doc_a, doc_b, diag, island
    ),
    ivals AS (
        SELECT doc_b AS doc_id, b_start AS s,
               b_start + span_tokens - 1 AS e
        FROM spans
    ),
    dtok AS (
        SELECT d.doc_id, string_split(d.text, ' ') AS t
        FROM documents d
        WHERE d.doc_id IN (SELECT doc_id FROM ivals)
    ),
    tok AS (
        SELECT doc_id, t[pos] AS tok, pos
        FROM dtok, unnest(range(1, len(t) + 1)) AS u(pos)
    ),
    surv AS (
        SELECT k.doc_id, k.tok, k.pos
        FROM tok k
        WHERE NOT EXISTS (
            SELECT 1 FROM ivals v
            WHERE v.doc_id = k.doc_id AND k.pos BETWEEN v.s AND v.e
        )
    ),
    agg AS (
        SELECT doc_id, COUNT(*) AS kept_tokens,
               string_agg(tok, ' ' ORDER BY pos) AS kept_text
        FROM surv GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(len(d.t) AS BIGINT) AS n_tokens,
           CAST(COALESCE(a.kept_tokens, 0) AS BIGINT) AS kept_tokens,
           md5(COALESCE(a.kept_text, '')) AS kept_hash
    FROM dtok d LEFT JOIN agg a USING (doc_id)
    """


@query("q226_substring_cut_apply", _SUBSTRING_CUT_SQL)
def q226_substring_cut_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the exact-substring cuts (the step q224 accounts for): cut
    every q223 span from the later doc of its pair and rebuild the
    cleaned text — the actual corpus output of an ExactSubstr pipeline
    (Lee et al. 2022 cut the duplicated BYTES; flag-level dedup keeps or
    drops whole docs).  Emits one row per affected doc with the cleaned
    text's md5 and token count, so the whole span chain — gram join,
    island merge, offsets, interval membership, reassembly order — is
    VALUE-gated end to end (one token off by one position changes the
    hash).  Spark shape: the span artifact rolls up to a per-doc
    interval array (tiny), joins back to the doc row, and the cut is a
    pure higher-order-function filter over the token array (zip with
    position, drop members of any interval) — no token-level shuffle at
    all; the oracle does the same relationally (unnest + NOT EXISTS +
    ordered string_agg), so the two engines cross-check each other's
    shapes."""
    spans = _substr_spans(spark, sf_dir)
    docs = load(spark, sf_dir, "documents")
    ivals = spans.groupBy(F.col("doc_b").alias("doc_id")).agg(
        F.collect_list(
            F.struct(
                F.col("b_start").cast("long").alias("s"),
                (F.col("b_start") + F.col("span_tokens") - 1)
                .cast("long")
                .alias("e"),
            )
        ).alias("ivals")
    )
    toks = docs.join(ivals, "doc_id").select(
        "doc_id", F.split("text", " ").alias("t"), "ivals"
    )
    indexed = F.transform(
        F.col("t"),
        lambda x, i: F.struct(
            x.alias("tok"), (i + F.lit(1)).cast("long").alias("pos")
        ),
    )
    kept = F.filter(
        indexed,
        lambda st: ~F.exists(
            F.col("ivals"),
            lambda iv: (st["pos"] >= iv["s"]) & (st["pos"] <= iv["e"]),
        ),
    )
    return toks.select(
        "doc_id",
        F.size("t").cast("long").alias("n_tokens"),
        F.transform(kept, lambda s: s["tok"]).alias("__kt"),
    ).select(
        "doc_id",
        "n_tokens",
        F.size("__kt").cast("long").alias("kept_tokens"),
        F.md5(F.concat_ws(" ", F.col("__kt"))).alias("kept_hash"),
    )


def _docs_stream_dir(spark: SparkSession, sf_dir: str) -> str:
    """Stage the documents table as a 3-file, doc_id-ordered parquet feed
    (stat-keyed artifact root): ``feed/`` holds all three id-tertile
    files with pinned ascending mtimes, so a ``maxFilesPerTrigger=1``
    availableNow drain replays the corpus as THREE real micro-batches in
    id order — the arrival order that makes streaming first-wins dedup
    verdicts equal the batch bucket-min oracle (streaming/docs.py).
    ``feed_p1``/``feed_p2`` split the same files at the tertile-2/3
    boundary for the 2-phase drain→compact→drain lifecycle (v2)."""

    def _build(t):
        import glob as _glob

        from pyspark.sql import Window

        docs = load(spark, sf_dir, "documents").select("doc_id", "text")
        w = Window.orderBy("doc_id")
        tiled = docs.withColumn("__tile", F.ntile(3).over(w))
        for i in (1, 2, 3):
            tiled.where(F.col("__tile") == i).drop("__tile").coalesce(
                1
            ).write.mode("overwrite").parquet(os.path.join(t, f"t{i}"))
        phase = {1: ("feed", "feed_p1"), 2: ("feed", "feed_p1"),
                 3: ("feed", "feed_p2")}
        for sub in ("feed", "feed_p1", "feed_p2"):
            os.makedirs(os.path.join(t, sub), exist_ok=True)
        for i in (1, 2, 3):
            part = _glob.glob(os.path.join(t, f"t{i}", "*.parquet"))[0]
            for sub in phase[i]:
                dst = os.path.join(t, sub, f"batch{i}.parquet")
                os.link(part, dst)
                # FileStreamSource batches in mtime order: pin it
                os.utime(dst, (1_000_000 + i, 1_000_000 + i))

    d = artifact(
        sf_dir, "documents", _DOCSTREAM_TAG, "docstream", _build,
        marker="t3/_SUCCESS",
    )
    return d


def _sql_streaming_minhash_dedup(
    num_hashes: int, bands: int, shingle_k: int
) -> str:
    """Batch twin of the streaming first-wins near-dup verdict: a doc is
    a dup iff some MinHash band bucket holds a smaller doc_id — the
    bucket-min join below.  Signature/band SQL is the shared q43
    machinery, so the streaming kernel, the batch band_keys relation and
    this oracle all pin each other."""
    rows = num_hashes // bands
    sig_exprs = _sql_minhash_sig_exprs(num_hashes)
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, md5("
        + " || ',' || ".join(f"h{b * rows + r}::VARCHAR" for r in range(rows))
        + ") AS band_key FROM sig"
        for b in range(bands)
    )
    return f"""
    WITH sh AS ({_sql_shingles(shingle_k)}),
    hashed AS (SELECT doc_id, {_SQL_BASE_HASH} AS hs FROM sh),
    sig AS (SELECT doc_id, {sig_exprs} FROM hashed),
    banded AS (
        SELECT * FROM ({band_selects}) WHERE band_key IS NOT NULL
    ),
    mins AS (
        SELECT band, band_key, MIN(doc_id) AS min_id
        FROM banded GROUP BY band, band_key
    )
    SELECT b.doc_id,
           MAX(CASE WHEN m.min_id < b.doc_id THEN 1 ELSE 0 END)::INT AS is_dup
    FROM banded b JOIN mins m
      ON b.band = m.band AND b.band_key = m.band_key
    GROUP BY b.doc_id
    """


@query("q227_streaming_minhash_dedup", _sql_streaming_minhash_dedup(16, 4, 2))
def q227_streaming_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming FUZZY dedup — the online MinHash-LSH near-dup verdict
    (streaming/docs.py): documents replayed as three id-ordered
    micro-batches; an Arrow-batched kernel emits (doc, band, band_key)
    rows; ``applyInPandasWithState`` keyed by bucket keeps ONE running
    min-id per distinct bucket (the dedup-index lower bound — state
    tracks distinct corpus signatures, not event rate) and votes dup for
    any doc arriving after a smaller id; the per-doc any-band reduction
    runs batch-side on the drained sink.  Exactness contract: id-ordered
    arrival makes the streaming first-wins verdict equal the batch
    bucket-min rule, so the whole pipeline — kernel hashes, banding,
    state machine, multi-batch replay — is value-gated against the q43
    oracle machinery.  (Reference has no streaming surface; its batch
    dedup twin is q43.)

    Round 11 (VERDICT r10 #2) runs the FULL state lifecycle: phase 1
    drains tertiles 1-2 with an empty index; the drained increment's
    bucket minima are then COMPACTED into the persistent on-disk index
    (``compact_minhash_index`` — build-once, stat-keyed) and the state
    store is EVICTED (phase 2 runs under a fresh checkpoint); phase 2
    drains tertile 3 consulting the index via a stream-static join.
    The union of both phases' votes must still equal the single-state
    batch oracle — in-memory state stays bounded by the compaction
    interval while the index carries the corpus (SCALING.md has the
    measured state-row counts)."""
    from parquery_spark.streaming.docs import (
        compact_minhash_index,
        minhash_dedup_stream,
    )

    def feed(phase):
        return os.path.join(_docs_stream_dir(spark, sf_dir), phase)

    def votes(phase, index_df=None):
        return minhash_dedup_stream(
            spark, feed(phase), num_hashes=16, bands=4, shingle_k=2,
            options={"maxFilesPerTrigger": "1"}, parallelism=16,
            index_df=index_df,
        )

    # compaction: fold phase 1's bucket minima into the persistent index
    # (stat-keyed: built once per corpus version)
    idx_tag = "mhidx227-v1"

    def _build_idx(t):
        os.makedirs(t, exist_ok=True)
        docs_p1 = spark.read.schema(
            "doc_id long, text string"
        ).parquet(feed("feed_p1"))
        compact_minhash_index(
            spark, docs_p1, os.path.join(t, "index"),
            num_hashes=16, bands=4, shingle_k=2,
        )

    def indexed_votes():
        idx_root = artifact(
            sf_dir, "documents", idx_tag, "mhidx227", _build_idx,
            marker=os.path.join("index", "_SUCCESS"),
        )
        index_df = relations.get_relation(
            spark, os.path.join(idx_root, "index")
        )
        return votes("feed_p2", index_df)

    # phase 1: tertiles 1-2, no index, fresh state — v3: the v2 plan
    # drained all three tertiles under one ever-growing state
    tag = f"v3+{_DOCSTREAM_TAG}"
    votes1 = _drained(
        spark, sf_dir, "documents", tag, "q227_drain_p1",
        lambda: votes("feed_p1"),
    )
    # phase 2: tertile 3 under a fresh checkpoint (state evicted) —
    # prior-corpus minima come only from the compacted index
    votes2 = _drained(
        spark, sf_dir, "documents", f"{tag}+{idx_tag}", "q227_drain_p2",
        indexed_votes,
    )
    return (
        votes1.unionByName(votes2)
        .groupBy("doc_id")
        .agg(F.max("dup_vote").alias("is_dup"))
    )


def _sql_mmr_rerank(nq: int, pool: int, k: int) -> str:
    """Recursive-CTE twin of the MMR selection loop: base = per-query
    argmax relevance; each recursive step scores the unchosen pool
    (0.7·rel − 0.3·max-sim-to-chosen, every term ROUND(…,6)-quantized so
    both engines compare identical decimals) and picks the row_number-1
    row.  The working table holds exactly one row per query per rank, so
    recursion depth = k."""
    cos = (
        "ROUND(list_dot_product({a}, {b}) / "
        "(sqrt(list_dot_product({a}, {a})) * "
        "sqrt(list_dot_product({b}, {b}))), 6)"
    )
    return f"""
    WITH RECURSIVE
    q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
          FROM embeddings WHERE vec_id < {nq}),
    rels AS (
      SELECT q.qid, e.vec_id, e.embedding::DOUBLE[] AS v,
             {cos.format(a="e.embedding::DOUBLE[]", b="q.qv")} AS rel
      FROM embeddings e, q WHERE e.vec_id <> q.qid
    ),
    cand AS (
      SELECT qid, vec_id, v, rel FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY qid ORDER BY rel DESC, vec_id) AS rn
        FROM rels) WHERE rn <= {pool}
    ),
    sel(qid, rnk, vec_id, score, chosen) AS (
      SELECT qid, 1, vec_id, ROUND(0.7 * rel, 7), [vec_id]
      FROM (SELECT *, ROW_NUMBER() OVER (
                PARTITION BY qid ORDER BY rel DESC, vec_id) AS r FROM cand)
      WHERE r = 1
      UNION ALL
      SELECT qid, rnk + 1, vec_id, score, list_append(chosen, vec_id) FROM (
        SELECT scored.*, ROW_NUMBER() OVER (
            PARTITION BY qid ORDER BY score DESC, vec_id) AS r
        FROM (
          SELECT s.qid AS qid, s.rnk AS rnk, c.vec_id AS vec_id,
                 s.chosen AS chosen,
                 ROUND(0.7 * ANY_VALUE(c.rel) - 0.3 * MAX(
                     {cos.format(a="c.v", b="p.v")}), 7) AS score
          FROM sel s
          JOIN cand c ON c.qid = s.qid
                     AND NOT list_contains(s.chosen, c.vec_id)
          JOIN cand p ON p.qid = s.qid
                     AND list_contains(s.chosen, p.vec_id)
          GROUP BY s.qid, s.rnk, c.vec_id, s.chosen
        ) scored
      ) WHERE r = 1 AND rnk < {k}
    )
    SELECT qid AS query_id, rnk AS rank, vec_id, score AS mmr_score
    FROM sel
    """


@query("q228_mmr_diversity_rerank", _sql_mmr_rerank(4, 25, 10))
def q228_mmr_diversity_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance diversity selection
    (similarity.mmr_rerank): per query, pick 10 of the 25 most relevant
    embeddings trading relevance against redundancy — the de-redundancy
    step between retrieval and consumption (and between ANN candidate
    generation and training-set inclusion in a data pipeline).  JVM-side
    pool cut (broadcast literal queries + window top-25), Arrow-batched
    sequential argmax per bounded window; every score decimal-quantized
    so the iterative selection is engine-portable — gated against a
    recursive-CTE oracle running the identical loop relationally.
    (Reference has no similarity surface, SURVEY.md §2.4.)"""
    from parquery_spark.operators.similarity import mmr_rerank

    emb = load(spark, sf_dir, "embeddings")
    probes = sorted(
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in _probe_rows(sf_dir, [0, 1, 2, 3])
    )
    return mmr_rerank(emb, probes, k=10, pool=25, lam=0.7, mu=0.3)


_SQL_ORDERS_ROLLUP = """
    SELECT o_orderstatus,
           COUNT(*) AS n,
           FLOOR(SUM(FLOOR(o_totalprice * 100 + 0.5)::BIGINT)) / 100.0
               AS total_price,
           SUM(o_orderkey)::BIGINT AS sum_key,
           epoch_us(MIN(o_orderdate)) AS first_date_us,
           epoch_us(MAX(o_orderdate)) AS last_date_us,
           MIN(o_orderpriority) AS min_priority
    FROM orders GROUP BY o_orderstatus
    """


def _orders_rollup(df: DataFrame) -> DataFrame:
    """Shared per-status rollup exercising every column TYPE an interchange
    format must preserve (int64, 2-dec double via the integer-cents
    discipline, timestamp→epoch µs, strings)."""
    return df.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
                  .cast("long")) / 100.0
        ).alias("total_price"),
        F.sum("o_orderkey").alias("sum_key"),
        # parquet/ORC surface the column as TIMESTAMP_NTZ; the session tz
        # is UTC, so the LTZ cast is an identity re-tag for unix_micros
        F.unix_micros(
            F.min(F.col("o_orderdate").cast("timestamp_ltz"))
        ).alias("first_date_us"),
        F.unix_micros(
            F.max(F.col("o_orderdate").cast("timestamp_ltz"))
        ).alias("last_date_us"),
        F.min("o_orderpriority").alias("min_priority"),
    )


@query("q229_orc_roundtrip", _SQL_ORDERS_ROLLUP)
def q229_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink fidelity: orders staged once as an ORC dataset
    (stat-keyed artifact, Spark's built-in vectorized ORC writer), read
    back through the vectorized ORC reader, rolled up per status.  The
    oracle reads the PARQUET twin, so what is gated is the ORC round
    trip itself — int64 / double / timestamp(µs) / string all
    value-exact through the other columnar interchange format.  (ORC
    timestamps carry local-time semantics; write and read share the
    session's UTC tz, and the gate would catch any drift as a shifted
    epoch.)  Reference is parquet-only (SURVEY §2.1); format breadth is
    an extension."""

    def _build(t):
        load(spark, sf_dir, "orders").write.mode("overwrite").orc(t)

    d = artifact(sf_dir, "orders", "orc-v1", "orders_orc", _build)
    return _orders_rollup(spark.read.orc(d))


@query(
    "q230_jsonl_roundtrip",
    """
    SELECT o_orderpriority,
           COUNT(*) AS n,
           FLOOR(SUM(FLOOR(o_totalprice * 100 + 0.5)::BIGINT)) / 100.0
               AS total_price,
           MIN(o_orderkey) AS min_key,
           MAX(o_orderkey) AS max_key,
           COUNT(DISTINCT o_custkey) AS n_cust,
           epoch_us(MAX(o_orderdate)) AS last_date_us
    FROM orders GROUP BY o_orderpriority
    """,
)
def q230_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source/sink fidelity: orders staged once as
    newline-delimited JSON (Spark's writer emits shortest-roundtrip
    doubles and ISO-8601 timestamps), read back with the EXPLICIT
    schema (inference would widen/guess; a production feed pins its
    contract), rolled up per priority.  Oracle reads the parquet twin —
    the text round trip (double formatting, timestamp parsing, quoting)
    is what's gated.  JSON is the lingua franca of event feeds; parquet
    -only reference, extension per SURVEY §2.4."""

    def _build(t):
        load(spark, sf_dir, "orders").write.mode("overwrite").json(t)

    d = artifact(sf_dir, "orders", "jsonl-v1", "orders_jsonl", _build)
    schema = (
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string"
    )
    src = spark.read.schema(schema).json(d)
    return src.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
                  .cast("long")) / 100.0
        ).alias("total_price"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
        F.countDistinct("o_custkey").alias("n_cust"),
        F.unix_micros(F.max("o_orderdate")).alias("last_date_us"),
    )


@query(
    "q231_streaming_drift_monitor",
    """
    WITH binned AS (
        SELECT CAST(FLOOR(epoch_us(ts) / 86400000000) AS BIGINT)
                   * 86400000000 AS window_start_us,
               event_type,
               LEAST(GREATEST(CAST(FLOOR(value / 25) AS BIGINT), 0), 19)
                   AS bin
        FROM events
    ),
    wcounts AS (
        SELECT window_start_us, event_type, bin, COUNT(*) AS n
        FROM binned GROUP BY window_start_us, event_type, bin
    ),
    wtot AS (
        SELECT window_start_us, event_type, SUM(n) AS tw
        FROM wcounts GROUP BY window_start_us, event_type
    ),
    gcounts AS (
        SELECT event_type, bin, COUNT(*) AS g
        FROM binned GROUP BY event_type, bin
    ),
    gtot AS (SELECT event_type, SUM(g) AS tg FROM gcounts GROUP BY event_type),
    spine AS (
        SELECT wt.window_start_us, gc.event_type, gc.bin, gc.g
        FROM (SELECT DISTINCT window_start_us, event_type FROM binned) wt
        JOIN gcounts gc ON gc.event_type = wt.event_type
    ),
    joined AS (
        SELECT s.window_start_us, s.event_type, s.bin, s.g,
               COALESCE(w.n, 0) AS n
        FROM spine s LEFT JOIN wcounts w
          ON w.window_start_us = s.window_start_us
         AND w.event_type = s.event_type AND w.bin = s.bin
    )
    SELECT j.window_start_us, j.event_type,
           ROUND(SUM(
               (CAST(n + 1 AS DOUBLE) / (tw + 20)
                - CAST(g + 1 AS DOUBLE) / (tg + 20))
               * ln((CAST(n + 1 AS DOUBLE) / (tw + 20))
                    / (CAST(g + 1 AS DOUBLE) / (tg + 20)))
           ), 6) AS psi
    FROM joined j
    JOIN wtot ON wtot.window_start_us = j.window_start_us
             AND wtot.event_type = j.event_type
    JOIN gtot ON gtot.event_type = j.event_type
    GROUP BY j.window_start_us, j.event_type
    """,
)
def q231_streaming_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming DATA-DRIFT monitor — the observability gate a training
    pipeline runs before admitting a day's ingest: the live stream is
    reduced to per-(day window, event_type) value HISTOGRAMS (q129's
    fixed-width 20-bin layout — quantile-free, so edges are identical on
    every engine) by a real windowed streaming aggregation; the drained
    histograms are then PSI-scored against the corpus-wide reference
    distribution (Laplace-smoothed over the reference's observed-bin
    spine, q129's exact discipline).  Scale shape: streaming state =
    windows-in-flight × types × ≤20 bins (rate-invariant, the q84
    contract); the drift math runs over the tiny drained histogram
    relation.  Composition is the point — windowed agg (streaming) →
    broadcast-joined reference scoring (batch) with zero raw-event
    re-reads on the scoring side."""
    from parquery_spark.streaming.events import events_stream

    bin_of = lambda c: F.least(  # noqa: E731 — q129's exact binning
        F.greatest(F.floor(c / 25).cast("long"), F.lit(0)), F.lit(19)
    )

    def histograms():
        stream = events_stream(spark, _events_stream_dir(sf_dir))
        return (
            stream.groupBy(
                F.window("ts", "1 day").alias("win"),
                "event_type",
                bin_of(F.col("value")).alias("bin"),
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                F.unix_micros(F.col("win.start")).alias("window_start_us"),
                "event_type", "bin", "n",
            )
        )

    wcounts = _drained(
        spark, sf_dir, "events", f"v1+{_EVENTS_LINK_TAG}", "q231_drain",
        histograms, output_mode="complete",
    )
    events = load_events(spark, sf_dir)
    gcounts = (
        events.groupBy("event_type", bin_of(F.col("value")).alias("bin"))
        .agg(F.count(F.lit(1)).alias("g"))
    )
    # the scoring SQL references wcounts three times (spine, left join,
    # window totals): a parquet relation self-joins like any other
    wcounts.createOrReplaceTempView("q231_wcounts")
    # gcounts stays a LAZY view although the scoring SQL references it
    # twice (gtot, spine): the two references are the identical subtree,
    # so ReuseExchange already computes the reference aggregation once —
    # landing it driver-side was measured SLOWER (profile min-of-7
    # 1.79 → 2.53 s: the extra toPandas job wave costs more than the
    # nothing it deduplicates; round 13).
    gcounts.createOrReplaceTempView("q231_gcounts")
    return spark.sql("""
        WITH wtot AS (
            SELECT window_start_us, event_type, SUM(n) AS tw
            FROM q231_wcounts GROUP BY window_start_us, event_type
        ),
        gtot AS (
            SELECT event_type, SUM(g) AS tg
            FROM q231_gcounts GROUP BY event_type
        ),
        spine AS (
            SELECT wt.window_start_us, gc.event_type, gc.bin, gc.g
            FROM (SELECT DISTINCT window_start_us, event_type
                  FROM q231_wcounts) wt
            JOIN q231_gcounts gc ON gc.event_type = wt.event_type
        ),
        joined AS (
            SELECT s.window_start_us, s.event_type, s.bin, s.g,
                   COALESCE(w.n, 0) AS n
            FROM spine s LEFT JOIN q231_wcounts w
              ON w.window_start_us = s.window_start_us
             AND w.event_type = s.event_type AND w.bin = s.bin
        )
        SELECT j.window_start_us, j.event_type,
               ROUND(SUM(
                   (CAST(n + 1 AS DOUBLE) / (tw + 20)
                    - CAST(g + 1 AS DOUBLE) / (tg + 20))
                   * ln((CAST(n + 1 AS DOUBLE) / (tw + 20))
                        / (CAST(g + 1 AS DOUBLE) / (tg + 20)))
               ), 6) AS psi
        FROM joined j
        JOIN wtot ON wtot.window_start_us = j.window_start_us
                 AND wtot.event_type = j.event_type
        JOIN gtot ON gtot.event_type = j.event_type
        GROUP BY j.window_start_us, j.event_type
    """)


@query(
    "q232_audio_pcm_features",
    # The oracle RECONSTRUCTS every PCM sample analytically from the
    # fixture recipe (unnest(range(n)) with the same modular amplitude
    # formula) and aggregates — a wrong byte anywhere in the RIFF chunk
    # walk / int16 interpretation shifts the mean/RMS/peak and breaks
    # parity.  doc_id%10==4 files are truncated mid-data-chunk: the
    # header still parses (decode_ok=true, declared n_frames reported)
    # but sample decode must FAIL CLEANLY (au_ok=false, null stats).
    # doc_id%10==8 files carry a compressed-codec fmt tag (0x55 = MPEG):
    # header parses, PCM decode refuses — never misread compressed
    # bytes as samples.
    """
    WITH sel AS (
        SELECT doc_id,
               400 + (doc_id * 37) % 1200 AS n,
               CASE CAST(doc_id % 4 AS INTEGER)
                    WHEN 0 THEN 8000 WHEN 1 THEN 16000
                    WHEN 2 THEN 22050 ELSE 44100 END AS sr,
               doc_id % 10 = 4 AS torn,
               doc_id % 10 = 8 AS compressed
        FROM documents WHERE doc_id < 40
    ),
    samp AS (
        SELECT doc_id, n, sr, torn, compressed,
               ((unnest(range(n)) * (7 + doc_id) + 13 * doc_id) % 4001)
                   - 2000 AS s
        FROM sel
    ),
    stats AS (
        SELECT doc_id, n, sr, torn, compressed,
               ROUND(AVG(s), 6)       AS amean,
               ROUND(SQRT(AVG(s * s)), 6) AS arms,
               MAX(ABS(s))            AS apeak
        FROM samp GROUP BY doc_id, n, sr, torn, compressed
    )
    SELECT doc_id,
           CAST(sr AS INTEGER) AS sample_rate,
           CAST(CASE WHEN compressed THEN NULL ELSE n END
                AS BIGINT)                                  AS n_frames,
           CASE WHEN torn OR compressed THEN NULL
                ELSE ROUND(n * 1000.0 / sr, 6) END          AS duration_ms,
           TRUE                                             AS decode_ok,
           NOT (torn OR compressed)                         AS au_ok,
           CASE WHEN torn OR compressed THEN NULL
                ELSE amean END                              AS au_mean,
           CASE WHEN torn OR compressed THEN NULL
                ELSE arms END                               AS au_rms,
           CAST(CASE WHEN torn OR compressed THEN NULL
                     ELSE apeak END AS INTEGER)             AS au_peak
    FROM stats
    """,
)
def q232_audio_pcm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode end to end (closes the last stub-compute gap
    flagged in VERDICT r10 "What's missing" #3 alongside r10's PNG
    work): a stat-keyed fixture of 40 spec-valid RIFF/WAVE files —
    doc_id-derived sample counts/rates, 16-bit PCM samples from a
    deterministic modular amplitude formula (:func:`make_wav`) — is
    ingested with the distributed ``binaryFile`` source and
    sample-decoded inside the Arrow-batched ``mapInPandas`` kernel via
    the pure-stdlib chunk-walk path (:func:`decode_wav_pcm`).  Mean/
    RMS/peak amplitude and duration are value-gated against the
    oracle's analytic reconstruction of the same samples.  Truncated
    and compressed-codec rows gate the FAILURE paths: header metadata
    survives, sample stats must be null.

    Scale shape: identical to q50 — bounded build-once fixture loop,
    decode task-parallel over the binaryFile listing, payload bytes
    dropped before any shuffle."""
    import numpy as np

    from parquery_spark.operators.multimodal import (
        extract_media_features,
        make_wav,
    )
    from parquery_spark.sources.binary import read_binary_files

    def _build(t):
        os.makedirs(t, exist_ok=True)
        for doc_id in range(40):
            n = 400 + (doc_id * 37) % 1200
            sr = (8000, 16000, 22050, 44100)[doc_id % 4]
            i = np.arange(n, dtype=np.int64)
            s = ((i * (7 + doc_id) + 13 * doc_id) % 4001 - 2000).astype(
                np.int16
            )
            fmt_tag = 85 if doc_id % 10 == 8 else 1  # 0x55 = MPEG layer 3
            payload = make_wav(s, sr, audio_format=fmt_tag)
            if doc_id % 10 == 4:  # header survives, data chunk does not
                payload = payload[:60]
            with open(os.path.join(t, f"aud_{doc_id:06d}.wav"), "wb") as fh:
                fh.write(payload)
        with open(os.path.join(t, "_DONE"), "w") as fh:
            fh.write("ok")

    fdir = artifact(
        sf_dir, "documents", "wav-pcm-v1", "pcmaud", _build, marker="_DONE",
    )
    raw = read_binary_files(
        spark, fdir, path_glob="aud_*.wav", media_type="audio"
    ).select("path", "payload", "media_type")
    feats = extract_media_features(raw)
    return feats.select(
        F.regexp_extract(F.col("path"), r"aud_(\d+)\.", 1)
        .cast("long")
        .alias("doc_id"),
        "sample_rate", "n_frames", "duration_ms", "decode_ok", "au_ok",
        "au_mean", "au_rms", "au_peak",
    )


@query(
    "q233_video_frame_stats",
    # The oracle RECONSTRUCTS every pixel of every frame analytically
    # from the fixture recipe (lateral range() over frame/row/col/
    # channel with the same modular intensity formula) and aggregates —
    # a wrong byte anywhere in the RIFF/AVI chunk walk, the bottom-up
    # row flip, the BGR→RGB reorder, or the 4-byte row-stride unpad
    # shifts the channel means and breaks parity.  doc_id%10==4 files
    # are truncated mid-movi: the header still parses (decode_ok=true,
    # declared dwTotalFrames reported) but frame decode must FAIL
    # CLEANLY (px_ok=false, null stats).  doc_id%10==8 files carry an
    # MJPG fourcc: header parses, raw-frame decode refuses — never
    # misread compressed bytes as pixels (the q232 codec contract,
    # extended to video).
    """
    WITH sel AS (
        SELECT doc_id,
               8 + (doc_id * 3) % 17 AS w,
               6 + (doc_id * 5) % 13 AS h,
               3 + (doc_id * 7) % 10 AS nf,
               CASE CAST(doc_id % 4 AS INTEGER)
                    WHEN 0 THEN 5 WHEN 1 THEN 10
                    WHEN 2 THEN 12 ELSE 25 END AS fps,
               doc_id % 10 = 4 AS torn,
               doc_id % 10 = 8 AS compressed
        FROM documents WHERE doc_id < 24
    ),
    fr AS (
        SELECT doc_id, w, h, unnest(range(nf)) AS f
        FROM sel WHERE NOT torn AND NOT compressed
    ),
    ro AS (SELECT doc_id, w, f, unnest(range(h)) AS y FROM fr),
    co AS (SELECT doc_id, f, y, unnest(range(w)) AS x FROM ro),
    ch AS (SELECT doc_id, f, y, x, unnest(range(3)) AS c FROM co),
    px AS (
        SELECT doc_id, c,
               (x * 3 + y * 7 + f * 11 + c * 13 + doc_id * 17) % 256 AS v
        FROM ch
    ),
    stats AS (
        SELECT doc_id,
               ROUND(AVG(v) FILTER (WHERE c = 0), 6) AS mr,
               ROUND(AVG(v) FILTER (WHERE c = 1), 6) AS mg,
               ROUND(AVG(v) FILTER (WHERE c = 2), 6) AS mb,
               MIN(v) AS mn, MAX(v) AS mx
        FROM px GROUP BY doc_id
    )
    SELECT s.doc_id,
           CAST(s.w AS INTEGER)  AS width,
           CAST(s.h AS INTEGER)  AS height,
           CAST(s.nf AS BIGINT)  AS n_frames,
           ROUND(s.nf * (1000000 // s.fps) / 1000.0, 6) AS duration_ms,
           TRUE                  AS decode_ok,
           NOT (s.torn OR s.compressed) AS px_ok,
           st.mr AS px_mean_r, st.mg AS px_mean_g, st.mb AS px_mean_b,
           CAST(st.mn AS INTEGER) AS px_min,
           CAST(st.mx AS INTEGER) AS px_max
    FROM sel s LEFT JOIN stats st USING (doc_id)
    """,
)
def q233_video_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video decode end to end (closes the last labeled compute
    stub, VERDICT r11 #4): a stat-keyed fixture of 24 spec-valid
    RIFF/AVI containers — doc_id-derived dimensions/frame-counts/fps,
    raw RGB24 frames from a deterministic modular intensity formula
    (:func:`make_avi` — bottom-up BGR DIB rows, 4-byte stride padding)
    — is ingested with the distributed ``binaryFile`` source and
    frame-decoded inside the Arrow-batched ``mapInPandas`` kernel via
    the pure-stdlib chunk-walk path (:func:`decode_avi_frames`).
    Per-channel pixel means, extent, frame count and duration are
    value-gated against the oracle's analytic reconstruction of the
    same frames.  Truncated and compressed-fourcc rows gate the FAILURE
    paths: header metadata survives, pixel stats must be null.

    Scale shape: identical to q50/q232 — bounded build-once fixture
    loop, decode task-parallel over the binaryFile listing, payload
    bytes dropped before any shuffle (reference has no video surface;
    this extends `/root/reference/parquery` §multimodal parity goals)."""
    import numpy as np

    from parquery_spark.operators.multimodal import (
        extract_media_features,
        make_avi,
        parse_avi_header,
    )
    from parquery_spark.sources.binary import read_binary_files

    def _build(t):
        os.makedirs(t, exist_ok=True)
        for doc_id in range(24):
            w = 8 + (doc_id * 3) % 17
            h = 6 + (doc_id * 5) % 13
            nf = 3 + (doc_id * 7) % 10
            fps = (5, 10, 12, 25)[doc_id % 4]
            f = np.arange(nf)[:, None, None, None]
            y = np.arange(h)[None, :, None, None]
            x = np.arange(w)[None, None, :, None]
            c = np.arange(3)[None, None, None, :]
            px = (
                (x * 3 + y * 7 + f * 11 + c * 13 + doc_id * 17) % 256
            ).astype(np.uint8)
            comp = b"MJPG" if doc_id % 10 == 8 else b"\x00\x00\x00\x00"
            payload = make_avi(px, fps, compression=comp)
            if doc_id % 10 == 4:  # header survives, movi frames do not
                movi_off = parse_avi_header(payload)[6]
                payload = payload[:movi_off + 10]
            with open(os.path.join(t, f"vid_{doc_id:06d}.avi"), "wb") as fh:
                fh.write(payload)
        with open(os.path.join(t, "_DONE"), "w") as fh:
            fh.write("ok")

    fdir = artifact(
        sf_dir, "documents", "avi-rgb-v1", "avivid", _build, marker="_DONE",
    )
    raw = read_binary_files(
        spark, fdir, path_glob="vid_*.avi", media_type="video"
    ).select("path", "payload", "media_type")
    feats = extract_media_features(raw)
    return feats.select(
        F.regexp_extract(F.col("path"), r"vid_(\d+)\.", 1)
        .cast("long")
        .alias("doc_id"),
        "width", "height", "n_frames", "duration_ms", "decode_ok",
        "px_ok", "px_mean_r", "px_mean_g", "px_mean_b", "px_min",
        "px_max",
    )


@query(
    "q234_jpeg_pixel_stats",
    # The oracle RECONSTRUCTS every 8x8 tile's intensity analytically
    # from the fixture recipe and aggregates: the fixture images are
    # block-constant (each 8x8 JPEG block one uniform value), which a
    # flat quant=1 table encodes LOSSLESSLY — DC = 8*(v-128) exactly,
    # zero AC — so the decoded pixel mean equals the tile mean with no
    # quantization error term, and a wrong bit anywhere in the Huffman
    # entropy decode / dequant / IDCT chain breaks value parity.
    # doc_id%10==4 files are truncated mid-scan: SOF0 dims still parse
    # (decode_ok=true) but pixel decode must FAIL CLEANLY (px_ok=false)
    # — never a prefix decode.  doc_id%10==8 files have their SOF0
    # marker rewritten to SOF2 (progressive): dims parse, the baseline
    # decoder refuses rather than guessing at a coding mode it does not
    # implement.
    """
    WITH sel AS (
        SELECT doc_id,
               2 + (doc_id * 3) % 5 AS bw,
               1 + (doc_id * 5) % 4 AS bh,
               doc_id % 10 = 4 AS torn,
               doc_id % 10 = 8 AS progressive
        FROM documents WHERE doc_id < 30
    ),
    ty AS (
        SELECT doc_id, bw, unnest(range(bh)) AS y
        FROM sel WHERE NOT torn AND NOT progressive
    ),
    tx AS (SELECT doc_id, y, unnest(range(bw)) AS x FROM ty),
    px AS (
        SELECT doc_id, (x * 5 + y * 9 + doc_id * 13) % 256 AS v FROM tx
    ),
    stats AS (
        SELECT doc_id, ROUND(AVG(v), 6) AS m,
               MIN(v) AS mn, MAX(v) AS mx
        FROM px GROUP BY doc_id
    )
    SELECT s.doc_id,
           CAST(s.bw * 8 AS INTEGER) AS width,
           CAST(s.bh * 8 AS INTEGER) AS height,
           TRUE AS decode_ok,
           NOT (s.torn OR s.progressive) AS px_ok,
           st.m AS px_mean_r,
           CAST(st.mn AS INTEGER) AS px_min,
           CAST(st.mx AS INTEGER) AS px_max
    FROM sel s LEFT JOIN stats st USING (doc_id)
    """,
)
def q234_jpeg_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL JPEG pixel decode end to end (VERDICT r11 #6 — JPEG was
    dims-only): a stat-keyed fixture of 30 spec-valid baseline-DCT
    grayscale JPEGs — 8x8-block-constant tile patterns derived from
    doc_id, encoded by the full pure-stdlib encoder (:func:`make_jpeg_
    gray`: orthonormal DCT, flat quant, Annex-K Huffman, byte stuffing)
    — is ingested with the distributed ``binaryFile`` source and
    pixel-decoded inside the Arrow-batched ``mapInPandas`` kernel via
    the canonical Huffman + IDCT path (:func:`decode_jpeg_gray`).
    Grayscale mean and min/max extent are value-gated against the
    oracle's analytic tile reconstruction.  Truncated-scan and
    progressive-marker rows gate the FAILURE paths: header dims
    survive, pixel stats must be null (the q232/q233 codec contract).

    Scale shape: identical to q50/q232/q233 — bounded build-once
    fixture loop, decode task-parallel over the binaryFile listing,
    payload bytes dropped before any shuffle."""
    import numpy as np

    from parquery_spark.operators.multimodal import (
        extract_media_features,
        make_jpeg_gray,
    )
    from parquery_spark.sources.binary import read_binary_files

    def _build(t):
        os.makedirs(t, exist_ok=True)
        for doc_id in range(30):
            bw = 2 + (doc_id * 3) % 5
            bh = 1 + (doc_id * 5) % 4
            ty = np.arange(bh)[:, None]
            tx = np.arange(bw)[None, :]
            tiles = ((tx * 5 + ty * 9 + doc_id * 13) % 256).astype(
                np.uint8
            )
            payload = make_jpeg_gray(np.kron(tiles, np.ones((8, 8),
                                                            np.uint8)))
            if doc_id % 10 == 4:  # SOF0 dims survive, the scan does not
                payload = payload[:120]
            elif doc_id % 10 == 8:  # rewrite SOF0 -> SOF2 (progressive)
                p = bytearray(payload)
                p[payload.index(b"\xff\xc0") + 1] = 0xC2
                payload = bytes(p)
            with open(os.path.join(t, f"jpg_{doc_id:06d}.jpg"), "wb") as fh:
                fh.write(payload)
        with open(os.path.join(t, "_DONE"), "w") as fh:
            fh.write("ok")

    fdir = artifact(
        sf_dir, "documents", "jpeg-gray-v1", "jpeggray", _build,
        marker="_DONE",
    )
    raw = read_binary_files(
        spark, fdir, path_glob="jpg_*.jpg", media_type="image"
    ).select("path", "payload", "media_type")
    feats = extract_media_features(raw)
    return feats.select(
        F.regexp_extract(F.col("path"), r"jpg_(\d+)\.", 1)
        .cast("long")
        .alias("doc_id"),
        "width", "height", "decode_ok", "px_ok", "px_mean_r",
        "px_min", "px_max",
    )


# ===========================================================================
# Driver-snapshot ordering
# ===========================================================================
# The round driver's CORRECTNESS artifact records the FIRST 50 entries of
# ``queries()`` in iteration order.  File order groups queries by theme, so
# a naive first-50 slice would sample only the core-parity surface and leave
# streaming / graph / sketch / maintenance families formally unverified by
# the driver.  DRIVER_PRIORITY pins a representative 50 — core q01-q10 plus
# at least one query per operator family — to the front; everything else
# follows in file order.  ``reordered_queries()`` is the single source of
# that ordering for both ``queries()`` and ``oracle_sql()`` so the driver's
# per-key compare lines up.

# ROUND-12 FULL ROTATION (VERDICT r11 #5): the driver had hash-verified
# the same representative-50 twice; across rounds 1-11 it has verified
# 88 distinct queries.  This round's snapshot promotes 49 queries the
# driver has NEVER checked (plus the new q233) — still representative-
# per-family, drawn entirely from the never-checked complement — raising
# lifetime driver-verified coverage from 88 to 138 of 217.  Every
# rotated-out name (core q01-q10, q31/q32, streaming q84/q97/q157/q227/
# q231, dedup q43/q75/q82/q111/q223, ANN q83/q167/q228, sources q67/
# q229/q230, multimodal q50/q222/q232, etc.) has one-or-more green
# driver rows in CORRECTNESS_r01..r11 and stays covered by the full
# 217-query oracle gate.
DRIVER_PRIORITY: list[str] = [
    # TPC-H shapes (join/agg/subquery breadth the driver never gated)
    "q95_tpch_q5", "q108_tpch_q10", "q109_tpch_q14", "q110_tpch_q19",
    "q121_tpch_q13", "q122_tpch_q18", "q151_tpch_q6", "q152_tpch_q7",
    "q153_tpch_q8", "q155_tpch_q17", "q156_tpch_q4_shape",
    "q193_tpch_q21_shape",
    # join machinery
    "q101_bucketed_join", "q145_null_aware_anti_join",
    "q191_runtime_pruned_join", "q195_asof_tolerance",
    # dedup / similarity
    "q69_ann_join", "q159_fuzzy_dedup_verify",
    "q178_cross_source_dup_matrix", "q185_item_similarity",
    "q147_canonical_selection",
    # ANN / embeddings
    "q211_pq_adc_ann", "q218_multivector_retrieval",
    "q116_int8_quantization", "q161_gram_matrix", "q188_rank_fusion",
    # text / BPE
    "q73_tfidf_top_terms", "q114_bm25_topk", "q205_bpe_pair_counts",
    "q214_bpe_tokenize_accounting",
    # sketches / bitmaps / quantiles
    "q118_cms_heavy_hitters", "q164_rolling_sketch_wau",
    "q174_mergeable_quantiles", "q194_bitmap_audience_algebra",
    # streaming (session window, exact dedup, upsert, full outer)
    "q85_streaming_dedup", "q96_session_window",
    "q126_streaming_upsert", "q204_stream_full_outer_join",
    # graph / ML / stats
    "q158_triangle_count", "q133_grouped_regression", "q141_kmeans",
    "q107_grouped_corr",
    # sampling / privacy
    "q146_mixture_sampling", "q182_k_anonymity_audit",
    # sources / maintenance
    "q98_partitioned_dataset", "q138_schema_evolution_union",
    "q200_glob_schema_drift",
    # UDF surface / pipeline / packing
    "q134_udtf_sentences", "q150_corpus_prep_pipeline",
    # round-12 addition: real RIFF/AVI video decode
    "q233_video_frame_stats",
]


def reordered_queries() -> dict[
    str, tuple[Callable[[SparkSession, str], DataFrame], str | None]
]:
    """Registry with DRIVER_PRIORITY first, remainder in file order."""
    missing = [n for n in DRIVER_PRIORITY if n not in QUERIES]
    if missing:  # fail loudly in tests if a priority name goes stale
        raise KeyError(f"DRIVER_PRIORITY names not in registry: {missing}")
    ordered = {n: QUERIES[n] for n in DRIVER_PRIORITY}
    ordered.update((n, v) for n, v in QUERIES.items() if n not in ordered)
    return ordered
