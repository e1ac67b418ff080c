"""The generated-class cache holds a repeating query mix: a warm call
finds its whole-stage classes in the cache and compiles nothing.

Spark's default bound (``spark.sql.codegen.cache.maxEntries`` = 100)
evicts a class before its shape comes round again as soon as the session
repeats more than 100 shapes, so every warm call re-ran Janino.  The
compile counts are read through the recorder's ``codegen_compiles``."""

from __future__ import annotations

from parquery_spark.diagnostics import record

#: distinct generated-code shapes per pass, above Spark's default bound
SHAPES = 160


def _compile_all(spark) -> int:
    """Plan and compile every shape on the driver: ``toRdd`` runs the
    whole-stage codegen without launching a job.  A primitive literal is
    inlined into the generated code, so each multiplier is a class of its
    own."""
    for i in range(SHAPES):
        spark._jsparkSession.sql(
            f"SELECT id * {7_000_003 + i} AS x FROM range(3)"
        ).queryExecution().toRdd()
    return SHAPES


def test_second_pass_over_many_shapes_compiles_nothing(spark):
    def one_pass(name):
        return record(spark, name, lambda: None, lambda _: _compile_all(spark))

    cold = one_pass("codegen_cold_pass")
    warm = one_pass("codegen_warm_pass")
    assert cold["codegen_compiles"] >= SHAPES
    assert cold["codegen_s"] > 0
    assert warm["codegen_compiles"] == 0, (
        f"{warm['codegen_compiles']} of {SHAPES} shapes recompiled: the "
        "generated-class cache is smaller than the session's working set"
    )


def test_repeat_of_a_query_compiles_nothing(spark):
    def query():
        return (
            spark.range(1_000)
            .selectExpr("id % 13 AS k", "id * 7919 + 104729 AS v")
            .groupBy("k").sum("v")
        )

    first = record(spark, "codegen_first", query)
    again = record(spark, "codegen_again", query)
    assert first["result"] == again["result"] == 13
    assert first["codegen_compiles"] >= 1
    assert again["codegen_compiles"] == 0 and again["codegen_s"] == 0
