"""Self-tests of the benchmark; none of them starts Spark.

Run from the root of the checkout: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pytest

from perfbench import layers, run, stats
from perfbench.oracle import Oracle, Result, mismatch
from perfbench.tracing import Span
from perfbench.workloads import WORKLOADS, Op, AggChurn, Registry

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="module")
def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _units(metrics: dict) -> dict:
    return {k: u for k, (_, u) in metrics.items()}


def test_end_to_end_metrics_are_named_with_units(spec):
    lat = [0.01 * (i % 17 + 1) for i in range(100)]
    got = run.end_to_end(setup_s=5.0, lat=lat, rss_mb=900.0, stored=10, user=40)
    assert _units(got) == {m["name"]: m["unit"] for m in spec["end_to_end"]}


def test_per_layer_metrics_are_named_with_units(spec):
    ops = [Op("agg", ("a",)), Op("write", ("a",)), Op("registry", query="q")]
    recs = [{"rows": 2, "spark": {"jobs": 1.0}}, {"user_bytes": 100, "row_groups": 1},
            {"construct_ms": 3.0, "collect_ms": 5.0}]
    spans = [Span(0, None, "aggregate", "aggregate_pq", 0),
             Span(1, 0, "fs", "exists", 0)]
    got = layers.summarize(ops, recs, spans, start_s=4.0, gc_ms=1.0, cached_mb=2.0,
                           repeat=0.5, qps=3.0)
    assert _units(got) == {m["name"]: m["unit"] for m in spec["per_layer"]}


def test_p90_needs_ten_samples_beyond_it():
    with pytest.raises(stats.TooFewSamples):
        stats.percentile(list(range(99)), 90)
    assert stats.percentile(list(range(1, 101)), 90) == pytest.approx(90.1)
    with pytest.raises(stats.TooFewSamples):
        stats.percentile(list(range(19)), 50)


class _WrongAnswers(run.Runner):
    """Answers every aggregation with one wrong row."""

    def call(self, op, frame=None, counters=None, index=-1, rec=None):
        return pa.table({"g": ["A"], "s": [41.0]})


def test_wrong_answer_is_counted_as_failed():
    oracle = Oracle()
    oracle.register("t", pa.table({"g": ["A", "A"], "s": [20.0, 22.0]}))
    want = oracle.answer('SELECT "g", SUM("s") AS "s" FROM t GROUP BY "g"')
    oracle.close()
    assert mismatch(Result.of_arrow(pa.table({"g": ["A"], "s": [42.0]})), want) is None
    runner = _WrongAnswers(workload=None, trace=False)
    op = Op("agg", ("t",), ("g",), (("s", "sum", "s"),))
    lat, failed, _ = runner.measure([op, op], [want, want])
    assert failed == 2 and len(lat) == 2


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_one_seed_replays_the_same_ops(name, tmp_path):
    cls = WORKLOADS[name]
    first = cls(7, 1, str(tmp_path))
    again = cls(7, 1, str(tmp_path))
    other = cls(8, 1, str(tmp_path))
    assert first.warmup() == again.warmup()
    assert first.ops() == again.ops()
    if cls is not Registry:  # the registry's seed changes its data and order
        assert first.ops() != other.ops()
    assert len(first.ops()) >= 100


def test_churn_answers_follow_file_versions(tmp_path):
    wl = AggChurn(3, 1, str(tmp_path))
    ops = wl.ops()
    writes = [i for i, op in enumerate(ops) if op.kind == "write"]
    assert writes and any(op.kind == "agg" and len(op.files) > 1 for op in ops)
    want = wl.expected(ops)
    assert all(want[i] == AggChurn.ROWS for i in writes)
