"""q174's approximate-quantile bound on small groups: the estimate is an
actual data value, so the rank tolerance must never be below one row."""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq

from parquery_spark.queries import _quantile_rank_within, q174_mergeable_quantiles


def test_small_groups_within_bound(spark, tmp_path):
    sizes = {"tiny": 20, "small": 57, "odd": 179, "mid": 1000}
    types, values = [], []
    for name, n in sizes.items():
        types += [name] * n
        values += [float(i) * 0.5 for i in range(n)]
    start = dt.datetime(2024, 1, 1)
    pq.write_table(
        pa.table({
            "ts": pa.array([start] * len(types), pa.timestamp("us")),
            "event_type": types,
            "value": values,
        }),
        str(tmp_path / "events.parquet"),
    )
    rows = q174_mergeable_quantiles(spark, str(tmp_path)).collect()
    assert {r["event_type"]: r["approx_within_bound"] for r in rows} == (
        dict.fromkeys(sizes, True)
    )


def test_rank_tolerance(spark):
    # n=179, p=0.95: p*n = 170.05, tolerance max(0.895, 1) = 1 row
    df = spark.createDataFrame(
        [(169, 170, 179), (170, 171, 179), (171, 172, 179), (167, 168, 179),
         # n=10_000: tolerance 50 rows around 9500
         (9449, 9451, 10_000), (9447, 9449, 10_000)],
        "lt long, le long, n long",
    )
    ok = df.select(_quantile_rank_within("lt", "le", "n", 0.95, 1000).alias("ok"))
    assert [r["ok"] for r in ok.collect()] == [True, True, False, False, True, False]
