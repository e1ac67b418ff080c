"""10x scale smoke: blow the sf0.1 fact tables up by a factor
(key-shifted unions — same value distributions, x10 cardinality on the
fact keys), run representative registered queries end-to-end at BOTH
scales in one session, and report wall times + output rows.

This is the measured answer to "does the plan survive a 10x scale-up":
a healthy operator's wall time grows ~linearly (bounded by scan +
shuffle of 10x the rows) and its output stays correct-shaped; a
quadratic candidate generator or a single-task funnel blows past
linear immediately.

Usage::

    python scripts/scale_smoke.py [factor] [out_dir]

Writes nothing outside ``out_dir`` (default
``/tmp/pqs_scale_smoke_x{factor}`` — factor-keyed so runs at different
factors can't serve each other stale tables);
dimension tables are symlinked, fact tables are rewritten with shifted
keys so every join still resolves.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

SRC = "/root/testdata/sf0.1"
DIMS = ["region", "nation", "customer", "supplier", "part"]
# fact table -> (key columns to shift, shift stride)
FACTS = {
    "lineitem": (["l_orderkey"], 10_000_000),
    "orders": (["o_orderkey"], 10_000_000),
    "events": (["event_id"], 100_000_000),
    "documents": (["doc_id"], 10_000_000),
    # embeddings scale too (round 7): the ANN/dedup corpus — vec_ids
    # shift so stat-keyed model artifacts retrain per scale, honestly
    # including index-build cost in the measured growth
    "embeddings": (["vec_id"], 10_000_000),
}
QUERIES = [
    "q01_pricing_summary",      # full-scan agg
    "q30_time_bucket",          # events windowed agg
    "q40_dedup_exact",          # hash-groupBy dedup (10x -> 10-dup groups)
    "q207_resample_ffill",      # calendar densify + ffill
    "q209_exact_quantiles",     # histogram order statistics
    "q212_rag_chunking",        # explode-shaped chunking
    # heavy near-dup / ANN families (VERDICT r6 #6): measured, not argued
    "q43_minhash_lsh",          # band-bucketed LSH near-dup
    "q167_semdedup",            # k-means cells + intra-cell pairs
    "q211_pq_adc_ann",          # PQ train + ADC scan + re-rank
]


def build(factor: int, out_dir: str) -> str:
    # single-FILE parquet outputs (the engine's relation cache reads
    # file metadata directly, matching the reference's file-path API)
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for t in DIMS:
        dst = os.path.join(out_dir, f"{t}.parquet")
        if not os.path.exists(dst):
            os.symlink(os.path.join(SRC, f"{t}.parquet"), dst)
    import uuid

    for t, (keys, stride) in FACTS.items():
        dst = os.path.join(out_dir, f"{t}.parquet")
        if os.path.exists(dst):
            continue
        base = pq.read_table(os.path.join(SRC, f"{t}.parquet"))
        copies = []
        for i in range(factor):
            c = base
            for k in keys:
                idx = c.schema.get_field_index(k)
                shifted = pc.add(c.column(k), pa.scalar(
                    i * stride, type=c.schema.field(k).type))
                c = c.set_column(idx, c.schema.field(k), shifted)
            copies.append(c)
        # write-to-tmp + rename (see build_substr): the exists-check
        # must never trust a file a crashed writer left truncated
        tmp = f"{dst}.build-{uuid.uuid4().hex[:12]}"
        pq.write_table(
            pa.concat_tables(copies), tmp, compression="zstd",
            row_group_size=256 * 1024,
        )
        try:
            os.rename(tmp, dst)
        except OSError:
            os.unlink(tmp)
            if not os.path.exists(dst):
                raise
    return out_dir


def build_substr(factor: int, out_dir: str) -> str:
    """×factor documents corpus for the SUBSTRING family, duplication
    RATE held scale-invariant: copy i rewrites every word with an
    ``x{i}`` prefix, so each copy reproduces the base corpus's
    duplicate-span structure EXACTLY (same positions, lengths and pair
    counts) while sharing no gram with any other copy — gram occurrence
    counts stay at their base values as the corpus grows.  The verbatim
    fact-table scale-up is the wrong fixture here: it multiplies every
    shared gram's occurrence by the factor, and the ``max_gram_occ``
    stop-gram cap (correctly) zeroes the output, measuring the cap
    instead of the operator."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    import uuid

    os.makedirs(out_dir, exist_ok=True)
    dst = os.path.join(out_dir, "documents.parquet")
    if os.path.exists(dst):
        return out_dir
    base = pq.read_table(
        os.path.join(SRC, "documents.parquet"), columns=["doc_id", "text"]
    )
    copies = []
    for i in range(factor):
        ids = pc.add(base.column("doc_id"),
                     pa.scalar(i * 10_000_000, type=pa.int64()))
        txt = base.column("text")
        if i:
            txt = pc.replace_substring(txt, pattern=" ",
                                       replacement=f" x{i}")
            txt = pc.binary_join_element_wise(pa.scalar(f"x{i}"), txt, "")
        copies.append(pa.table({"doc_id": ids, "text": txt}))
    # write-to-tmp + rename: a crash mid-write must not leave a
    # truncated file the exists-check above would then trust forever
    # (the same publish race artifacts.artifact closes for temp-dir artifacts)
    tmp = f"{dst}.build-{uuid.uuid4().hex[:12]}"
    pq.write_table(
        pa.concat_tables(copies), tmp, compression="zstd",
        row_group_size=256 * 1024,
    )
    try:
        os.rename(tmp, dst)
    except OSError:
        os.unlink(tmp)
        if not os.path.exists(dst):
            raise
    return out_dir


def run_substr(spark, sf_dir: str) -> dict:
    """Direct OPERATOR measurement for the substring family (the q223/
    q224 wrappers read a stat-keyed span artifact, which would time the
    artifact read, not the gram join) — raw vs hash gram keys give the
    measured shuffle-byte reduction of the 16-byte key."""
    from parquery_spark.operators.dedup import (
        substring_dedup_stats,
        substring_spans,
    )

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    ops = {
        "substring_spans[raw]": lambda: substring_spans(
            docs, min_tokens=8, max_gram_occ=64
        ),
        "substring_spans[hash]": lambda: substring_spans(
            docs, min_tokens=8, max_gram_occ=64, gram_key="hash"
        ),
        "substring_dedup_stats": lambda: substring_dedup_stats(
            docs, min_tokens=8, max_gram_occ=64
        ),
    }
    return {name: _min_of_2(spark, name, mk) for name, mk in ops.items()}


def _min_of_2(spark, name: str, call) -> dict:
    """Min-of-2 wall (the first run absorbs codegen warm-up), rows, and
    the shuffle-write bytes of the WARM run: the model-artifact families
    (q167/q211) train on run 1 at whichever scale has no cached artifact
    yet — the warm run compares the steady-state plan at both scales.
    The drain is ``len(collect())``, not ``count()``: ``count()`` lets
    Catalyst prune the per-row output expressions (md5 fingerprints,
    filled values), which would time a cheaper plan than consumers run —
    ``bench.py`` materializes the same way."""
    from parquery_spark.diagnostics import record

    recs = [record(spark, name, call) for _ in range(2)]
    best = min(r["construct_s"] + r["execute_s"] for r in recs)
    return {"sec": round(best, 2), "rows": recs[1]["result"],
            "shuffle_bytes": recs[1]["shuffle_write_bytes"]}



STREAMING_QUERIES = [
    "q84_streaming_window_counts",   # watermarked tumbling windows
    "q97_streaming_sessionize",      # applyInPandasWithState sessions
    "q157_stream_stream_join",       # watermarked stream-stream join
    # round-10: streaming fuzzy dedup — xN here replicates documents
    # with SHIFTED ids but IDENTICAL text, i.e. pure duplicate
    # re-arrival: state keys (distinct band buckets) must stay FLAT
    # while processed rows scale xN (the dedup-index contract)
    "q227_streaming_minhash_dedup",
]


_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


def run_streaming(spark, sf_dir: str, provider: str | None = None) -> dict:
    """Streaming family at scale (round-9: the only family with no xN
    smoke row).  The scale risk class here is STATE-STORE GROWTH vs the
    watermark — a healthy watermarked operator's peak state tracks the
    windows/sessions IN FLIGHT (bounded by the watermark delay x event
    rate), not the stream length.  A StreamingQueryListener taps every
    micro-batch progress event and records peak state rows/bytes and the
    final watermark; watermark LAG = max event time in the input minus
    the final watermark (should stay ~= the declared watermark delay at
    ANY scale — a growing lag means the drain can't keep up).

    Artifacts are cleared first (``artifacts.clear``, which keeps the
    ``*smoke*`` tables) so every scale runs a real drain: a drained
    artifact is read back without starting a stream and would report no
    batches — an artifact read, not a measurement."""
    import json as _json

    import __spark_entry__ as e
    from pyspark.sql import functions as F
    from pyspark.sql.streaming import StreamingQueryListener

    from parquery_spark import artifacts

    class _Tap(StreamingQueryListener):
        def __init__(self):
            self.progress = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            try:
                self.progress.append(_json.loads(event.progress.json))
            except Exception:
                pass

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    # held while the drains run: a second clearing run fails fast
    lock = artifacts.clear()
    tap = _Tap()
    spark.streams.addListener(tap)
    qs = e.queries()
    out = {}
    # state-store provider is a per-query conf read at stream start —
    # settable on the session, restored after (the RocksDB provider is
    # bundled with Spark; "rocksdb" measures it vs the default
    # HDFS-backed in-memory map)
    _prov_key = "spark.sql.streaming.stateStore.providerClass"
    _prev_prov = spark.conf.get(_prov_key, None)
    if provider == "rocksdb":
        spark.conf.set(_prov_key, _ROCKSDB_PROVIDER)
    try:
        for name in STREAMING_QUERIES:
            tap.progress.clear()
            t0 = time.time()
            n = len(qs[name](spark, sf_dir).collect())
            dt = time.time() - t0
            # the Python listener bus delivers progress events on its own
            # thread — poll until the stream of events goes quiet (or 10s)
            # before snapshotting, or a fast drain reports zero batches
            seen = -1
            waited = 0.0
            while len(tap.progress) != seen and waited < 10.0:
                seen = len(tap.progress)
                time.sleep(0.5)
                waited += 0.5
            progs = list(tap.progress)
            # SUM across stateOperators within a batch, MAX across
            # batches: q157's pre-aggregated shape chains 3 stateful
            # operators (two window aggs + the window join), and a
            # per-operator max would understate total engine state.
            # Identical to the old per-op max for single-operator
            # queries, so round-9 numbers stay comparable.
            row_sums = [
                sum(so.get("numRowsTotal", 0) or 0
                    for so in pr.get("stateOperators", []))
                for pr in progs if pr.get("stateOperators")
            ]
            byte_sums = [
                sum(so.get("stateMemory", so.get("memoryUsedBytes", 0))
                    or 0 for so in pr.get("stateOperators", []))
                for pr in progs if pr.get("stateOperators")
            ]
            state_rows = max(row_sums, default=None)
            state_bytes = max(byte_sums, default=None)
            wms = [
                pr.get("eventTime", {}).get("watermark")
                for pr in progs
                if pr.get("eventTime", {}).get("watermark")
            ]
            # lag vs the STREAM'S OWN max observed event time (progress
            # eventTime.max) — not the raw events table: some sources
            # append synthetic flush sentinels with later timestamps
            maxes = [
                pr.get("eventTime", {}).get("max")
                for pr in progs
                if pr.get("eventTime", {}).get("max")
            ]
            lag = None
            final_wm = wms[-1] if wms else None
            if final_wm and final_wm.startswith("1970"):
                # single-batch availableNow drain: the watermark is only
                # published AFTER a batch, so a one-batch query reports
                # the epoch initial value — "not advanced", not a lag
                final_wm = None
            if final_wm and maxes:
                from datetime import datetime, timezone

                def _parse(t):
                    return datetime.strptime(
                        t, "%Y-%m-%dT%H:%M:%S.%fZ"
                    ).replace(tzinfo=timezone.utc)

                lag = round(
                    (max(_parse(t) for t in maxes)
                     - _parse(final_wm)).total_seconds(),
                    1,
                )
            out[name] = {
                "sec": round(dt, 2),
                "rows": n,
                "batches": len(progs),
                "state_rows_peak": state_rows,
                "state_mb_peak": (
                    round(state_bytes / 1e6, 2)
                    if state_bytes is not None else None
                ),
                "final_watermark": final_wm,
                "watermark_lag_sec": lag,
            }
    finally:
        lock.close()
        spark.streams.removeListener(tap)
        if provider == "rocksdb":
            if _prev_prov is None:
                spark.conf.unset(_prov_key)
            else:
                spark.conf.set(_prov_key, _prev_prov)
    return out


def run(spark, sf_dir: str, names: list[str]) -> dict:
    import __spark_entry__ as e

    qs = e.queries()
    return {
        name: _min_of_2(spark, name, lambda: qs[name](spark, sf_dir))
        for name in names
    }


def main_streaming_only(factor: int, out_dir: str) -> None:
    """Streaming-family-only smoke: base vs ×factor, default (HDFS-map)
    vs RocksDB state store — the focused runner behind SCALING.md's
    streaming table (the full main rebuilds and re-times every family;
    this one touches only the streaming drains)."""
    from parquery_spark.session import get_spark

    spark = get_spark("scale_smoke_streaming")
    build(factor, out_dir)
    report = {"factor": factor, "streaming": {}}
    grid = [
        ("sf0.1", SRC, None),
        (f"x{factor}", out_dir, None),
        ("sf0.1_rocksdb", SRC, "rocksdb"),
        (f"x{factor}_rocksdb", out_dir, "rocksdb"),
    ]
    for label, d, prov in grid:
        res = run_streaming(spark, d, provider=prov)
        for q, row in res.items():
            report["streaming"].setdefault(q, {})[label] = row
    print(json.dumps(report, indent=1))


if __name__ == "__main__":
    if "--streaming" in sys.argv:
        sys.argv.remove("--streaming")
        factor = int(sys.argv[1]) if len(sys.argv) > 1 else 10
        out_dir = (
            sys.argv[2] if len(sys.argv) > 2
            else f"/tmp/pqs_scale_smoke_x{factor}v2"
        )
        main_streaming_only(factor, out_dir)
        sys.exit(0)
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    # factor-keyed default dir: reusing one dir across factors would
    # silently serve stale tables built at the other factor
    # v2: embeddings became a scaled fact (a v1 dir has it symlinked)
    out_dir = (
        sys.argv[2] if len(sys.argv) > 2
        else f"/tmp/pqs_scale_smoke_x{factor}v2"
    )

    from parquery_spark.session import get_spark

    spark = get_spark("scale_smoke")
    t0 = time.time()
    build(factor, out_dir)
    build_sec = round(time.time() - t0, 1)

    substr_dir = f"/tmp/pqs_substr_smoke_x{factor}v1"
    t0 = time.time()
    build_substr(factor, substr_dir)
    substr_build_sec = round(time.time() - t0, 1)

    base = run(spark, SRC, QUERIES)
    big = run(spark, out_dir, QUERIES)
    sub_base = run_substr(spark, SRC)
    sub_big = run_substr(spark, substr_dir)
    stream_base = run_streaming(spark, SRC)
    stream_big = run_streaming(spark, out_dir)
    report = {
        "factor": factor,
        "build_sec": build_sec,
        "streaming": {
            q: {
                "sf0.1": stream_base[q],
                f"x{factor}": stream_big[q],
                "time_ratio": round(
                    stream_big[q]["sec"] / max(stream_base[q]["sec"], 1e-9),
                    1,
                ),
                "state_rows_ratio": (
                    round(stream_big[q]["state_rows_peak"]
                          / max(stream_base[q]["state_rows_peak"], 1), 1)
                    if stream_big[q]["state_rows_peak"] is not None
                    and stream_base[q]["state_rows_peak"] is not None
                    else None
                ),
            }
            for q in stream_base
        },
        "substring": {
            op: {
                "sf0.1_sec": sub_base[op]["sec"],
                f"x{factor}_sec": sub_big[op]["sec"],
                "time_ratio": round(
                    sub_big[op]["sec"] / max(sub_base[op]["sec"], 1e-9), 1
                ),
                "rows_ratio": round(
                    sub_big[op]["rows"] / max(sub_base[op]["rows"], 1), 2
                ),
                "shuffle_ratio": round(
                    sub_big[op]["shuffle_bytes"]
                    / max(sub_base[op]["shuffle_bytes"], 1), 1
                ),
                "sf0.1_shuffle_mb": round(
                    sub_base[op]["shuffle_bytes"] / 1e6, 1
                ),
                f"x{factor}_shuffle_mb": round(
                    sub_big[op]["shuffle_bytes"] / 1e6, 1
                ),
            }
            for op in sub_base
        },
        "substring_build_sec": substr_build_sec,
        "queries": {
            q: {
                "sf0.1_sec": base[q]["sec"],
                f"x{factor}_sec": big[q]["sec"],
                "time_ratio": round(
                    big[q]["sec"] / max(base[q]["sec"], 1e-9), 1
                ),
                "rows_ratio": round(
                    big[q]["rows"] / max(base[q]["rows"], 1), 2
                ),
                "shuffle_ratio": round(
                    big[q]["shuffle_bytes"] / max(base[q]["shuffle_bytes"], 1),
                    1,
                ),
                "sf0.1_shuffle_mb": round(base[q]["shuffle_bytes"] / 1e6, 1),
            }
            for q in QUERIES
        },
    }
    print(json.dumps(report, indent=1))
