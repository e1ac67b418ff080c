"""Streaming MinHash-LSH near-dup detection (streaming/docs.py) and the
MMR diversity rerank kernel (similarity.mmr_rerank).

Strategy per SURVEY.md §5: the q227/q228 oracle rows gate end-to-end
values at all three SFs; these tests pin the pieces the gate can't see —
the Python signature kernel's bit-equality with the JVM banding path,
cross-micro-batch state behavior, and the MMR kernel's un-clamped
max-similarity semantics."""

from __future__ import annotations

import os

import pytest

# streaming state-store integration (micro-batch drains, checkpoint recovery) — full-suite lane only (see conftest fast lane)
pytestmark = pytest.mark.slow
from pyspark.sql import functions as F


class TestBandKernel:
    def test_kernel_matches_jvm_band_keys(self, spark, sf_dir):
        """The Arrow-batched signature kernel must be bit-identical to
        the explode-shaped JVM banding (operators/dedup.band_keys) —
        same md5-prefix base hash, affine family, band-key md5 — or the
        streaming verdicts silently diverge from every batch dedup
        operator and the q43-family oracles."""
        from parquery_spark.operators.dedup import band_keys
        from parquery_spark.streaming.docs import band_rows_kernel

        docs = (
            spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
            .select("doc_id", "text")
        )
        jvm = {
            (r["doc_id"], r["band"], r["band_key"])
            for r in band_keys(
                docs, "text", "doc_id", num_hashes=16, bands=4, shingle_k=2
            ).select("doc_id", "band", "band_key").collect()
        }
        # mapInPandas runs the same kernel the stream uses, batch-side
        py = {
            (r["doc_id"], r["band"], r["band_key"])
            for r in docs.mapInPandas(
                band_rows_kernel(16, 4, 2),
                "doc_id long, band int, band_key string",
            ).collect()
        }
        assert py == jvm
        assert len(py) > 0

    def test_short_docs_emit_nothing(self, spark):
        from parquery_spark.streaming.docs import band_rows_kernel

        df = spark.createDataFrame(
            [(1, "one"), (2, ""), (3, None), (4, "two words here")],
            "doc_id long, text string",
        )
        rows = df.mapInPandas(
            band_rows_kernel(16, 4, 2),
            "doc_id long, band int, band_key string",
        ).collect()
        assert {r["doc_id"] for r in rows} == {4}
        assert len(rows) == 4  # one per band


class TestStreamingMinhashDedup:
    def test_dup_detected_across_micro_batches(self, spark, tmp_path):
        """State must carry the bucket minimum ACROSS micro-batches: the
        duplicate pair is split so file 1 (batch 1) holds the original
        and file 2 (batch 2) the near-copy — a per-batch (stateless)
        implementation would vote 0 for both."""
        from parquery_spark.streaming.docs import minhash_dedup_stream
        from parquery_spark.streaming.events import drain

        text_a = "the quick brown fox jumps over the lazy dog tonight"
        feed = tmp_path / "feed"
        feed.mkdir()
        b1 = spark.createDataFrame(
            [(1, text_a), (2, "completely different words in this one")],
            "doc_id long, text string",
        )
        b2 = spark.createDataFrame([(3, text_a)], "doc_id long, text string")
        for i, df in ((1, b1), (2, b2)):
            d = tmp_path / f"t{i}"
            df.coalesce(1).write.mode("overwrite").parquet(str(d))
            part = next(p for p in os.listdir(d) if p.endswith(".parquet"))
            dst = feed / f"batch{i}.parquet"
            os.link(d / part, dst)
            os.utime(dst, (1_000_000 + i, 1_000_000 + i))

        stream = minhash_dedup_stream(
            spark, str(feed), options={"maxFilesPerTrigger": "1"}
        )
        drain(stream, str(tmp_path / "t_sdedup_sink"))
        votes = spark.read.parquet(str(tmp_path / "t_sdedup_sink"))
        verdict = {
            r["doc_id"]: r["is_dup"]
            for r in votes.groupBy("doc_id")
            .agg(F.max("dup_vote").alias("is_dup"))
            .collect()
        }
        assert verdict == {1: 0, 2: 0, 3: 1}

    def test_state_rows_bounded_by_distinct_buckets(self, spark, tmp_path):
        """Re-arrivals of duplicate content must not grow emitted bucket
        cardinality: votes rows = bands × docs, state keys = distinct
        (band, band_key) — the rate-invariance contract."""
        from parquery_spark.streaming.docs import minhash_dedup_stream
        from parquery_spark.streaming.events import drain

        text = "alpha beta gamma delta epsilon zeta eta theta"
        df = spark.createDataFrame(
            [(i, text) for i in range(1, 6)], "doc_id long, text string"
        )
        src = tmp_path / "src"
        df.coalesce(1).write.parquet(str(src))
        stream = minhash_dedup_stream(spark, str(src))
        drain(stream, str(tmp_path / "t_sdedup_sink2"))
        votes = spark.read.parquet(str(tmp_path / "t_sdedup_sink2"))
        rows = votes.collect()
        assert len(rows) == 5 * 4  # one vote per (doc, band)
        # identical docs share every bucket -> 4 distinct state keys,
        # and everyone but the minimum id is a dup in every band
        dups = {r["doc_id"] for r in rows if r["dup_vote"] == 1}
        assert dups == {2, 3, 4, 5}


class TestStateCompaction:
    """State→index lifecycle (VERDICT r10 #2): drain → compact → EVICT
    state → drain more must reproduce the single-state verdicts, with
    prior-corpus minima served from the on-disk index alone."""

    @staticmethod
    def _stage(tmp_path, name, batches):
        feed = tmp_path / name
        feed.mkdir()
        return feed

    @staticmethod
    def _write_batch(spark, tmp_path, feed, i, rows):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        d = tmp_path / f"{feed.name}_t{i}"
        df.coalesce(1).write.mode("overwrite").parquet(str(d))
        part = next(p for p in os.listdir(d) if p.endswith(".parquet"))
        dst = feed / f"batch{i}.parquet"
        os.link(d / part, dst)
        os.utime(dst, (1_000_000 + i, 1_000_000 + i))

    def test_two_phase_replay_equals_single_state(self, spark, tmp_path):
        """Doc 4 duplicates doc 1, which arrived only in PHASE 1 — after
        compaction and state eviction, the dup verdict can come only
        from the index's idx_min seed.  Doc 5 duplicates doc 4 (both
        phase 2): state must still work on top of the index."""
        from parquery_spark.streaming.docs import (
            compact_minhash_index,
            minhash_dedup_stream,
        )
        from parquery_spark.streaming.events import drain

        text_a = "the quick brown fox jumps over the lazy dog tonight"
        text_b = "grep the logs for retry markers and flaky test names"
        p1_rows = [(1, text_a), (2, text_b)]
        p2_rows = [(4, text_a), (5, text_a),
                   (6, "entirely novel content never seen before now")]
        feed1 = self._stage(tmp_path, "p1", None)
        self._write_batch(spark, tmp_path, feed1, 1, p1_rows)
        stream1 = minhash_dedup_stream(spark, str(feed1))
        drain(stream1, str(tmp_path / "t_compact_p1"))
        votes1 = spark.read.parquet(str(tmp_path / "t_compact_p1"))
        v1 = votes1.groupBy("doc_id").agg(
            F.max("dup_vote").alias("is_dup")
        ).collect()
        assert {r["doc_id"]: r["is_dup"] for r in v1} == {1: 0, 2: 0}

        idx_path = str(tmp_path / "mh_index")
        docs_p1 = spark.read.schema("doc_id long, text string").parquet(
            str(feed1)
        )
        compact_minhash_index(spark, docs_p1, idx_path)
        idx = spark.read.parquet(idx_path)
        assert set(idx.columns) == {"band", "band_key", "min_id"}

        # PHASE 2 under a brand-new checkpoint: state starts EMPTY
        feed2 = self._stage(tmp_path, "p2", None)
        self._write_batch(spark, tmp_path, feed2, 1, p2_rows)
        stream2 = minhash_dedup_stream(spark, str(feed2), index_df=idx)
        drain(stream2, str(tmp_path / "t_compact_p2"))
        votes2 = spark.read.parquet(str(tmp_path / "t_compact_p2"))
        v2 = {
            r["doc_id"]: r["is_dup"]
            for r in votes2.groupBy("doc_id")
            .agg(F.max("dup_vote").alias("is_dup"))
            .collect()
        }
        # 4 dups 1 via the INDEX alone; 5 dups via index (and state); 6 novel
        assert v2 == {4: 1, 5: 1, 6: 0}

        # without the index the evicted state under-votes doc 4 — proves
        # the verdicts above really came from the compacted index
        stream_no_idx = minhash_dedup_stream(spark, str(feed2))
        drain(stream_no_idx, str(tmp_path / "t_compact_p2_noidx"))
        votes_no = spark.read.parquet(str(tmp_path / "t_compact_p2_noidx"))
        vno = {
            r["doc_id"]: r["is_dup"]
            for r in votes_no.groupBy("doc_id")
            .agg(F.max("dup_vote").alias("is_dup"))
            .collect()
        }
        assert vno[4] == 0 and vno[5] == 1

    def test_repeated_compaction_merges_bucket_minima(self, spark, tmp_path):
        """Second compaction must MIN-merge with the existing index, not
        replace it: after folding in a later increment, the bucket min
        for repeated content stays the phase-1 id."""
        from parquery_spark.streaming.docs import compact_minhash_index

        text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        idx_path = str(tmp_path / "idx")
        d1 = spark.createDataFrame(
            [(10, text)], "doc_id long, text string"
        )
        d2 = spark.createDataFrame(
            [(99, text), (50, "some other words entirely here today")],
            "doc_id long, text string",
        )
        compact_minhash_index(spark, d1, idx_path)
        n1 = spark.read.parquet(idx_path).count()
        compact_minhash_index(spark, d2, idx_path)
        idx = spark.read.parquet(idx_path)
        assert idx.count() > n1  # new buckets appended
        mins = {r["min_id"] for r in idx.collect()}
        assert 10 in mins and 50 in mins
        assert 99 not in mins  # min-merged, not replaced


class TestMMRRerank:
    def test_negative_maxsim_not_clamped(self, spark):
        """MMR's redundancy term is the TRUE max similarity — negative
        for anti-correlated picks, which RAISES the score.  A 0-clamped
        implementation picks `c` here (rel 0.8 beats 0.6); correct MMR
        picks `b` because it is perfectly anti-correlated with the
        first selection while `c` is highly correlated with it."""
        from parquery_spark.operators.similarity import mmr_rerank

        # q = x-axis.  id 1 wins rank 1 (rel ~0.700).  For rank 2:
        # id 2 (rel ~0.600) has sim(2,1) ~ -0.15 -> unclamped score
        # 0.7*0.600 + 0.3*0.15 ~ 0.465; id 3 (rel 0.630) is ~orthogonal
        # to 1 -> score ~0.441.  Unclamped MMR picks 2; a 0-clamped
        # implementation scores 2 at 0.420 and wrongly picks 3.
        rows = [
            (1, [0.7, 0.714, 0.0]),
            (2, [0.6, -0.798, 0.052]),
            (3, [0.63, -0.617, 0.4716]),
        ]
        emb = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in rows],
            "vec_id long, embedding array<float>",
        )
        q = [1.0, 0.0, 0.0]
        out = mmr_rerank(
            emb, [(0, q)], k=2, pool=3, lam=0.7, mu=0.3
        ).collect()
        picked = [r["vec_id"] for r in sorted(out, key=lambda r: r["rank"])]
        assert picked == [1, 2]

    def test_output_bounded_and_scores_monotone_grid(self, spark, sf_dir):
        from parquery_spark.operators.similarity import mmr_rerank

        emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        probes = sorted(
            (int(r[0]), [float(x) for x in r[1]])
            for r in emb.filter(F.col("vec_id") < 2)
            .select("vec_id", "embedding")
            .collect()
        )
        out = mmr_rerank(emb, probes, k=10, pool=25).collect()
        by_q = {}
        for r in out:
            by_q.setdefault(r["query_id"], []).append(r)
        assert set(by_q) == {0, 1}
        for qid, rows_q in by_q.items():
            rows_q.sort(key=lambda r: r["rank"])
            assert [r["rank"] for r in rows_q] == list(range(1, 11))
            ids = [r["vec_id"] for r in rows_q]
            assert len(set(ids)) == 10 and qid not in ids
            for r in rows_q:
                # scores sit on the exact 1e-7 decimal grid (the
                # cross-engine tie-free contract)
                assert abs(r["mmr_score"] * 1e7 - round(r["mmr_score"] * 1e7)) < 1e-4


class TestFuzzyDedupRecovery:
    def test_bucket_state_survives_checkpoint_restart(
        self, spark, tmp_path
    ):
        """Exactly-once restart for the STATEFUL fuzzy dedup: run 1
        drains two micro-batches into a durable sink + checkpoint and
        stops; a third file then lands and run 2 restarts from the SAME
        checkpoint.  Doc 4 duplicates doc 2 — seen only before the
        restart — so a correct run 2 must vote dup=1 out of RESTORED
        per-bucket min-id state (a state-loss bug votes 0), must not
        re-emit run 1's votes, and the union of the two runs' sink
        contents must equal a single full drain."""
        import os as _os

        from parquery_spark.streaming.docs import minhash_dedup_stream

        text_a = "alpha beta gamma delta epsilon zeta eta theta iota"
        text_b = "one small step for spark one giant leap for pipelines"
        feed = tmp_path / "feed"
        feed.mkdir()
        sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")

        def stage(i, rows):
            d = tmp_path / f"t{i}"
            spark.createDataFrame(
                rows, "doc_id long, text string"
            ).coalesce(1).write.mode("overwrite").parquet(str(d))
            part = next(
                p for p in _os.listdir(d) if p.endswith(".parquet")
            )
            dst = feed / f"batch{i}.parquet"
            _os.link(d / part, dst)
            _os.utime(dst, (1_000_000 + i, 1_000_000 + i))

        def drain():
            stream = minhash_dedup_stream(
                spark, str(feed), options={"maxFilesPerTrigger": "1"}
            )
            q = (
                stream.writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            assert q.awaitTermination(120)
            assert q.exception() is None

        stage(1, [(1, text_a), (2, text_b)])
        stage(2, [(3, text_a)])
        drain()  # run 1: batches 1-2 committed, state holds both buckets
        run1 = spark.read.parquet(sink).collect()

        stage(3, [(4, text_b), (5, "totally fresh unseen content here")])
        drain()  # run 2: resumes the checkpoint, processes ONLY batch 3

        votes = spark.read.parquet(sink).collect()
        # no re-emission: run 2 added exactly the batch-3 rows
        assert len(votes) - len(run1) == 2 * 4
        verdict = {}
        for r in votes:
            verdict[r["doc_id"]] = max(
                verdict.get(r["doc_id"], 0), r["dup_vote"]
            )
        assert verdict == {1: 0, 2: 0, 3: 1, 4: 1, 5: 0}


def _mmr_brute(vecs: dict, qid: int, qv: list, k: int, pool: int,
               lam: float, mu: float):
    """Independent MMR reference: plain-python argmax loop straight from
    the definition — shares no code with similarity._mmr_kernel."""
    import math

    def dot(a, b):
        s = 0.0
        for x, y in zip(a, b):
            s += x * y
        return s

    nrm = {i: math.sqrt(dot(v, v)) for i, v in vecs.items()}
    nq = math.sqrt(dot(qv, qv))
    rels = sorted(
        ((round(dot(v, qv) / (nrm[i] * nq), 6), i)
         for i, v in vecs.items() if i != qid),
        key=lambda t: (-t[0], t[1]),
    )[:pool]
    rel = {i: r for r, i in rels}
    cand = sorted(rel)
    maxsim = {i: None for i in cand}
    out = []
    for rank in range(1, min(k, len(cand)) + 1):
        best, bs = None, None
        if rank == 1:
            # base case by RAW rel (smallest id on ties) — the oracle
            # CTE's base-case ORDER BY, independent of lam/rounding
            for i in cand:
                if best is None or rel[i] > rel[best]:
                    best = i
            bs = round(lam * rel[best], 7)
        else:
            for i in cand:
                sc = round(lam * rel[i] - mu * maxsim[i], 7)
                if bs is None or sc > bs:
                    best, bs = i, sc
        out.append((qid, rank, best, bs))
        cand.remove(best)
        for i in cand:
            sim = round(
                dot(vecs[i], vecs[best]) / (nrm[i] * nrm[best]), 6
            )
            if maxsim[i] is None or sim > maxsim[i]:
                maxsim[i] = sim
    return out


class TestMMRDifferential:
    def test_kernel_matches_independent_brute_force(self, spark):
        """Seeded random corpora, including degenerate shapes (k > pool,
        pool > n, duplicate vectors that tie on every rounded score):
        the distributed operator must equal the definitional loop row
        for row — selection order, tie-breaks and scores."""
        import random

        from parquery_spark.operators.similarity import mmr_rerank

        for seed, n, dim, k, pool, lam in (
            (1, 12, 4, 5, 8, 0.7),
            (2, 6, 3, 10, 25, 0.7),   # k and pool both exceed n-1
            (3, 20, 5, 6, 10, 0.7),
            # tiny lam: distinct 6-digit rels collapse onto one 7-digit
            # lam*rel grid point — rank 1 must still follow raw rel
            (4, 15, 4, 5, 10, 0.01),
        ):
            rng = random.Random(seed)
            vecs = {
                i: [round(rng.uniform(-1, 1), 3) for _ in range(dim)]
                for i in range(n)
            }
            vecs[n] = list(vecs[0])  # exact duplicate -> rounded ties
            emb = spark.createDataFrame(
                [(i, [float(x) for x in v]) for i, v in vecs.items()],
                "vec_id long, embedding array<float>",
            )
            qid, qv = 0, vecs[0]
            got = sorted(
                (
                    (r["query_id"], r["rank"], r["vec_id"], r["mmr_score"])
                    for r in mmr_rerank(
                        emb, [(qid, qv)], k=k, pool=pool, lam=lam, mu=0.3
                    ).collect()
                ),
                key=lambda t: t[1],
            )
            # float32 storage: brute force must see the same widened
            # values the kernel reads back from the embedding column
            import numpy as np

            stored = {
                i: [float(np.float32(x)) for x in v]
                for i, v in vecs.items()
            }
            want = _mmr_brute(stored, qid, stored[qid], k, pool, lam, 0.3)
            assert got == want, f"seed {seed}"

    def test_zero_norm_candidate_excluded_not_fatal(self, spark):
        """A zero-norm embedding has no defined direction (module
        convention): it must be dropped from the rerank pool, not crash
        the kernel with ZeroDivisionError when it meets
        norms[i]*norms[best]."""
        from parquery_spark.operators.similarity import mmr_rerank

        rows = [
            (1, [1.0, 0.0]),
            (2, [0.0, 0.0]),   # zero norm — must be excluded
            (3, [0.8, 0.6]),
            (4, [0.0, 1.0]),
        ]
        emb = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in rows],
            "vec_id long, embedding array<float>",
        )
        out = mmr_rerank(emb, [(0, [1.0, 0.0])], k=4, pool=4).collect()
        picked = {r["vec_id"] for r in out}
        assert 2 not in picked
        assert picked == {1, 3, 4}
