"""Round-3 pipeline operators: connected-component dedup clusters,
repetition profile, PII detect/redact, single-pass column profiler."""

from __future__ import annotations

import os

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from parquery_spark.functions.pii import PII_PATTERNS, pii_profile, redact
from parquery_spark.functions.text import repetition_profile
from parquery_spark.operators.graph import connected_components, dedup_clusters
from parquery_spark.operators.profile import column_profile


class TestConnectedComponents:
    def test_two_components_and_chain(self, spark):
        # component {1,2,3,4} is a chain (worst diameter), {10,11} a pair
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11)], ["id_a", "id_b"]
        )
        got = {
            r["v"]: r["cluster_id"]
            for r in connected_components(pairs).collect()
        }
        assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}

    def test_dedup_clusters_splices_singletons(self, spark):
        docs = spark.createDataFrame([(i,) for i in range(6)], ["doc_id"])
        pairs = spark.createDataFrame([(0, 3), (3, 5)], ["id_a", "id_b"])
        rows = {r["doc_id"]: r for r in dedup_clusters(docs, pairs).collect()}
        assert rows[0]["cluster_id"] == 0 and rows[0]["is_kept"]
        assert rows[3]["cluster_id"] == 0 and not rows[3]["is_kept"]
        assert rows[5]["cluster_id"] == 0 and rows[5]["cluster_size"] == 3
        for singleton in (1, 2, 4):
            r = rows[singleton]
            assert r["cluster_id"] == singleton and r["cluster_size"] == 1
            assert r["is_kept"]

    def test_nonconvergence_raises(self, spark, monkeypatch):
        # the driver union-find path always converges exactly; the
        # half-merged-cluster hazard belongs to the DISTRIBUTED loop, so
        # force it by zeroing the driver-path pair ceiling
        from parquery_spark.operators import graph

        monkeypatch.setattr(graph, "_DRIVER_CC_MAX_PAIRS", 0)
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(20)], ["id_a", "id_b"]
        )
        with pytest.raises(RuntimeError, match="did not converge"):
            connected_components(pairs, max_iter=1)

    def test_driver_union_find_matches_distributed(self, spark, monkeypatch):
        """Round-12 differential: the driver-side union-find closure and
        the distributed label-propagation loop agree exactly — labels,
        vertex set, and min-representative choice — on a graph mixing
        chains, a dense clique, singleton-free edges and self-loops."""
        from parquery_spark.operators import graph

        edges = (
            [(i, i + 1) for i in range(0, 40, 2)]
            + [(100, 104), (104, 102), (102, 100)]
            + [(200, 200)]
            + [(301, 300), (303, 302), (302, 301)]
        )
        pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
        got_driver = sorted(
            map(tuple, connected_components(pairs).collect())
        )
        monkeypatch.setattr(graph, "_DRIVER_CC_MAX_PAIRS", 0)
        got_dist = sorted(
            map(tuple, connected_components(pairs).collect())
        )
        assert got_driver == got_dist

    def test_string_ids_deep_chain(self, spark):
        # string vertex ids: the numeric sum-based convergence test would
        # cast to NULL and "converge" on round one with half-merged
        # clusters — the changed-label-count path must fully close a
        # diameter-4 chain (regression for the decimal-cast bug)
        pairs = spark.createDataFrame(
            [("d", "c"), ("c", "b"), ("b", "a"), ("z", "y")],
            ["id_a", "id_b"],
        )
        got = {
            r["v"]: r["cluster_id"]
            for r in connected_components(pairs).collect()
        }
        assert got == {
            "a": "a", "b": "a", "c": "a", "d": "a", "y": "y", "z": "y"
        }

    def test_empty_edge_list(self, spark):
        pairs = spark.createDataFrame([], "id_a string, id_b string")
        assert connected_components(pairs).count() == 0


class TestRepetitionProfile:
    def test_known_ratios(self, spark):
        docs = spark.createDataFrame(
            [
                (1, "a a a b"),          # 4 tokens, 2 types, top 'a'=3
                (2, "x y z"),            # all distinct
                (3, "solo"),             # one token, no bigrams
            ],
            ["doc_id", "text"],
        )
        rows = {
            r["doc_id"]: r
            for r in repetition_profile(docs, "text", "doc_id").collect()
        }
        assert rows[1]["n_tokens"] == 4
        assert rows[1]["type_token_ratio"] == 0.5
        assert rows[1]["top_unigram_frac"] == 0.75
        assert rows[1]["top_bigram_frac"] == pytest.approx(2 / 3, abs=1e-6)
        assert rows[2]["top_unigram_frac"] == pytest.approx(1 / 3, abs=1e-6)
        assert rows[3]["top_bigram_frac"] == 0.0


class TestPII:
    def test_redaction_removes_planted_pii(self, spark):
        text = (
            "reach me at jane.doe+spam@corp.example.org or 555-123-4567; "
            "server 192.168.0.1, ssn 123-45-6789"
        )
        df = spark.createDataFrame([(1, text), (2, "clean text")],
                                   ["doc_id", "text"])
        rows = {r["doc_id"]: r for r in
                pii_profile(df, "text", "doc_id").collect()}
        hit = rows[1]
        assert hit["n_email"] == 1 and hit["n_phone"] == 1
        assert hit["n_ipv4"] == 1 and hit["n_ssn"] == 1
        assert hit["n_pii"] == 4
        red = hit["redacted_text"]
        assert "@" not in red and "555" not in red and "192.168" not in red
        assert red.count("[PII]") == 4
        clean = rows[2]
        assert clean["n_pii"] == 0
        assert clean["redacted_text"] == "clean text"

    def test_patterns_are_java_re2_compatible(self):
        # the oracle runs the same patterns under RE2 — forbid constructs
        # with divergent semantics (backrefs, lookaround)
        for pat in PII_PATTERNS.values():
            assert "(?=" not in pat and "(?!" not in pat and "\\1" not in pat


class TestColumnProfile:
    def test_mixed_types_single_scan(self, spark):
        df = spark.createDataFrame(
            pa.table(
                {
                    "k": [1, 2, 2, None],
                    "price": [1.5, 2.5, None, 4.0],
                    "tag": ["b", "a", "a", None],
                }
            )
        )
        rows = {r["column"]: r for r in column_profile(df).collect()}
        assert rows["k"]["n_rows"] == 4
        assert rows["k"]["n_null"] == 1
        assert rows["k"]["n_distinct"] == 2
        assert rows["k"]["min_num"] == 1.0 and rows["k"]["max_num"] == 2.0
        assert rows["k"]["min_str"] is None
        assert rows["price"]["n_null"] == 1
        assert rows["price"]["max_num"] == 4.0
        assert rows["tag"]["min_str"] == "a" and rows["tag"]["max_str"] == "b"
        assert rows["tag"]["min_num"] is None

    def test_approx_distinct_mode(self, spark):
        df = spark.range(1000).select(F.col("id").alias("k"))
        r = column_profile(df, exact_distinct=False).collect()[0]
        assert abs(r["n_distinct"] - 1000) / 1000 < 0.1
        plan = (
            column_profile(df, exact_distinct=False)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Expand" not in plan  # HLL path: no Expand blowup


class TestPackShards:
    def test_prefix_sum_across_partitions(self, spark):
        from parquery_spark.operators.packing import pack_shards

        # sizes chosen so shard boundaries fall mid-partition and docs
        # must never split: shard budget 10
        rows = [(i, 4) for i in range(10)]  # 40 tokens total
        df = spark.createDataFrame(rows, ["doc_id", "n"])
        out = pack_shards(df, "n", 10, "doc_id", num_partitions=4)
        got = {r["doc_id"]: r["shard_id"] for r in out.collect()}
        # tokens_before = 4*i → shard = (4i) div 10
        want = {i: (4 * i) // 10 for i in range(10)}
        assert got == want
        # shards hold whole docs; each shard's load stays under budget + max doc
        loads = {}
        for i, s in got.items():
            loads[s] = loads.get(s, 0) + 4
        assert all(load <= 10 + 4 for load in loads.values())

    def test_prefix_sum_all_null_bucket(self, spark):
        # a bucket whose every value is NULL yields sum()=None for that
        # bucket — the offset fold must treat it as 0, not TypeError
        from parquery_spark.operators.packing import prefix_sum

        rows = [(i, None if i < 5 else 2) for i in range(10)]
        df = spark.createDataFrame(rows, "k int, n int")
        out = {
            r["k"]: r["prefix_sum"]
            for r in prefix_sum(df, "n", "k", num_partitions=4).collect()
        }
        # NULLs contribute nothing; running sum over k>=5 is 2,4,6,8,10
        assert out[9] == 10 and out[5] == 2

    def test_column_expression_size(self, spark):
        from parquery_spark.functions.text import token_count
        from parquery_spark.operators.packing import pack_shards

        df = spark.createDataFrame(
            [(1, "a b c"), (2, "d e"), (3, "f")], ["doc_id", "text"]
        )
        out = pack_shards(df, token_count("text"), 4, "doc_id")
        got = {r["doc_id"]: r["shard_id"] for r in out.collect()}
        # before: 0, 3, 5 → shards 0, 0, 1
        assert got == {1: 0, 2: 0, 3: 1}


class TestWeightedSample:
    def test_weight_proportional_and_deterministic(self, spark):
        from parquery_spark.operators.sampling import weighted_sample

        rows = [(i, 100.0 if i < 20 else 1.0) for i in range(200)]
        df = spark.createDataFrame(rows, ["k", "w"])
        got1 = sorted(r["k"] for r in weighted_sample(df, "w", 30, "k").collect())
        got2 = sorted(r["k"] for r in weighted_sample(df, "w", 30, "k").collect())
        assert got1 == got2  # pure function of (key, seed)
        heavy = sum(1 for k in got1 if k < 20)
        # 20 rows carry 100× weight vs 180 light rows — nearly all heavy
        # rows must be drawn (P[miss] is astronomically small)
        assert heavy >= 18
        # different seed → different draw of the light rows
        got3 = sorted(
            r["k"] for r in weighted_sample(df, "w", 30, "k", seed=1).collect()
        )
        assert got1 != got3

    def test_nonpositive_weights_excluded(self, spark):
        from parquery_spark.operators.sampling import weighted_sample

        df = spark.createDataFrame(
            [(1, 0.0), (2, -3.0), (3, 2.0)], ["k", "w"]
        )
        got = [r["k"] for r in weighted_sample(df, "w", 10, "k").collect()]
        assert got == [3]


class TestBloom:
    def test_no_false_negatives_and_measurable_fp(self, spark):
        from parquery_spark.functions.sketches import bloom_build, bloom_probe

        corpus = spark.createDataFrame(
            [(f"key-{i}",) for i in range(500)], ["fp"]
        )
        bloom = bloom_build(corpus, "fp", m=1 << 12, k=3)
        probe = spark.createDataFrame(
            [(f"key-{i}",) for i in range(400, 900)], ["fp"]
        )
        got = {r["fp"]: r["bloom_hit"]
               for r in bloom_probe(probe, bloom, "fp", m=1 << 12, k=3).collect()}
        # every true member flagged (no false negatives — Bloom invariant)
        assert all(got[f"key-{i}"] for i in range(400, 500))
        # tiny 4Ki-bit filter over 500 keys: some but not all non-members
        # may collide; non-members flagged must be a minority
        fp_rate = sum(got[f"key-{i}"] for i in range(500, 900)) / 400
        assert fp_rate < 0.5

    def test_duplicate_probe_rows_keep_their_flags(self, spark):
        # n identical probe rows must come back as n rows, each flagged
        # true for a member — grouping on the value tuple collapsed them
        # into one group whose hit-sum was n*k != k (a false NEGATIVE,
        # which the Bloom contract forbids) and silently deduped output
        from parquery_spark.functions.sketches import bloom_build, bloom_probe

        corpus = spark.createDataFrame([("m1",), ("m2",)], ["fp"])
        bloom = bloom_build(corpus, "fp", m=1 << 10, k=3)
        probe = spark.createDataFrame(
            [("m1",), ("m1",), ("m1",), ("nope",)], ["fp"]
        )
        rows = bloom_probe(probe, bloom, "fp", m=1 << 10, k=3).collect()
        assert len(rows) == 4  # no silent dedup
        hits = [r["bloom_hit"] for r in rows if r["fp"] == "m1"]
        assert hits == [True, True, True]  # every duplicate is a member

    def test_filters_are_mergeable(self, spark):
        from pyspark.sql import functions as F

        from parquery_spark.functions.sketches import bloom_build, bloom_probe

        a = spark.createDataFrame([("a1",), ("a2",)], ["fp"])
        b = spark.createDataFrame([("b1",), ("b2",)], ["fp"])
        merged = (
            bloom_build(a, "fp", m=1 << 10)
            .unionByName(bloom_build(b, "fp", m=1 << 10))
            .groupBy("word_idx")
            .agg(F.expr("bit_or(word)").alias("word"))
        )
        probe = spark.createDataFrame(
            [("a1",), ("b2",), ("c3",)], ["fp"]
        )
        got = {r["fp"]: r["bloom_hit"]
               for r in bloom_probe(probe, merged, "fp", m=1 << 10).collect()}
        assert got["a1"] and got["b2"]


class TestUpsertAndGapFill:
    def test_upsert_replaces_appends_keeps(self, spark):
        from parquery_spark.operators.upsert import upsert

        cur = spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], ["k", "v"]
        )
        batch = spark.createDataFrame([(2, "B"), (9, "Z")], ["k", "v"])
        got = {r["k"]: r["v"] for r in upsert(cur, batch, ["k"]).collect()}
        assert got == {1: "a", 2: "B", 3: "c", 9: "Z"}

    def test_latest_by_key_keeps_max_version(self, spark):
        from parquery_spark.operators.upsert import latest_by_key

        log = spark.createDataFrame(
            [(1, 1, "old"), (1, 3, "new"), (1, 2, "mid"), (2, 1, "only")],
            ["k", "ver", "v"],
        )
        got = {r["k"]: (r["ver"], r["v"])
               for r in latest_by_key(log, ["k"], "ver").collect()}
        assert got == {1: (3, "new"), 2: (1, "only")}

    def test_fill_gaps_zero_fill_and_locf(self, spark):
        from parquery_spark.operators.upsert import fill_gaps

        sparse = spark.createDataFrame(
            [("a", 10, 2, 1.5), ("a", 13, 1, 9.0), ("b", 5, 4, 2.0)],
            ["k", "bucket", "n", "avg"],
        )
        rows = {
            (r["k"], r["bucket"]): (r["n"], r["avg"])
            for r in fill_gaps(
                sparse, "k", "bucket", 1, ["n"], ["avg"]
            ).collect()
        }
        # spine spans each key's own min..max only
        assert set(rows) == {("a", 10), ("a", 11), ("a", 12), ("a", 13),
                             ("b", 5)}
        assert rows[("a", 11)] == (0, 1.5)   # zero-filled count, LOCF avg
        assert rows[("a", 12)] == (0, 1.5)
        assert rows[("a", 13)] == (1, 9.0)   # real observation wins
        assert rows[("b", 5)] == (4, 2.0)


class TestWinnowing:
    def test_shared_run_shares_fingerprint(self, spark):
        """Winnowing guarantee: two docs sharing a run of k + w - 1 = 8
        words share at least one selected fingerprint."""
        from parquery_spark.operators.dedup import winnow_fingerprints

        shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 words
        docs = spark.createDataFrame(
            [
                (1, f"unrelated prefix words here {shared} and a tail"),
                (2, f"{shared} totally different continuation text body"),
                (3, "no overlap with anything else at all whatsoever ok"),
            ],
            ["doc_id", "text"],
        )
        fp = winnow_fingerprints(docs, "text", "doc_id", k=5, w=4)
        rows = fp.collect()
        by_doc = {}
        for r in rows:
            by_doc.setdefault(r.doc_id, set()).add(r.fingerprint)
        assert by_doc[1] & by_doc[2], "shared 8-word run must collide"
        assert not (by_doc[3] & (by_doc[1] | by_doc[2]))

    def test_short_doc_yields_no_rows(self, spark):
        from parquery_spark.operators.dedup import winnow_fingerprints

        docs = spark.createDataFrame(
            [(1, "only seven words live in this doc")], ["doc_id", "text"]
        )
        assert winnow_fingerprints(docs, k=5, w=4).count() == 0

    def test_density_is_roughly_one_over_w(self, spark):
        """Fingerprint count ~ n_grams / w on random-ish text (the storage
        guarantee that makes winnowing cheaper than full gram hashing)."""
        from parquery_spark.operators.dedup import winnow_fingerprints

        words = " ".join(f"w{i * 7919 % 1000}x{i}" for i in range(200))
        docs = spark.createDataFrame([(1, words)], ["doc_id", "text"])
        n = winnow_fingerprints(docs, k=5, w=4).count()
        n_windows = 200 - 5 + 1 - 3  # grams minus window slack
        assert n_windows / 4 * 0.5 <= n <= n_windows  # loose but real bound


class TestCompaction:
    def test_compact_preserves_rows_and_reduces_files(self, spark, tmp_path):
        from parquery_spark.operators.maintenance import (
            compact_files, dir_parquet_stats)

        df = spark.range(0, 10_000).withColumnRenamed("id", "k")
        src = str(tmp_path / "frag")
        dst = str(tmp_path / "compacted")
        df.repartition(32).write.parquet(src)
        assert dir_parquet_stats(src)[0] == 32
        stats = compact_files(spark, src, dst, target_bytes=1 << 30)
        assert stats["files_before"] == 32
        assert stats["files_after"] == 1
        out = spark.read.parquet(dst)
        assert out.count() == 10_000
        assert out.agg({"k": "sum"}).first()[0] == 10_000 * 9_999 // 2


class TestZOrder:
    def test_zorder_key_interleaves(self, spark):
        from parquery_spark.operators.maintenance import zorder_key

        df = spark.createDataFrame(
            [(0b101, 0b011)], "a long, b long"
        ).select(zorder_key("a", "b", bits=3).alias("z"))
        # a=101, b=011 -> z = a2 b2 a1 b1 a0 b0 = 1 0 0 1 1 1 = 0b100111
        assert df.first().z == 0b100111

    def test_zordered_layout_bounds_both_dims(self, spark, sf_dir,
                                              tmp_path):
        """Per-file min/max spans: the z-ordered layout must bound BOTH
        dimensions (avg span well under the full range), while a
        single-column sort leaves the second dimension spanning ~the full
        range in every file — the quantitative claim behind q135."""
        import pyarrow.parquet as papq

        from parquery_spark.operators.maintenance import write_zordered

        li = spark.read.parquet(
            os.path.join(sf_dir, "lineitem.parquet")
        ).select("l_partkey", "l_suppkey")
        zdir = str(tmp_path / "z")
        write_zordered(li, zdir, ("l_partkey", "l_suppkey"), n_files=8)
        onedir = str(tmp_path / "one")
        (li.repartitionByRange(8, "l_partkey")
           .sortWithinPartitions("l_partkey")
           .write.parquet(onedir))

        def spans(d, col):
            import glob

            out = []
            for f in glob.glob(os.path.join(d, "*.parquet")):
                md = papq.read_metadata(f)
                lo = min(md.row_group(i).column(
                    [c.name for c in papq.read_schema(f)].index(col)
                ).statistics.min for i in range(md.num_row_groups))
                hi = max(md.row_group(i).column(
                    [c.name for c in papq.read_schema(f)].index(col)
                ).statistics.max for i in range(md.num_row_groups))
                out.append(hi - lo)
            return sum(out) / len(out)

        full_supp = (
            li.agg(F.max("l_suppkey") - F.min("l_suppkey")).first()[0]
        )
        z_supp = spans(zdir, "l_suppkey")
        one_supp = spans(onedir, "l_suppkey")
        # single-dim sort: suppkey spans ~full range per file; z-order
        # cuts it substantially
        assert one_supp > full_supp * 0.9
        assert z_supp < one_supp * 0.7


class TestCorpusPipelineAPI:
    def test_stages_compose_and_dedup_keeps_first_id(self, spark):
        from pyspark.sql import functions as F

        from parquery_spark.pipeline import CorpusPipeline

        docs = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog ok", "en", 47, "a"),
                (2, "the quick brown fox jumps over the lazy dog ok", "en", 47, "b"),
                (3, "short", "en", 5, "a"),
                (4, "ein anderes dokument mit ganz anderem inhalt ja", "de", 47, "a"),
            ],
            "doc_id long, text string, lang string, n_chars long, source string",
        )
        pipe = (
            CorpusPipeline()
            .filter_lang("en")
            .min_chars(10)
            .dedup_exact()
            .with_token_counts()
        )
        rows = pipe.build(docs).collect()
        # doc 3 filtered (length), doc 4 filtered (lang), dup 2 dropped
        assert [r["doc_id"] for r in rows] == [1]
        assert rows[0]["n_tokens"] == 10
        assert pipe.stage_names() == [
            "filter_lang", "min_chars", "dedup", "token_counts",
        ]

    def test_narrow_stages_fuse_into_scan(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from parquery_spark.pipeline import CorpusPipeline

        src = str(tmp_path / "docs.parquet")
        spark.createDataFrame(
            [(i, "token " * 20, "en" if i % 2 else "de", 120, "s")
             for i in range(50)],
            "doc_id long, text string, lang string, n_chars long, source string",
        ).write.parquet(src)
        docs = spark.read.parquet(src)
        df = (
            CorpusPipeline()
            .filter_lang("en")
            .min_chars(10)
            .build(docs)
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        scan = next(l for l in plan.splitlines() if "FileScan" in l)
        # both declared-as-stages filters reach the scan as pushed filters
        pushed = scan.split("PushedFilters")[1]
        assert "lang" in pushed and "n_chars" in pushed
