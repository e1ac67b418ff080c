"""Operator-level tests: joins (as-of, range), windows, dedup family,
similarity — small deterministic fixtures with hand-computable answers,
complementing the DuckDB-differential query gate."""

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from parquery_spark.operators import dedup, joins, similarity, windows


@pytest.fixture(scope="module")
def trades(spark):
    return spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (1, 35, "c"), (2, 5, "d"), (3, 9, "e")],
        ["key", "t", "trade"],
    )


@pytest.fixture(scope="module")
def quotes(spark):
    return spark.createDataFrame(
        [(1, 8, 100.0), (1, 20, 101.0), (1, 30, 102.0), (2, 6, 200.0)],
        ["key", "qt", "price"],
    )


class TestAsofJoin:
    def test_backward(self, trades, quotes):
        out = joins.asof_join(
            trades, quotes, on="key", left_ts="t", right_ts="qt",
            right_cols=["price"], direction="backward",
        )
        got = {r["trade"]: r["price"] for r in out.collect()}
        # t=10 → quote@8; t=20 → quote@20 (exact ts matches); t=35 → quote@30
        # key=2 t=5 → no quote ≤ 5 → null; key=3 → no quotes at all → null
        assert got == {"a": 100.0, "b": 101.0, "c": 102.0, "d": None, "e": None}

    def test_forward(self, trades, quotes):
        out = joins.asof_join(
            trades, quotes, on="key", left_ts="t", right_ts="qt",
            right_cols=["price"], direction="forward",
        )
        got = {r["trade"]: r["price"] for r in out.collect()}
        assert got == {"a": 101.0, "b": 101.0, "c": None, "d": 200.0, "e": None}

    def test_bad_direction(self, trades, quotes):
        with pytest.raises(ValueError):
            joins.asof_join(trades, quotes, "key", "t", "qt", ["price"],
                            direction="sideways")


class TestRangeJoin:
    def test_point_in_interval(self, spark):
        points = spark.createDataFrame(
            [(1, 5.0), (2, 15.0), (3, 25.0), (4, 99.0)], ["pid", "x"]
        )
        intervals = spark.createDataFrame(
            [("lo", 0.0, 10.0), ("hi", 10.0, 30.0)], ["name", "lo", "hi"]
        )
        out = joins.range_join(points, intervals, "x", "lo", "hi", bucket_width=7.0)
        got = sorted((r["pid"], r["name"]) for r in out.collect())
        # inclusive bounds: x=5→lo; x=15→hi; x=25→hi; x=99→none; x=10 n/a
        assert got == [(1, "lo"), (2, "hi"), (3, "hi")]


class TestWindows:
    def test_top_n_per_group(self, spark):
        df = spark.createDataFrame(
            [("a", i) for i in range(5)] + [("b", i) for i in range(3)],
            ["g", "v"],
        )
        out = windows.top_n_per_group(df, ["g"], [F.col("v").desc()], 2)
        got = sorted((r["g"], r["v"]) for r in out.collect())
        assert got == [("a", 3), ("a", 4), ("b", 1), ("b", 2)]

    def test_running_agg(self, spark):
        df = spark.createDataFrame(
            [("a", 1, 10.0), ("a", 2, 5.0), ("a", 3, 1.0)], ["g", "t", "v"]
        )
        out = windows.running_agg(df, ["g"], [F.col("t")], "v", "sum", "rs")
        assert [r["rs"] for r in out.orderBy("t").collect()] == [10.0, 15.0, 16.0]

    def test_lag_lead(self, spark):
        df = spark.createDataFrame([("a", 1, "x"), ("a", 2, "y")], ["g", "t", "v"])
        row = (
            windows.lag_lead(df, ["g"], [F.col("t")], "v")
            .filter(F.col("t") == 2).collect()[0]
        )
        assert row["v_lag"] == "x" and row["v_lead"] is None


class TestDedup:
    @pytest.fixture(scope="class")
    def docs(self, spark):
        rows = [
            (1, "the quick brown fox jumps over the lazy dog", "en"),
            (2, "the quick brown fox jumps over the lazy dog", "en"),   # exact dup
            (3, "The quick brown fox jumps over the lazy dog!!", "en"),  # fingerprint dup
            (4, "the quick brown fox leaps over the lazy dog", "en"),    # near dup
            (5, "completely different words about spark engines here", "en"),
            (6, "der schnelle braune fuchs springt", "de"),
        ]
        return spark.createDataFrame(rows, ["doc_id", "text", "lang"])

    def test_exact_dedup(self, docs):
        out = dedup.exact_dedup(
            docs.select(F.md5("text").alias("h"), "doc_id"), ["h"], "doc_id"
        )
        dups = {r["doc_id"]: r["dup_count"] for r in out.collect()}
        assert dups[1] == 2  # docs 1+2 merged, survivor = 1
        assert 2 not in dups

    def test_fingerprint_dedup_ignores_case_punct(self, docs):
        out = dedup.fingerprint_dedup(docs, "text", "doc_id")
        groups = {r["keep_id"]: r["dup_count"] for r in out.collect()}
        assert groups[1] == 3  # 1, 2, and 3 share a fingerprint

    def test_jaccard_near_dup(self, docs):
        pairs = dedup.jaccard_pairs(
            docs, "text", "doc_id", block_cols=["lang"], threshold=0.5
        ).collect()
        pairset = {(r["id_a"], r["id_b"]) for r in pairs}
        assert (1, 4) in pairset       # near-dup found
        assert (1, 5) not in pairset   # unrelated text not paired
        exact = [r for r in pairs if (r["id_a"], r["id_b"]) == (1, 2)]
        assert exact and exact[0]["jaccard"] == 1.0

    def test_jaccard_max_df_bounds_adversarial_corpus(self, spark):
        """Stop-gram capping: every doc shares one ubiquitous token, so the
        uncapped inverted index materializes all C(n,2) pairs; with
        max_df the stop-gram is dropped and only genuinely-similar pairs
        surface, with Jaccard computed over the capped vocabulary."""
        n = 30
        rows = [(i, f"common u{i}a u{i}b u{i}c") for i in range(n)]
        rows.append((n, "common u0a u0b u0c"))  # true near-dup of doc 0
        docs = spark.createDataFrame(rows, ["doc_id", "text"])

        uncapped = dedup.jaccard_pairs(docs, "text", "doc_id", threshold=0.0)
        assert uncapped.count() == (n + 1) * n // 2  # every pair co-occurs

        capped = dedup.jaccard_pairs(
            docs, "text", "doc_id", threshold=0.5, max_df=5
        ).collect()
        # "common" (df=31) is dropped: only the real dup pair remains, and
        # its Jaccard over the surviving grams {u0a,u0b,u0c} is exactly 1
        assert {(r["id_a"], r["id_b"]) for r in capped} == {(0, n)}
        assert capped[0]["jaccard"] == 1.0

    def test_minhash_identical_docs_agree(self, docs):
        sigs = {
            r["doc_id"]: list(r["sig"])
            for r in dedup.minhash_signatures(docs, "text", "doc_id", 8).collect()
        }
        assert sigs[1] == sigs[2]          # identical text → identical sig
        assert sigs[1] != sigs[5]          # different text → different sig

    def test_lsh_finds_exact_dups(self, docs):
        pairs = dedup.lsh_candidate_pairs(
            docs, "text", "doc_id", num_hashes=8, bands=4
        ).collect()
        got = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in pairs}
        assert got.get((1, 2)) == 1.0

    def test_minhash_index_adaptive_prefix_width(self, docs, tmp_path):
        """A small corpus writes a 1-hex-char prefix layout (16 dirs per
        band, not 256 — per-file open cost would dwarf the probe), the
        probe detects the width from the directory names, appends inherit
        it, and an explicit prefix_chars pin still wins."""
        import glob
        import os

        idx = str(tmp_path / "idx")
        dedup.write_minhash_index(docs, idx, "text", "doc_id", num_hashes=8)
        widths = {
            len(os.path.basename(d).split("=", 1)[1])
            for d in glob.glob(os.path.join(idx, "band=*", "bk_prefix=*"))
        }
        assert widths == {1}
        assert dedup._index_prefix_chars(idx) == 1

        # append keeps the existing layout's width, never re-decides it
        dedup.write_minhash_index(
            docs.filter("doc_id = 5"), idx, "text", "doc_id",
            num_hashes=8, mode="append",
        )
        widths = {
            len(os.path.basename(d).split("=", 1)[1])
            for d in glob.glob(os.path.join(idx, "band=*", "bk_prefix=*"))
        }
        assert widths == {1}

        # probe against the adaptive layout matches the unindexed join
        new = docs.filter("doc_id = 2")
        corpus = docs.filter("doc_id != 2")
        idx2 = str(tmp_path / "idx2")
        dedup.write_minhash_index(corpus, idx2, "text", "doc_id", num_hashes=8)
        got = sorted(
            tuple(r) for r in dedup.lsh_join_indexed(
                docs.sparkSession, idx2, new, "text", "doc_id", num_hashes=8
            ).collect()
        )
        want = sorted(
            tuple(r) for r in dedup.lsh_join(
                new, corpus, "text", "doc_id", num_hashes=8
            ).collect()
        )
        assert got == want and got

        # an explicit pin overrides the size rule
        idx3 = str(tmp_path / "idx3")
        dedup.write_minhash_index(
            docs, idx3, "text", "doc_id", num_hashes=8, prefix_chars=2
        )
        assert dedup._index_prefix_chars(idx3) == 2

    def test_simhash_near_for_near_text(self, docs):
        out = {
            r["doc_id"]: r["sh"]
            for r in docs.select(
                "doc_id", dedup.simhash("text").alias("sh")
            ).collect()
        }
        assert out[1] == out[2]
        ham_near = bin(out[1] ^ out[4]).count("1")
        ham_far = bin(out[1] ^ out[6]).count("1")
        assert ham_near < ham_far

    def test_simhash_bucket_cap_drops_degenerate_buckets(self, spark):
        """The scale knob (round 12): identical docs all collide in every
        band, so an identical-content flood forms one oversized bucket
        per band.  With the cap below the flood size those buckets drop
        and the flood pairs vanish; a distinct near-dup pair in its own
        small buckets survives; uncapped enumeration still sees both."""
        flood = [(i, "aurora borealis quantum zephyr") for i in range(12)]
        near = [  # exact dup: hamming 0 by construction, bucket of 2
            (100, "velvet marmot citadel orchard plume"),
            (101, "velvet marmot citadel orchard plume"),
        ]
        docs = spark.createDataFrame(flood + near, ["doc_id", "text"])
        kw = dict(bits=60, bands=5, max_hamming=4)
        uncapped = {
            (r["id_a"], r["id_b"])
            for r in dedup.simhash_candidates(
                docs, "text", "doc_id", **kw
            ).collect()
        }
        assert (100, 101) in uncapped
        assert ((0, 1) in uncapped and len(uncapped) >= 66 + 1)
        capped = {
            (r["id_a"], r["id_b"])
            for r in dedup.simhash_candidates(
                docs, "text", "doc_id", max_bucket_size=8, **kw
            ).collect()
        }
        assert capped == {(100, 101)}  # flood buckets (12 > 8) dropped

    def test_simhash_bits_bounds(self, docs):
        # md5-derived 64-bit base provides only 60 usable bits; 64 would
        # also overflow LongType via 1 << 63.
        for bad in (0, 61, 64):
            with pytest.raises(ValueError, match="simhash bits"):
                dedup.simhash("text", bits=bad)
            with pytest.raises(ValueError, match="simhash bits"):
                dedup.simhash_table(docs, "text", "doc_id", bits=bad)
        out = docs.select(dedup.simhash("text", bits=60).alias("sh")).first()
        assert out["sh"] is not None


class TestSimilarity:
    @pytest.fixture(scope="class")
    def vectors(self, spark):
        rows = [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.9, 0.1, 0.0]),   # close to 0
            (2, [0.0, 1.0, 0.0]),   # orthogonal
            (3, [-1.0, 0.0, 0.0]),  # opposite
            (4, [0.8, 0.2, 0.1]),   # close-ish
        ]
        return spark.createDataFrame(rows, ["vec_id", "embedding"]).withColumn(
            "embedding", F.col("embedding").cast("array<float>")
        )

    def test_brute_force_ordering(self, vectors):
        out = similarity.cosine_topk(vectors, [1.0, 0.0, 0.0], k=3)
        ids = [r["vec_id"] for r in out.collect()]
        assert ids[0] == 0 and set(ids) == {0, 1, 4}

    def test_lsh_recalls_self(self, vectors):
        out = similarity.cosine_topk_lsh(
            vectors, [1.0, 0.0, 0.0], k=3, num_planes=6, probe_hamming=2
        )
        ids = [r["vec_id"] for r in out.collect()]
        assert 0 in ids

    def test_near_dup_pairs(self, vectors):
        pairs = similarity.near_dup_pairs(
            vectors, threshold=0.9, num_planes=2
        ).collect()
        pairset = {(r["id_a"], r["id_b"]) for r in pairs}
        assert (0, 1) in pairset
        assert (0, 3) not in pairset

    def test_near_dup_pairs_injected_guard(self, vectors):
        # an injected bucket table built with MORE planes carries bucket
        # ids outside the call's bucket space — the structural probe must
        # reject it rather than silently producing empty/wrong pairs
        wide = similarity.near_dup_bucket_table(vectors, num_planes=8)
        import pyspark.sql.functions as F
        wide = wide.withColumn("bucket", F.lit(200))  # > 2**2
        with pytest.raises(ValueError, match="outside"):
            similarity.near_dup_pairs(
                vectors, threshold=0.9, num_planes=2, bucketed=wide
            )
        with pytest.raises(ValueError, match="lacks columns"):
            similarity.near_dup_pairs(
                vectors, threshold=0.9, num_planes=2,
                bucketed=wide.drop("nrm"),
            )
        # a structurally consistent injection matches the uninjected path
        ok = similarity.near_dup_bucket_table(vectors, num_planes=2)
        pairs2 = similarity.near_dup_pairs(
            vectors, threshold=0.9, num_planes=2, bucketed=ok
        ).collect()
        base = similarity.near_dup_pairs(
            vectors, threshold=0.9, num_planes=2
        ).collect()
        assert {(r["id_a"], r["id_b"]) for r in pairs2} == {
            (r["id_a"], r["id_b"]) for r in base
        }


class TestSkew:
    @pytest.fixture(scope="class")
    def skewed(self, spark):
        # 90% of rows share one hot key
        rows = [(0 if i % 10 else i % 7 + 1, float(i % 100)) for i in range(5000)]
        return spark.createDataFrame(rows, ["k", "v"])

    def test_salted_groupby_matches_direct(self, skewed):
        from parquery_spark.operators.skew import salted_groupby

        direct = {
            r["k"]: (r["s"], r["n"], r["mx"])
            for r in skewed.groupBy("k").agg(
                F.sum("v").alias("s"), F.count("v").alias("n"),
                F.max("v").alias("mx"),
            ).collect()
        }
        salted = {
            r["k"]: (r["s"], r["n"], r["mx"])
            for r in salted_groupby(
                skewed, ["k"],
                [["v", "sum", "s"], ["v", "count", "n"], ["v", "max", "mx"]],
                salt_buckets=8,
            ).collect()
        }
        assert salted == direct

    def test_salted_groupby_rejects_mean(self, skewed):
        from parquery_spark.operators.skew import salted_groupby

        with pytest.raises(NotImplementedError, match="decomposable"):
            salted_groupby(skewed, ["k"], [["v", "mean", "m"]])

    def test_salted_join_matches_direct(self, spark, skewed):
        from parquery_spark.operators.skew import salted_join

        dim = spark.createDataFrame(
            [(i, f"name{i}") for i in range(8)], ["dk", "name"]
        )
        direct = sorted(
            (r["k"], r["name"])
            for r in skewed.join(dim, skewed.k == dim.dk).collect()
        )
        salted = sorted(
            (r["k"], r["name"])
            for r in salted_join(skewed, dim, "k", "dk", salt_buckets=4).collect()
        )
        assert salted == direct


class TestSampling:
    def test_hash_sample_partition_invariant(self, spark):
        from parquery_spark.operators import sampling

        df = spark.range(2000).withColumnRenamed("id", "k")
        a = {r["k"] for r in sampling.hash_sample(df, "k", 0.2).collect()}
        b = {
            r["k"]
            for r in sampling.hash_sample(df.repartition(7), "k", 0.2).collect()
        }
        assert a == b                      # membership is content-addressed
        assert 0.15 < len(a) / 2000 < 0.25  # ~20%
        with pytest.raises(ValueError, match="fraction"):
            sampling.hash_sample(df, "k", 1.5)

    def test_top_n_per_stratum_exact_and_stable(self, spark):
        from parquery_spark.operators import sampling

        df = spark.range(500).select(
            (F.col("id") % 5).alias("g"), F.col("id").alias("k")
        )
        out = sampling.top_n_per_stratum(df, ["g"], "k", 7)
        rows = out.collect()
        per = {}
        for r in rows:
            per.setdefault(r["g"], set()).add(r["k"])
        assert all(len(v) == 7 for v in per.values()) and len(per) == 5
        again = sampling.top_n_per_stratum(df.repartition(11), ["g"], "k", 7)
        per2 = {}
        for r in again.collect():
            per2.setdefault(r["g"], set()).add(r["k"])
        assert per == per2  # reproducible under any layout


class TestFuzzyJoin:
    def test_recall_over_all_edit_kinds(self, spark):
        from parquery_spark.operators import dedup

        canon = spark.createDataFrame(
            [(1, "spark"), (2, "sprak"), (3, "duck")], ["cid", "name"]
        )
        dirty = spark.createDataFrame(
            [
                (10, "spark"),   # exact
                (11, "spork"),   # substitution
                (12, "sparkx"),  # insertion
                (13, "spak"),    # deletion
                (14, "goose"),   # no match
            ],
            ["did", "name"],
        )
        got = {
            (r["did"], r["cid"]): r["distance"]
            for r in dedup.fuzzy_join(
                dirty, canon, "name", "name", "did", "cid"
            ).collect()
        }
        assert got[(10, 1)] == 0
        assert got[(11, 1)] == 1
        assert got[(12, 1)] == 1
        assert got[(13, 1)] == 1
        assert not any(d == 14 for d, _ in got)
        # distance-2 pairs (e.g. "spork"->"sprak") never surface
        assert (11, 2) not in got

    def test_q102_oracle_equals_naive_all_pairs(self):
        """RECALL PROOF for the q102 gate oracle (round 11): the
        delete-variant equi-join oracle must return EXACTLY the naive
        all-pairs levenshtein join's rows at sf0.01 — the SymSpell
        theorem, executed.  The naive form is O(n^2) (measured ~7.5 h at
        sf1), so the theorem form gates the big SFs while this
        differential pins the equivalence where brute force is
        affordable."""
        import duckdb

        from parquery_spark.queries import _Q102_NAIVE_SQL, _Q102_ORACLE_SQL

        con = duckdb.connect()
        con.execute(
            "CREATE VIEW customer AS SELECT * FROM "
            "read_parquet('/root/testdata/sf0.01/customer.parquet')"
        )
        naive = sorted(con.execute(_Q102_NAIVE_SQL).fetchall())
        fast = sorted(con.execute(_Q102_ORACLE_SQL).fetchall())
        assert naive == fast and len(naive) > 0


class TestLinalg:
    def test_gram_matches_numpy_and_pca_recovers_direction(self, spark):
        import numpy as np

        from parquery_spark.operators.linalg import gram_matrix, pca_components

        rng = np.random.RandomState(7)
        # rank-heavy direction: points spread along `axis` + small noise
        axis = rng.randn(8)
        axis /= np.linalg.norm(axis)
        X = np.outer(rng.randn(200) * 5.0, axis) + rng.randn(200, 8) * 0.1
        df = spark.createDataFrame(
            [(i, [float(x) for x in row]) for i, row in enumerate(X)],
            "vec_id long, embedding array<double>",
        ).repartition(4)
        rows = gram_matrix(df, "embedding", dim=8, scale=1000).collect()
        assert len(rows) == 64
        # exact: quantized numpy reference
        Q = np.floor(X * 1000 + 0.5).astype(np.int64)
        G = Q.T @ Q
        for r in rows:
            assert r["gram"] == G[r["i"], r["j"]]
        vals, comps = pca_components(rows, dim=8, k=2, n_rows=200)
        assert vals[0] > 10 * vals[1]  # one dominant direction
        top = comps[0] / np.linalg.norm(comps[0])
        assert abs(float(np.dot(top, axis))) > 0.99


class TestIVM:
    def test_retraction_drops_group_and_merges_sums(self, spark):
        from pyspark.sql import functions as F

        from parquery_spark.operators.maintenance import merge_aggregate_delta

        base = spark.createDataFrame(
            [("a", 2, 10.0), ("b", 1, 5.0)], ["k", "n", "total"]
        )
        delta = spark.createDataFrame(
            # a: +1 row of 3.0; b: full retraction; c: brand-new group
            [("a", 1, 3.0), ("b", -1, -5.0), ("c", 1, 7.0)],
            ["k", "n", "total"],
        )
        got = {
            r["k"]: (r["n"], r["total"])
            for r in merge_aggregate_delta(
                base, delta, ["k"], ["total"]
            ).collect()
        }
        assert got == {"a": (3, 13.0), "c": (1, 7.0)}  # b dropped at n==0

    def test_maintained_equals_recomputed(self, spark):
        from pyspark.sql import functions as F

        from parquery_spark.operators.maintenance import merge_aggregate_delta

        rows = [(i % 4, float(i), 1 if i % 3 else -1) for i in range(1, 200)]
        df = spark.createDataFrame(rows, ["k", "v", "sign"])
        base = df.where("v < 100").groupBy("k").agg(
            F.sum("sign").alias("n"),
            F.sum(F.col("sign") * F.col("v")).alias("total"),
        )
        delta = df.where("v >= 100").groupBy("k").agg(
            F.sum("sign").alias("n"),
            F.sum(F.col("sign") * F.col("v")).alias("total"),
        )
        direct = {
            r["k"]: (r["n"], round(r["total"], 6))
            for r in df.groupBy("k")
            .agg(
                F.sum("sign").alias("n"),
                F.sum(F.col("sign") * F.col("v")).alias("total"),
            )
            .where("n > 0")
            .collect()
        }
        maintained = {
            r["k"]: (r["n"], round(r["total"], 6))
            for r in merge_aggregate_delta(
                base, delta, ["k"], ["total"]
            ).collect()
        }
        assert maintained == direct


class TestQualitySuite:
    def test_detects_each_violation_kind(self, spark):
        from parquery_spark.operators import quality as Q

        df = spark.createDataFrame(
            [(1, None, 5.0, "X"), (1, 2, -1.0, "F"), (3, 4, 2.0, "O")],
            "id long, ref long, val double, status string",
        )
        res = {
            r["check"]: (r["metric"], r["passed"])
            for r in Q.run_checks(
                df,
                [
                    Q.not_null("ref"),            # 1 null -> fail
                    Q.unique("id"),               # dup id=1 -> fail
                    Q.bounds("val", 0, 10),       # -1.0 -> fail
                    Q.accepted_values("status", ["F", "O"]),  # X -> fail
                    Q.row_count_at_least(3),      # pass
                ],
            ).collect()
        }
        assert res["not_null(ref)"][1] is False
        assert res["unique(id)"] == (round(2 / 3, 6), False)
        assert res["bounds(val)"] == (1.0, False)
        assert res["accepted_values(status)"] == (1.0, False)
        assert res["row_count"] == (3.0, True)

    def test_referential_orphans(self, spark):
        from parquery_spark.operators import quality as Q

        child = spark.createDataFrame([(1,), (2,), (9,)], ["fk"])
        parent = spark.createDataFrame([(1,), (2,)], ["pk"])
        row = Q.referential_check(child, "fk", parent, "pk").collect()[0]
        assert row["metric"] == 1.0 and row["passed"] is False


class TestDeadLetter:
    def test_routes_failures_and_preserves_successes(self, spark):
        from parquery_spark.operators.safety import dead_letter_map

        df = spark.createDataFrame(
            [(1, "10"), (2, "boom"), (3, "30"), (4, None)],
            "id long, payload string",
        ).repartition(2)

        def parse(rec):
            return int(rec["payload"])

        got = {
            r["id"]: (r["ok"], r["k"], r["err"])
            for r in dead_letter_map(
                df, parse, "k", "long", id_cols=["id"]
            ).collect()
        }
        assert got[1] == (True, 10, None)
        assert got[3] == (True, 30, None)
        assert got[2][0] is False and "ValueError" in got[2][2]
        assert got[4][0] is False and got[4][1] is None

    def test_all_fail_batch_keeps_schema(self, spark):
        from parquery_spark.operators.safety import dead_letter_map

        df = spark.createDataFrame([(1, "x"), (2, "y")], "id long, p string")

        def boom(rec):
            raise RuntimeError("always")

        rows = dead_letter_map(df, boom, "v", "double", ["id"]).collect()
        assert len(rows) == 2
        assert all(r["ok"] is False and r["v"] is None for r in rows)


class TestDatasetCard:
    def test_card_matches_written_data(self, spark, tmp_path):
        import json

        from pyspark.sql import functions as F

        from parquery_spark.operators.maintenance import write_dataset_card

        df = spark.range(100).select(
            F.col("id"), (F.col("id") * 2).alias("v")
        )
        out = str(tmp_path / "export")
        card = write_dataset_card(
            spark, df, out, name="test-export", key_col="id"
        )
        on_disk = json.load(open(out + "/_card.json"))
        assert on_disk == json.loads(json.dumps(card))
        assert on_disk["n_rows"] == 100
        assert {f["name"] for f in on_disk["schema"]} == {"id", "v"}
        assert on_disk["files"] and all(
            f["bytes"] > 0 for f in on_disk["files"]
        )
        # checksum is reproducible from the written data
        back = spark.read.parquet(out)
        from parquery_spark.operators.dedup import hash64

        chk = back.agg(
            F.bit_xor(hash64(F.col("id").cast("string")))
        ).collect()[0][0]
        assert chk == on_disk["content_checksum"]


class TestSemDeDup:
    def test_choose_k_scaling(self):
        from parquery_spark.operators.semdedup import choose_k

        # default = target_cell regime (DEFAULT_TARGET_CELL=256): pair
        # volume linear in n, never the old sqrt(n) cell growth
        assert choose_k(100) == 2            # floor at 2
        assert choose_k(256 * 10) == 10
        assert choose_k(3) == 2              # floor at 2
        assert choose_k(1_000_000) == 3907   # ceil(n/256)
        assert choose_k(10_000, target_cell=100) == 100  # explicit cell
        assert choose_k(10_000, k=7) == 7    # explicit wins
        assert choose_k(5, k=50) == 5        # never more clusters than rows

    def test_semdedup_drops_near_duplicates(self, spark):
        from parquery_spark.operators.semdedup import semdedup

        # two tight groups + one outlier; ids chosen so each group's
        # earliest member survives
        rows = [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.99, 0.01, 0.0]),   # near-dup of 0
            (2, [0.0, 1.0, 0.0]),
            (3, [0.01, 0.99, 0.0]),   # near-dup of 2
            (4, [0.0, 0.0, 1.0]),     # lone vector
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        pruned = semdedup(df, k=3, iters=2, threshold=0.9).collect()
        dropped = {r["vec_id"] for r in pruned}
        assert dropped == {1, 3}
        for r in pruned:
            assert r["max_sim_to_earlier"] >= 0.9

    def test_semdedup_empty(self, spark):
        from parquery_spark.operators.semdedup import semdedup

        df = spark.createDataFrame([], "vec_id long, embedding array<double>")
        assert semdedup(df).count() == 0


class TestRound5Operators:
    def test_quantize_constant_vector_guard(self, spark):
        """mx == mn must quantize to all-zero codes with zero error, not
        divide by zero (the oracle data never exercises this branch)."""
        from parquery_spark.operators.quantize import quantize_int8

        df = spark.createDataFrame(
            [(0, [1.5, 1.5, 1.5]), (1, [0.0, 1.0, 2.0])],
            "vec_id long, embedding array<float>",
        )
        rows = {r["vec_id"]: r for r in quantize_int8(df).collect()}
        assert rows[0]["codes"] == [0, 0, 0]
        assert rows[0]["max_abs_err"] == 0.0
        assert rows[1]["codes"] == [0, 128, 255]  # midpoint rounds half-up
        assert rows[1]["max_abs_err"] <= (2.0 - 0.0) / 510 + 1e-9

    def test_resample_single_day_span(self, spark):
        """A key whose whole history is one day yields exactly one row
        (sequence(d, d) is a 1-element calendar, not empty/error)."""
        import datetime

        from pyspark.sql import functions as F

        from parquery_spark.operators.timeseries import resample_daily

        df = spark.createDataFrame(
            [("a", datetime.date(2024, 1, 5), 10),
             ("b", datetime.date(2024, 1, 1), 1),
             ("b", datetime.date(2024, 1, 4), 2)],
            "k string, d date, v int",
        )
        out = resample_daily(
            df, keys=["k"], day_col="d",
            aggs={"n": F.count(F.lit(1)), "s": F.sum("v")},
            zero_fill=["n"], ffill=["s"],
        ).collect()
        by_key = {}
        for r in out:
            by_key.setdefault(r["k"], []).append(r)
        assert len(by_key["a"]) == 1
        # b: 4-day dense span, gap days zero-count and s carried forward
        bs = sorted(by_key["b"], key=lambda r: r["day"])
        assert [r["n"] for r in bs] == [1, 0, 0, 1]
        assert [r["s"] for r in bs] == [1, 1, 1, 2]

    def test_sliding_chunks_short_and_empty_docs(self, spark):
        """Docs shorter than one window emit exactly one (truncated)
        chunk; zero-token docs emit nothing."""
        from parquery_spark.operators.packing import sliding_chunks

        df = spark.createDataFrame(
            [(1, ["a", "b", "c"]), (2, [])],
            "doc_id long, w array<string>",
        )
        rows = sliding_chunks(df, "doc_id", "w", size=64, stride=32).collect()
        assert len(rows) == 1
        r = rows[0]
        assert (r["doc_id"], r["chunk_idx"], r["start_tok"], r["chunk_len"]) \
            == (1, 0, 0, 3)

    def test_pq_train_empty_corpus(self, spark):
        from parquery_spark.operators.pq import pq_train

        empty = spark.createDataFrame(
            [], "vec_id long, embedding array<float>"
        )
        codes, book = pq_train(empty, m=4, k=4, iters=1)
        assert codes.count() == 0 and book.count() == 0

    @pytest.mark.slow  # >20 s of Spark jobs — full lane only
    def test_pq_train_and_semdedup_release_caches(self, spark):
        """pq_train/semdedup/kmeans_assign must not pin per-call
        intermediates (exploded relations, assignments) for the session
        lifetime: after unpersisting the RETURNED artifacts, the
        persistent-RDD count is back to where it started."""
        from parquery_spark.operators.pq import pq_train
        from parquery_spark.operators.semdedup import kmeans_assign, semdedup

        def n_persisted():
            return spark.sparkContext._jsc.getPersistentRDDs().size()

        corpus = spark.createDataFrame(
            [(i, [float(i % 5), 1.0, float(i % 3), 2.0]) for i in range(64)],
            "vec_id long, embedding array<float>",
        )
        base = n_persisted()

        codes, book = pq_train(corpus, m=2, k=2, iters=2)
        codes.unpersist()
        book.unpersist()
        assert n_persisted() == base

        assign = kmeans_assign(corpus, k=3, iters=2)
        assign.unpersist()
        assert n_persisted() == base

        pruned = semdedup(corpus, k=3, iters=2, threshold=0.99)
        pruned.unpersist()
        assert n_persisted() == base

    @pytest.mark.slow  # >20 s of Spark jobs — full lane only
    def test_driver_sampled_training_matches_distributed(
        self, spark, monkeypatch
    ):
        """The round-12 driver-side sampled Lloyd loop (sample collected
        once, assignment via the shared _nearest kernel, centroid update
        via the decimal-semantics mirror) must produce EXACTLY the
        distributed loop's assignments — same sample predicate, same
        seeds, same rounded centroids each round.  Forcing the
        distributed path via _DRIVER_TRAIN_MAX=0 on the identical input
        is the differential."""
        from parquery_spark.operators import semdedup as sd

        rows = [
            (i, [float((i * 7 + p * 3) % 11) / 7.0 for p in range(8)])
            for i in range(400)
        ]
        rows[13] = (13, [])  # empty vector: no assignment row
        rows[17] = (17, [0.25, 0.5])  # short vector
        corpus = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        # sample_rows=64 -> stride > 1 at n=400: the sampled path fires
        driver = sd.kmeans_assign(
            corpus, k=4, iters=3, sample_rows=64, materialize=False
        )
        got_driver = sorted(map(tuple, driver.collect()))
        monkeypatch.setattr(sd, "_DRIVER_TRAIN_MAX", 0)
        dist = sd.kmeans_assign(
            corpus, k=4, iters=3, sample_rows=64, materialize=False
        )
        got_dist = sorted(map(tuple, dist.collect()))
        assert got_driver == got_dist
        assert len(got_driver) == 399  # every non-empty vector assigned

    @pytest.mark.slow  # >20 s of Spark jobs — full lane only
    def test_adc_topk_empty_codebook_and_queries(self, spark):
        """Empty codebook (trained on an empty corpus) or an empty probe
        batch returns an empty result instead of crashing — mirroring
        pq_train's graceful empty path."""
        from parquery_spark.operators.pq import adc_topk, pq_train

        empty = spark.createDataFrame(
            [], "vec_id long, embedding array<float>"
        )
        codes, book = pq_train(empty, m=4, k=4, iters=1)
        probes = spark.createDataFrame(
            [(0, [0.1, 0.2, 0.3, 0.4])], "q_id long, q_vec array<double>"
        )
        out = adc_topk(codes, book, probes, topk=3)
        assert out.count() == 0
        assert out.columns == ["q_id", "vec_id", "adc_dist", "rank"]

        corpus = spark.createDataFrame(
            [(i, [float(i), 1.0, 0.0, 2.0]) for i in range(8)],
            "vec_id long, embedding array<float>",
        )
        codes2, book2 = pq_train(corpus, m=2, k=2, iters=1)
        no_probes = spark.createDataFrame(
            [], "q_id long, q_vec array<double>"
        )
        out2 = adc_topk(codes2, book2, no_probes, topk=3)
        assert out2.count() == 0
        assert out2.columns == ["q_id", "vec_id", "adc_dist", "rank"]

    def test_pq_train_rejects_indivisible_dim(self, spark):
        import pytest as _pytest

        from parquery_spark.operators.pq import pq_train

        df = spark.createDataFrame(
            [(0, [0.1, 0.2, 0.3])], "vec_id long, embedding array<float>"
        )
        with _pytest.raises(ValueError, match="not divisible"):
            pq_train(df, m=2, k=2, iters=1)


class TestSubstringSpans:
    def _df(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_identical_docs_one_full_span(self, spark):
        from parquery_spark.operators.dedup import substring_spans

        words = " ".join(f"w{i}" for i in range(20))
        df = self._df(spark, [(1, words), (2, words)])
        out = substring_spans(df, min_tokens=8).collect()
        assert len(out) == 1
        r = out[0]
        assert (r.doc_a, r.doc_b) == (1, 2)
        assert (r.a_start, r.b_start, r.span_tokens) == (1, 1, 20)

    def test_offset_substring_and_short_doc(self, spark):
        from parquery_spark.operators.dedup import substring_spans

        base = [f"w{i}" for i in range(30)]
        shared = base[10:22]  # 12 tokens, positions 11..22 in doc 1
        df = self._df(
            spark,
            [
                (1, " ".join(base)),
                (2, "x y z " + " ".join(shared)),
                (3, "too short"),  # < min_tokens: contributes nothing
            ],
        )
        out = substring_spans(df, min_tokens=8).collect()
        assert len(out) == 1
        r = out[0]
        assert (r.doc_a, r.doc_b) == (1, 2)
        assert (r.a_start, r.b_start, r.span_tokens) == (11, 4, 12)

    def test_two_disjoint_spans_not_merged(self, spark):
        from parquery_spark.operators.dedup import substring_spans

        a = [f"a{i}" for i in range(8)]
        b = [f"b{i}" for i in range(8)]
        df = self._df(
            spark,
            [
                (1, " ".join(a) + " gap1 gap2 " + " ".join(b)),
                (2, " ".join(a) + " other1 other2 " + " ".join(b)),
            ],
        )
        out = sorted(
            substring_spans(df, min_tokens=8).collect(),
            key=lambda r: r.a_start,
        )
        assert [(r.a_start, r.b_start, r.span_tokens) for r in out] == [
            (1, 1, 8),
            (11, 11, 8),
        ]

    @pytest.mark.slow  # >20 s of Spark jobs — full lane only
    def test_stop_gram_cap_drops_boilerplate(self, spark):
        from parquery_spark.operators.dedup import substring_spans

        boiler = " ".join(f"c{i}" for i in range(8))
        rows = [(i, boiler) for i in range(1, 12)]  # 11 occurrences
        df = self._df(spark, rows)
        # cap 10 < 11 occurrences: the gram is a stop-gram, no pairs
        assert substring_spans(df, min_tokens=8, max_gram_occ=10).count() == 0
        # raising the cap restores all C(11,2) pairs
        assert substring_spans(df, min_tokens=8, max_gram_occ=64).count() == 55

    def test_min_tokens_validation(self, spark):
        import pytest as _pytest

        from parquery_spark.operators.dedup import substring_spans

        with _pytest.raises(ValueError):
            substring_spans(self._df(spark, [(1, "a b")]), min_tokens=1)
        with _pytest.raises(ValueError, match="gram_key"):
            substring_spans(
                self._df(spark, [(1, "a b")]), gram_key="md5"
            ).collect()

    def test_hash_gram_key_matches_raw(self, spark, sf_dir):
        """The 16-byte double-xxhash64 shuffle key (petabyte form) must
        produce byte-identical spans to the raw-string key on a real
        corpus — same windows, same islands, same offsets."""
        import os

        from parquery_spark.operators.dedup import substring_spans

        docs = spark.read.parquet(
            os.path.join(sf_dir, "documents.parquet")
        )
        raw = sorted(
            map(tuple, substring_spans(docs, min_tokens=8).collect())
        )
        hashed = sorted(
            map(
                tuple,
                substring_spans(
                    docs, min_tokens=8, gram_key="hash"
                ).collect(),
            )
        )
        assert raw == hashed
        assert raw  # non-vacuous: the corpus has duplicate spans


class TestSubstringDedupStats:
    def test_subset_doc_fully_removed(self, spark):
        from parquery_spark.operators.dedup import substring_dedup_stats

        base = [f"w{i}" for i in range(20)]
        df = spark.createDataFrame(
            [(1, " ".join(base)), (2, " ".join(base[5:15]))],
            "doc_id long, text string",
        )
        out = substring_dedup_stats(df, min_tokens=8).collect()
        assert len(out) == 1  # only the later doc is cut
        r = out[0]
        assert r.doc_id == 2
        assert (r.n_tokens, r.removed_tokens, r.kept_tokens) == (10, 10, 0)

    def test_overlapping_spans_merge_before_counting(self, spark):
        from parquery_spark.operators.dedup import substring_dedup_stats

        # doc 3 shares tokens 1..12 with doc 1 and tokens 5..16 with
        # doc 2: the two cut intervals overlap on 5..12 and must merge to
        # one 16-token removal, not 12 + 12 = 24
        words = [f"w{i}" for i in range(16)]
        df = spark.createDataFrame(
            [
                (1, " ".join(words[0:12])),
                (2, " ".join(words[4:16])),
                (3, " ".join(words)),
            ],
            "doc_id long, text string",
        )
        out = {r.doc_id: r for r in
               substring_dedup_stats(df, min_tokens=8).collect()}
        assert out[3].removed_tokens == 16
        assert out[3].kept_tokens == 0
        assert out[3].n_cut_spans == 1
        # doc 2 also loses its 8-token overlap with doc 1 (w4..w11)
        assert out[2].removed_tokens == 8


@pytest.mark.slow  # runs all 218 queries twice (~11 min) — full lane only
class TestCacheContract:
    """The release contract, REGISTRY-WIDE as of round 9: no query — and
    no operator a query calls — leaks a persisted relation into the
    session.  Shared intermediates are deduplicated by ReuseExchange over
    alias references to one plan object (operators/reuse.py); corpus-pure
    relations (banded signatures, simhash tables, substring spans,
    verified pairs, co-purchase edges, semdedup prune sets, PQ
    codes/codebooks) are stat-keyed STORAGE artifacts built once per
    corpus version; iterative trainers persist per-round and OWNER-RELEASE
    before returning.  Nothing in the session is persisted: the relation
    cache holds analyzed plans only, bounded and keyed by file version."""

    @staticmethod
    def _n_cached(spark) -> int:
        # CacheManager entries = persisted DataFrames (the leak class:
        # they are NEVER auto-reclaimed).  localCheckpoint RDD blocks
        # (graph iteration lineage truncation) are deliberately NOT
        # counted: the ContextCleaner reaps them when the plan is
        # garbage-collected.
        return (
            spark._jsparkSession.sharedState()
            .cacheManager().cachedData().size()
        )

    def test_repeat_runs_add_no_cached_relations(self, spark, sf_dir):
        """EVERY registry query, run twice: the second pass must not grow
        the CacheManager.  Catches the round-7/8 leak class (a persist
        with no owner doubles as a hidden cross-call memo that distorts
        warm bench numbers) for the whole surface, not just the dedup
        family it was first fixed in."""
        import __spark_entry__ as e

        qs = e.queries()
        # first pass fills the bounded session-keyed caches (relation
        # cache, the shared verified-pair relation) and the disk
        # artifacts; per-CALL growth after that is a leak
        for name, fn in qs.items():
            fn(spark, sf_dir).collect()
        before = self._n_cached(spark)
        for name, fn in qs.items():
            fn(spark, sf_dir).collect()
            # <= not ==: the ContextCleaner may concurrently reap
            # unreferenced entries, which is shrinkage, not a leak
            assert self._n_cached(spark) <= before, (
                f"{name} leaked a persisted relation "
                f"({self._n_cached(spark)} > {before})"
            )

    def test_operators_persist_nothing(self, spark, sf_dir):
        """Direct operator calls (no query-layer artifacts involved)
        leave the persistent-RDD ledger unchanged."""
        import os

        from parquery_spark.operators import dedup

        docs = spark.read.parquet(
            os.path.join(sf_dir, "documents.parquet")
        )
        before = self._n_cached(spark)
        dedup.lsh_candidate_pairs(docs, "text", "doc_id").collect()
        dedup.simhash_candidates(docs, "text", "doc_id", bits=60,
                                 bands=5, max_hamming=4).collect()
        dedup.jaccard_pairs(docs, "text", "doc_id",
                            threshold=0.5).collect()
        dedup.substring_spans(docs, min_tokens=8).collect()
        dedup.substring_dedup_stats(docs, min_tokens=8).collect()
        dedup.lsh_verified_pairs(docs, "text", "doc_id").collect()
        assert self._n_cached(spark) <= before
