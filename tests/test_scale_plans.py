"""Plan-quality tests: assert the PHYSICAL PLAN shapes that matter at
100 TB — pushdown, pruning, broadcast, top-k without full sort, bucketed
shuffle-free joins — not just result correctness."""

import os

import pytest
from pyspark.sql import functions as F

from parquery_spark import aggregate_pq, aggregate_plan


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


class TestAggregationPlans:
    def test_filter_pushed_to_scan(self, spark, sf_dir, tmp_path):
        # hardlinked copy: CacheManager substitutes a cached
        # InMemoryRelation into ANY same-path read (hazard), which would
        # hide the scan this test asserts on
        os.link(os.path.join(sf_dir, "lineitem.parquet"),
                tmp_path / "lineitem.parquet")
        df = aggregate_plan(
            str(tmp_path / "lineitem.parquet"),
            ["l_returnflag"],
            [["l_quantity", "sum", "s"]],
            data_filter=[["l_quantity", ">", 30]],
            spark=spark,
        )
        plan = plan_of(df)
        assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30" in plan

    def test_column_pruning_reaches_scan(self, spark, sf_dir, tmp_path):
        os.link(os.path.join(sf_dir, "lineitem.parquet"),
                tmp_path / "lineitem.parquet")
        df = aggregate_plan(
            str(tmp_path / "lineitem.parquet"),
            ["l_returnflag"],
            [["l_quantity", "sum", "s"]],
            spark=spark,
        )
        plan = plan_of(df)
        scan = next(l for l in plan.splitlines() if "FileScan" in l)
        # the scan must read exactly the 2 needed columns of the 11
        assert "l_returnflag" in scan and "l_quantity" in scan
        assert "l_extendedprice" not in scan and "l_shipdate" not in scan

    def test_partial_aggregation_before_shuffle(self, spark, sf_dir):
        df = aggregate_plan(
            os.path.join(sf_dir, "lineitem.parquet"),
            ["l_returnflag"],
            [["l_quantity", "sum", "s"]],
            spark=spark,
        )
        plan = plan_of(df)
        # two-phase hash agg: partial_sum on the map side
        assert "partial_sum" in plan

    def test_no_python_in_aggregation_path(self, spark, sf_dir):
        df = aggregate_plan(
            os.path.join(sf_dir, "lineitem.parquet"),
            ["l_returnflag", "l_linestatus"],
            [["l_quantity", "mean"], ["l_extendedprice", "std"]],
            data_filter=[["l_returnflag", "in", ["A", "R"]]],
            spark=spark,
        )
        assert "EvalPython" not in plan_of(df)

    def test_small_input_plans_file_scan(self, spark, sf_dir):
        """Small inputs plan like large ones: a FileScan with the filter
        pushed down, never a persisted InMemoryTableScan."""
        df = aggregate_plan(
            os.path.join(sf_dir, "lineitem.parquet"),
            ["l_returnflag"],
            [["l_quantity", "sum", "s"]],
            data_filter=[["l_quantity", ">", 30]],
            spark=spark,
        )
        plan = plan_of(df)
        assert "FileScan" in plan and "InMemoryTableScan" not in plan
        assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30" in plan

    def test_multifile_single_query(self, spark, sf_dir):
        path = os.path.join(sf_dir, "orders.parquet")
        single = aggregate_pq(path, [], [["o_totalprice", "count", "n"]])
        double = aggregate_pq([path, path], [], [["o_totalprice", "count", "n"]])
        assert double.column("n").to_pylist()[0] == 2 * single.column("n").to_pylist()[0]

    def test_multifile_schema_drift_splice(self, spark, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        f1 = str(tmp_path / "a.parquet")
        f2 = str(tmp_path / "b.parquet")
        pq.write_table(pa.table({"d": [1, 1], "m": [10.0, 20.0]}), f1)
        pq.write_table(pa.table({"d": [2]}), f2)  # m missing here
        r = aggregate_pq([f1, f2], ["d"], [["m", "sum", "s"]])
        got = {row["d"]: row["s"] for row in r.to_pylist()}
        assert got == {1: 30.0, 2: None}  # mergeSchema: absent → null → sum null

    def test_multifile_missing_file_skipped_or_raises(self, spark, sf_dir):
        path = os.path.join(sf_dir, "orders.parquet")
        r = aggregate_pq([path, "/nope.parquet"], [], [["o_totalprice", "count", "n"]])
        assert r.num_rows == 1
        with pytest.raises(OSError):
            aggregate_pq(
                [path, "/nope.parquet"], [], [["o_totalprice", "count", "n"]],
                handle_missing_file=False,
            )


class TestTopKAndJoins:
    def test_topk_has_no_global_sort(self, spark, sf_dir):
        df = (
            spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
            .orderBy(F.col("o_totalprice").desc())
            .limit(5)
        )
        assert "TakeOrderedAndProject" in plan_of(df)

    def test_dim_join_broadcasts(self, spark, sf_dir):
        cust = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
        nat = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
        j = cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        assert "BroadcastHashJoin" in plan_of(j)

    def test_bucketed_join_is_shuffle_free(self, spark, sf_dir, tmp_path_factory):
        """Bucketing both sides on the join key pre-partitions data so the
        join needs no Exchange at all — the co-located-join strategy for
        repeatedly-joined 100 TB tables."""
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")
        orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
        cust = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
        (orders.write.bucketBy(8, "o_custkey").sortBy("o_custkey")
         .mode("overwrite").saveAsTable("b_orders"))
        (cust.write.bucketBy(8, "c_custkey").sortBy("c_custkey")
         .mode("overwrite").saveAsTable("b_customer"))
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = spark.table("b_orders").join(
                spark.table("b_customer"),
                F.col("o_custkey") == F.col("c_custkey"),
            )
            plan = plan_of(j)
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan  # bucketing removed the shuffle
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
            spark.sql("DROP TABLE IF EXISTS b_orders")
            spark.sql("DROP TABLE IF EXISTS b_customer")

    def test_aqe_coalesces_small_shuffles(self, spark, sf_dir):
        df = (
            spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
            .groupBy("l_returnflag")
            .agg(F.sum("l_quantity"))
        )
        df.collect()
        final = df._jdf.queryExecution().executedPlan().toString()
        assert "AQEShuffleRead coalesced" in final or "coalesced" in final


class TestAnnIndexLayout:
    def test_probe_prunes_partitions_end_to_end(self, spark, sf_dir,
                                                tmp_path_factory):
        """write_ann_index → cosine_topk_indexed: the probe's bucket IN-list
        must surface as a PartitionFilter (directory-level pruning — the
        scan never opens non-probed buckets), and the indexed result must
        equal the unindexed LSH path on the same corpus."""
        from parquery_spark.operators import similarity

        emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        idx = str(tmp_path_factory.mktemp("ann") / "index")
        similarity.write_ann_index(
            emb, idx, num_planes=6, seed=7, dim=64
        )
        query = [float((i * 7) % 13 - 6) for i in range(64)]
        probe = similarity.cosine_topk_indexed(
            spark, idx, query, k=5, num_planes=6, probe_hamming=1, seed=7
        )
        plan = plan_of(probe)
        scan = next(l for l in plan.splitlines() if "FileScan" in l)
        assert "PartitionFilters" in scan and "bucket" in scan.split(
            "PartitionFilters", 1)[1]
        # pruning is real: the scan reads |ball|=7 of the 2^6 buckets
        n_buckets = (
            spark.read.parquet(idx).select("bucket").distinct().count()
        )
        ball = similarity.hamming_ball(0, 6, 1)
        assert len(ball) == 7 < n_buckets
        # parity with the unindexed multi-probe path
        baseline = similarity.cosine_topk_lsh(
            emb, query, k=5, num_planes=6, probe_hamming=1, seed=7
        )
        assert [tuple(r) for r in probe.collect()] == [
            tuple(r) for r in baseline.collect()
        ]


class TestIvfIndexLayout:
    def test_ivf_probe_prunes_and_recalls(self, spark, sf_dir,
                                          tmp_path_factory):
        """Train → assign → write partitioned by cell → probe: the probe's
        cell IN-list must be a PartitionFilter, nprobe=k must equal exact
        brute-force top-k (recall 1.0 by construction), and a small nprobe
        must recall most of it."""
        from parquery_spark.operators import ivf, similarity

        emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        cents = ivf.train_ivf_centroids(emb, k=8, max_iter=10, seed=7)
        assert cents.shape == (8, 64)
        idx = str(tmp_path_factory.mktemp("ivf") / "index")
        ivf.write_ivf_index(emb, idx, cents)

        query = [float((i * 5) % 11 - 5) for i in range(64)]
        probe = ivf.ivf_topk(spark, idx, cents, query, k=10, nprobe=2)
        plan = plan_of(probe)
        scan = next(l for l in plan.splitlines() if "FileScan" in l)
        assert "PartitionFilters" in scan and "cell" in scan.split(
            "PartitionFilters", 1)[1]

        exact = {
            r["vec_id"]
            for r in similarity.cosine_topk(emb, query, k=10).collect()
        }
        # nprobe = all cells ⇒ identical to brute force
        full = ivf.ivf_topk(spark, idx, cents, query, k=10, nprobe=8)
        assert {r["vec_id"] for r in full.collect()} == exact
        # nprobe=2 of 8 cells still recalls most of the true top-10
        got = {r["vec_id"] for r in probe.collect()}
        assert len(got & exact) >= 5

    def test_ivf_assignment_deterministic(self, spark, sf_dir):
        from parquery_spark.operators import ivf

        emb = spark.read.parquet(
            os.path.join(sf_dir, "embeddings.parquet")
        ).limit(50)
        cents = ivf.train_ivf_centroids(emb, k=4, max_iter=5, seed=7)
        a = {r["vec_id"]: r["cell"]
             for r in ivf.ivf_assign(emb, cents).collect()}
        b = {r["vec_id"]: r["cell"]
             for r in ivf.ivf_assign(emb, cents).collect()}
        assert a == b and len(set(a.values())) > 1


class TestRound3PlanShapes:
    """Plan-shape pins for the round-3 operators: the properties that make
    them 100 TB-safe must be visible in the physical plan."""

    def test_pack_shards_window_is_partitioned(self, spark, sf_dir):
        """The prefix sum must be a bucket-partitioned parallel window,
        not Spark's single-task global ``SUM OVER (ORDER BY)``.  Round 9:
        ONE exchange (hash on the literal-derived bucket id) — the old
        shape paid a range exchange AND a second __pid hash exchange and
        pinned a correctness-critical cache; the bucket boundaries are
        now plan literals, so there is nothing to cache."""
        from parquery_spark.functions.text import token_count
        from parquery_spark.operators.packing import pack_shards

        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        out = pack_shards(docs.select("doc_id", "text"),
                          token_count("text"), 4096, "doc_id")
        plan = out._jdf.queryExecution().executedPlan().toString()
        # every Window in the plan carries a partition spec (__pid) and
        # its distribution is the single hash exchange on __pid
        windows = [
            l for l in plan.splitlines()
            if "Window" in l and "windowspecdefinition" in l.lower()
        ]
        assert windows
        assert all("__pid" in l for l in windows)
        assert "hashpartitioning(__pid" in plan
        assert "InMemoryTableScan" not in plan  # nothing persisted

    def test_similarity_bucket_table_stays_in_codegen(self, spark, sf_dir):
        """Plane signatures must be explode-shaped partial aggs — no
        Python eval, no interpreted higher-order folds in the plan."""
        from parquery_spark.operators import similarity as S

        emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        planes = S.hyperplanes(64, 12, 7)
        plan = (
            S.lsh_bucket_table(emb, planes)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "EvalPython" not in plan
        assert "aggregate(" not in plan  # the HOF fold, not HashAggregate
        assert "Generate posexplode" in plan or "posexplode" in plan

    def test_minhash_index_probe_prunes_partitions(self, spark, sf_dir,
                                                   tmp_path_factory):
        """The persisted band-key index must serve a batch probe through
        directory-level pruning: the index FileScan's PartitionFilters
        carries the batch's (band, bk_prefix) predicate, and the indexed
        join returns exactly the unindexed lsh_join's pairs."""
        from parquery_spark.operators import dedup

        docs = spark.read.parquet(
            os.path.join(sf_dir, "documents.parquet")
        ).select("doc_id", "text")
        corpus = docs.filter(F.col("doc_id") % 5 != 0)
        new = docs.filter(F.col("doc_id") % 5 == 0).limit(25)
        idx = str(tmp_path_factory.mktemp("mh") / "idx")
        dedup.write_minhash_index(corpus, idx, "text", "doc_id")

        out = dedup.lsh_join_indexed(spark, idx, new, "text", "doc_id")
        got = sorted(tuple(r) for r in out.collect())
        want = sorted(
            tuple(r)
            for r in dedup.lsh_join(new, corpus, "text", "doc_id").collect()
        )
        assert got == want and got  # identical pairs, non-empty

        plan = out._jdf.queryExecution().executedPlan().toString()
        idx_scans = [
            l for l in plan.splitlines()
            if "FileScan" in l and "idx" in l and "PartitionFilters" in l
        ]
        assert idx_scans
        assert all("PartitionFilters: []" not in l for l in idx_scans)
        assert any("bk_prefix" in l and "INSET" in l for l in idx_scans)

    def test_event_analytics_plan_shapes(self, spark, sf_dir):
        """The round-3 event-analytics set must keep its scale shapes:
        q71/q78 windows partitioned on user_id (never a global window),
        q81 funnel as ONE conditional aggregation (no per-stage
        self-joins), q79's running total as the distributed prefix sum
        (every window partitioned, range-partitioned input)."""
        from parquery_spark.queries import QUERIES

        def plan(name):
            df = QUERIES[name][0](spark, sf_dir)
            return df._jdf.queryExecution().executedPlan().toString()

        for name in ("q71_batch_sessionization",
                     "q78_trailing_window_features"):
            p = plan(name)
            windows = [l for l in p.splitlines() if "Window" in l
                       and "windowspecdefinition" in l.lower()]
            assert windows, name
            assert all("user_id" in l for l in windows), name
            assert "SortMergeJoin" not in p and "EvalPython" not in p, name

        p = plan("q78_trailing_window_features")
        # leakage-safe trailing hour = RANGE frame ending at current row
        assert "RANGE BETWEEN -3600000000 FOLLOWING AND CURRENT ROW" in p \
            or "specifiedwindowframe(RangeFrame" in p, p[:500]

        p = plan("q81_funnel")
        assert "Join" not in p  # funnel depth adds aggregates, not joins
        # conditional first-touch aggregation: min(CASE WHEN ...) partials
        assert "partial_min" in p

        p = plan("q79_cumulative_distinct_users")
        windows = [l for l in p.splitlines() if "Window" in l
                   and "windowspecdefinition" in l.lower()]
        assert windows and all("__pid" in l for l in windows)
        assert "hashpartitioning(__pid" in p

    def test_q101_bucketed_join_is_shuffle_free(self, spark, sf_dir):
        """q101's bucketed tables must join without a shuffle on either
        side.  At gate scale Catalyst prefers broadcasting the small side
        (also shuffle-free); disabling broadcast exposes the bucketed
        sort-merge path — the plan that carries to fact-fact scale — and
        that path must contain NO Exchange below the join."""
        from parquery_spark.queries import QUERIES

        QUERIES["q101_bucketed_join"][0](spark, sf_dir)  # ensure tables
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            df = QUERIES["q101_bucketed_join"][0](spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
            join_pos = plan.find("SortMergeJoin")
            if join_pos == -1:
                join_pos = plan.find("ShuffledHashJoin")
            assert join_pos != -1
            # no shuffle below the join; the only allowed Exchange is the
            # one above it for the final tiny aggregate
            assert "Exchange hashpartitioning" not in plan[join_pos:]
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")

    def test_q98_day_layout_prunes_partitions(self, spark, sf_dir):
        """The day-partitioned event layout must serve the date-range
        aggregate through PartitionFilters — directory pruning, not a
        full-layout scan with a post-filter."""
        from parquery_spark.queries import QUERIES

        df = QUERIES["q98_partitioned_dataset"][0](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        scans = [l for l in plan.splitlines()
                 if "FileScan" in l and "byday" in l]
        assert scans
        assert all("day#" in l.split("PartitionFilters: [", 1)[1]
                   for l in scans if "PartitionFilters: [" in l)
        assert any("PartitionFilters: [" in l
                   and "PartitionFilters: []" not in l for l in scans)

    def test_q65_profile_plan_has_no_expand(self, spark, sf_dir):
        """The oracled column-profile query must run in its corpus-scale
        shape: HLL sketches for multi-column distincts — an Expand node
        (k+1 projections, exact multi-distinct) anywhere in the plan is
        the 100 TB regression this pins against."""
        from parquery_spark.queries import QUERIES

        df = QUERIES["q65_column_profile"][0](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Expand" not in plan

    def test_repetition_profile_ships_counts_not_text(self, spark, sf_dir):
        """The gram shuffles must carry counted grams — partial aggregation
        below every exchange — and never raw document text."""
        from parquery_spark.functions.text import repetition_profile

        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        plan = (
            repetition_profile(docs, "text", "doc_id")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "partial_count" in plan or "partial_sum" in plan
        assert "EvalPython" not in plan

    def test_round4_batch_plan_shapes(self, spark, sf_dir):
        """Round-4 additions keep their scale shapes: q108's top-20 plans
        as TakeOrderedAndProject over broadcast star joins (no global
        sort); q114's ranking likewise, with dfreq/stats broadcast; q104/
        q105 windows all partitioned on user_id; q113's stats join
        broadcasts (no second shuffle of the fact table)."""
        from parquery_spark.queries import QUERIES

        def plan(name):
            df = QUERIES[name][0](spark, sf_dir)
            return df._jdf.queryExecution().executedPlan().toString()

        p = plan("q108_tpch_q10")
        assert "TakeOrderedAndProject(limit=20" in p
        assert "BroadcastHashJoin" in p and "EvalPython" not in p

        p = plan("q114_bm25_topk")
        assert "TakeOrderedAndProject(limit=15" in p
        assert "BroadcastHashJoin" in p and "EvalPython" not in p

        for name in ("q104_scd2_intervals", "q105_event_transitions"):
            p = plan(name)
            windows = [l for l in p.splitlines()
                       if "windowspecdefinition" in l.lower()]
            assert windows, name
            # every window is keyed (user_id upstream, prev_type for the
            # tiny normalization pass) — none global
            assert all("windowspecdefinition(" in l and
                       "windowspecdefinition()" not in l for l in windows)
            up = [l for l in windows if "user_id" in l]
            assert up, name

        p = plan("q113_zscore_outliers")
        assert "BroadcastHashJoin" in p and "EvalPython" not in p

    def test_q110_disjunction_decomposes_to_both_scans(self, spark, sf_dir,
                                                       tmp_path):
        """The OR-of-ANDs predicate must split into per-side implied
        filters that reach BOTH parquet scans as PushedFilters, with the
        scans pruned to the referenced columns — the behavior q110's
        docstring promises at 100 TB (asserted here on the uncached read
        path; the query itself may serve from the size-gated relation
        cache at test scale).  Reads hardlinked copies so CacheManager
        can't substitute a relation another test persisted for the same
        source path."""
        for t in ("lineitem", "part"):
            os.link(os.path.join(sf_dir, f"{t}.parquet"),
                    tmp_path / f"{t}.parquet")
        li = spark.read.parquet(str(tmp_path / "lineitem.parquet"))
        part = spark.read.parquet(str(tmp_path / "part.parquet"))
        j = li.join(part, li["l_partkey"] == part["p_partkey"])
        q, b, s = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
        cond = (
            ((b == "Brand#1") & s.between(1, 15) & q.between(1, 11))
            | ((b == "Brand#2") & s.between(1, 25) & q.between(10, 20))
            | ((b == "Brand#3") & s.between(1, 35) & q.between(20, 30))
        )
        plan = (
            j.where(cond).agg(F.count(F.lit(1)).alias("n"))
            ._jdf.queryExecution().executedPlan().toString()
        )
        # identify the two scans by their pruned read schemas (the plan's
        # Location strings truncate at ~100 chars, so paths can't be used)
        scans = [l for l in plan.splitlines() if "FileScan" in l]
        li_scan = next(l for l in scans if "l_partkey" in l)
        part_scan = next(l for l in scans if "p_partkey" in l)
        assert "l_quantity" in li_scan.split("PushedFilters")[1]
        assert "p_brand" in part_scan.split("PushedFilters")[1]
        # column pruning: only the join key + predicate columns are read
        assert "struct<l_partkey:bigint,l_quantity:double>" in li_scan
        assert "l_extendedprice" not in li_scan

    def test_round4_late_batch_plan_shapes(self, spark, sf_dir):
        """q115's three grains come from ONE scan + Expand (not three
        scans); q127's attribution is a single user_id window pass with
        no join; q128/q132 build no cross joins; q129's drift math joins
        only the tiny totals relation (broadcast)."""
        from parquery_spark.queries import QUERIES

        def plan(name):
            df = QUERIES[name][0](spark, sf_dir)
            return df._jdf.queryExecution().executedPlan().toString()

        p = plan("q115_time_grain_rollup")
        assert "Expand" in p
        assert p.count("Scan") - p.count("InMemoryTableScan") <= 1 or \
            p.count("FileScan") <= 1

        p = plan("q127_attribution")
        assert "Join" not in p
        windows = [l for l in p.splitlines()
                   if "windowspecdefinition" in l.lower()]
        assert windows and all("user_id" in l for l in windows)

        for name in ("q128_co_occurrence", "q132_pagerank"):
            assert "CartesianProduct" not in plan(name), name

        p = plan("q128_co_occurrence")
        assert "TakeOrderedAndProject(limit=25" in p

        p = plan("q129_psi_drift")
        assert "BroadcastHashJoin" in p and "EvalPython" not in p

    def test_aqe_splits_skewed_join(self, spark, tmp_path):
        """AQE skew-join handling: a join where one key holds ~90% of the
        rows gets its oversized partitions SPLIT at runtime (the final
        adaptive plan marks the SortMergeJoin with skew=true) — the
        no-code-change alternative to manual salting (operators/skew.py)
        for unknown hot keys."""
        import pyspark.sql.functions as F

        big = spark.range(0, 200_000).select(
            F.when(F.col("id") % 10 != 0, F.lit(7))
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.col("id").alias("payload"),
        )
        small = spark.range(0, 1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        bpath, spath = str(tmp_path / "big"), str(tmp_path / "small")
        big.write.parquet(bpath)
        small.write.parquet(spath)
        confs = {
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
                "64KB",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        }
        saved = {k: spark.conf.get(k, None) for k in confs}
        for k, v in confs.items():
            spark.conf.set(k, v)
        try:
            # no aggregation keyed on the join key downstream: a required
            # hash distribution on k would veto the skew split (AQE won't
            # break a required partitioning)
            # keep `payload` in the output: column pruning would otherwise
            # shuffle only the constant hot key, which compresses below
            # any skew threshold
            j = (
                spark.read.parquet(bpath)
                .join(spark.read.parquet(spath), "k")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.col("payload") + F.col("v")).alias("chk"),
                )
            )
            rows = j.collect()  # .first() would execute a separate
            # limit-plan and leave this one unexecuted (isFinalPlan=false)
            assert rows[0].n == 200_000
            final = j._jdf.queryExecution().executedPlan().toString()
            assert "skew=true" in final
        finally:
            for k, v in saved.items():
                if v is not None:
                    spark.conf.set(k, v)
                else:
                    spark.conf.unset(k)


class TestContinuation2PlanShapes:
    def test_tpch_and_pipeline_batch_shapes(self, spark, sf_dir, tmp_path):
        """Session-2 additions keep their scale shapes: q151 pushes all
        three Q6 predicates to the scan (asserted on the uncached read
        path — the query itself may serve from the size-gated relation
        cache at test scale); q152/q153 broadcast every dimension leg;
        q154's arg-max is a broadcast scalar join, not a window; q158's
        closing join broadcasts the packed edge set so the wedge stream
        never shuffles; q161's Gram merge has no Python in the aggregate
        path beyond the single mapInPandas; q163's suite is ONE
        aggregate (single scan)."""
        from parquery_spark.queries import QUERIES

        def plan(name):
            df = QUERIES[name][0](spark, sf_dir)
            return df._jdf.queryExecution().executedPlan().toString()

        os.link(os.path.join(sf_dir, "lineitem.parquet"),
                tmp_path / "lineitem.parquet")
        li = spark.read.parquet(str(tmp_path / "lineitem.parquet"))
        p = (
            li.where(
                (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
                & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
                & (F.col("l_discount") >= 0.05)
                & (F.col("l_discount") <= 0.07)
                & (F.col("l_quantity") < 24)
            )
            .agg(F.sum(F.col("l_extendedprice") * F.col("l_discount")))
            ._jdf.queryExecution().executedPlan().toString()
        )
        scan = next(l for l in p.splitlines() if "FileScan" in l)
        pushed = scan.split("PushedFilters")[1]
        for col in ("l_shipdate", "l_discount", "l_quantity"):
            assert col in pushed, col
        # pruned to exactly the 4 referenced columns
        assert "l_orderkey" not in scan.split("ReadSchema")[1]

        for name in ("q152_tpch_q7", "q153_tpch_q8"):
            p = plan(name)
            assert p.count("BroadcastHashJoin") >= 3, name
            assert "EvalPython" not in p, name

        p = plan("q154_tpch_q15")
        assert "BroadcastHashJoin" in p
        assert "windowspecdefinition" not in p.lower()

        # q158's query-level plan is now a materialized one-row summary
        # (triangle_stats owner-releases its iteration caches before
        # returning), so the join shape is asserted on the operator's
        # lazy form; the three persists it registers are cleared after
        from parquery_spark.operators.graph import triangle_stats
        from parquery_spark.queries import load

        li = load(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey"
        )
        edges = (
            li.select(F.col("l_orderkey").alias("k"),
                      F.col("l_partkey").alias("u"))
            .join(li.select(F.col("l_orderkey").alias("k"),
                            F.col("l_partkey").alias("v")), "k")
            .where(F.col("u") < F.col("v"))
            .select("u", "v")
            .distinct()
        )
        tri = triangle_stats(edges, materialize=False)
        p = tri._jdf.queryExecution().executedPlan().toString()
        spark.catalog.clearCache()  # release the inspection-only persists
        assert "BroadcastHashJoin" in p

        p = plan("q161_gram_matrix")
        # one Python boundary (the mapInPandas partials), then pure
        # JVM partial/final aggregation on (i, j)
        assert p.count("MapInPandas") == 1
        assert "partial_sum" in p or "Partial" in p

        p = plan("q163_quality_suite")
        # the five non-relational checks collapse into ONE scan of
        # orders plus the referential anti-join's scan
        orders_scans = [
            l for l in p.splitlines()
            if "FileScan" in l and "o_orderkey" in l
        ]
        assert len(orders_scans) <= 2

    def test_sequence_packing_prefix_sum_is_partitioned(self, spark, sf_dir):
        from parquery_spark.queries import QUERIES

        df = QUERIES["q168_sequence_packing"][0](spark, sf_dir)
        df.collect()
        p = df._jdf.queryExecution().executedPlan().toString()
        windows = [
            l for l in p.splitlines() if "windowspecdefinition" in l.lower()
        ]
        # prefix_sum windows are keyed by __pid — never a global window
        assert windows
        assert all("__pid" in l for l in windows)


class TestContinuation2LateBatchShapes:
    def test_ivm_quality_sketch_estimator_shapes(self, spark, sf_dir):
        """q162's merge is a full-outer on the GROUP key (groups-sized,
        never the fact); q164's window merge unions sketches, not raw
        day-user rows (no second count_distinct Expand in the merged
        branch); q176's 16 replicates come from ONE scan (broadcast
        fan-out, single aggregate pair); q185's top-50 plans as
        TakeOrderedAndProject with broadcast popularity joins."""
        from parquery_spark.queries import QUERIES

        def plan(name):
            df = QUERIES[name][0](spark, sf_dir)
            return df._jdf.queryExecution().executedPlan().toString()

        p = plan("q162_incremental_view_maintenance")
        assert "FullOuter" in p or "full_outer" in p.lower()
        assert "EvalPython" not in p

        p = plan("q164_rolling_sketch_wau")
        assert "hll_union_agg" in p.lower() or "HllUnionAgg" in p

        p = plan("q176_bootstrap_ci")
        assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
        fscans = [l for l in p.splitlines() if "FileScan" in l]
        assert len(fscans) <= 1  # one scan feeds all 16 replicates

        p = plan("q185_item_similarity")
        assert "TakeOrderedAndProject(limit=50" in p
        assert "BroadcastHashJoin" in p


class TestRuntimeOptimizations:
    """Pin the three RUNTIME re-planning mechanisms a 100 TB deployment
    leans on: AQE join-strategy switching, dynamic partition pruning,
    and runtime bloom-filter semi-join pushdown."""

    def test_aqe_switches_smj_to_broadcast_at_runtime(self, spark, sf_dir):
        """Static planning can't see that the filtered build side is
        tiny; AQE measures the actual shuffle output and swaps the
        sort-merge join for a broadcast join mid-query."""
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # the adaptive threshold DEFAULTS to the static one — it must be
        # set explicitly or disabling static broadcast disables the swap
        spark.conf.set(
            "spark.sql.adaptive.autoBroadcastJoinThreshold", "64m"
        )
        try:
            li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
            orders = spark.read.parquet(
                os.path.join(sf_dir, "orders.parquet")
            ).where("o_totalprice > 400000")
            j = li.join(
                orders, F.col("l_orderkey") == F.col("o_orderkey")
            ).agg(F.count(F.lit(1)).alias("n"))
            j.collect()
            p = plan_of(j)
            assert "isFinalPlan=true" in p
            assert "BroadcastHashJoin" in p  # AQE's runtime swap
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            spark.conf.unset(
                "spark.sql.adaptive.autoBroadcastJoinThreshold"
            )

    def test_dynamic_partition_pruning_from_dim_filter(self, spark,
                                                       tmp_path):
        """A day-partitioned fact joined to a FILTERED dim prunes fact
        partitions via a runtime subquery (dynamicpruningexpression in
        PartitionFilters).  Hazard pinned here: the dim filter must be
        'likely selective' (a comparison/IN — a bare boolean attribute
        filter does NOT trigger DPP insertion)."""
        ev = spark.createDataFrame(
            [(i, f"2024-01-{1 + i % 20:02d}") for i in range(2000)],
            "event_id long, day_s string",
        ).select("event_id", F.col("day_s").cast("date").alias("day"))
        fact_dir = str(tmp_path / "fact")
        ev.repartition("day").write.partitionBy("day").parquet(fact_dir)
        dim_dir = str(tmp_path / "dim")
        ev.select("day").distinct().withColumn(
            "keep", F.dayofmonth("day") <= 3
        ).write.parquet(dim_dir)
        fact = spark.read.parquet(fact_dir)
        dim = spark.read.parquet(dim_dir).where(F.dayofmonth("day") <= 3)
        q = fact.join(
            dim.withColumnRenamed("day", "d"),
            F.col("day") == F.col("d"),
        ).select("event_id")
        p = plan_of(q)
        assert "dynamicpruning" in p.lower()
        # and filtering on a MATERIALIZED boolean column must NOT — the
        # stored attribute can't be inlined into a comparison, and a bare
        # boolean reference is not 'likely selective' (documents the trap;
        # a boolean computed in the same plan IS inlined and still fires)
        dim2 = spark.read.parquet(dim_dir).where("keep")
        q2 = fact.join(
            dim2.withColumnRenamed("day", "d"),
            F.col("day") == F.col("d"),
        ).select("event_id")
        assert "dynamicpruning" not in plan_of(q2).lower()

    def test_runtime_bloom_filter_semi_join(self, spark, sf_dir):
        """With thresholds sized to the data, the optimizer injects a
        bloom-filter built from the filtered dim into the fact scan —
        the runtime row-level complement to DPP for non-partitioned
        join keys."""
        confs = {
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        }
        prev = {k: spark.conf.get(k) for k in confs}
        for k, v in confs.items():
            spark.conf.set(k, v)
        try:
            li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
            orders = spark.read.parquet(
                os.path.join(sf_dir, "orders.parquet")
            ).where("o_totalprice > 400000")
            j = li.join(
                orders, F.col("l_orderkey") == F.col("o_orderkey")
            ).agg(F.count(F.lit(1)).alias("n"))
            p = plan_of(j)
            assert "might_contain" in p.lower() or "bloomfilter" in p.lower()
        finally:
            for k, v in prev.items():
                spark.conf.set(k, v)


class TestRound5PlanShapes:
    def test_glob_reads_as_one_merged_scan(self, spark, tmp_path):
        """A glob over drifting-schema files must plan as ONE FileScan
        whose merged ReadSchema carries the drifted column — not one scan
        per file unioned, and not the first file's schema."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        pq.write_table(
            pa.table({"k": [1, 2], "m": [1.0, 2.0]}),
            str(tmp_path / "gen1.parquet"),
        )
        pq.write_table(
            pa.table({"k": [3], "m": [3.0], "extra": ["x"]}),
            str(tmp_path / "gen2.parquet"),
        )
        df = aggregate_plan(
            str(tmp_path / "gen*.parquet"),
            ["extra"],
            [["m", "sum", "s"]],
            spark=spark,
        )
        plan = plan_of(df)
        scans = [l for l in plan.splitlines() if "FileScan" in l]
        assert len(scans) == 1
        assert "extra" in scans[0]  # merged schema, not gen1's
        rows = {r["extra"]: r["s"] for r in df.collect()}
        assert rows == {None: 3.0, "x": 3.0}

    def test_kmeans_assign_fans_out_single_split_corpus(self, spark):
        """The n*k*d distance evaluation must not run in one task when the
        corpus arrives as a single split: the exploded relation feeding
        every Lloyd round must carry MORE partitions than its one-split
        input (i.e. fan_out's repartition actually fired)."""
        from pyspark.sql import functions as F

        from parquery_spark.operators.semdedup import _explode

        # big enough to clear fan_out's optimizer-size floor, one split
        emb = (
            spark.range(40000)  # range stats ~8B/row: clear the 128KiB floor
            .select(
                F.col("id").alias("vec_id"),
                F.array(*[F.rand(seed=i) for i in range(8)]).alias(
                    "embedding"
                ),
            )
            .coalesce(1)
        )
        assert emb.rdd.getNumPartitions() == 1
        expl = _explode(emb, "vec_id", "embedding")
        try:
            assert expl.rdd.getNumPartitions() > 1
        finally:
            expl.unpersist()

    def test_semdedup_prune_has_no_window_or_cartesian(self, spark, sf_dir):
        from parquery_spark import relations
        from parquery_spark.operators.semdedup import semdedup

        emb = relations.get_relation(
            spark, os.path.join(sf_dir, "embeddings.parquet")
        )
        out = semdedup(emb, k=4, iters=1, threshold=0.4)
        plan = plan_of(out)
        assert "CartesianProduct" not in plan
        assert "Window" not in plan  # argmin is the struct-min aggregate

    def test_fuzzy_join_spreads_explode(self, spark):
        """fuzzy_join's deletion-variant keying explodes each string
        len+1-fold — a single-partition input must be spread first.
        Asserted on the PLAN: an Exchange (fan_out's repartition) must sit
        below the Generate that does the explode; without it the whole
        len(s)-fold key explosion runs in the input's one task."""
        from parquery_spark.operators.dedup import fuzzy_join

        rows = [
            (i, f"somewhat-longer-name-{i:06d}") for i in range(20000)
        ]
        df = spark.createDataFrame(rows, "id long, s string").coalesce(1)
        out = fuzzy_join(df, df, "s", "s", "id", "id")
        plan = plan_of(out)
        gen = plan.find("Generate explode")
        assert gen != -1
        # at least one Exchange BELOW (i.e. printed after) the last
        # Generate: the spread happens before the explode consumes rows
        assert "Exchange" in plan[gen:]

    def test_resample_calendar_has_no_cartesian_and_partitioned_fill(
        self, spark, sf_dir
    ):
        """q207's densify: the calendar must come from a JVM-side
        sequence() explode (rows = keys x span days), NEVER a cross
        join against a generated range, and the forward-fill window
        must be hash-partitioned on the key (no single-task window)."""
        from parquery_spark import relations
        from parquery_spark.operators.timeseries import resample_daily

        orders = relations.get_relation(
            spark, os.path.join(sf_dir, "orders.parquet")
        )
        dense = resample_daily(
            orders.select(
                F.col("o_orderpriority").alias("priority"),
                "o_orderdate", "o_totalprice",
            ),
            keys=["priority"],
            day_col="o_orderdate",
            aggs={"n": F.count(F.lit(1))},
            zero_fill=["n"],
            ffill=[],
        )
        plan = plan_of(dense)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "Generate explode(sequence(" in plan

    def test_exact_quantiles_window_runs_on_histogram_not_rows(
        self, spark, sf_dir
    ):
        """q209's selection: the per-flag cumulative window must consume
        the (flag, cents) HISTOGRAM (a partial-aggregated HashAggregate
        sits below the Window), never raw rows — that is the whole
        domain-bounded-cardinality contract."""
        import __spark_entry__ as e

        df = e.queries()["q209_exact_quantiles"](spark, sf_dir)
        plan = plan_of(df)
        win = plan.find("Window")
        assert win != -1
        below = plan[win:]
        assert "HashAggregate" in below and "partial_count" in below

    def test_quantize_int8_is_a_pure_narrow_map(self, spark, sf_dir):
        """Quantization must add ZERO exchanges — a narrow map over the
        scan (scales with IO bandwidth alone) with no Python in the row
        path."""
        from parquery_spark import relations
        from parquery_spark.operators.quantize import quantize_int8

        emb = relations.get_relation(
            spark, os.path.join(sf_dir, "embeddings.parquet")
        )
        plan = plan_of(quantize_int8(emb))
        assert "Exchange" not in plan
        assert "Python" not in plan  # no BatchEvalPython / ArrowEvalPython

    def test_bpe_pair_counts_partial_aggregate_before_shuffle(self, spark):
        """The BPE kernel's shuffle must carry (a, b, partial count),
        never the exploded pair stream: a partial HashAggregate sits
        below the Exchange."""
        from parquery_spark.operators.bpe import _pair_counts, symbolize

        words = spark.createDataFrame(
            [(f"word{i % 7}",) for i in range(100)], ["word"]
        )
        plan = plan_of(_pair_counts(symbolize(words)))
        ex = plan.find("Exchange hashpartitioning(a")
        assert ex != -1
        assert "HashAggregate" in plan[ex:]  # partial agg below the shuffle

    def test_pq_adc_scan_is_broadcast_lookup_with_partial_agg(
        self, spark, sf_dir
    ):
        """q211's ADC scan: the per-query m x k lookup table must join
        into the code scan as a BROADCAST (KB-scale metadata, never a
        shuffle of the corpus), and the distance sum must partial-
        aggregate below its exchange.  Full-precision vectors must not
        appear on the scan side at all."""
        from parquery_spark import relations
        from parquery_spark.operators.pq import adc_topk, pq_train

        emb = relations.get_relation(
            spark, os.path.join(sf_dir, "embeddings.parquet")
        ).select("vec_id", "embedding")
        codes, book = pq_train(emb, m=4, k=4, iters=1)
        qrows = emb.limit(2).collect()
        queries = spark.createDataFrame(
            [(int(r["vec_id"]), [float(x) for x in r["embedding"]])
             for r in qrows],
            "q_id long, q_vec array<double>",
        )
        out = adc_topk(codes, book, queries, topk=5, m=4)
        plan = plan_of(out)
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan
        ex = plan.find("Exchange hashpartitioning(q_id")
        assert ex != -1
        assert "HashAggregate" in plan[ex:]
        # the per-query top-k must be WindowGroupLimit-pruned: each
        # partition keeps its local top-k BEFORE the q_id exchange, so
        # no task sorts a corpus-sized candidate set
        assert "WindowGroupLimit" in plan


class TestSubstringSpanPlans:
    @staticmethod
    def _uncached_docs(spark, sf_dir, tmp_path):
        # hardlinked copy: the CacheManager substitutes a cached
        # InMemoryRelation into ANY same-path read (hazard), which would
        # put an InMemoryTableScan at the leaf and mask the zero-cache
        # assertions below when other tests have warmed the relation
        link = tmp_path / "documents.parquet"
        if not link.exists():
            os.link(os.path.join(sf_dir, "documents.parquet"), link)
        return spark.read.parquet(str(link))

    def test_no_cartesian_no_python_partial_agg(self, spark, sf_dir,
                                                tmp_path):
        from parquery_spark.operators.dedup import (
            substring_dedup_stats,
            substring_spans,
        )

        docs = self._uncached_docs(spark, sf_dir, tmp_path)
        for df in (
            substring_spans(docs, min_tokens=8, max_gram_occ=64),
            substring_dedup_stats(docs, min_tokens=8, max_gram_occ=64),
        ):
            plan = plan_of(df)
            # the pair join is an equi-join on the gram key, never a
            # cross product, and the whole pipeline stays JVM-side
            assert "CartesianProduct" not in plan
            assert "BroadcastNestedLoop" not in plan
            assert "EvalPython" not in plan
            # span merge aggregates partially before its exchange (the
            # corpus-sized aggregation); the self-join sides share one
            # gram derivation with NO persisted intermediate (alias
            # self-join — ReuseExchange unifies the sides at execution)
            assert "partial_min" in plan
            assert "InMemoryTableScan" not in plan

    def test_self_join_reuses_exchange_not_cache(self, spark, sf_dir,
                                                  tmp_path):
        """The dedup self-joins' zero-cache contract is only honest if
        ReuseExchange actually unifies the two sides: after execution,
        the final adaptive plan must contain a ReusedExchange and no
        InMemoryTableScan — the expensive map subtree ran once."""
        from parquery_spark.operators.dedup import (
            lsh_candidate_pairs,
            lsh_verified_pairs,
            simhash_candidates,
            substring_spans,
        )

        docs = self._uncached_docs(spark, sf_dir, tmp_path)
        for df in (
            substring_spans(docs, min_tokens=8, max_gram_occ=64),
            lsh_candidate_pairs(docs, "text", "doc_id"),
            simhash_candidates(docs, "text", "doc_id", bits=60, bands=5),
            lsh_verified_pairs(docs, "text", "doc_id"),
        ):
            df.collect()  # AQE reuse is visible in the FINAL plan
            plan = plan_of(df)
            cut = plan.find("== Initial Plan ==")
            if cut != -1:
                plan = plan[:cut]
            assert "ReusedExchange" in plan
            assert "InMemoryTableScan" not in plan

    def test_two_consumer_queries_reuse_exchange_at_runtime(
            self, spark, sf_dir):
        """Round-9 contract: the former persist sites now share their
        multi-consumer relations through ReuseExchange at RUNTIME (the
        lazy plan can't show it under AQE) — and through a real scan,
        not a table cache (a TableCacheQueryStage source defeats AQE
        exchange reuse entirely on Spark 4.1; that is why load() is
        uncached)."""
        from parquery_spark.operators.reuse import final_plan
        from parquery_spark.queries import QUERIES

        for name in (
            "q73_tfidf_top_terms",      # tf/df over one counted grain
            "q74_unigram_logprob",      # vocab + derived normalizer
            "q154_tpch_q15",            # max branch + join-back
            "q175_partition_repair_diff",  # two checksum sides
            "q185_item_similarity",     # alias self-join + popularity
        ):
            df = QUERIES[name][0](spark, sf_dir)
            df.collect()
            plan = final_plan(df)
            assert "ReusedExchange" in plan, name
            assert "InMemoryTableScan" not in plan, name
        # q219 left this list in round 10: its four histogram consumers
        # now share the _word_hist stat-keyed ARTIFACT (the explicit,
        # labeled form of sharing) — assert the plan scans the artifact
        # parquet and still holds the no-table-cache contract
        df = QUERIES["q219_source_kl_divergence"][0](spark, sf_dir)
        df.collect()
        plan = final_plan(df)
        assert "pqs_wordhist" in plan
        assert "InMemoryTableScan" not in plan

    def test_verified_pairs_shingles_twice_not_four_times(
            self, spark, sf_dir, tmp_path):
        """lsh_verified_pairs' documented contract: the corpus is
        shingled once for the signature pass and once (SHARED by both
        alias verify sides via ReuseExchange) for verification — the
        pre-renamed sides used to execute it four times per call."""
        from parquery_spark.operators.dedup import lsh_verified_pairs

        docs = self._uncached_docs(spark, sf_dir, tmp_path)
        df = lsh_verified_pairs(docs, "text", "doc_id")
        df.collect()
        plan = plan_of(df)
        cut = plan.find("== Initial Plan ==")
        if cut != -1:
            plan = plan[:cut]
        shingle_sites = sum(
            1 for line in plan.splitlines()
            if "array_distinct" in line and "Project" in line
        )
        assert shingle_sites == 2, plan

    def test_hash_gram_key_shuffles_hashes_not_strings(self, spark,
                                                       sf_dir, tmp_path):
        """gram_key='hash' (the petabyte-shuffle form) must join on the
        two xxhash64 columns and keep the raw gram string out of every
        exchange: the shuffled row is (id, pos, 16 bytes), not the
        ~50-byte gram text."""
        from parquery_spark.operators.dedup import substring_spans

        docs = self._uncached_docs(spark, sf_dir, tmp_path)
        plan = plan_of(
            substring_spans(docs, min_tokens=8, gram_key="hash")
        )
        assert "xxhash64" in plan
        for line in plan.splitlines():
            if "Exchange hashpartitioning" in line:
                assert "gram#" not in line, line
                assert "g1#" in line or "doc_a" in line or "__id" in line
