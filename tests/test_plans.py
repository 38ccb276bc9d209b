"""Physical-plan regression tests: the scale properties SURVEY §4 relies on
must be visible in the executed plan, not just assumed.

- filters/projections reach the parquet scan (PushedFilters / ReadSchema)
- dimension lookups broadcast (no sort-merge exchange for small dims)
- aggregation is map-side partial before its one shuffle
- conditional_split ports share a single pruned scan shape
"""

from __future__ import annotations

import re

import pytest

from ssis_to_pyspark_agent_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def read_schemas(df) -> list[set[str]]:
    out = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)", plan_of(df)):
        out.append({f.split(":")[0] for f in m.group(1).split(",") if f})
    return out


class TestScanPushdown:
    def test_q01_filter_pushed_and_pruned(self, spark):
        df = QUERIES["q01_agg_pricing_summary"](spark, SF)
        p = plan_of(df)
        assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p
        for schema in read_schemas(df):
            assert "l_orderkey" not in schema  # pruned: only 6 of 11 columns
            assert "l_partkey" not in schema

    def test_engine_filter_op_pushes_ssis_expression(self, spark):
        df = QUERIES["q23_sampling_modes"](spark, SF)
        # modulo predicate compiled from the operator reaches the scan as a
        # data filter (partial pushdown) rather than a post-scan-only filter
        assert "Filter" in plan_of(df)

    def test_q09_split_scan_pruned(self, spark):
        # earlier tests may have cached a full-width orders relation;
        # Spark's cache plan-matching would substitute it into this scan
        spark.catalog.clearCache()
        df = QUERIES["q09_conditional_split_route"](spark, SF)
        schemas = read_schemas(df)
        assert schemas, "expected a parquet scan"
        for s in schemas:
            # `route` appears only in the JSON round-trip scan (the urgent
            # port re-enters through source.json); the parquet scan itself
            # stays pruned to the 4 needed columns
            assert s <= {"o_orderkey", "o_orderstatus", "o_totalprice",
                         "o_orderpriority", "route"}


class TestJoinStrategies:
    def test_lookup_broadcasts(self, spark):
        df = QUERIES["q03_lookup_chain"](spark, SF)
        p = plan_of(df)
        assert "BroadcastHashJoin" in p
        assert "SortMergeJoin" not in p

    def test_full_join_null_safe_keys_present(self, spark):
        df = QUERIES["q05_merge_join_full"](spark, SF)
        assert "FullOuter" in plan_of(df)

    def test_term_lookup_is_equi_join_not_cartesian(self, spark):
        # explode + broadcast equi-join: linear in tokens; a crossJoin here
        # would be O(docs x terms x doc_len) — a 100 TB scale-killer.
        # Asserted on the OPERATOR's own plan: the full q53 plan now
        # legitimately carries one BroadcastNestedLoopJoin (lm_score's
        # 1-row vocab-scalar broadcast — Catalyst folds any constant
        # equi-key away, so a scalar cross join can't plan as BHJ).
        from ssis_to_pyspark_agent_spark.operators import get_operator

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        terms = spark.createDataFrame(
            [("data",), ("query",), ("stream",)], "term string"
        )
        out = get_operator("term_lookup")(
            spark, [docs, terms], {"text_col": "text", "term_col": "term"}, {}
        )
        p = plan_of(out)
        assert "BroadcastHashJoin" in p
        assert "BroadcastNestedLoopJoin" not in p
        assert "CartesianProduct" not in p
        # full-query guard: a real cartesian is still forbidden, and the
        # only tolerated BNLJ build sides are lm_score's 1-row vocab
        # scalars (round 9: the quantization-floor prune adds a second
        # one — stats-side prune filter + doc-side fallback)
        pq = plan_of(QUERIES["q53_term_text_stats"](spark, SF))
        assert "CartesianProduct" not in pq
        assert pq.count("BroadcastNestedLoopJoin") <= 2

    def test_semi_anti_strategies(self, spark):
        both = QUERIES["q06_join_semi_anti"](spark, SF)
        p = plan_of(both)
        assert "LeftSemi" in p
        assert "LeftAnti" in p


class TestAggregation:
    def test_partial_agg_before_shuffle(self, spark):
        df = QUERIES["q01_agg_pricing_summary"](spark, SF)
        p = plan_of(df)
        assert "partial_" in p  # map-side combine
        assert p.count("Exchange") >= 1

    def test_single_shuffle_for_groupby(self, spark):
        df = QUERIES["q51_agg_distinct_stringagg"](spark, SF)
        # count(distinct) expands but must not multiply base-table scans
        assert plan_of(df).count("Scan parquet") == 1


class TestCachedPlanPartitioning:
    def test_persisted_tiny_shuffle_coalesces(self, spark):
        # r12: canChangeCachedPlanOutputPartitioning=true lets AQE
        # re-optimize the plan that MATERIALIZES a persisted frame —
        # a tiny post-shuffle cache must coalesce below the static
        # shuffle width instead of freezing it into the cached relation
        # (q50's split cache held 32 partitions for ~1.2k rows; every
        # downstream scan paid the full width)
        from pyspark.sql import functions as F

        df = (
            spark.range(100)
            .groupBy((F.col("id") % 10).alias("k"))
            .count()
            .persist()
        )
        try:
            df.count()  # fill
            width = df.rdd.getNumPartitions()
            static = int(spark.conf.get("spark.sql.shuffle.partitions"))
            assert width < static, (width, static)
        finally:
            df.unpersist()


class TestObserveRowCount:
    def test_row_count_adds_no_job(self, spark):
        from ssis_to_pyspark_agent_spark.operators import get_operator

        df = spark.read.parquet(f"{SF}/orders.parquet")
        ctx = {}
        out = get_operator("row_count")(spark, [df], {"into": "n"}, ctx)
        # the plan contains CollectMetrics, not an extra aggregation job
        assert "CollectMetrics" in optimized_of(out)


class TestPartitionPruning:
    def test_partitioned_write_prunes_on_read(self, spark, tmp_path):
        from ssis_to_pyspark_agent_spark.operators import get_operator

        out = str(tmp_path / "orders_by_status")
        orders = spark.read.parquet(f"{SF}/orders.parquet")
        get_operator("sink.parquet")(
            spark, [orders],
            {"path": out, "mode": "overwrite", "partition_by": ["o_orderstatus"]},
            {},
        )
        df = get_operator("source.parquet")(
            spark, [], {"path": out, "where": "o_orderstatus = 'O'"}, {}
        )
        p = plan_of(df)
        assert "PartitionFilters" in p and "o_orderstatus" in p.split(
            "PartitionFilters"
        )[1].split("]")[0]
        # only the matching partition directory is read
        assert df.count() == orders.filter("o_orderstatus = 'O'").count()


class TestNewOpPlanShapes:
    """Scale properties of the third-block operators, pinned in the plan."""

    def test_mixture_is_pure_narrow(self, spark):
        # domain-mixture reweighting must add ZERO exchanges: explode +
        # filter only (the zero-shuffle claim in its docstring)
        from ssis_to_pyspark_agent_spark.operators import get_operator

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        out = get_operator("sample.mixture")(
            spark, [docs],
            {"id_col": "doc_id", "group_col": "source",
             "weights": {"src0": 2.5, "src1": 0.3}}, {},
        )
        assert "Exchange" not in plan_of(out)

    def test_importance_topk_never_global_sorts(self, spark):
        # DSIR selection must be TakeOrderedAndProject (per-partition
        # heaps + driver merge of k rows) — a global Sort would
        # serialize the whole scored corpus through one range shuffle
        from ssis_to_pyspark_agent_spark.operators import get_operator

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        res = get_operator("sample.importance")(
            spark,
            [docs.filter("doc_id % 19 != 0"), docs.filter("doc_id % 19 = 0")],
            {"id_col": "doc_id", "text_col": "text", "k": 50}, {},
        )
        p = plan_of(res["out"])
        assert "TakeOrderedAndProject" in p
        # the lambda table join must broadcast, not sort-merge
        assert "SortMergeJoin" not in p

    def test_html_extract_is_pure_narrow(self, spark):
        # raw-web extraction must stay a single narrow projection over
        # the scan — zero exchanges, no Python stage (the zero-shuffle
        # scan-bound claim in its docstring)
        from ssis_to_pyspark_agent_spark.operators import get_operator

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        out = get_operator("text.html_extract")(
            spark, [docs.withColumnRenamed("text", "page")],
            {"html_col": "page", "title_col": "t"}, {},
        )
        p = plan_of(out)
        assert "Exchange" not in p
        assert "Python" not in p and "FlatMap" not in p

    def test_pack_never_single_partition_windows(self, spark):
        # the two-phase prefix sum must NOT fall back to a global
        # single-partition window (the naive cumsum shape)
        from ssis_to_pyspark_agent_spark.operators import get_operator

        df = spark.createDataFrame(
            [(i, (i * 7) % 30 + 1) for i in range(2000)], "id long, cnt int"
        )
        out = get_operator("text.pack")(
            spark, [df], {"id_col": "id", "count_col": "cnt",
                          "capacity": 64}, {},
        )
        p = plan_of(out)
        assert "Window" in p
        assert "Exchange SinglePartition" not in p

    def test_spans_no_cartesian(self, spark):
        # gram flagging + span merge must stay equi-join/window shaped
        from ssis_to_pyspark_agent_spark.operators import get_operator

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        out = get_operator("dedup.spans")(
            spark, [docs],
            {"id_col": "doc_id", "text_col": "text", "n": 8,
             "emit_clean": True}, {},
        )
        p = plan_of(out)
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoopJoin" not in p

    def test_spans_flags_without_hot_key_window(self, spark):
        # the round-4 de-skew, pinned: corpus-scope gram flagging must be
        # a partial-aggregated groupBy + semi-join-back, NEVER a window
        # partitioned by the gram hash — a window has no map-side combine
        # and serializes every occurrence of the hottest gram (exactly
        # the boilerplate this operator hunts) into one task. The only
        # windows allowed are the per-doc span-merge ones.
        from ssis_to_pyspark_agent_spark.operators import get_operator

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        for cfg in (
            {"id_col": "doc_id", "text_col": "text", "n": 8},
            {"id_col": "doc_id", "text_col": "text", "n": 8,
             "scope": "cross_doc"},
        ):
            out = get_operator("dedup.spans")(spark, [docs], cfg, {})
            opt = optimized_of(out)
            for m in re.finditer(
                r"windowspecdefinition\(([^)]*)\)", opt, re.IGNORECASE
            ):
                assert "_gh" not in m.group(1), (
                    "gram-hash window reintroduced:\n" + m.group(0)
                )
            # and the map-side combine must exist: a partial aggregate
            # keyed by the gram hash
            p = plan_of(out)
            assert re.search(r"HashAggregate\(keys=\[_gh", p), p[:2000]
            assert "LeftSemi" in optimized_of(out)

    def test_semantic_verify_ships_vectors_once(self, spark):
        # default (quantized) SemDeDup verify must be the groupBy +
        # applyInPandas kernel — no join that materializes candidate
        # pair rows with two vector payloads each
        from ssis_to_pyspark_agent_spark.operators import get_operator

        vecs = spark.read.parquet(f"{SF}/embeddings.parquet")
        r = get_operator("dedup.semantic")(
            spark, [vecs],
            {"id_col": "vec_id", "vec_col": "embedding", "threshold": 0.9,
             "n_clusters": 4, "quantize": 10000, "return_pairs": True}, {},
        )
        p = plan_of(r["pairs"])
        assert "FlatMapGroupsInPandas" in p
        assert "SortMergeJoin" not in p and "BroadcastHashJoin" not in p


class TestRound5bPlans:
    def test_temperature_corpus_side_never_shuffles(self, spark):
        # the doc stream must reach the output through a BROADCAST join
        # of the tiny rate table — the only Exchange(s) belong to the
        # per-group count/normalizer branch, never to the corpus scan
        from ssis_to_pyspark_agent_spark.operators import get_operator

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        out = get_operator("sample.temperature")(
            spark, [docs],
            {"id_col": "doc_id", "group_col": "source", "alpha": 0.5,
             "budget_frac": 0.4}, {},
        )
        p = plan_of(out)
        assert "BroadcastHashJoin" in p
        assert "SortMergeJoin" not in p
        # corpus side: no Exchange between the documents scan and the
        # broadcast join probe side — every Exchange in the plan sits
        # under the broadcast (rates) subtree
        probe = p.split("BroadcastHashJoin")[0]
        assert "Exchange" not in probe, (
            "corpus side of sample.temperature shuffled:\n" + probe
        )

    def test_segment_is_pure_narrow(self, spark):
        from ssis_to_pyspark_agent_spark.operators import get_operator

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        for mode in ("paragraph", "sentence", "fixed_words"):
            out = get_operator("text.segment")(
                spark, [docs], {"text_col": "text", "mode": mode}, {},
            )
            assert "Exchange" not in plan_of(out), mode

    def test_prune_sizes_join_broadcasts(self, spark):
        # the per-cluster size table must broadcast back onto the scored
        # stream — a sort-merge join would shuffle the corpus twice
        from pyspark.sql import functions as F

        from ssis_to_pyspark_agent_spark.operators import get_operator

        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        km = get_operator("cluster.kmeans")(
            spark, [emb],
            {"id_col": "vec_id", "vec_col": "embedding", "k": 4,
             "n_iter": 1, "quantize": 10000}, {},
        )
        pr = get_operator("cluster.prune")(
            spark, [km["out"], km["centroids"]],
            {"id_col": "vec_id", "vec_col": "embedding",
             "prune_frac": 0.5, "quantize": 10000}, {},
        )
        p = plan_of(pr["out"])
        assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p

    def test_filter_bloom_probe_side_never_shuffles(self, spark):
        # the operator's 100 TB contract: the corpus reaches the bitmap
        # via a broadcast (nested-loop, 1-row build side) join with NO
        # Exchange anywhere on the corpus branch — all shuffles in the
        # plan belong to the blocklist-sized bitmap build
        from ssis_to_pyspark_agent_spark.operators import get_operator

        corpus = spark.createDataFrame(
            [(i, f"key{i}") for i in range(100)], "id long, k string"
        )
        block = spark.createDataFrame([("key1",)], "k string")
        out = get_operator("filter.bloom")(
            spark, [corpus, block], {"key_col": "k"}, {}
        )
        p = plan_of(out)
        assert "BroadcastNestedLoopJoin" in p
        # corpus branch = everything between the join and the broadcast
        # build side; the corpus scan must sit directly under the join
        join_part = p.split("BroadcastExchange")[0]
        assert "Exchange" not in join_part.replace(
            "BroadcastNestedLoopJoin", "")

    def test_kmeans_early_stops_at_fixed_point(self, spark):
        # data already at a Lloyd's fixed point: n_iter=25 must cost far
        # fewer jobs than 25 update rounds (the convergence break), and
        # the result must equal the n_iter=2 run exactly
        from ssis_to_pyspark_agent_spark.operators import get_operator

        df = spark.createDataFrame(
            [(i, [float(1000 * (i % 2))]) for i in range(8)],
            "vec_id long, embedding array<float>",
        )
        tracker = spark.sparkContext.statusTracker()

        def max_job_id():
            # job ids are global and monotone; COUNTING retained ids is
            # eviction-sensitive (spark.ui drops old entries mid-suite,
            # observed as a negative delta in a long session)
            ids = tracker.getJobIdsForGroup() or []
            return max(ids) if ids else 0

        def fit(n_iter):
            before = max_job_id()
            res = get_operator("cluster.kmeans")(
                spark, [df],
                {"id_col": "vec_id", "vec_col": "embedding", "k": 2,
                 "n_iter": n_iter}, {},
            )
            labs = sorted((r.vec_id, r.cluster) for r in res["out"].collect())
            jobs = max_job_id() - before
            return labs, jobs

        labs25, jobs25 = fit(25)
        labs2, jobs2 = fit(2)
        assert labs25 == labs2
        assert jobs25 <= jobs2 + 2, (
            f"no early stop: {jobs25} jobs for n_iter=25 vs {jobs2} for 2"
        )
