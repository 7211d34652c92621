"""Physical-plan regression tests — the 100 TB posture, asserted.

Correctness hashes can't tell a broadcast join from a cross product or a
pushed-down filter from a full scan; these tests pin the plan SHAPES the
scale story depends on, so a refactor that silently de-optimizes a query
fails CI rather than only showing up in BENCH at 1000x the data.
"""

from __future__ import annotations

import pytest

from real_time_iot_data_engineering_pipeline_spark import registry
from real_time_iot_data_engineering_pipeline_spark.sinks.catalog import (
    register_aggregates,
    table_exists,
)

registry.load_all()


def plan_of(spark, sf_dir, name: str) -> str:
    df = registry.QUERIES[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


class TestPushdownAndJoins:
    def test_incremental_scan_pushes_filter_into_parquet(self, spark, sf_dir):
        """The high-watermark scan must reach the reader as PushedFilters —
        at 100 TB this is the difference between reading one day and one
        decade (mongo_to_postgres_sync.py:129-139's indexed range read)."""
        plan = plan_of(spark, sf_dir, "q_incremental_scan")
        assert "PushedFilters: [" in plan
        assert "IsNotNull" in plan or "GreaterThan" in plan

    def test_projection_prunes_scan_columns(self, spark, sf_dir):
        """q_filter_range reads 3 of events' 6 columns; ReadSchema must not
        contain the unused ones (props is the expensive JSON blob)."""
        plan = plan_of(spark, sf_dir, "q_filter_range")
        read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
        assert read_schema and "props" not in read_schema[0]

    def test_broadcast_join_is_broadcast(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "q_join_broadcast")
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_city_avg_uses_broadcast_join_back_not_window(self, spark, sf_dir):
        """A Window over ~5 event_type partitions is a
        straggler at scale; the fix is partial-agg + broadcast join-back."""
        plan = plan_of(spark, sf_dir, "q_city_avg_compare")
        assert "BroadcastHashJoin" in plan
        assert "Window" not in plan

    def test_knn_has_no_cartesian_product(self, spark, sf_dir):
        for q in ("q_embed_knn", "q_embed_knn_lsh", "q_embed_near_dup"):
            plan = plan_of(spark, sf_dir, q)
            assert "CartesianProduct" not in plan, q

    def test_lsh_and_near_dup_join_on_band_keys(self, spark, sf_dir):
        """The bucketed variants must pair rows through an equi-join on
        (band, band_key) — hash joins, not nested loops over the corpus."""
        for q in ("q_embed_knn_lsh", "q_embed_near_dup"):
            plan = plan_of(spark, sf_dir, q)
            assert "band" in plan and ("HashJoin" in plan or "ShuffledHashJoin" in plan), q

    def test_validation_is_shuffle_free(self, spark, sf_dir):
        """The rule pass is one projection: no Exchange anywhere
        (validation must stay embarrassingly parallel)."""
        plan = plan_of(spark, sf_dir, "q_validate_reasons")
        assert "Exchange" not in plan

    def test_topk_limits_before_final_window(self, spark, sf_dir):
        """Map-side top-k: Catalyst must rewrite the row_number()<=k filter
        into a Partial-mode WindowGroupLimit ahead of the exchange, so each
        map partition ships at most k rows per group (the 100 TB shape)."""
        plan = plan_of(spark, sf_dir, "q_topk_per_group")
        assert "WindowGroupLimit" in plan and "Partial" in plan

    def test_knn_topk_uses_window_group_limit(self, spark, sf_dir):
        """The ANN family's shared top-k must get the same Partial
        WindowGroupLimit treatment as q_topk_per_group."""
        plan = plan_of(spark, sf_dir, "q_embed_knn")
        assert "WindowGroupLimit" in plan and "Partial" in plan

    def test_knn_classify_scores_in_arrow_batches(self, spark, sf_dir):
        """The dense-matmul scorer must be the Arrow stage (MapInPandas,
        partition-local top-k), never an interpreted per-pair expression:
        no join of any kind touches the corpus — the capped test matrix
        rides a broadcast variable, not a plan-side relation."""
        plan = plan_of(spark, sf_dir, "q_knn_classify")
        assert "MapInPandas" in plan
        for bad in ("CartesianProduct", "BroadcastNestedLoopJoin", "Join"):
            assert bad not in plan, bad

    def test_tfidf_topk_uses_window_group_limit(self, spark, sf_dir):
        """q_tfidf_topterms' per-doc top-3 partitions by the
        high-cardinality doc_id, so the rank filter must compile to a
        Partial WindowGroupLimit; the df lookup must be a hash equi-join,
        never a cartesian over the vocabulary."""
        plan = plan_of(spark, sf_dir, "q_tfidf_topterms")
        assert "WindowGroupLimit" in plan and "Partial" in plan
        assert "CartesianProduct" not in plan

    def test_mixture_weights_has_no_window(self, spark, sf_dir):
        """q_mixture_weights' grand-total ratios come from broadcast
        join-backs of 1-row aggregates (q_city_avg_compare idiom) — a
        Window over the per-source aggregate would serialize on one
        partition at scale."""
        plan = plan_of(spark, sf_dir, "q_mixture_weights")
        assert "Window" not in plan
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan

    def test_rank_adaptive_paths(self, spark, sf_dir, monkeypatch):
        """q_rank_per_group: plain single window below the scale switch
        (local fixtures), bucketed two-phase plan above it — the rewrite
        that kills the low-cardinality window straggler must stay pinned
        even though small inputs bypass it."""
        monkeypatch.setenv("SPARK_GRAFT_SCALE_SWITCH_BYTES", str(1 << 60))
        small = plan_of(spark, sf_dir, "q_rank_per_group")
        assert "BroadcastHashJoin" not in small  # no bucket machinery
        assert "Window" in small
        monkeypatch.setenv("SPARK_GRAFT_SCALE_SWITCH_BYTES", "0")
        large = plan_of(spark, sf_dir, "q_rank_per_group")
        assert "BroadcastHashJoin" in large  # stats + offsets broadcast back


class TestCatalogRegistration:
    def test_register_partitioned_aggregate_table(self, spark, sf_dir, tmp_path):
        """The DDL twin (mongo_to_postgres_sync.py:177-238): registration
        creates a catalog table partitioned by day, and a day-filtered query
        prunes partitions at scan time."""
        from pyspark.sql import functions as F

        agg = registry.QUERIES["q_tumbling_agg"](spark, sf_dir)
        try:
            register_aggregates(agg.limit(500), table="test_aggs")
            assert table_exists(spark, "test_aggs")
            q = spark.table("test_aggs").filter(F.col("agg_date") == "2024-01-05")
            plan = q._jdf.queryExecution().executedPlan().toString()
            assert "PartitionFilters: [" in plan and "agg_date" in plan
        finally:
            spark.sql("DROP TABLE IF EXISTS test_aggs")

    def test_bucketed_tables_join_without_exchange(self, spark, sf_dir):
        """Co-located join: two tables bucketed on the join key with equal
        bucket counts must SortMergeJoin with ZERO Exchange — the write-once
        shuffle that removes every subsequent keyed join's shuffle at 100 TB.
        Broadcast is disabled for the assertion so the bucketed path (what a
        non-broadcastable 100 TB side would take) is the one pinned."""
        from pyspark.sql import functions as F

        from real_time_iot_data_engineering_pipeline_spark.sinks.catalog import (
            register_bucketed,
        )
        from real_time_iot_data_engineering_pipeline_spark.sources import load_table

        ev = load_table(spark, sf_dir, "events")
        facts = ev.select("event_id", "user_id", "event_type", "value")
        dims = ev.groupBy("user_id").agg(F.count("*").alias("n_total"))
        try:
            register_bucketed(facts, "test_bkt_facts", "user_id", 8, sort_by="user_id")
            register_bucketed(dims, "test_bkt_dims", "user_id", 8, sort_by="user_id")
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            try:
                j = spark.table("test_bkt_facts").join(
                    spark.table("test_bkt_dims"), "user_id"
                )
                plan = j._jdf.queryExecution().executedPlan().toString()
                assert "SortMergeJoin" in plan
                assert "Exchange" not in plan, "bucketed join still shuffles"
                assert j.count() > 0
            finally:
                spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        finally:
            spark.sql("DROP TABLE IF EXISTS test_bkt_facts")
            spark.sql("DROP TABLE IF EXISTS test_bkt_dims")


class TestPrepPlans:
    def test_pii_redact_and_split_are_shuffle_free(self, spark, sf_dir):
        """Corpus-hygiene passes are projections: any Exchange means a
        regression that would shuffle 100 TB of text for a regex."""
        for q in ("q_pii_redact", "q_train_test_split"):
            plan = plan_of(spark, sf_dir, q)
            assert "Exchange" not in plan, q

    def test_centroids_broadcast_seeds_no_cartesian(self, spark, sf_dir):
        """k-means assignment must pair the corpus with BROADCAST seeds
        (corpus never shuffles to be scored) and aggregate partially."""
        plan = plan_of(spark, sf_dir, "q_embed_centroids")
        assert "Broadcast" in plan
        assert "CartesianProduct" not in plan
        assert "partial_min" in plan or "HashAggregate" in plan

    def test_register_date_plus_location_partitioning(self, spark, sf_dir):
        """SURVEY §4.3: the spec'd batch layout partitions output by
        date+location; a query filtered on both must prune on both."""
        from pyspark.sql import functions as F

        agg = registry.QUERIES["q_location_agg"](spark, sf_dir).withColumnRenamed(
            "day", "window_start"
        )
        try:
            register_aggregates(
                agg.limit(500),
                table="test_aggs_loc",
                partition_by=("agg_date", "event_type"),
                sort_by="event_type",
            )
            q = spark.table("test_aggs_loc").filter(
                (F.col("agg_date") == "2024-01-05") & (F.col("event_type") == "click")
            )
            plan = q._jdf.queryExecution().executedPlan().toString()
            pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
            assert pf and "agg_date" in pf[0] and "event_type" in pf[0]
        finally:
            spark.sql("DROP TABLE IF EXISTS test_aggs_loc")

    def test_group_split_is_one_agg_plus_hash_join(self, spark, sf_dir):
        """Group split must stay a content-hash partial agg + hash-keyed
        join-back with the split as a pure projection: no window, no
        cartesian, no nested-loop anywhere."""
        plan = plan_of(spark, sf_dir, "q_group_split")
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "Window" not in plan
        assert "content_hash" in plan

    def test_shard_assign_is_one_partial_agg_no_join(self, spark, sf_dir):
        """The shard manifest is a projection + ONE hash partial-agg on a
        uniform 16-ary key: exactly one exchange (for the final agg), no
        join, no window — the cheapest possible full-corpus pass."""
        plan = plan_of(spark, sf_dir, "q_shard_assign")
        assert plan.count("Exchange") == 1, plan
        for bad in ("Join", "Window", "CartesianProduct"):
            assert bad not in plan, bad
        assert "partial_count" in plan or "HashAggregate" in plan

    def test_text_normalize_is_arrow_python_no_shuffle(self, spark, sf_dir):
        """NFC runs as the Arrow-batched Python stage (ArrowEvalPython),
        never row-at-a-time (BatchEvalPython), and the op is shuffle-free
        — it must run as wide as the scan."""
        plan = plan_of(spark, sf_dir, "q_text_normalize")
        assert "ArrowEvalPython" in plan
        assert "BatchEvalPython" not in plan
        assert "Exchange" not in plan

    def test_lag_features_window_partitions_by_user(self, spark, sf_dir):
        """The lag window must partition by the high-cardinality user key
        (tiny per-key series), never run unpartitioned."""
        plan = plan_of(spark, sf_dir, "q_lag_features")
        assert "user_id" in plan
        # an unpartitioned window would log/plan a single-partition sort
        assert "SinglePartition" not in plan


class TestCurationPlans:
    def test_decontaminate_broadcasts_eval_ngram_set(self, spark, sf_dir):
        """The eval set is small by nature; the train corpus must be checked
        against a BROADCAST n-gram hash set — never reshuffled on gram
        hashes, and never paired via nested loops."""
        plan = plan_of(spark, sf_dir, "q_decontaminate")
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan

    def test_semantic_dedup_pairs_inside_clusters_only(self, spark, sf_dir):
        """SemDeDup's pair join must be an equi-join on cluster id (pair
        space = sum of per-cluster squares), not a cross product."""
        plan = plan_of(spark, sf_dir, "q_semantic_dedup")
        assert "CartesianProduct" not in plan
        assert "cid" in plan and "Join" in plan

    def test_repetition_filter_aggregates_partially(self, spark, sf_dir):
        """Bigram counting must collapse repeats map-side (partial_count)
        before the (doc_id, bigram)-keyed exchange."""
        plan = plan_of(spark, sf_dir, "q_repetition_filter")
        assert "partial_count" in plan or "Partial" in plan
        assert "CartesianProduct" not in plan

    def test_paragraph_dedup_shuffles_hashes_not_text(self, spark, sf_dir):
        """The cross-doc line-frequency join must ride md5 hashes; the text
        column must never reach an exchange."""
        plan = plan_of(spark, sf_dir, "q_paragraph_dedup")
        assert "CartesianProduct" not in plan
        exchanges = [
            ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
        ]
        assert exchanges and all("text" not in ln for ln in exchanges), (
            "document text rides a shuffle: " + "\n".join(exchanges)
        )

    def test_dedup_survivor_shuffles_key_not_text(self, spark, sf_dir):
        """The quality argmax is one partial-aggregated groupBy on the
        cluster key; document text must never ride the shuffle, and the
        scored-vs-groups self-join in the oracle SQL must not appear
        (corpus scans feed exactly one aggregate chain)."""
        plan = plan_of(spark, sf_dir, "q_dedup_survivor")
        assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
        exchanges = [
            ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
        ]
        assert exchanges and all("text" not in ln for ln in exchanges), (
            "text rides a shuffle: " + "\n".join(exchanges)
        )

    def test_repeated_substrings_shuffles_hashes_not_text(self, spark, sf_dir):
        """After the n-gram explode only md5 hashes and positions move;
        no Exchange row schema may carry the text column."""
        plan = plan_of(spark, sf_dir, "q_repeated_substrings")
        for ln in plan.splitlines():
            if "Exchange hashpartitioning" in ln:
                assert "text" not in ln, ln

    def test_curation_pipeline_scans_documents_twice_max(self, spark, sf_dir):
        """The composite recipe computes all four gates in one projection
        over the derived corpus (documents + planted copies = two scans
        of the same file); four chained standalone operators would scan
        at least four times."""
        plan = plan_of(spark, sf_dir, "q_curation_pipeline")
        assert plan.count("Scan parquet") <= 4  # corpus union (2) x reuse
        assert "CartesianProduct" not in plan

    def test_source_cap_limits_before_exchange(self, spark, sf_dir):
        """Domain capping is a rank-limited window: Catalyst must compile
        `row_number() <= K` into a Partial-mode WindowGroupLimit ahead of
        the exchange (each map partition ships at most K rows per source
        — the 100 TB shape, same pin as q_topk_per_group)."""
        plan = plan_of(spark, sf_dir, "q_source_cap")
        assert "WindowGroupLimit" in plan and "Partial" in plan

    def test_dsir_model_join_is_broadcast(self, spark, sf_dir):
        """DSIR's log-ratio model is O(512 buckets) by construction — its
        join back over the per-doc bucket counts must be a broadcast hash
        join (the corpus side never shuffles for the model), with no
        sort-merge anywhere: the only data-scale exchange is the
        (doc_id, bucket) partial-aggregate."""
        plan = plan_of(spark, sf_dir, "q_dsir_weights")
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        assert "CartesianProduct" not in plan


class TestRelationalPlans:
    """Multi-join analytics: pin the shapes that survive a 100x scale-up —
    pushed-down scan filters, semi-join EXISTS, top-k termination — without
    pinning fixture-size join-strategy choices (broadcast vs sort-merge on
    the fact-fact edge is AQE's call)."""

    def test_ship_priority_topk_and_pushdown(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "q_ship_priority")
        assert "TakeOrderedAndProject" in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        # date filters must reach the orders/lineitem scans
        assert plan.count("PushedFilters: [") >= 3
        assert "LessThan(o_orderdate" in plan and "GreaterThan(l_shipdate" in plan

    def test_region_revenue_dimension_chain_broadcasts(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "q_region_revenue")
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        # region filter prunes before the fact joins
        assert "EqualTo(r_name,ASIA)" in plan

    def test_priority_fill_is_left_semi(self, spark, sf_dir):
        """EXISTS must compile to ONE LeftSemi join with the cross-side
        l_shipdate > o_orderdate residual — no distinct, no re-dedup."""
        plan = plan_of(spark, sf_dir, "q_priority_fill")
        assert "LeftSemi" in plan
        assert "Distinct" not in plan and "Deduplicate" not in plan

    def test_returned_revenue_aggregates_before_name_attach(self, spark, sf_dir):
        """The customer-name attach must happen AFTER the per-key aggregate
        (broadcast join-back of (custkey, sum) pairs), so the shuffle never
        carries the name column."""
        plan = plan_of(spark, sf_dir, "q_returned_revenue")
        assert "TakeOrderedAndProject" in plan
        exchanges = [
            ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
        ]
        assert all("c_name" not in ln for ln in exchanges), (
            "customer name rides a shuffle: " + "\n".join(exchanges)
        )

    def test_min_cost_supplier_argmin_is_one_pass(self, spark, sf_dir):
        """The correlated-subquery form must stay decorrelated: one
        aggregation chain (partkey,suppkey) -> partkey via struct-min, dims
        broadcast, top-100 as TakeOrderedAndProject — and the ps-vs-best
        self-join the SQL shape implies must never materialize (lineitem
        scans once)."""
        plan = plan_of(spark, sf_dir, "q_min_cost_supplier")
        assert "BroadcastHashJoin" in plan
        assert "TakeOrderedAndProject" in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert plan.count("FileScan parquet") == 4  # lineitem + 3 dims, once each

    def test_large_orders_reuses_lineitem_distribution(self, spark, sf_dir):
        """Q18 shape: the qualifying-key agg and the detail re-join both
        hash on l_orderkey, customer attaches broadcast, and top-100
        terminates via TakeOrderedAndProject (never a global sort)."""
        plan = plan_of(spark, sf_dir, "q_large_orders")
        assert "TakeOrderedAndProject" in plan
        assert "BroadcastHashJoin" in plan  # customer dim
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_disjunctive_revenue_pushes_single_side_implications(
        self, spark, sf_dir
    ):
        """Q19 shape: Catalyst must decompose the OR-of-ANDs into
        per-side pushed filters — the lineitem scan receives the quantity
        ranges, the part scan receives brand/size — and part broadcasts,
        so the fact side never shuffles before the final |brands|-row agg."""
        plan = plan_of(spark, sf_dir, "q_disjunctive_revenue")
        li_scan = [
            ln
            for ln in plan.splitlines()
            if "FileScan parquet" in ln and "lineitem" in ln
        ]
        assert li_scan and "l_quantity" in li_scan[0].split("PushedFilters")[-1]
        part_scan = [
            ln
            for ln in plan.splitlines()
            if "FileScan parquet" in ln and "part" in ln and "l_" not in ln
        ]
        assert part_scan and "p_brand" in part_scan[0].split("PushedFilters")[-1]
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_forecast_revenue_is_scan_plus_scalar_agg(self, spark, sf_dir):
        """Q6 shape: all four predicates reach the reader, no join, no
        GROUP BY shuffle beyond the single-row final agg."""
        plan = plan_of(spark, sf_dir, "q_forecast_revenue")
        scan = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
        assert len(scan) == 1
        pushed = scan[0].split("PushedFilters")[-1]
        assert "l_shipdate" in pushed and "l_discount" in pushed
        assert "Join" not in plan

    def test_mkt_share_single_pass_conditional_share(self, spark, sf_dir):
        """Q8 shape: numerator and denominator come from ONE aggregate —
        exactly one lineitem scan — and every dimension hop broadcasts
        (the only SortMergeJoin partner allowed is orders)."""
        plan = plan_of(spark, sf_dir, "q_mkt_share")
        li_scans = [
            ln
            for ln in plan.splitlines()
            if "FileScan parquet" in ln and "lineitem" in ln
        ]
        assert len(li_scans) == 1
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan

    def test_important_parts_threshold_broadcasts_single_fact_scan(
        self, spark, sf_dir
    ):
        """Q11 shape: the 0.1% threshold must join back as a broadcast of
        ONE row, and the per-part aggregate's shuffle must be computed
        once — AQE's exchange reuse dedupes the two identical subtrees at
        runtime, so the assertion is on the FINAL adaptive plan."""
        df = registry.QUERIES["q_important_parts"](spark, sf_dir)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ReusedExchange" in plan
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan

    def test_top_supplier_exchange_reused_at_runtime(self, spark, sf_dir):
        """Q15 shape, runtime counterpart: the quarterly per-supplier
        aggregate must be shuffled once and reused for the max side."""
        df = registry.QUERIES["q_top_supplier"](spark, sf_dir)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ReusedExchange" in plan

    def test_custdist_filter_stays_in_outer_join(self, spark, sf_dir):
        """Q13 shape: the priority predicate must be a join residual, not
        a pre-join filter on orders (which would drop zero-order
        customers only accidentally) — assert the left outer survives."""
        plan = plan_of(spark, sf_dir, "q_custdist")
        assert "LeftOuter" in plan

    def test_top_supplier_reuses_revenue_aggregate(self, spark, sf_dir):
        """Q15 shape: the quarterly revenue aggregate feeds both the max
        and the final filter; Spark must reuse the exchange (or at worst
        rescan the pre-aggregated side), never shuffle lineitem twice."""
        plan = plan_of(spark, sf_dir, "q_top_supplier")
        assert "ReusedExchange" in plan or plan.count("FileScan parquet") <= 3
        assert "CartesianProduct" not in plan

    def test_part_supplier_count_excludes_via_broadcast_anti(self, spark, sf_dir):
        """Q16 shape: NOT IN over the blacklist compiles to a broadcast
        LEFT ANTI applied before the count-distinct expand."""
        plan = plan_of(spark, sf_dir, "q_part_supplier_count")
        assert "LeftAnti" in plan
        assert "BroadcastHashJoin" in plan

    def test_small_qty_revenue_threshold_broadcasts(self, spark, sf_dir):
        """Q17 shape: the per-part 0.2*avg threshold is dimension-sized
        and must broadcast back; the brand-filtered fact side must not
        shuffle on partkey."""
        plan = plan_of(spark, sf_dir, "q_small_qty_revenue")
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan

    def test_excess_suppliers_is_semi_join_chain(self, spark, sf_dir):
        """Q20 shape: both IN-subqueries stay semi joins — the row never
        widens with part or supplier payload columns."""
        plan = plan_of(spark, sf_dir, "q_excess_suppliers")
        assert "LeftSemi" in plan
        assert "CartesianProduct" not in plan

    def test_waiting_suppliers_decorrelates_to_one_aggregate(self, spark, sf_dir):
        """Q21 shape: the EXISTS/NOT-EXISTS pair must appear as ONE
        per-order aggregate joined back — lineitem is scanned at most
        twice (once for flags, once for the join-back side), with no
        per-row correlated execution and no cartesian."""
        plan = plan_of(spark, sf_dir, "q_waiting_suppliers")
        li_scans = [
            ln
            for ln in plan.splitlines()
            if "FileScan parquet" in ln and "lineitem" in ln
        ]
        assert len(li_scans) <= 2
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestReportPlans:
    def test_vocab_topk_avoids_global_sort(self, spark, sf_dir):
        """Global top-k must plan as TakeOrderedAndProject (per-partition
        top-k + driver merge of #partitions x k rows), never a full sort
        exchange of the whole vocabulary."""
        plan = plan_of(spark, sf_dir, "q_vocab_topk")
        assert "TakeOrderedAndProject" in plan
        assert "partial_count" in plan or "Partial" in plan

    def test_corpus_stats_broadcasts_grand_total(self, spark, sf_dir):
        """The doc_share ratio must come from a broadcast join-back of the
        1-row total, not a single-partition window over the aggregate."""
        plan = plan_of(spark, sf_dir, "q_corpus_stats")
        assert "Broadcast" in plan
        assert "Window" not in plan

    def test_quality_buckets_window_only_after_aggregate(self, spark, sf_dir):
        """Threshold binning is a projection + partial-agg groupBy; the
        lang_share window must consume the aggregated langs x 10 table
        (its input exchange carries the agg keys), never the raw docs."""
        plan = plan_of(spark, sf_dir, "q_quality_buckets")
        assert "SinglePartition" not in plan
        window_idx = plan.find("Window")
        agg_idx = plan.find("HashAggregate")
        assert window_idx != -1 and agg_idx != -1
        # executedPlan prints top-down: the window node sits ABOVE (before)
        # the aggregate it consumes.
        assert window_idx < agg_idx

    def test_length_histogram_totals_broadcast(self, spark, sf_dir):
        """Grand totals must attach to the ~20 bucket rows via a broadcast
        of a single-row aggregate — no SinglePartition exchange over data
        and no window."""
        plan = plan_of(spark, sf_dir, "q_length_histogram")
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
        assert "Window" not in plan


class TestTimeSeriesPlans:
    """Windowed and time-series operators over the event stream: every
    window is keyed by the sensor or event type, never unpartitioned."""

    def test_gap_fill_window_is_keyed_not_global(self, spark, sf_dir):
        """LOCF forward fill must window over the high-cardinality sensor
        key — a SinglePartition window would serialize the whole stream."""
        plan = plan_of(spark, sf_dir, "q_gap_fill")
        assert "Window" in plan
        assert "SinglePartition" not in plan
        assert "hashpartitioning(user_id" in plan

    def test_cube_summary_expands_in_one_scan(self, spark, sf_dir):
        """CUBE must plan as ONE scan feeding Expand + partial aggregate,
        not four separate aggregation jobs."""
        plan = plan_of(spark, sf_dir, "q_cube_summary")
        assert "Expand" in plan
        assert plan.count("Scan parquet") == 1

    def test_trend_slope_single_pass_aggregates(self, spark, sf_dir):
        """regr_* compile to one partial+final aggregate pair over the
        daily series — no self-join, no window."""
        plan = plan_of(spark, sf_dir, "q_trend_slope")
        assert "Window" not in plan
        assert plan.count("Scan parquet") == 1

    def test_ewma_windows_are_partitioned(self, spark, sf_dir):
        """The cumulative-sum windows must be keyed by event_type — an
        unpartitioned window would serialize the whole series through one
        task (the WindowExec warning path)."""
        plan = plan_of(spark, sf_dir, "q_ewma_daily")
        import re

        for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
            assert "event_type" in m.group(1), m.group(0)

    def test_rolling_median_window_partitions_by_user(self, spark, sf_dir):
        """The bounded-frame median must window per sensor key — an
        unpartitioned (SinglePartition) window would serialize the whole
        daily grain through one task at 100 TB."""
        plan = plan_of(spark, sf_dir, "q_rolling_median")
        assert "user_id" in plan
        assert "SinglePartition" not in plan
        assert "CartesianProduct" not in plan


class TestBehaviorStatsPlans:
    """Audience set operations and two-sample statistics over events."""

    def test_audience_setops_are_semi_anti_joins(self, spark, sf_dir):
        """INTERSECT/EXCEPT must compile to LeftSemi/LeftAnti on distinct
        inputs — never a cross product or a full outer reconciliation."""
        plan = plan_of(spark, sf_dir, "q_audience_setops")
        assert "LeftSemi" in plan
        assert "LeftAnti" in plan
        assert "CartesianProduct" not in plan

    def test_welch_and_psi_have_no_window(self, spark, sf_dir):
        """Both stats reduce via partial aggregates; a Window anywhere
        means someone reintroduced a per-row pass."""
        for q in ("q_welch_ttest", "q_psi"):
            plan = plan_of(spark, sf_dir, q)
            assert "Window" not in plan, q


class TestEmbeddingSearchPlans:
    """Embedding search, quantization and semantic dedup: the corpus side
    never shuffles when the probe side is small enough to broadcast."""

    def test_semantic_decontaminate_broadcasts_eval_side(self, spark, sf_dir):
        """Eval sets are tiny; the training corpus is the 100 TB side. The
        band join must broadcast the eval band table so training vectors
        never shuffle — a SortMergeJoin here would shuffle the corpus."""
        plan = plan_of(spark, sf_dir, "q_semantic_decontaminate")
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        assert "CartesianProduct" not in plan

    def test_embed_quantize_stats_collapse_before_shuffle(self, spark, sf_dir):
        """The per-dim stats pass must partial-aggregate (each partition
        collapses to DIM rows pre-shuffle) and reach the code pass as a
        single-row broadcast; the code/MSE projection itself must not
        shuffle the corpus (no hash exchange keyed on corpus rows after
        the stats join)."""
        plan = plan_of(spark, sf_dir, "q_embed_quantize")
        assert "partial" in plan.lower()  # map-side combine on the stats agg
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
        assert "CartesianProduct" not in plan
        assert plan.count("FileScan parquet") == 2  # corpus read: stats + codes

    def test_embed_dedup_incremental_probes_banded_store(self, spark, sf_dir):
        """The delta side probes the SRP band store as an equi-join on
        (band, band_key) with the delta restriction pushed to the probe
        side — never a store self-join or an all-pairs shape."""
        plan = plan_of(spark, sf_dir, "q_embed_dedup_incremental")
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "band_key" in plan
        assert "% 4" in plan  # delta filter survives into the physical plan

    def test_pq_adc_scores_via_broadcast_maps_no_corpus_shuffle(self, spark, sf_dir):
        """ADC search must be a map-lookup expression over the codes scan:
        the per-query LUTs ride a broadcast (BroadcastNestedLoopJoin of a
        10-row side is the fan-out, never a shuffled join of the corpus),
        and the top-k is the rank-limited window (WindowGroupLimit
        Partial)."""
        plan = plan_of(spark, sf_dir, "q_pq_adc_knn")
        assert "WindowGroupLimit" in plan and "Partial" in plan
        assert "CartesianProduct" not in plan
        assert "SortMergeJoin" not in plan

    def test_ivf_adc_candidates_equi_join_no_corpus_shuffle(self, spark, sf_dir):
        """IVFADC's candidate generation must be a hash EQUI-join of the
        codes scan against the broadcast (query, cell) probe table — the
        shape a label-partitioned codes table partition-prunes at scale —
        never a cartesian/sort-merge of the corpus; LUT scoring rides
        broadcasts and the top-k is the rank-limited window."""
        plan = plan_of(spark, sf_dir, "q_ivf_adc_knn")
        assert "BroadcastHashJoin" in plan
        assert "WindowGroupLimit" in plan and "Partial" in plan
        assert "CartesianProduct" not in plan
        assert "SortMergeJoin" not in plan

    def test_residual_ivfadc_same_shape_as_ivfadc(self, spark, sf_dir):
        """The residual variant must keep q_ivf_adc_knn's plan posture:
        candidate generation a broadcast hash EQUI-join on the cell label
        (partition-prunable at scale), top-k the rank-limited window,
        no cartesian/sort-merge of the corpus; the residual subtraction
        rides the broadcast centroid join inside the corpus scan."""
        plan = plan_of(spark, sf_dir, "q_ivfadc_residual_knn")
        assert "BroadcastHashJoin" in plan
        assert "WindowGroupLimit" in plan and "Partial" in plan
        assert "CartesianProduct" not in plan
        assert "SortMergeJoin" not in plan


class TestServeAndIncrementalPlans:
    """The serve read paths and the CDC / snapshot / incremental-dedup
    family."""

    def test_serve_request_audit_broadcasts_requests(self, spark, sf_dir):
        """The request table is API-log-sized next to events: it must ride
        a BroadcastHashJoin into the one fact pass, never shuffle events
        by request key."""
        plan = plan_of(spark, sf_dir, "q_serve_request_audit")
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_serve_sensors_page_take_ordered(self, spark, sf_dir):
        """limit+orderBy must lower to TakeOrderedAndProject — the page is
        assembled from per-partition top-k, not a global sort."""
        plan = plan_of(spark, sf_dir, "q_serve_sensors_page")
        assert "TakeOrderedAndProject" in plan

    def test_serve_sensor_detail_pushes_sensor_filter(self, spark, sf_dir):
        """The /sensors/{id} detail must prune to the one sensor at the
        scan (row-group skip), not post-filter an aggregate."""
        plan = plan_of(spark, sf_dir, "q_serve_sensor_detail")
        assert "PushedFilters: [" in plan
        assert "EqualTo(user_id" in plan

    def test_cdc_apply_is_partial_agg_no_window(self, spark, sf_dir):
        """CDC state is a struct-max argmax: map-side partial aggregation,
        one key shuffle, NO window over change history."""
        plan = plan_of(spark, sf_dir, "q_cdc_apply")
        assert "partial_max" in plan or "partial" in plan.lower()
        assert "WindowExec" not in plan and "RunningWindowFunction" not in plan

    def test_snapshot_diff_join_reuses_key_partitioning(self, spark, sf_dir):
        """The v1/v2 full-outer join keys match the aggregation keys, so
        the join must be a SortMergeJoin over the aggregate outputs with
        no cartesian/broadcast-NL fallback."""
        plan = plan_of(spark, sf_dir, "q_snapshot_diff")
        assert "FullOuter" in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_dedup_incremental_band_joins_only_the_delta(self, spark, sf_dir):
        """Incremental dedup must probe the standing signature store with
        TODAY's band rows only: the delta restriction (doc_id % 4 == 0) is
        a pre-join filter on the probe side, the join stays a hash/merge
        join on (band, band_key), and no all-pairs shape may appear — at
        100 TB the store side must never self-join."""
        plan = plan_of(spark, sf_dir, "q_dedup_incremental")
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "band_key" in plan
        assert "% 4" in plan  # delta filter survives into the physical plan


class TestLinkagePlans:
    """Entity linkage, graph closure and keyed pair joins: every candidate
    join is blocked or broadcast, never a cartesian product."""

    def test_linkage_joins_dictionary_broadcast(self, spark, sf_dir):
        """The edit-distance candidate join runs on the deduplicated name
        dictionary via broadcast — never a SortMergeJoin of the catalog."""
        plan = plan_of(spark, sf_dir, "q_name_linkage")
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
        assert "SortMergeJoin" not in plan
        assert "CartesianProduct" not in plan

    def test_triangles_have_no_cartesian(self, spark, sf_dir):
        """Edge-wedge triangle closure must stay equi-join keyed (the
        canonical u<v edges make every leg an equi-join); the only BNLJ
        allowed is the final scalar single-row stat cross."""
        plan = plan_of(spark, sf_dir, "q_cosupply_triangles")
        assert "CartesianProduct" not in plan

    def test_editdist_refine_joins_inside_blocks_only(self, spark, sf_dir):
        """The candidate join must be an equi-join on the blocking key
        (lang, n_tokens, block3) with the doc_id< residual — a cartesian
        or broadcast-NL here is the quadratic catastrophe at corpus
        scale."""
        plan = plan_of(spark, sf_dir, "q_editdist_refine")
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_bloom_join_probes_stay_in_codegen(self, spark, sf_dir):
        """The bloom probe must lower to broadcast HASH joins on the
        (word, bits) relation — a one-row-array crossJoin variant fused
        the probe into a BroadcastNestedLoopJoin condition, which Spark
        evaluates interpreted (measured 6x slower at sf0.1)."""
        plan = plan_of(spark, sf_dir, "q_bloom_join")
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        # 3 probe joins + the exact false-positive-removing join
        assert plan.count("BroadcastHashJoin") >= 4

    def test_setjoin_candidates_join_on_prefix_tokens(self, spark, sf_dir):
        """Candidate generation must be an equi-join on the hashed prefix
        token (SortMergeJoin/ShuffledHashJoin/BroadcastHashJoin on token
        equality) with the doc_id inequality and length filter as join
        residuals — the all-pairs product the prefix filter exists to
        avoid must not appear."""
        plan = plan_of(spark, sf_dir, "q_jaccard_setjoin")
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "token" in plan


class TestRankingPlans:
    def test_bm25_filters_terms_before_posting_agg(self, spark, sf_dir):
        """The query-term filter must land before the (doc, token)
        aggregate (the posting list is |terms| wide, not |vocab|), the
        scalar stats must arrive as broadcasts, and the final top-k must
        terminate via TakeOrderedAndProject — never a global sort."""
        plan = plan_of(spark, sf_dir, "q_bm25_rank")
        assert "TakeOrderedAndProject" in plan
        assert "Sort [" not in plan.split("TakeOrderedAndProject")[0]
        assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
        assert "CartesianProduct" not in plan

    def test_unigram_ppl_moves_counts_not_text(self, spark, sf_dir):
        """After the explode, every exchange must carry (doc_id, token,
        count) — the text column must not appear in any Exchange — and
        the tf aggregate must partial-aggregate map-side."""
        plan = plan_of(spark, sf_dir, "q_unigram_ppl")
        assert "partial" in plan.lower()
        for ln in plan.splitlines():
            if "Exchange" in ln:
                assert "text" not in ln
        assert "CartesianProduct" not in plan

    def test_bigram_ppl_broadcasts_vocab_sides(self, spark, sf_dir):
        """Scoring joins bigram instances to vocabulary-sized count
        tables; at fixture scale AQE must pick broadcast for them (the
        corpus side never builds a hash table)."""
        plan = plan_of(spark, sf_dir, "q_bigram_ppl")
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan

    def test_rrf_fusion_topk_terminates_and_no_corpus_sort_merge(
        self, spark, sf_dir
    ):
        """RRF's final top-k must terminate via TakeOrderedAndProject (no
        full-result sort), and the BM25/LM derivations stay on broadcast
        joins at fixture scale — no cartesian ever."""
        plan = plan_of(spark, sf_dir, "q_rrf_fusion")
        assert "TakeOrderedAndProject" in plan
        assert "CartesianProduct" not in plan


class TestMiningAndClippingPlans:
    def test_hard_negatives_broadcasts_queries_no_cartesian_shuffle(
        self, spark, sf_dir
    ):
        """Both contrastive branches must be broadcast probes of the
        query batch with WindowGroupLimit top-1 (each partition ships at
        most one candidate per query per branch) — never a CartesianProduct
        and never a corpus-wide hash exchange before ranking."""
        plan = plan_of(spark, sf_dir, "q_hard_negatives")
        assert "CartesianProduct" not in plan
        assert "WindowGroupLimit" in plan
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan

    def test_winsorize_bounds_broadcast_back_no_window(self, spark, sf_dir):
        """The per-type percentile bounds must partial-aggregate and
        broadcast back onto the fact rows — no Window over the
        low-cardinality event_type and no second shuffle of events."""
        plan = plan_of(spark, sf_dir, "q_winsorize")
        assert "Window" not in plan
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan


class TestBilateralAndAntiPlans:
    def test_nation_volume_broadcasts_pruned_dims(self, spark, sf_dir):
        """Q7 shape: the 2-nation prune must reach the nation scans as
        pushed filters, supplier/customer chains broadcast, and the only
        non-broadcast join is the lineitem<->orders fact join."""
        plan = plan_of(spark, sf_dir, "q_nation_volume")
        assert plan.count("BroadcastHashJoin") >= 3
        assert "CartesianProduct" not in plan
        nation_scans = [
            ln
            for ln in plan.splitlines()
            if "FileScan parquet" in ln and "nation" in ln and "n_name" in ln
        ]
        assert nation_scans and "PushedFilters: [In(n_name" in nation_scans[0]

    def test_dormant_rich_is_left_anti_with_scalar_broadcast(
        self, spark, sf_dir
    ):
        """Q22 shape: the global-average threshold must arrive as a
        single-row broadcast (no SinglePartition shuffle of customers)
        and the NOT EXISTS must compile to a LeftAnti equi-join."""
        plan = plan_of(spark, sf_dir, "q_dormant_rich")
        assert "LeftAnti" in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


class TestConditionalAggPlans:
    def test_promo_share_is_one_pass_with_pushed_range(self, spark, sf_dir):
        """Q14 shape: the shipdate range must reach the lineitem scan as
        PushedFilters, part must broadcast, and both the guarded and
        unguarded sums must come from ONE aggregate (single lineitem
        scan, no self-join)."""
        plan = plan_of(spark, sf_dir, "q_promo_share")
        li_scan = [
            ln
            for ln in plan.splitlines()
            if "FileScan parquet" in ln and "lineitem" in ln
        ]
        assert li_scan and "l_shipdate" in li_scan[0].split("PushedFilters")[-1]
        assert "BroadcastHashJoin" in plan
        assert plan.count("FileScan parquet") == 2  # lineitem + part, once each


class TestEntropyPlans:
    def test_token_entropy_is_two_aggregates_no_window(self, spark, sf_dir):
        """The H = ln(N) - sum(tf*ln(tf))/N identity must keep the plan
        to two partial-aggregated groupBys — no Window operator, no
        SinglePartition exchange, and text never rides an exchange."""
        plan = plan_of(spark, sf_dir, "q_token_entropy")
        assert "Window" not in plan
        assert "partial" in plan.lower()
        for ln in plan.splitlines():
            if "Exchange" in ln:
                assert "text" not in ln
                assert "SinglePartition" not in ln
        assert "CartesianProduct" not in plan


class TestCorpusAndRobustStatsPlans:
    def test_bigram_expansion_is_join_free(self, spark, sf_dir):
        """Bigrams expand inside the array domain (SQL lambda in the scan
        stage); the textbook self-join/posexplode-align form would put a
        Join in the plan."""
        plan = plan_of(spark, sf_dir, "q_bigram_topk")
        assert "Join" not in plan
        assert "TakeOrderedAndProject" in plan

    def test_pmi_joins_without_cartesian(self, spark, sf_dir):
        """Unigram<->bigram joins are key joins; the two scalar totals ride
        broadcast single rows, never a CartesianProduct."""
        plan = plan_of(spark, sf_dir, "q_pmi_collocations")
        assert "CartesianProduct" not in plan

    def test_sparse_cosine_prunes_with_window_group_limit(self, spark, sf_dir):
        """The per-doc top-8 TF-IDF cut must compile to WindowGroupLimit
        (partial per-partition top-k before the full window sort), and the
        posting-list self-join must stay an equi-join on token.  The top-8
        cut lives in the index-build stage, which the posting-cap
        checkpoint boundary (queries/corpus.py::sparse_cosine_pairs) hides
        from the final query plan — pin it on the un-checkpointed index."""
        from real_time_iot_data_engineering_pipeline_spark.queries.corpus import (
            _sparse_unit,
        )

        unit_plan = (
            _sparse_unit(spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "WindowGroupLimit" in unit_plan
        plan = plan_of(spark, sf_dir, "q_sparse_cosine_topk")
        assert "CartesianProduct" not in plan

    def test_scd2_rides_one_shuffle(self, spark, sf_dir):
        """Gaps-and-islands: lag flags, run-id prefix sum, per-run collapse
        and the interval-close window all share the user_id partitioning —
        exactly one hash exchange in the whole plan."""
        plan = plan_of(spark, sf_dir, "q_scd2_intervals")
        assert plan.count("Exchange hashpartitioning") == 1

    def test_mad_medians_broadcast_back(self, spark, sf_dir):
        """Exact MAD's three passes exchange only the 5-row median/MAD
        tables (broadcast); the events fact must never shuffle."""
        plan = plan_of(spark, sf_dir, "q_mad_outliers")
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan

    # q_value_deciles' plan pin moved to TestTotalOrderRewrites below: the
    # round-6 rewrite replaced the per-user SinglePartition ntile window
    # with the bucketed two-phase prefix plan (functions/prefix.py), so the
    # old "exactly one hash exchange + SinglePartition" shape is the very
    # plan the rewrite exists to eliminate.

    def test_event_pairs_expand_in_array_domain(self, spark, sf_dir):
        """The i<j pair expansion is a nested lambda over the per-user type
        set — no self-join anywhere in the plan."""
        plan = plan_of(spark, sf_dir, "q_event_pairs")
        assert "Join" not in plan


class TestFunctionSurfacePlans:
    def test_grouping_sets_expand_single_scan(self, spark, sf_dir):
        """GROUPING SETS must compile to one Expand over one scan — three
        grouping levels, not three jobs."""
        plan = plan_of(spark, sf_dir, "q_grouping_sets")
        assert "Expand" in plan
        assert plan.count("FileScan parquet") == 1

    def test_missing_days_generates_calendar_and_anti_joins(self, spark, sf_dir):
        """The calendar is sequence()-generated and cross-joins |types|
        rows via broadcast; the absence check is a LeftAnti on the
        distinct observed pairs — no per-day scan loop."""
        plan = plan_of(spark, sf_dir, "q_missing_days")
        assert "LeftAnti" in plan
        assert "CartesianProduct" not in plan

    def test_behavior_signatures_no_window(self, spark, sf_dir):
        """Signature canonicalization is a bounded-state collect_set
        aggregate — no Window, no global sort before the final top."""
        plan = plan_of(spark, sf_dir, "q_behavior_signatures")
        assert "Window" not in plan

    def test_first_touch_is_one_aggregate_no_window(self, spark, sf_dir):
        """min_by/max_by replace the row_number()=1 idiom: one partial-
        aggregating pass, no Window operator, no per-user sort."""
        plan = plan_of(spark, sf_dir, "q_first_touch")
        assert "Window" not in plan
        assert "partial" in plan.lower()

    def test_keyword_extract_is_join_free_generate(self, spark, sf_dir):
        """regexp_extract_all + explode is a scan-stage Generate — no join
        anywhere, aggregation over matches only."""
        plan = plan_of(spark, sf_dir, "q_keyword_extract")
        assert "Generate" in plan
        assert "Join" not in plan

    def test_profile_single_scan_with_expand(self, spark, sf_dir):
        """All per-column statistics (including 4 count-distincts) must
        come from ONE scan — Expand handles the distinct replication and
        stack() reshapes after aggregation."""
        plan = plan_of(spark, sf_dir, "q_profile_events")
        assert plan.count("FileScan parquet") == 1
        assert "Expand" in plan

    def test_sessionize_rides_one_shuffle(self, spark, sf_dir):
        """Sessionization shares q_scd2_intervals' discipline: gap flag,
        session counter and per-session collapse all reuse the user_id
        partitioning — exactly one hash exchange."""
        plan = plan_of(spark, sf_dir, "q_sessionize")
        assert plan.count("Exchange hashpartitioning") == 1


class TestClosingTier:
    def test_open_orders_no_calendar_join(self, spark, sf_dir):
        """Interval counting must be the event-ized form: one scan of
        each table, no range join of a generated calendar against the
        order set (the O(days x orders) naive shape)."""
        plan = plan_of(spark, sf_dir, "q_open_orders")
        assert plan.count("Scan parquet") == 2  # orders + lineitem
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_source_divergence_no_cross_join(self, spark, sf_dir):
        """The uncovered-vocabulary closed form removes any source x
        vocab expansion: every join is hash-keyed; the only BNLJ is the
        single-row total broadcast."""
        plan = plan_of(spark, sf_dir, "q_source_divergence")
        assert "CartesianProduct" not in plan
        import re

        for m in re.finditer(r"BroadcastNestedLoopJoin[^\n]*", plan):
            pass  # single-row total cross is the only allowed BNLJ
        assert plan.count("BroadcastNestedLoopJoin") <= 1

    def test_conversion_latency_user_keyed_joins(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "q_conversion_latency")
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_source_report_inherits_pipeline_posture(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "q_source_quality_report")
        assert "CartesianProduct" not in plan


class TestAuditOpsTier:
    def test_benford_and_cycle_time_reduce_at_scan(self, spark, sf_dir):
        """Both reduce to a handful of cells: no window, no cross join;
        the only BNLJ allowed is the single-row total/stat broadcast."""
        for q, max_bnlj in (("q_benford", 3), ("q_cycle_time", 0)):
            plan = plan_of(spark, sf_dir, q)
            assert "CartesianProduct" not in plan, q
            assert plan.count("BroadcastNestedLoopJoin") <= max_bnlj, q
            if q == "q_cycle_time":
                assert "Window" not in plan

    def test_runs_test_windows_are_partitioned(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "q_runs_test")
        import re

        for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
            assert "event_type" in m.group(1), m.group(0)

    def test_abc_per_part_reduction_before_rank(self, spark, sf_dir):
        """Revenue must partial-aggregate per part BEFORE the global rank
        window — the window input is |parts|, never |lineitems|."""
        plan = plan_of(spark, sf_dir, "q_abc_classes")
        assert "partial_sum" in plan or "partial_" in plan
        assert "CartesianProduct" not in plan


class TestContinuationTierPlans:
    """Plan pins for the continuation-session operators: no cartesian
    products, no Python row stages anywhere; broadcast / top-k shapes
    where the docstrings claim them."""

    _NAMES = (
        "q_dup_group_stats",
        "q_simhash_pairs",
        "q_simhash_eval",
        "q_readability",
        "q_skew_report",
        "q_join_cardinality",
        "q_also_bought",
        "q_ctr_wilson",
        "q_hill_tail",
        "q_doc_containment",
        "q_embed_truncation_eval",
        "q_embed_binary_eval",
        "q_pack_efficiency",
        "q_mixture_sample",
        "q_vocab_coverage",
        "q_dataset_manifest",
        "q_active_users",
        "q_market_concentration",
        "q_cluster_purity",
        "q_integrity_audit",
        "q_eval_grams",
        "q_weekday_anova",
        "q_revenue_motifs",
        "q_price_index",
        "q_mix_shift",
    )

    def test_no_cartesian_or_python_rows(self, spark, sf_dir):
        # Scalar-broadcast crossJoins (1-row totals) legitimately compile
        # to BroadcastNestedLoopJoin, and the eval scorecards broadcast a
        # tiny query batch against the corpus by design (the q_embed_knn
        # shape) — so BNLJ is asserted absent only where it would be a
        # real bug: the candidate-pair detectors, whose whole point is a
        # keyed bucket join instead of an all-pairs scan.
        no_bnlj = {"q_simhash_pairs", "q_doc_containment", "q_also_bought"}
        for name in self._NAMES:
            plan = plan_of(spark, sf_dir, name)
            assert "CartesianProduct" not in plan, name
            if name in no_bnlj:
                assert "BroadcastNestedLoopJoin" not in plan, name
            assert "BatchEvalPython" not in plan, name
            assert "ArrowEvalPython" not in plan, name

    def test_topk_shapes(self, spark, sf_dir):
        for name in ("q_skew_report", "q_ctr_wilson", "q_hill_tail", "q_vocab_coverage"):
            assert "TakeOrderedAndProject" in plan_of(spark, sf_dir, name), name
        assert "WindowGroupLimit" in plan_of(spark, sf_dir, "q_also_bought")

    def test_broadcast_shapes(self, spark, sf_dir):
        for name in ("q_mixture_sample", "q_market_concentration", "q_mix_shift"):
            assert "BroadcastHashJoin" in plan_of(spark, sf_dir, name), name


class TestSummariesAndTwinsTier:
    """Sketch, summary and stateful-twin tier: the bounded-state plans
    these operators claim (mergeable bottom-k, bucketed prefix sums,
    partition-local MG summaries, keyed CUSUM windows) asserted as physical
    shapes, so a refactor can't silently reintroduce an unbounded state or
    an unpartitioned window."""

    def _specs(self, plan: str) -> list[str]:
        import re

        return [
            m.group(1)
            for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan)
        ]

    def test_no_cartesian_or_python_rows(self, spark, sf_dir):
        for name in (
            "q_bottomk_sample",
            "q_quantile_bins",
            "q_hll_distinct",
            "q_bloom_membership",
            "q_partition_plan",
            "q_misra_gries",
            "q_welford_stats",
            "q_cusum_alarm",
            "q_order_reorder_rate",
            "q_supplier_herfindahl",
            "q_embed_centroid_drift",
            "q_label_balance",
            "q_shingle_profile",
            "q_token_budget_plan",
            "q_source_fingerprint",
            "q_dedup_cost_curve",
            "q_doc_length_bands",
            "q_stopword_profile",
            "q_minhash_band_tuning",
        ):
            plan = plan_of(spark, sf_dir, name)
            assert "CartesianProduct" not in plan, name
            assert "BatchEvalPython" not in plan, name
            assert "ArrowEvalPython" not in plan, name

    def test_bottomk_is_take_ordered_not_global_sort(self, spark, sf_dir):
        """Bottom-k-by-hash must compile to TakeOrderedAndProject (each
        partition keeps k rows, driver merges partitions x k) — a global
        Sort + Limit would shuffle the whole corpus through one task."""
        plan = plan_of(spark, sf_dir, "q_bottomk_sample")
        assert "TakeOrderedAndProject" in plan
        assert plan.count("Scan parquet") == 1

    def test_partition_plan_prefix_sum_is_bucketed(self, spark, sf_dir):
        """The cumulative row count runs PARTITIONED by the arithmetic
        range bucket; the only unpartitioned window is over the <= B-row
        bucket-offset table.  Every windowspec must therefore carry bkt."""
        plan = plan_of(spark, sf_dir, "q_partition_plan")
        specs = self._specs(plan)
        assert specs, "expected window operators in the plan"
        for s in specs:
            assert "bkt" in s, s

    def test_quantile_bins_windows_are_group_keyed(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "q_quantile_bins")
        for s in self._specs(plan):
            assert "grp" in s, s
        assert "BroadcastHashJoin" in plan

    def test_cusum_windows_are_sensor_keyed(self, spark, sf_dir):
        """All four cumulative windows (c+/c- sums, running minima) must be
        keyed by user_id — the Lindley closed form is per-sensor math and an
        unpartitioned window would serialize the fleet through one task."""
        plan = plan_of(spark, sf_dir, "q_cusum_alarm")
        specs = self._specs(plan)
        assert specs
        for s in specs:
            assert "user_id" in s, s
        # mu0 is the single allowed 1-row broadcast
        assert plan.count("BroadcastNestedLoopJoin") <= 1

    def test_hll_and_welford_single_pass(self, spark, sf_dir):
        """Sketch and moment aggregates are one partial+final pass over one
        scan — no window, no join, no second read of events."""
        for name in ("q_hll_distinct", "q_welford_stats"):
            plan = plan_of(spark, sf_dir, name)
            assert plan.count("Scan parquet") == 1, name
            assert "Window" not in plan, name

    def test_misra_gries_candidates_broadcast_recount(self, spark, sf_dir):
        """Phase 1 is partition-local Arrow batches (MapInPandas); phase 2
        recounts via a BROADCAST semi-join of the bounded candidate set —
        never a shuffle of the corpus on the candidate key."""
        plan = plan_of(spark, sf_dir, "q_misra_gries")
        assert "MapInPandas" in plan
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        assert "CartesianProduct" not in plan

    def test_bloom_probe_is_hash_join_on_bit_positions(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "q_bloom_membership")
        assert "BroadcastHashJoin" in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan

    def test_misra_gries_recount_is_broadcast(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "q_misra_gries")
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan

    def test_band_tuning_joins_on_keys_no_cartesian(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "q_minhash_band_tuning")
        assert "CartesianProduct" not in plan

    def test_bottomk_uses_take_ordered_not_global_sort(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "q_bottomk_sample")
        assert "TakeOrderedAndProject" in plan

    def test_quantile_bins_never_sorts_the_table(self, spark, sf_dir):
        """The whole point: quantiles WITHOUT a global sort.  The only Sort
        allowed is inside the per-(group, q) window over the single target
        bin (post-broadcast-join, data already reduced), so every window is
        keyed by grp."""
        plan = plan_of(spark, sf_dir, "q_quantile_bins")
        assert "BroadcastHashJoin" in plan
        assert "Exchange rangepartitioning" not in plan
        for s in self._specs(plan):
            assert "grp" in s, s

    def test_bloom_probe_is_broadcast(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "q_bloom_membership")
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan


class TestTotalOrderRewrites:
    """The three total-order statistics (deciles, Gini rank, Pareto
    cumulative share) must run their data-sized windows
    PARTITIONED by the prefix-plan bucket — the unpartitioned ntile /
    row_number / running-sum shapes they replaced are the plans that
    single-task at scale.  Like q_rank_per_group, the bucketed plan is
    adaptive (is_large_input): fixture-sized inputs take the plain window
    (where the two-phase bookkeeping costs more than the sort it avoids),
    so the scale path is forced here via SPARK_GRAFT_SCALE_SWITCH_BYTES=0
    and BOTH paths are oracle-pinned below."""

    NAMES = ["q_value_deciles", "q_revenue_gini", "q_abc_classes"]

    def _specs(self, spark, sf_dir, name):
        import re

        from real_time_iot_data_engineering_pipeline_spark import registry

        registry.load_all()
        plan = (
            registry.QUERIES[name](spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        return plan, [
            m.group(1)
            for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan)
        ]

    @pytest.mark.parametrize("name", NAMES)
    def test_windows_are_bucket_partitioned(self, spark, sf_dir, name, monkeypatch):
        monkeypatch.setenv("SPARK_GRAFT_SCALE_SWITCH_BYTES", "0")
        plan, specs = self._specs(spark, sf_dir, name)
        assert specs, name
        for s in specs:
            assert "bkt" in s, f"{name}: {s}"
        assert "CartesianProduct" not in plan, name
        assert "ntile" not in plan.lower(), name  # arithmetic ntile only

    @pytest.mark.parametrize("name", NAMES)
    def test_small_input_path_takes_plain_window(self, spark, sf_dir, name):
        """At fixture sizes (default switch) the plan must NOT pay the
        bucket bookkeeping — no bkt windowspec anywhere."""
        plan, specs = self._specs(spark, sf_dir, name)
        assert specs, name
        for s in specs:
            assert "bkt" not in s, f"{name}: {s}"

    @pytest.mark.parametrize("name", NAMES)
    def test_bucketed_scale_path_parity(self, spark, sf_dir, name, monkeypatch):
        """Both adaptive paths must hash-match the DuckDB oracle — the
        default path is covered by test_oracle_parity; this forces the
        cluster-scale bucketed plan (q_rank_per_group's twin check)."""
        import duckdb

        from real_time_iot_data_engineering_pipeline_spark import registry
        from .oracle_utils import compare, duck_connection

        monkeypatch.setenv("SPARK_GRAFT_SCALE_SWITCH_BYTES", "0")
        registry.load_all()
        sdf = registry.QUERIES[name](spark, sf_dir).toPandas()
        con = duck_connection(sf_dir)
        try:
            ddf = con.execute(registry.ORACLES[name]).fetchdf()
        finally:
            con.close()
        problems = compare(sdf, ddf)
        assert not problems, f"{name}[bucketed]: " + " | ".join(problems)

