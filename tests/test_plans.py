"""Plan-shape tests — the reference asserts physical-plan routing
(crates/datafusion/tests/plan_tests.rs:457-621); here we assert the
Catalyst plans that make the engine scale:

- predicate pushdown reaches the parquet scan (PushedFilters)
- column pruning (ReadSchema carries only referenced columns)
- map-side partial aggregation before the shuffle
- broadcast joins for dimension tables
- top-k compiles to TakeOrderedAndProject (no global sort)
- the MOR merge runs per file slice in one mapInArrow, with no shuffle
"""

from __future__ import annotations

import pytest

from hudi_rs_spark.workloads import load_all
from tests.conftest import extract_fixture

SPECS = load_all()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


class TestRelationalPlans:
    def test_q6_filter_pushdown_and_pruning(self, spark, sf_dir):
        plan = _plan(SPECS["q6_forecast_revenue"].build(spark, sf_dir))
        assert "PushedFilters: [" in plan
        assert "IsNotNull(l_shipdate)" in plan or "l_shipdate" in plan.split("PushedFilters")[1][:300]
        # column pruning: only 4 referenced lineitem columns in the scan
        scan_line = next(l for l in plan.splitlines() if "FileScan parquet" in l)
        assert "l_returnflag" not in scan_line
        assert "partial_sum" in plan  # map-side combine

    def test_q3_topk_and_broadcast(self, spark, sf_dir):
        plan = _plan(SPECS["q3_shipping_priority"].build(spark, sf_dir))
        assert "TakeOrderedAndProject" in plan  # no global sort for top-k
        assert "BroadcastHashJoin" in plan  # customer dim broadcast
        assert "partial_sum" in plan

    def test_q5_six_way_join_broadcasts_dims(self, spark, sf_dir):
        plan = _plan(SPECS["q5_local_supplier_volume"].build(spark, sf_dir))
        assert plan.count("BroadcastHashJoin") >= 3
        # no cartesian anywhere
        assert "CartesianProduct" not in plan

    def test_merge_latest_single_shuffle(self, spark, sf_dir):
        plan = _plan(SPECS["merge_latest_state"].build(spark, sf_dir))
        # one hash-partition exchange for the window dedup (plus possibly
        # a final sort for the orderBy); no join, no extra shuffle
        exchanges = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
        assert len(exchanges) == 1, exchanges
        assert "row_number" in plan

    def test_dedup_exact_partial_agg(self, spark, sf_dir):
        plan = _plan(SPECS["dedup_exact"].build(spark, sf_dir))
        assert "partial_min" in plan or "partial_count" in plan or "partial" in plan

    def test_sim_brute_topk_broadcasts_queries(self, spark, sf_dir):
        plan = _plan(SPECS["sim_brute_topk"].build(spark, sf_dir))
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan

    def test_ivf_broadcasts_centroids_and_probes(self, spark, sf_dir):
        plan = _plan(SPECS["sim_ivf_topk"].build(spark, sf_dir))
        # centroid assignment: corpus x broadcast(cents); probe join:
        # cells equi-join broadcast(q) — never a partitioned cartesian
        assert "CartesianProduct" not in plan
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan

    def test_fuzzy_levenshtein_is_equi_join(self, spark, sf_dir):
        plan = _plan(SPECS["dedup_fuzzy_levenshtein"].build(spark, sf_dir))
        assert "CartesianProduct" not in plan  # blocked on (lang, bucket)

    def test_percentiles_partial_aggregate(self, spark, sf_dir):
        plan = _plan(SPECS["q_price_percentiles"].build(spark, sf_dir))
        assert "partial_percentile" in plan or "ObjectHashAggregate" in plan


class TestBucketedJoin:
    def test_bucketed_join_has_no_exchange(self, spark, sf_dir, tmp_path):
        """Co-located bucketed tables join shuffle-free; the same join on
        plain tables shuffles both sides."""
        from hudi_rs_spark.operators.bucketing import bucketed_join, write_bucketed

        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
            "l_orderkey", "l_quantity", "l_extendedprice"
        )
        old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            write_bucketed(
                orders.withColumnRenamed("o_orderkey", "l_orderkey"),
                "b_orders", ["l_orderkey"], num_buckets=8,
            )
            write_bucketed(lineitem, "b_lineitem", ["l_orderkey"], num_buckets=8)
            joined = bucketed_join(spark, "b_orders", "b_lineitem", ["l_orderkey"])
            plan = _plan(joined)
            assert "Exchange hashpartitioning" not in plan, plan
            assert "SortMergeJoin" in plan

            shuffled = orders.withColumnRenamed("o_orderkey", "l_orderkey").join(
                lineitem, "l_orderkey"
            )
            assert "Exchange hashpartitioning" in _plan(shuffled)
            # same results either way
            assert joined.count() == shuffled.count()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
            spark.sql("DROP TABLE IF EXISTS b_orders")
            spark.sql("DROP TABLE IF EXISTS b_lineitem")


class TestHudiReadPlans:
    def test_cow_filter_pushdown_into_scan(self, spark):
        from hudi_rs_spark import HudiReadOptions, HudiTable

        path = extract_fixture("sample_table/cow/v6_simplekeygen_nonhivestyle.zip")
        t = HudiTable(path, spark)
        df = t.read(HudiReadOptions(filters=[("intField", ">", "20000")]))
        plan = _plan(df)
        assert "PushedFilters: [" in plan
        assert "GreaterThan(intField,20000)" in plan

    def test_cow_projection_prunes_scan(self, spark):
        from hudi_rs_spark import HudiReadOptions, HudiTable

        path = extract_fixture("sample_table/cow/v6_simplekeygen_nonhivestyle.zip")
        t = HudiTable(path, spark)
        df = t.read(HudiReadOptions(projection=["id", "name"]))
        scan_line = next(
            l for l in _plan(df).splitlines() if "FileScan parquet" in l
        )
        assert "decimalField" not in scan_line  # unreferenced column pruned

    def test_mor_read_merges_per_slice_without_shuffle(self, spark, tmp_path):
        from hudi_rs_spark import HudiTable
        from hudi_rs_spark.sources.pyds import HudiPyDataSource
        from hudi_rs_spark.write.upsert import upsert

        spark.dataSource.register(HudiPyDataSource)
        path, ddl = str(tmp_path / "t"), "id long, name string, ts long"
        w = spark.createDataFrame([(i, f"n{i}", 1) for i in range(8)], ddl).write
        for k, v in {"recordkey.field": "id", "precombine.field": "ts",
                     "table.type": "MERGE_ON_READ", "path": path}.items():
            w = w.option(k, v)
        w.format("hudi_py").mode("append").save()
        upsert(spark.createDataFrame([(3, "u3", 5)], ddl), path)
        t = HudiTable(path, spark)
        assert any(s.log_files for s in t.get_file_slices())
        plan = _plan(t.read())
        # log decode + merge run in the per-slice kernel: no window merge
        # and no shuffle on the record key
        assert "MapInArrow" in plan
        assert "Window" not in plan and "Exchange" not in plan


class TestRound3OperatorPlans:
    def test_mix_rates_broadcast_back(self, spark, sf_dir):
        plan = _plan(SPECS["sample_weighted_mix"].build(spark, sf_dir))
        # the ~|strata|-row rates frame joins the corpus via broadcast,
        # never a shuffled join of the big side against 5 rows
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan

    def test_stratified_sample_no_join_no_shuffle_before_sort(self, spark, sf_dir):
        plan = _plan(SPECS["sample_stratified"].build(spark, sf_dir))
        # CASE projection + filter; the only exchange is the final orderBy
        assert "Join" not in plan
        assert plan.count("Exchange rangepartitioning") == 1

    def test_kmeans_assignment_broadcasts_centroids(self, spark, sf_dir):
        plan = _plan(SPECS["sim_kmeans_clusters"].build(spark, sf_dir))
        # corpus never shuffles for assignment: centroids broadcast to it
        assert "BroadcastNestedLoopJoin" in plan
        assert "CartesianProduct" not in plan

    def test_pack_single_window_exchange(self, spark, sf_dir):
        plan = _plan(SPECS["pack_token_shards"].build(spark, sf_dir))
        # one hash exchange for the per-stream window, one range for sort
        assert plan.count("Exchange hashpartitioning") == 1
        assert "Window" in plan

    def test_pii_scrub_pure_projection(self, spark, sf_dir):
        plan = _plan(SPECS["text_pii_scrub"].build(spark, sf_dir))
        assert "Join" not in plan and "Exchange hashpartitioning" not in plan


class TestRound5OperatorPlans:
    def test_asof_join_has_no_join_node(self, spark, sf_dir):
        """The as-of rewrite is union + window fill: no join operator of
        any kind in the plan — the naive formulation would be a
        BroadcastNestedLoopJoin on the inequality."""
        plan = _plan(SPECS["ops_asof_join"].build(spark, sf_dir))
        assert "NestedLoop" not in plan and "CartesianProduct" not in plan
        assert "Window" in plan
        # the fill itself: union of the two sides feeds the window
        assert "Union" in plan

    def test_range_join_is_equi_join(self, spark, sf_dir):
        """Bucketing turns interval containment into an equi-join; the
        range predicate is a post-join filter, never a nested loop."""
        plan = _plan(SPECS["ops_range_join"].build(spark, sf_dir))
        assert "NestedLoop" not in plan and "CartesianProduct" not in plan
        assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
            "BroadcastHashJoin" in plan
        )

    def test_decontaminate_broadcasts_eval_grams(self, spark, sf_dir):
        """The corpus gram stream meets the eval blocklist via broadcast
        joins only — the bulk side is never hash-shuffled before the
        contamination filter."""
        plan = _plan(SPECS["text_decontaminate"].build(spark, sf_dir))
        assert "BroadcastHashJoin" in plan
        assert "NestedLoop" not in plan and "CartesianProduct" not in plan

    def test_grouping_sets_single_expand(self, spark, sf_dir):
        """GROUPING SETS compiles to ONE Expand + aggregate — one scan
        for all grouping levels, not a re-scan per set."""
        plan = _plan(SPECS["grouping_sets_revenue"].build(spark, sf_dir))
        assert plan.count("Expand") == 1
        assert plan.count("Scan parquet") == 1

    def test_dedup_incremental_anti_join(self, spark, sf_dir):
        """The seen-set check is an anti-join on the fingerprint key —
        no NOT-IN nested loop."""
        plan = _plan(SPECS["dedup_incremental"].build(spark, sf_dir))
        assert "LeftAnti" in plan
        assert "NestedLoop" not in plan and "CartesianProduct" not in plan


class TestR13Plans:
    def test_bloom_decontam_filter_precedes_join(self, spark, sf_dir):
        """The bitset probe is a map-side FILTER on the corpus gram
        stream; only its survivors reach the (broadcast) confirm join —
        never a shuffle of the bulk grams, never a nested loop."""
        plan = _plan(SPECS["text_decontam_bloom"].build(spark, sf_dir))
        assert "BroadcastHashJoin" in plan
        assert "NestedLoop" not in plan and "CartesianProduct" not in plan
        # the pandas-UDF probe shows up as ArrowEvalPython and must sit
        # BELOW the join in the plan text (printed above it)
        probe = plan.find("ArrowEvalPython")
        join = plan.find("BroadcastHashJoin")
        assert probe != -1 and join != -1 and probe > join

    def test_int8_topk_broadcasts_queries(self, spark, sf_dir):
        """The quantized corpus streams once; the (tiny) query side is
        broadcast, ranking is one window — no shuffle of the corpus on
        a join key."""
        plan = _plan(SPECS["sim_int8_topk"].build(spark, sf_dir))
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan
        assert "Window" in plan

    def test_incremental_view_no_cartesian(self, spark, sf_dir):
        """The refresh is keyed joins + one delta aggregate — no
        nested-loop anywhere, and the state merge is a single
        (full outer) join on the group columns."""
        plan = _plan(SPECS["write_incremental_view"].build(spark, sf_dir))
        assert "NestedLoop" not in plan and "CartesianProduct" not in plan
        assert "FullOuter" in plan
