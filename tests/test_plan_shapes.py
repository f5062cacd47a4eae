"""Physical-plan regression tests: the scale properties the engine
claims (pushdown, pruning, broadcast, top-k, exchange reuse) asserted
against `.explain`-level plan text, so a refactor that silently
degrades the plan fails CI rather than the 100 TB run."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod

SF = "/root/testdata/sf0.001"


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def q(name):
    return entry_mod.queries()[name]


def test_pricing_summary_pushes_filter_and_prunes_columns(spark):
    df = q("pricing_summary")(spark, SF)
    plan = _physical(df)
    # The shipdate predicate must reach the parquet scan...
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # ...and the scan must read only the 5 referenced columns of 16.
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_quantity" in read_schema and "l_orderkey" not in read_schema


def test_top_customers_broadcasts_dim_and_uses_topk(spark):
    plan = _physical(q("top_customers_by_revenue")(spark, SF))
    assert "BroadcastHashJoin" in plan  # dim side broadcast, no fact shuffle
    assert "TakeOrderedAndProject" in plan  # per-partition k-heap, no global sort
    assert "SortMergeJoin" not in plan


def test_star_resolution_broadcasts_all_dims(spark):
    plan = _physical(q("star_fact_resolution")(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2  # both dims
    assert "SortMergeJoin" not in plan


def test_mode_or_first_reuses_partitioning(spark):
    # One hash exchange on the key feeds both aggregates: one scan, no
    # window, no join-back.
    plan = _physical(q("mode_or_first_lineitem")(spark, SF))
    assert "Window" not in plan and "Join" not in plan
    assert plan.count("Exchange") == 1
    assert "Exchange hashpartitioning(l_orderkey" in plan
    assert plan.count("FileScan") == 1


def test_summary_stats_single_aggregate(spark):
    plan = _optimized(q("summary_stats_lineitem")(spark, SF))
    assert plan.count("Union") == 0
    assert plan.count("Aggregate") == 1  # one agg, stack is a projection


def test_exact_dedup_shuffles_hash_not_content(spark):
    # The dedup aggregate groups on xxhash64(text); the shuffled
    # aggregate keys are the 8-byte hash, and the text column itself
    # is not in the aggregate output.
    plan = _optimized(q("exact_dedup_documents")(spark, SF))
    assert "xxhash64(text" in plan
    seg = plan.split("Aggregate")[1]
    assert "text#" not in seg.split("\n")[0]


def test_recode_broadcasts_lookup(spark):
    plan = _physical(q("recode_event_types")(spark, SF))
    assert "BroadcastHashJoin" in plan


def test_flagship_cold_join_has_no_skewed_single_branch(spark):
    # The hot-key mitigation splits the plan: a full outer for cold
    # keys plus the salted-inner/anti decomposition for the "" group.
    plan = _physical(q("flagship_merge_indicator")(spark, SF))
    assert "FullOuter" in plan.replace(" ", "")
    assert plan.count("Union") >= 1


def test_lineitem_scan_prunes_for_two_column_projection(spark):
    from workshoop2_etl_spark.sources.readers import read_parquet

    df = read_parquet(spark, f"{SF}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    plan = _physical(df)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_comment" not in read_schema and "l_shipdate" not in read_schema


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    # S6 partition_by: a filtered read of a partitioned dataset must
    # scan only matching partitions (PartitionFilters, not a full scan).
    from pyspark.sql import functions as F

    from workshoop2_etl_spark.sources.readers import read_parquet
    from workshoop2_etl_spark.sources.writers import write_parquet

    orders = read_parquet(spark, f"{SF}/orders.parquet")
    out = str(tmp_path / "orders_by_status")
    write_parquet(orders, out, partition_by=["o_orderstatus"])

    filtered = spark.read.parquet(out).filter(F.col("o_orderstatus") == "F")
    plan = _physical(filtered)
    assert "PartitionFilters" in plan and "o_orderstatus" in plan.split("PartitionFilters")[1].splitlines()[0]
    got = filtered.count()
    want = orders.filter(F.col("o_orderstatus") == "F").count()
    assert got == want


def test_media_metadata_never_reads_payload_from_parquet(spark, tmp_path):
    # The multimodal design claim: a metadata-only query over a
    # parquet-backed media table must never read the payload bytes —
    # nested schema pruning drops the struct field at the scan.
    from workshoop2_etl_spark.operators.multimodal import (
        attach_media,
        media_metadata,
    )
    from workshoop2_etl_spark.sources.readers import read_parquet
    from workshoop2_etl_spark.sources.writers import write_parquet

    docs = read_parquet(spark, f"{SF}/documents.parquet").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    media = attach_media(
        docs, "payload", media_type="image", fmt="png"
    ).drop("payload")
    out = str(tmp_path / "media_table")
    write_parquet(media, out)

    meta = media_metadata(spark.read.parquet(out), "media")
    plan = _physical(meta)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "content_md5" in read_schema
    assert "payload" not in read_schema, read_schema


def test_range_join_never_nested_loop(spark):
    """Bin bucketing exists precisely so Spark does not plan the
    interval predicate as a BroadcastNestedLoopJoin / cartesian —
    assert the join is the equi-join on (keys, bin)."""
    from workshoop2_etl_spark.operators.merge import range_join

    left = spark.read.parquet(f"{SF}/events.parquet").selectExpr(
        "user_id", "cast(event_id as long) as p"
    )
    right = spark.read.parquet(f"{SF}/orders.parquet").selectExpr(
        "o_custkey as user_id",
        "cast(o_orderkey as long) as lo",
        "cast(o_orderkey + 100 as long) as hi",
    )
    plan = _physical(
        range_join(left, right, ["user_id"], "p", "lo", "hi", bin_size=100)
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_asof_join_single_exchange_on_key(spark):
    """The union-and-carry formulation shuffles ONCE on the key (the
    window partition) — no range explosion, no second exchange."""
    from workshoop2_etl_spark.operators.merge import asof_join

    left = spark.read.parquet(f"{SF}/events.parquet").selectExpr(
        "event_id", "user_id", "cast(event_id as long) as ts"
    )
    right = spark.read.parquet(f"{SF}/orders.parquet").selectExpr(
        "o_custkey as user_id",
        "cast(o_orderkey as long) as ts",
        "o_totalprice as price",
    )
    plan = _physical(
        asof_join(left, right, ["user_id"], "ts", value_cols=["price"])
    )
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SinglePartition" not in plan


def test_chunk_documents_zero_exchange(spark):
    """Chunking is a pure per-row projection + explode — any Exchange
    in the plan means a refactor introduced a shuffle."""
    from workshoop2_etl_spark.operators.chunking import chunk_documents

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _physical(chunk_documents(docs, "doc_id", "text", max_tokens=128))
    assert "Exchange" not in plan


def test_scd2_single_exchange_on_key(spark):
    # Both windows and the run aggregate share one hash partitioning
    # on the natural key — the plan must not re-shuffle between them.
    plan = _physical(q("scd2_customer_status")(spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SinglePartition" not in plan


def test_line_dedup_shuffles_narrow_keys_only(spark):
    # Two hash exchanges (unit-hash first-occurrence aggregate,
    # per-doc reassembly) plus the ensure_parallelism round-robin;
    # never a global sort funnel.
    plan = _physical(q("line_dedup_documents")(spark, SF))
    assert plan.count("Exchange hashpartitioning") <= 3
    assert "SinglePartition" not in plan
    # the first-occurrence selection keys on the 64-bit unit hash,
    # not the unit text
    assert "xxhash64" in plan
    # round 8: first occurrence is a partial-aggregable
    # min(struct(id, pos, unit)) — map-side combine collapses
    # duplicate units before the shuffle and no per-key sort runs
    # (the row_number window formulation it replaced sorted each
    # unit's occurrence list on a single task).
    assert "partial_min" in plan or "min(__m" in plan or "min(struct" in plan
    assert "row_number" not in plan


def test_dq_report_broadcasts_ref_checks(spark):
    # Referential checks must anti-join via broadcast: the fact side
    # never shuffles for integrity checking.
    plan = _physical(q("dq_report_orders")(spark, SF))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_mixture_sample_broadcasts_quotas(spark):
    # Quotas join in as a broadcast; the only data shuffle is the
    # per-source window partitioning.
    plan = _physical(q("mixture_sample_documents")(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_overlap_join_never_nested_loop(spark):
    # Interval-overlap must be the bin-bucketed EQUI join; a
    # BroadcastNestedLoopJoin or cartesian here is the quadratic
    # failure the operator exists to avoid.
    plan = _physical(q("overlap_join_events")(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_resample_fill_no_nested_loop_and_no_global_sort(spark):
    plan = _physical(q("resample_fill_events")(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan


def test_bm25_uses_global_topk_not_full_sort(spark):
    # The final top-k must be TakeOrderedAndProject (per-partition
    # heaps + merge), never a global Sort over all scored docs.
    plan = _physical(q("bm25_search_documents")(spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_global_ids_no_single_partition_exchange_in_registry(spark):
    plan = _physical(q("global_ids_documents")(spark, SF))
    assert "Exchange SinglePartition" not in plan


def test_fuzzy_join_broadcasts_dimension(spark):
    # Non-equi predicate -> nested loop is expected, but it must be
    # the BROADCAST variant (tiny dim ships to executors), never a
    # shuffle cartesian.
    plan = _physical(q("fuzzy_join_nation_names")(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_cdc_apply_broadcasts_change_keys(spark):
    # The snapshot anti-joins the (tiny) changed-key set via
    # broadcast; the base table never shuffles for eviction.
    plan = _physical(q("cdc_apply_orders")(spark, SF))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_fuzzy_join_big_never_nested_loop(spark):
    # Both sides big: blocking must make the fuzzy join an equi-join
    # on deletion variants — never a (broadcast) nested loop or a
    # cartesian product.
    plan = _physical(q("fuzzy_join_big_customers")(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_tpch_q6_pure_scan_agg(spark):
    """Q6 is the pushdown benchmark: all three predicates reach the
    parquet scan, the read schema is pruned to the referenced columns,
    and there is no join or wide shuffle — one partial/final agg pair."""
    plan = _physical(q("tpch_q6_forecast_revenue")(spark, SF))
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    assert "l_shipdate" in pushed and "l_discount" in pushed
    assert "l_quantity" in pushed
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_extendedprice" in read_schema
    assert "l_orderkey" not in read_schema and "l_partkey" not in read_schema
    assert "Join" not in plan


def test_tpch_q7_broadcasts_both_dim_paths(spark):
    """Both the supplier-nation and customer-nation paths must resolve
    via broadcast — the fact shuffles only for the final group-by."""
    plan = _physical(q("tpch_q7_volume_shipping")(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2
    # The nation-pair filter must prune each dim BEFORE the broadcast.
    opt = _optimized(q("tpch_q7_volume_shipping")(spark, SF))
    assert "NATION_" in opt


def test_tpch_q19_factors_predicates_to_both_scans(spark):
    """The disjunction's common bounds must be factored into each scan:
    brand IN (...) on part, quantity bounds on lineitem."""
    plan = _physical(q("tpch_q19_disjunctive_revenue")(spark, SF))
    assert "BroadcastHashJoin" in plan
    # part scan receives the brand disjunction as an In/Or pushed filter
    assert "p_brand" in plan.split("ReadSchema:")[0] or "In(p_brand" in plan
    # lineitem scan receives the derived quantity range
    assert "GreaterThanOrEqual(l_quantity" in plan or "l_quantity" in (
        plan.split("PushedFilters:")[1] if "PushedFilters:" in plan else ""
    )


def test_tpch_q3_and_q18_use_topk_not_global_sort(spark):
    for name in ("tpch_q3_unshipped_orders", "tpch_q18_large_volume_customers"):
        plan = _physical(q(name)(spark, SF))
        assert "TakeOrderedAndProject" in plan, name


def test_tpch_q15_argmax_is_broadcast_not_window(spark):
    """The scalar-max compare must plan as a one-row broadcast join,
    never a single-partition window over all suppliers."""
    plan = _physical(q("tpch_q15_top_supplier")(spark, SF))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "Window" not in plan


def test_tpch_q4_semi_join_with_residual_not_aggregate(spark):
    """EXISTS with an equi key + cross-side inequality must plan as a
    LeftSemi join carrying the residual — not a distinct or count>0."""
    plan = _physical(q("tpch_q4_order_priority")(spark, SF))
    assert "LeftSemi" in plan
    assert "l_shipdate" in plan  # the residual inequality survived


def test_tpch_q22_anti_join_on_distinct_keys(spark):
    plan = _physical(q("tpch_q22_prospective_customers")(spark, SF))
    assert "LeftAnti" in plan


def test_tpch_q13_left_outer_keeps_every_customer(spark):
    """The join must stay LEFT OUTER (an inner join silently drops
    orderless customers — invisible at scale factors where everyone
    ordered, which is exactly why the plan is asserted), and the
    histogram must account for every customer."""
    df = q("tpch_q13_customer_distribution")(spark, SF)
    assert "LeftOuter" in _optimized(df)
    total = sum(r.custdist for r in df.collect())
    n_cust = spark.read.parquet(f"{SF}/customer.parquet").count()
    assert total == n_cust


def _final(df) -> str:
    """AQE FINAL plan only: collect() finalizes in place; toString
    prints final + initial sections and string-counting across both
    double-counts every node."""
    df.collect()
    return _physical(df).split("+- == Initial Plan ==")[0]


def test_tpch_q21_single_pass_window_not_self_join(spark):
    # The EXISTS/NOT-EXISTS decorrelation must be window aggregates
    # over ONE keyed aggregate — the re-aggregate + join-back form
    # planned the whole scan-join-aggregate pipeline twice (column
    # pruning specializes the branches, so exchange reuse never
    # fires; measured). Three tables, each scanned exactly once.
    final = _final(q("tpch_q21_waiting_suppliers")(spark, SF))
    assert final.count("Scan parquet") == 3
    assert "Window" in final
    assert "SortMergeJoin" not in final


def test_tpch_q20_q2_single_scan_per_table(spark):
    final = _final(q("tpch_q20_part_promotion")(spark, SF))
    assert final.count("Scan parquet") == 4  # lineitem part supplier nation
    assert "Window" in final
    final = _final(q("tpch_q2_min_cost_supplier")(spark, SF))
    assert final.count("Scan parquet") == 5  # + region
    assert "Window" in final


def test_tpch_q5_broadcasts_all_dims(spark):
    plan = _physical(q("tpch_q5_local_supplier_volume")(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan.split("== Initial Plan ==")[0]


def test_tpch_q12_pushes_shipdate_filter(spark):
    plan = _physical(q("tpch_q12_shipping_priority_buckets")(spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate" in plan


def test_tpch_q16_anti_join_blocklist(spark):
    plan = _physical(q("tpch_q16_supplier_part_relationship")(spark, SF))
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan


def test_tpch_q10_topk_no_global_sort(spark):
    plan = _physical(q("tpch_q10_returned_items")(spark, SF))
    assert "TakeOrderedAndProject" in plan


def _pair_family(spark):
    from workshoop2_etl_spark.operators import basket, dedup, similarity
    from workshoop2_etl_spark.operators.pairs import both_orientations
    from workshoop2_etl_spark.sources.readers import read_parquet

    docs = read_parquet(spark, f"{SF}/documents.parquet")
    emb = read_parquet(spark, f"{SF}/embeddings.parquet")
    li = read_parquet(spark, f"{SF}/lineitem.parquet")

    def copurchase(min_count):
        return basket.copurchase_pairs(
            li, basket_col="l_orderkey", item_col="l_partkey", min_count=min_count
        )

    return {
        "lsh_candidate_pairs": lambda: dedup.lsh_candidate_pairs(
            dedup.minhash_signatures(docs, "doc_id", "text"), "doc_id"
        ),
        "simhash_neardup_pairs": lambda: dedup.simhash_neardup_pairs(
            dedup.simhash(docs, "doc_id", "text"), "doc_id"
        ),
        "ngram_jaccard_neardup": lambda: dedup.ngram_jaccard_neardup(
            docs, "doc_id", "text"
        ),
        "winnow_candidates": lambda: dedup.winnow_candidates(
            docs, "doc_id", "text", k=20, w=8
        ),
        "embedding_neardup": lambda: similarity.embedding_neardup(
            emb, dim=64, threshold=0.35, num_tables=8, num_planes=8
        ),
        "copurchase_pairs": lambda: copurchase(1),
        "both_orientations": lambda: both_orientations(
            copurchase(3), "item_a", "item_b", "src", "dst"
        ),
        "association_rules_lineitem": lambda: q("association_rules_lineitem")(
            spark, SF
        ),
        "triangles_copurchase_lineitem": lambda: q(
            "triangles_copurchase_lineitem"
        )(spark, SF),
    }


# Exchange counts of the AQE final plans, read before the pair
# callers were moved onto operators/pairs.py and unchanged by that
# move: one bucket aggregate per caller, no self-join. A kernel edit
# that adds a second aggregate or a join shows up here.
_PAIR_FAMILY_EXCHANGES = {
    "lsh_candidate_pairs": 2,
    "simhash_neardup_pairs": 4,
    "ngram_jaccard_neardup": 3,
    "winnow_candidates": 3,
    "embedding_neardup": 5,
    "copurchase_pairs": 2,
    "both_orientations": 2,
    "association_rules_lineitem": 21,
    "triangles_copurchase_lineitem": 27,
}


@pytest.mark.parametrize("caller", sorted(_PAIR_FAMILY_EXCHANGES))
def test_pair_family_exchange_counts(spark, caller):
    final = _final(_pair_family(spark)[caller]())
    assert final.count("Exchange") == _PAIR_FAMILY_EXCHANGES[caller], final


def _prefix_family(spark):
    from workshoop2_etl_spark.operators.ids import assign_global_ids
    from workshoop2_etl_spark.operators.quality import ks_two_sample
    from workshoop2_etl_spark.operators.timeseries import concurrency_profile
    from workshoop2_etl_spark.sources.readers import read_parquet

    docs = read_parquet(spark, f"{SF}/documents.parquet")
    orders = read_parquet(spark, f"{SF}/orders.parquet")

    def entry(name):
        return lambda: q(name)(spark, SF)

    return {
        "assign_global_ids": lambda: assign_global_ids(
            docs, "doc_id", num_partitions=8
        ),
        "concurrency_profile": lambda: concurrency_profile(
            orders.select(
                F.col("o_orderdate").alias("s"),
                F.date_add("o_orderdate", 30).alias("e"),
            ),
            start_col="s",
            end_col="e",
            num_partitions=8,
        ),
        "ks_two_sample": lambda: ks_two_sample(
            orders, "o_totalprice", F.col("o_orderpriority") == "1-URGENT",
            num_partitions=5,
        ),
        "global_ids_documents": entry("global_ids_documents"),
        "quantiles_totalprice": entry("quantiles_totalprice"),
        "winsorize_orders_totalprice": entry("winsorize_orders_totalprice"),
        "ks_drift_orders": entry("ks_drift_orders"),
        "session_concurrency_events": entry("session_concurrency_events"),
    }


# (Exchange count, ReusedExchange present) of the AQE final plans,
# read before the three callers were moved onto ids.running_sums and
# unchanged by that move. Where the offsets branch reads the range
# exchange of the running-sum branch, it must keep doing so. The bare
# assign_global_ids call keeps every documents column, which column
# pruning strips from the offsets branch only, so its two range
# exchanges differ and nothing is reused (see running_sums).
_PREFIX_FAMILY_PLANS = {
    "assign_global_ids": (5, False),
    "concurrency_profile": (7, True),
    "ks_two_sample": (12, True),
    "global_ids_documents": (6, True),
    "quantiles_totalprice": (11, True),
    "winsorize_orders_totalprice": (12, True),
    "ks_drift_orders": (12, True),
    "session_concurrency_events": (34, True),
}


@pytest.mark.parametrize("caller", sorted(_PREFIX_FAMILY_PLANS))
def test_prefix_family_exchange_counts(spark, caller):
    exchanges, reused = _PREFIX_FAMILY_PLANS[caller]
    final = _final(_prefix_family(spark)[caller]())
    assert final.count("Exchange") == exchanges, final
    if reused:
        assert "ReusedExchange" in final, final


# Driver-built frames are Arrow LocalRelations (sources/readers.py:
# from_records), never a LogicalRDD over a pickled Python RDD, whose
# every execution starts a Python worker.


def _jvm_local(df) -> bool:
    plan = _optimized(df)
    return "LocalRelation" in plan and "LogicalRDD" not in plan


def test_recode_and_records_lookup_are_jvm_local(spark):
    assert _jvm_local(q("recode_event_types")(spark, SF))
    assert _jvm_local(q("from_records_lookup_join")(spark, SF))


def test_driver_side_graph_results_are_jvm_local(spark):
    from workshoop2_etl_spark.operators.dedup import duplicate_clusters

    # pagerank_fixed_point's small-graph branch at sf0.001
    assert _jvm_local(q("pagerank_fixed_point_copurchase")(spark, SF))
    pairs = spark.range(6).where("id % 3 != 2").select(
        F.col("id").alias("doc_id_a"), (F.col("id") + 1).alias("doc_id_b")
    )
    clusters = duplicate_clusters(pairs, "doc_id")  # the collect branch
    assert _jvm_local(clusters)
    assert sorted(map(tuple, clusters.collect())) == [
        (0, 0), (1, 0), (2, 0), (3, 3), (4, 3), (5, 3)
    ]


# Spark physical nodes that run Python: the eval nodes of Python and
# Arrow UDFs/UDTFs and the map/group/co-group/window pandas and Arrow
# kernels.
_PYTHON_NODE = re.compile(
    r"EvalPython|InPandas|InArrow|PythonUDTF|FlatMapGroupsInArrow"
)


def _executed_plans(spark, run) -> list[str]:
    """The physical plans of every SQL execution ``run()`` starts, read
    from the status store (which works with the UI disabled)."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def executions():
        bus.waitUntilEmpty()
        runs = store.executionsList()  # the retained ones, a bounded list
        return [runs.apply(i) for i in range(runs.size())]

    before = max((x.executionId() for x in executions()), default=-1)
    run()
    return [
        x.physicalPlanDescription()
        for x in executions()
        if x.executionId() > before
    ]


def _assert_no_python(plans: list[str]) -> None:
    for plan in plans:
        assert "ExistingRDD" not in plan
        assert not _PYTHON_NODE.search(plan), _PYTHON_NODE.search(plan)


def test_paper_etl_load_runs_no_python(spark, tmp_path):
    """A warehouse load shaped like the paper's (clean with recode and
    mode-or-first → outer merge with a parquet checkpoint → star →
    writes) executes only JVM plans: no Python RDD scan and no node
    that evaluates Python, in any plan the load runs."""
    plans = _executed_plans(spark, lambda: _paper_etl_load(spark, tmp_path))
    assert len(plans) >= 4  # the checkpoint write and three table writes
    assert any("LocalTableScan" in p for p in plans)  # the recode lookup
    _assert_no_python(plans)


def test_xml_roundtrip_runs_no_python(spark):
    """The XML sink and scan are Spark's own ``xml`` source: neither the
    write nor the read of ``xml_roundtrip_orders`` runs Python."""
    plans = _executed_plans(
        spark, lambda: q("xml_roundtrip_orders")(spark, SF).collect()
    )
    assert len(plans) >= 2  # the write and the read
    _assert_no_python(plans)


def _paper_etl_load(spark, tmp_path) -> None:
    from workshoop2_etl_spark.plans.pipelines import (
        DimSpec,
        clean_pipeline,
        merge_pipeline,
        star_pipeline,
    )
    from workshoop2_etl_spark.sources.readers import read_parquet
    from workshoop2_etl_spark.sources.writers import write_parquet

    lineitem = read_parquet(spark, f"{SF}/lineitem.parquet")
    orders = read_parquet(spark, f"{SF}/orders.parquet")
    cleaned = clean_pipeline(
        lineitem.select(
            "l_orderkey", "l_partkey", "l_linenumber", "l_quantity",
            "l_returnflag",
        ),
        required=["l_orderkey", "l_returnflag", "l_quantity"],
        recode_col="l_returnflag",
        recode_map={"A": ("Accepted", "accepted"), "R": ("Returned", "returned")},
        recode_out=["flag_group", "flag_sub"],
        recode_defaults=[F.lit("Otro"), F.col("l_returnflag")],
        dedup_key="l_orderkey",
        mode_col="l_quantity",
        order_cols=["l_linenumber", "l_partkey", "l_quantity"],
    )
    merged = merge_pipeline(
        cleaned.withColumnRenamed("l_orderkey", "orderkey"),
        orders.withColumnRenamed("o_orderkey", "orderkey"),
        ["orderkey"],
        checkpoint_path=str(tmp_path / "merged"),
    )
    dims, fact = star_pipeline(
        merged,
        [
            DimSpec("dim_status", ["o_orderstatus"], "status_id"),
            DimSpec("dim_flag", ["flag_group", "flag_sub"], "flag_id"),
        ],
        ["orderkey", "l_quantity", "o_totalprice", "_merge"],
    )
    for name, df in (*dims.items(), ("fact_orders", fact)):
        write_parquet(df, str(tmp_path / name))


# Per-group top-k: Spark plans ``row_number() <= k`` as a partial
# WindowGroupLimit below the hash exchange (each partition keeps its
# local top-k per group, so only those rows shuffle) and a final one
# above it. Nothing else belongs under the exchange.


@pytest.mark.parametrize("caller", ["top_k_per_group", "per_domain_cap"])
def test_top_k_per_group_limits_each_partition_before_the_exchange(
    spark, caller
):
    from workshoop2_etl_spark.operators.analytics import top_k_per_group
    from workshoop2_etl_spark.operators.curation import per_domain_cap

    df = spark.range(2000).select(
        (F.col("id") % 7).alias("g"),
        F.concat(
            F.lit("http://s"), (F.col("id") % 7).cast("string"),
            F.lit(".com/p"), F.col("id").cast("string"),
        ).alias("url"),
        "id",
    ).repartition(4)
    if caller == "top_k_per_group":
        out = top_k_per_group(df, ["g"], [F.col("id").desc()], 3)
    else:
        out = per_domain_cap(df, url_col="url", order_by=[("id", False)], k=3)
    above, below = _final(out).split("Exchange hashpartitioning(", 1)
    assert "WindowGroupLimit" in above and ", Final" in above
    partial = below.splitlines()[1]
    assert "WindowGroupLimit" in partial and partial.endswith(", Partial")
    assert not _PYTHON_NODE.search(below), _PYTHON_NODE.search(below)


@pytest.mark.parametrize(
    "name", ["topk_pergroup_partial_lineitem", "domain_cap_documents"]
)
def test_per_group_topk_entries_run_no_python(spark, name):
    final = _final(q(name)(spark, SF))
    assert "WindowGroupLimit" in final
    assert not _PYTHON_NODE.search(final), _PYTHON_NODE.search(final)
