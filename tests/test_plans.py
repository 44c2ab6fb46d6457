"""Plan-shape regression tests: lock in the physical plans that make these
operators scale (pushdown, pruning, broadcast, TakeOrderedAndProject) so a
refactor that silently degrades a plan fails CI, not the 100 TB run."""

import contextlib
import io

import pytest

from agentic_data_pipeline_spark.registry import OPS, _ensure_loaded
from tests.conftest import SF_SMOKE

_ensure_loaded()


def plan_of(spark, op_id: str) -> str:
    df = OPS[op_id].fn(spark, SF_SMOKE)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q1_scan_is_pruned_and_pushed(spark):
    p = plan_of(spark, "q1_pricing_summary")
    assert "LessThanOrEqual(l_shipdate" in p          # predicate pushed to scan
    assert "l_orderkey" not in p.split("ReadSchema:")[1].splitlines()[0]  # pruned
    assert p.count("HashAggregate") >= 2              # partial + final


def test_dim_joins_broadcast(spark):
    p = plan_of(spark, "q_join_inner")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p


def test_topk_uses_takeordered(spark):
    assert "TakeOrderedAndProject" in plan_of(spark, "q_topk")


def test_vector_search_is_jvm_only_topk(spark):
    p = plan_of(spark, "vector_search")
    assert "TakeOrderedAndProject" in p
    assert "EvalPython" not in p                      # no Python in hot path


def test_text_ops_have_no_python_stage(spark):
    for op_id in ("ext_text_stats", "ext_token_count", "ext_fingerprint",
                  "ext_dedup_minhash"):
        assert "EvalPython" not in plan_of(spark, op_id), op_id


def test_salted_join_spreads_keys(spark):
    from pyspark.sql import functions as F

    from agentic_data_pipeline_spark.functions.skew import salted_join

    # one pathologically hot key (90% of rows) + uniform remainder
    left = spark.range(0, 1000).select(
        F.when(F.col("id") < 900, F.lit(7)).otherwise(F.col("id") % 50)
        .alias("k"), F.col("id").alias("payload"))
    right = spark.range(0, 50).select(F.col("id").alias("k"),
                                      (F.col("id") * 10).alias("rv"))
    out = salted_join(left, right, "k", salt=8)
    plain = left.join(right, "k")
    assert out.count() == plain.count()               # same join semantics
    assert sorted(r["payload"] for r in out.collect()) == \
        sorted(r["payload"] for r in plain.collect())


def test_multimodal_resize_and_frames(spark, sf_dir):
    from agentic_data_pipeline_spark.operators.multimodal import (
        decode_image, documents_as_assets, resize_images, sample_frames,
    )

    assets = documents_as_assets(spark, sf_dir).limit(5)
    resized = resize_images(assets, 8, 4).collect()
    assert all(len(r["media"]) == 32 for r in resized)
    frames = sample_frames(assets, every_n_bytes=16, max_frames=3)
    per_asset = frames.groupBy("asset_id").count().collect()
    assert all(1 <= r["count"] <= 3 for r in per_asset)
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG...")


def test_q3_q10_topk_and_broadcast(spark):
    for op_id in ("q3_shipping_priority", "q10_returned_items"):
        p = plan_of(spark, op_id)
        assert "TakeOrderedAndProject" in p, op_id      # top-k, no global sort
        assert "BroadcastHashJoin" in p, op_id          # dims broadcast
    p3 = plan_of(spark, "q3_shipping_priority")
    assert "o_orderdate" in p3.split("PushedFilters")[1][:200] or \
        "IsNotNull" in p3  # date filter reaches the orders scan


def test_q5_all_dims_broadcast(spark):
    p = plan_of(spark, "q5_local_supplier_volume")
    # 5 joins total; only lineitem-orders may shuffle. Every dim join is BHJ.
    assert p.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_q4_preagg_no_duplication(spark):
    p = plan_of(spark, "q4_late_shipments")
    # EXISTS == max(l_shipdate) per order (r11): lineitem partial-aggs
    # map-side BEFORE its orderkey exchange, so the exchange carries the
    # order grain; the 1:1 orderkey join can't duplicate rows.
    assert p.count("HashAggregate") >= 4                # max partial+final
    assert "partial_max(l_shipdate" in p                # map-side combine
    assert "GreaterThanOrEqual(o_orderdate" in p        # date window pushed


def test_q14_q19_part_broadcasts_and_pushdown(spark):
    for op_id in ("q14_promo_revenue", "q19_disjunctive_filter"):
        p = plan_of(spark, op_id)
        assert "BroadcastHashJoin" in p, op_id          # part is a dim
        assert "SortMergeJoin" not in p, op_id
    # r11: q14's build side is the PROMO subset (flag-by-left-join-match,
    # FK-safe), not the full (p_partkey, p_type) dim — the p_type
    # equality must reach the PART scan's PushedFilters specifically
    # (r11 ADVICE: the old `in p14.split(...)[0] or in p14` form was a
    # tautology that passed wherever the predicate appeared).
    p14 = plan_of(spark, "q14_promo_revenue")
    assert "LeftOuter" in p14
    part_blocks = [b for b in p14.split("Location:")
                   if "part.parquet" in b.splitlines()[0]]
    assert part_blocks, "no part.parquet scan detail block in the plan"
    assert any("EqualTo(p_type,PROMO)"
               in b.split("PushedFilters:")[1].splitlines()[0]
               for b in part_blocks if "PushedFilters:" in b)
    # Q19's single-side residues of the OR reach the part scan as a filter.
    p19 = plan_of(spark, "q19_disjunctive_filter")
    assert "Or(" in p19.split("PushedFilters")[1][:400]


def test_q17_decorrelated_avg_is_window_after_brand_filter(spark):
    p = plan_of(spark, "q17_small_quantity")
    # the per-partkey average runs as a window over the brand-filtered
    # fact (one pass, no part-cardinality broadcast of the cutoffs);
    # only the part dim broadcasts, never a per-row subquery.
    assert "Window" in p
    assert "BroadcastHashJoin" in p


def test_q22_anti_join_and_scalar_broadcast(spark):
    p = plan_of(spark, "q22_dormant_customers")
    assert "LeftAnti" in p                              # NOT IN → anti join
    # r9 rework: the anti build is FACT-derived (recent o_custkeys, grows
    # with SF), so it must be a partitioned hash build, never a broadcast
    # of a scaling relation; the scalar threshold still broadcasts (BNLJ).
    assert "ShuffledHashJoin" in p
    assert "BroadcastNestedLoopJoin" in p


def test_minhash_verify_joins_are_shuffle_hash_for_both_families(spark):
    # Both hash families share one verify tail, which pins the corpus-sized
    # shingle-set joins to shuffle-hash (a broadcast OOM'd the driver at
    # the 1M-doc tier).
    for op_id in ("ext_dedup_minhash", "ext_dedup_minhash_md5"):
        assert "ShuffledHashJoin" in plan_of(spark, op_id), op_id


def test_decontaminate_eval_side_broadcasts(spark):
    p = plan_of(spark, "ext_decontaminate")
    assert "BroadcastHashJoin" in p                     # eval shingles tiny
    assert "EvalPython" not in p                        # pure Catalyst


def test_pack_sequences_single_shuffle_no_python(spark):
    p = plan_of(spark, "ext_pack_sequences")
    assert "EvalPython" not in p
    # exactly one shuffle (by source); "Exchange (" matches the plan-tree
    # node header once per physical exchange.
    assert p.count("Exchange (") == 1


def test_full_outer_reuses_agg_partitioning(spark):
    # both legs aggregate on o_custkey then join on it: the join must not
    # introduce extra exchanges beyond the two aggregation shuffles.
    p = plan_of(spark, "q_join_full")
    assert "SortMergeJoin FullOuter" in p or "FullOuter" in p


def test_tfidf_df_side_broadcasts(spark):
    p = plan_of(spark, "ext_tfidf")
    assert "BroadcastHashJoin" in p                     # vocabulary join
    assert "EvalPython" not in p                        # pure Catalyst


def test_q2_correlated_min_decorrelates_to_window(spark):
    p = plan_of(spark, "q2_min_cost_supplier")
    # the correlated MIN runs as a per-part window over ONE fact pass (no
    # second lineitem scan, and no part-cardinality broadcast — that build
    # side grows with the data); dims broadcast; no fact-fact sort-merge
    assert "Window" in p
    assert p.count("BroadcastHashJoin") >= 3            # nation/region/part
    assert "SortMergeJoin" not in p


def test_q6_pure_scan_pushdown(spark):
    p = plan_of(spark, "q6_forecast_revenue")
    assert "PushedFilters:" in p and "GreaterThanOrEqual(l_shipdate" in p
    assert "Join" not in p                            # scan→filter→agg only
    schema = p.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" not in schema                 # column pruning


def test_q8_single_fact_shuffle(spark):
    p = plan_of(spark, "q8_market_share")
    # 7 logical joins: every dim broadcasts on the MAP side of the one
    # orderkey exchange (r11 reorder); only that fact⋈fact join may
    # shuffle. Pre-AQE it plans as ONE SortMergeJoin — at scale that is
    # the honest shape (the date-filtered orders side is fact-sized, so
    # asserting no-SMJ only ever held via the tiny test SF's
    # auto-broadcast); AQE localizes it back to broadcast when small.
    assert p.count("BroadcastHashJoin") >= 5
    # tree-section spelling: the detail section repeats the bare operator
    # name, so count the "<op> Inner" form that appears once per join
    assert (p.count("SortMergeJoin Inner")
            + p.count("ShuffledHashJoin Inner")) <= 1


def test_q13_outer_join_preserves_customers(spark):
    p = plan_of(spark, "q13_order_distribution")
    assert "LeftOuter" in p
    assert p.count("HashAggregate") >= 4              # two agg levels, partial+final
    # orders pre-aggregates BEFORE the join (map-side combine shrinks the
    # shuffle to customer cardinality) and the counts side never broadcasts
    assert "BroadcastHashJoin" not in p


def test_q15_argmax_never_collects(spark):
    p = plan_of(spark, "q15_top_supplier")
    # the MAX threshold arrives as a broadcast (nested-loop for the 1-row
    # cross join), not a driver collect re-injected as a literal
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_q16_blocklist_is_broadcast_anti(spark):
    p = plan_of(spark, "q16_part_supplier_counts")
    assert "LeftAnti" in p and "BroadcastHashJoin" in p


def test_q21_one_orderkey_partitioning_reused(spark):
    p = plan_of(spark, "q21_waiting_suppliers")
    assert "EvalPython" not in p
    # decorrelation: per-order aggregate joins back on l_orderkey; the
    # same-key shuffle must appear at most twice (lo join + agg reuse),
    # never once per correlated probe
    assert p.count("Exchange hashpartitioning(l_orderkey") <= 2


def test_group_topk_single_shuffle_rank(spark):
    p = plan_of(spark, "ext_group_topk")
    assert "EvalPython" not in p
    # at most the one group-key shuffle (at smoke scale the single-partition
    # scan already satisfies the window's required distribution → zero)
    assert p.count("Exchange hashpartitioning") <= 1
    assert "Sort" in p and "TakeOrderedAndProject" not in p  # per-group rank


def test_curation_pipeline_eval_side_broadcasts(spark):
    p = plan_of(spark, "ext_curation_pipeline")
    assert "EvalPython" not in p
    # contamination probe: eval shingles broadcast into the corpus shingle
    # stream; the contaminated id-set anti-joins the light per-doc side
    assert "BroadcastHashJoin" in p and "LeftAnti" in p
    # exactly three parquet scans — per-doc projection, eval shingles,
    # corpus shingles — never one per pipeline stage (formatted explain
    # names each scan node twice: tree + details)
    assert p.count("Scan parquet") == 6


def test_similarity_topk_never_partitions_by_query_alone(spark):
    """The two-phase ranking must never hash-partition the full scored
    corpus by query_id alone (the r1 scale bug: Q queries → Q tasks
    holding everything). Phase 1 must salt; only the tiny candidate set
    (<= Q x n_salt x k rows) may exchange on bare query_id."""
    import re

    p = plan_of(spark, "ext_similarity_topk")
    parts = re.findall(r"hashpartitioning\(([^)]*)\)", p)
    salted = [x for x in parts if "__salt" in x]
    bare = [x for x in parts if "query_id" in x and "__salt" not in x]
    assert salted, p          # phase-1 exchange carries the salt
    assert len(bare) <= 1, p  # phase-2 merge over candidates only


# Measured-minimum shuffle counts for the headline bench set (r2). These are
# CEILINGS: a refactor that adds an exchange to any of these queries is a
# plan regression and must fail here before it reaches the bench. (Broadcast
# exchanges are not counted — dims are supposed to broadcast. Nodes are
# counted from the formatted-explain DETAILS section; the tree section
# prints every node a second time.)
HEADLINE_MAX_SHUFFLES = {
    "q1_pricing_summary": 1,     # partial/final agg; ORDER BY folds into it
    "q_groupby": 1,
    "q_join_left": 1,            # pre-join agg shuffle; dims broadcast
    "q_window_agg": 1,           # one window partition-key shuffle
    "q_topk": 0,                 # TakeOrderedAndProject only
    "q_tumble": 1,               # windowed agg
    "ext_dedup_exact": 1,        # fingerprint agg
    "ext_text_stats": 0,         # pure map-side projection
    "ext_docs_to_chunks": 0,     # posexplode + partition-local window
    "ext_sessionize": 1,         # one user_id shuffle shared by the windows
    "ext_asof_join": 1,
    "ext_similarity_topk": 2,    # salted phase-1 + candidate merge
    # r11: li(orderkey) + orders(orderkey) + final s_name agg. The r8
    # shape showed 2 here only by assuming the fact-sized orders side
    # broadcasts (it doesn't past sf1) and re-shuffling the LINE-grain
    # join output; the third exchange now carries the ~4x-smaller order
    # grain instead — node count up, exchange bytes down (sf10 A/B
    # 8.3->6.08 s, OPTIMIZATION_r11.md "cut to the order grain").
    "q21_waiting_suppliers": 3,
    "ext_curation_pipeline": 5,  # composed multi-stage pipeline
}


def test_headline_queries_stay_at_measured_minimum_shuffles(spark):
    import re

    for op_id, ceiling in HEADLINE_MAX_SHUFFLES.items():
        p = plan_of(spark, op_id)
        shuffles = len(re.findall(r"^\(\d+\) Exchange", p, re.M))
        assert shuffles <= ceiling, (op_id, shuffles, ceiling)


def test_curation_pipeline_shape_r3(spark):
    """r3 rework: survivor-per-fingerprint is a min_by AGGREGATE with a
    map-side partial (no row_number window over fp), and the contamination
    probe side feeds the anti join without an extra distinct exchange."""
    p = plan_of(spark, "ext_curation_pipeline")
    assert "row_number" not in p
    assert "min_by" in p and "partial_min_by" in p
    # r12: the shingle constructions are per-doc Arrow generators inside
    # the scan task — the two Window(+exchange) subtrees are gone
    # entirely (plans/r12/ext_curation_pipeline_*; OPTIMIZATION_r12.md
    # "dedup.shingles_exploded — Arrow per-doc shingle generator")
    assert p.count("Window (") == 0
    assert "MapInArrow" in p
    # row-at-a-time Python never allowed, nor vectorized pandas UDFs;
    # MapInArrow is the only sanctioned Python boundary (guide §4.2)
    assert "BatchEvalPython" not in p
    assert "ArrowEvalPython" not in p


def test_skew_report_is_two_phase_agg(spark):
    """One key-shuffle + one single-row global agg — the report costs what
    one shuffle on the key costs, nothing more."""
    df = OPS["ext_skew_report"].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Exchange SinglePartition") == 1
    assert "EvalPython" not in plan


def test_quality_classifier_map_only(spark):
    """The hashing-trick classifier must stay a zero-exchange map pass
    (higher-order array fns, no explode+groupBy, no Python)."""
    p = plan_of(spark, "ext_quality_classifier")
    assert "Exchange" not in p
    assert "EvalPython" not in p
    assert "Generate" not in p  # no explode


def test_shard_assign_single_exchange(spark):
    """Shard manifest = exactly the writer's one repartition-by-shard
    exchange feeding the within-shard sort/row_number."""
    p = plan_of(spark, "ext_shard_assign")
    assert p.count("Exchange (") == 1
    assert "EvalPython" not in p


def test_bucketed_join_no_join_side_exchange(spark):
    """Pre-bucketed fact-fact join must sort-merge with zero exchange on
    the join key — the only shuffle left is the final small-key agg."""
    p = plan_of(spark, "ext_bucketed_join")
    assert "SortMergeJoin" in p
    assert "hashpartitioning(l_orderkey" not in p
    assert "hashpartitioning(o_orderkey" not in p
    assert "EvalPython" not in p


def test_partitioned_write_prunes_partitions(spark):
    """The partition-key filter must become a PartitionFilter (pruned at
    file listing), not a row-level data filter."""
    p = plan_of(spark, "ext_partitioned_write")
    assert "PartitionFilters" in p
    import re
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", p)
    assert m and "event_type" in m.group(1)


def test_dp_release_single_aggregate_no_python(spark):
    # DP histogram/mean: ONE map-side-combined hash aggregate; noise is a
    # scalar expression over the bounded aggregate output — no Python, no
    # second exchange, no join.
    import re

    for op_id in ("ext_dp_histogram", "ext_dp_mean"):
        p = plan_of(spark, op_id)
        assert "EvalPython" not in p, op_id
        # count NODES in the tree section (lines like "(3) Exchange"),
        # not formatted-output substring mentions, so Spark-version
        # formatting changes can't fail this spuriously
        exchanges = len(re.findall(r"^\s*(?:[:+\-* ]*\(\d+\))\s*Exchange",
                                   p, re.M))
        aggs = len(re.findall(r"^\s*(?:[:+\-* ]*\(\d+\))\s*HashAggregate",
                              p, re.M))
        assert exchanges == 1, (op_id, exchanges)       # one key shuffle
        assert aggs == 2, (op_id, aggs)                 # partial + final


def test_pdf_corpus_map_only(spark):
    """Corpus PDF extraction must stay a map-only plan: binaryFile scan →
    ONE Arrow page-exploder stage → codegen scoring projection; no
    exchange, no join, no row-at-a-time Python."""
    p = plan_of(spark, "ext_pdf_corpus")
    assert "Exchange" not in p
    assert "MapInPandas" in p
    assert "BatchEvalPython" not in p   # Arrow boundary only
    assert "Scan binaryFile" in p


def test_vocab_coverage_vocab_broadcasts(spark):
    # The top-K vocab probe must be a BROADCAST join against the exploded
    # token stream (the corpus never shuffles for membership), and the
    # vocab cut must be a TakeOrdered, never a global sort.
    p = plan_of(spark, "ext_vocab_coverage")
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p
    assert "SortMergeJoin" not in p
    assert "EvalPython" not in p


def test_diversity_assignment_is_jvm_literal_fold(spark):
    # The k-center assignment folds 16 literal centers into Catalyst
    # expressions: no Python stage, no join — one aggregate over the scan.
    p = plan_of(spark, "ext_diversity_sample")
    assert "EvalPython" not in p
    assert "Join" not in p.split("== Physical Plan ==")[-1].split(
        "===== Subqueries =====")[0]


def test_triangle_count_no_python_no_cartesian(spark):
    p = plan_of(spark, "ext_triangle_count")
    assert "EvalPython" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
