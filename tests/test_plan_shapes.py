"""Physical-plan regression tests: the scale properties the engine
promises (parallel top-k, pruned scans, candidate-scoped dedup joins)
asserted on `.explain` output so they can't silently regress."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from ml_training_data_pipeline_spark.io.sources import load_table
from ml_training_data_pipeline_spark.plans import registry
from tests.conftest import SF_DIR, explain_str


def test_global_topk_is_take_ordered(spark):
    # t1/v4: no-partition row_number would single-partition the relation;
    # the plan must use TakeOrderedAndProject instead.
    for name in ("t1_sort_topk", "v4_vocab_top2000"):
        plan = explain_str(spark, name)
        assert "TakeOrderedAndProject" in plan, f"{name} lost its parallel top-k:\n{plan}"


def test_v4_rank_window_is_bounded(spark):
    # the only window in v4 sits ABOVE the limit (≤ top_n rows) and is
    # explicitly partitioned, so no unbounded single-partition funnel.
    plan = explain_str(spark, "v4_vocab_top2000")
    assert "Window" in plan
    assert plan.index("TakeOrderedAndProject") > plan.index("Window"), (
        "window must consume the limited result (formatted plans list "
        "operators leaves-last, so the limit prints after the window above it)"
    )


def test_d4_candidates_prune_below_aggregation(spark):
    # the LSH candidate semi-joins must sit BELOW the intersection
    # aggregation: the plan needs LeftSemi joins feeding the count agg,
    # not a post-aggregation filter.
    plan = explain_str(spark, "d4_minhash_dedup")
    assert "LeftSemi" in plan, f"candidate semi-join missing:\n{plan}"


def test_s1_scan_is_pruned_and_pushed(spark):
    plan = explain_str(spark, "s1_scan_projection")
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan
    # ReadSchema must carry only the projected + filtered columns
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"doc_id", "n_chars", "lang"}, cols


def test_h2_customer_join_not_forced_broadcast(spark):
    # the optimized logical plan must not carry a broadcast hint on the
    # SF-scaled customer side (nation's hint is fine); AQE decides at run
    # time from real sizes.
    df = registry.QUERIES["h2_revenue_per_nation"](spark, SF_DIR)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert optimized.count("UnspecifiedFrame") == 0  # sanity: parseable plan
    # exactly one explicit broadcast hint survives analysis (nation)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint (strategy=broadcast)") == 1, analyzed


@pytest.mark.parametrize("name", ["v1_tfidf_ngram", "x2_quality_scores", "f1_clean_text"])
def test_text_hot_paths_have_no_python_udf(spark, name):
    # text analytics stay JVM-side: no BatchEvalPython / ArrowEvalPython
    # stages in the plan (v5/l1 are the documented pandas_udf exceptions).
    plan = explain_str(spark, name)
    assert "EvalPython" not in plan, f"{name} dropped to Python:\n{plan}"


def test_w5_asof_is_single_window_no_join(spark):
    # the as-of join must stay in its forward-fill window form: one
    # Window over user_id, NO join operator (a range/interval join here
    # would explode at scale).
    plan = explain_str(spark, "w5_asof_attribution")
    assert "Window" in plan
    for op in ("SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin", "ShuffledHashJoin"):
        assert op not in plan, f"w5 regressed to a join plan:\n{plan}"


def test_g2_pivot_is_single_aggregate_no_expand(spark):
    # explicit pivot values compile to one hash-aggregate pass (pivot
    # aggregates inline); an Expand or a join would mean the pivot fell
    # off the single-pass path.
    plan = explain_str(spark, "g2_event_type_pivot")
    assert "HashAggregate" in plan
    assert "Expand" not in plan, plan
    for op in ("SortMergeJoin", "BroadcastHashJoin"):
        assert op not in plan, plan


def test_s8_scan_is_partition_pruned(spark):
    # the lang='en' filter must prune at the DIRECTORY level of the
    # partitioned sink — PartitionFilters carries it, and the row-data
    # schema no longer contains lang at all.
    plan = explain_str(spark, "s8_partitioned_sink_roundtrip")
    assert "PartitionFilters" in plan and "isnotnull(lang" in plan, plan

    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and "lang" not in m.group(1), plan


def test_t6_export_uses_range_partitioning(spark):
    # the export must shuffle by RANGE (sampled bounds), not hash — the
    # contiguous-file layout the min/max-pruned readers depend on.
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "lang", "n_chars")
    plan = docs.repartitionByRange(8, "doc_id")._jdf.queryExecution().toString()
    assert "rangepartitioning" in plan.lower(), plan


def test_cur3_eval_shingles_are_broadcast(spark):
    # decontamination joins the corpus shingle stream against the SMALL
    # benchmark shingle set: the plan must broadcast the eval side — a
    # shuffled join here would shuffle the whole training corpus at scale.
    plan = explain_str(spark, "cur3_decontaminate")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_pack1_is_single_window_no_join(spark):
    # sequence packing is one running-total window per source partition
    # plus one aggregate — any join or second window means the packing
    # regressed to a self-join form that cannot scale.
    plan = explain_str(spark, "pack1_token_budget_packing")
    # formatted plans print each node twice (tree + detail header): one
    # Window operator shows as exactly one "(N) Window" detail header.
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1, plan
    for op in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert op not in plan, plan


def test_x9_is_single_scan_join_free(spark):
    # the repetition signals come from ONE tagged explode off one corpus
    # scan: a second Scan node or any join means the plan regressed to
    # the two-subtree form that reads the corpus twice.
    plan = explain_str(spark, "x9_repetition_quality")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    for op in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert op not in plan, plan


def test_v4_vocabulary_is_join_free(spark):
    # single-pass ranking: df(t) and sum(tf) come from ONE groupBy(term)
    # — a regression to the per-cell-weight + df-join form shows up as a
    # join operator in the plan.
    plan = explain_str(spark, "v4_vocab_top2000")
    for op in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert op not in plan, f"v4 regressed to the df-join form:\n{plan}"


def test_h4_filters_push_into_scan(spark):
    # Q6 shape is THE pushdown benchmark: all three predicates must reach
    # the parquet scan (row-group min/max skipping on l_shipdate), and
    # the scan schema must carry only the 4 referenced columns.
    plan = explain_str(spark, "h4_forecast_revenue")
    assert "PushedFilters" in plan
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert re.search(rf"PushedFilters: \[[^\]]*{col}", plan), plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"l_shipdate", "l_discount", "l_quantity", "l_extendedprice"}, cols


def test_h3_topk_is_take_ordered(spark):
    # the top-10 after the 3-way join must be TakeOrderedAndProject (a
    # parallel partial top-k per partition), never a global Sort + Limit.
    plan = explain_str(spark, "h3_shipping_priority")
    assert "TakeOrderedAndProject" in plan, plan


def test_h5_dim_chain_broadcasts(spark):
    # region->nation prune must reach supplier as broadcast joins; the
    # analyzed plan carries exactly the two explicit broadcast hints
    # (region, pruned nation), and the physical plan keeps the fact-side
    # joins off the nested-loop path.
    df = registry.QUERIES["h5_local_supplier_volume"](spark, SF_DIR)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint (strategy=broadcast)") == 2, analyzed
    plan = explain_str(spark, "h5_local_supplier_volume")
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_g4_distinct_is_two_phase_partial(spark):
    # both aggregation phases must show map-side partial aggregates and
    # the plan must NOT contain an Expand (Spark's internal multi-distinct
    # rewrite) — the explicit salt already partitioned the user space.
    plan = explain_str(spark, "g4_salted_distinct_users")
    assert "Expand" not in plan, plan
    assert "HashAggregate" in plan, plan


def test_h6_exists_is_left_semi_join(spark):
    # the EXISTS subquery must compile to one LEFT SEMI join (equi on
    # orderkey + lateness residual) — a left-outer + distinct, or a
    # nested-loop, means the rewrite regressed.
    plan = explain_str(spark, "h6_order_priority_check")
    assert "LeftSemi" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_h8_topk_is_take_ordered(spark):
    plan = explain_str(spark, "h8_returned_revenue_ranking")
    assert "TakeOrderedAndProject" in plan, plan


def test_t9_export_shuffles_by_range_on_zval(spark):
    # the Z-order export must shuffle by RANGE on the Morton code — hash
    # partitioning would destroy the contiguous z-run layout the
    # file-level min/max pruning depends on.
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "lang", "n_chars")
    lang_b = F.pmod(F.crc32(F.col("lang")), F.lit(8)).cast("int")
    plan = (
        docs.withColumn("zval", lang_b)
        .repartitionByRange(8, "zval")
        ._jdf.queryExecution()
        .toString()
    )
    assert "rangepartitioning" in plan.lower(), plan


def test_ep5_is_two_scans_max(spark):
    # the composed prep pipeline must stay one job over at most two
    # corpus scans (fingerprint aggregate + survivor fan-in); a third
    # scan means a stage stopped fusing.
    plan = explain_str(spark, "ep5_dedup_split_shards")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) <= 2, plan


def test_v8_counter_probe_is_broadcast(spark):
    # the top-20 probe joins the ≤1024-counter sketch: must broadcast,
    # never shuffle the probe through a sort-merge join.
    plan = explain_str(spark, "v8_count_min_heavy_hitters")
    assert "BroadcastHashJoin" in plan, plan


def test_d15_shuffle_key_is_hashed_long(spark):
    # the stride-1 window stream must shuffle 8-byte hashes, not window
    # text. The hashing projection sits BEFORE the localCheckpoint (so
    # the explained plan starts from the checkpointed RDD); what must
    # hold downstream is the key's type — every `win` attribute in the
    # plan is a bigint (the #...L suffix), never a string.
    plan = explain_str(spark, "d15_duplicate_spans")
    wins = re.findall(r"win#\d+(L?)", plan)
    assert wins, plan
    assert all(suffix == "L" for suffix in wins), plan


def test_cur10_no_cartesian_and_candidate_scoped(spark):
    # incremental near-dup admission must surface candidates through the
    # LSH band equi-join (shuffle hash/SMJ on (band, band_sig)) — a
    # CartesianProduct or BroadcastNestedLoopJoin would mean the batch is
    # being compared against the corpus pairwise, the exact shape the
    # operator exists to avoid at 100 TB.
    plan = explain_str(spark, "cur10_incremental_neardup")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoop" not in plan, plan
    # verification is candidate-scoped: the semi-joins jaccard_pairs
    # inserts (docs filter + pair filter) must be present
    assert "LeftSemi" in plan, plan


def test_s17_report_joins_all_broadcast(spark):
    # s17's rewrite (with its broadcast anti-join) runs eagerly inside
    # the function, so the returned plan is just the report: three
    # source-keyed left joins over tombstone-sized tables — all must
    # broadcast; a SortMergeJoin would mean a sources-sized shuffle per
    # audit column.
    plan = explain_str(spark, "s17_tombstone_delete")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_h20_join_broadcasts_with_residual_predicate(spark):
    # the Q12 shape: orders broadcasts into lineitem with the day-gap
    # predicate as a JOIN RESIDUAL (it references both sides, so it can
    # never push to a scan — but it must not force a sort-merge or a
    # second filter stage), and both scans carry only their 3 referenced
    # columns.
    plan = explain_str(spark, "h20_late_shipping_priority")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    cols = [{c.split(":")[0] for c in s.split(",") if c} for s in schemas]
    assert {"l_orderkey", "l_linestatus", "l_shipdate"} in cols, schemas
    assert {"o_orderkey", "o_orderdate", "o_orderpriority"} in cols, schemas


def test_w17_window_rides_the_daily_grain(spark):
    # the RANGE frame must sit on the (type, day) aggregate — ONE
    # corpus-sized shuffle (the groupBy); the window's exchange moves
    # only |types|x|days| rows. A plan where Window precedes the
    # HashAggregate would roll the frame over raw events.
    plan = explain_str(spark, "w17_trailing_range_stats")
    agg = plan.index("HashAggregate")
    win = plan.index("Window")
    assert agg > win, "formatted plan lists Window above (after) the aggregate"
