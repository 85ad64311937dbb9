"""Round-7 invariants: plan guards for the new queries (broadcast
discipline, partitioned windows) and behavioral invariants the DuckDB
oracle can't state (sweep monotonicity, codec error isolation)."""

from __future__ import annotations

import os
import re

from pyspark.sql import Window, functions as F

from ml_training_data_pipeline_spark.io.sources import load_table, scratch_dir
from ml_training_data_pipeline_spark.operators.bpe import apply_merges
from ml_training_data_pipeline_spark.operators.multimodal import (
    audio_frame_profile,
    documents_as_audio,
)
from ml_training_data_pipeline_spark.plans import registry
from tests.conftest import REPO, SF_DIR, plan_str


def test_t10_window_is_partitioned_not_global(spark):
    # the whole point of stratified round-robin: the row_number window
    # partitions by stratum (parallel), never a single-partition global
    # sort. A global window would show "Window [...]" fed by an Exchange
    # SinglePartition.
    plan = plan_str(registry.QUERIES["t10_balanced_shards"](spark, SF_DIR))
    assert "Window" in plan, plan
    assert "SinglePartition" not in plan, plan


def test_h12_h18_no_cartesian_and_broadcast_dims(spark):
    for name in ("h12_two_nation_volume", "h13_market_share", "h18_nation_profit"):
        plan = plan_str(registry.QUERIES[name](spark, SF_DIR))
        assert "CartesianProduct" not in plan, (name, plan)
        assert "BroadcastHashJoin" in plan, (name, plan)


def test_p11_all_anti_joins_broadcast(spark):
    # every FK edge checks via a broadcast anti-join; a SortMergeJoin here
    # means a dim failed to broadcast and the audit would shuffle 100 TB.
    plan = plan_str(registry.QUERIES["p11_referential_integrity"](spark, SF_DIR))
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 7, plan


def test_cur7_survivorship_monotone(spark):
    rows = (
        registry.QUERIES["cur7_length_survivorship"](spark, SF_DIR)
        .orderBy("min_chars")
        .collect()
    )
    assert len(rows) == 5
    for a, b in zip(rows, rows[1:]):
        assert a["doc_survival"] >= b["doc_survival"]
        assert a["char_survival"] >= b["char_survival"]
        assert a["n_survivors"] >= b["n_survivors"]


def test_n13_sweep_monotone_in_tables(spark):
    rows = (
        registry.QUERIES["n13_ann_table_sweep"](spark, SF_DIR)
        .orderBy("n_tables")
        .collect()
    )
    assert [r["n_tables"] for r in rows] == [1, 2, 4, 8, 16]
    for a, b in zip(rows, rows[1:]):
        # prefix configs: candidate sets only grow, so recall can't drop
        assert b["mean_recall_at_5"] >= a["mean_recall_at_5"], rows
        assert b["avg_candidates"] >= a["avg_candidates"], rows


def test_audio_frame_profile_error_isolation(spark):
    media = spark.createDataFrame(
        [(1, "audio", bytearray(b"not a riff container"), "{}")],
        "media_id long, modality string, content binary, meta string",
    )
    rows = audio_frame_profile(media).collect()
    assert len(rows) == 1
    assert rows[0]["decoded"] is False
    assert rows[0]["n_frames"] is None and rows[0]["min_rms"] is None


def test_audio_frame_profile_bounds(spark):
    docs = load_table(spark, SF_DIR, "documents").limit(50)
    rows = audio_frame_profile(documents_as_audio(docs)).collect()
    assert rows
    for r in rows:
        assert r["decoded"] is True
        assert r["n_frames"] >= 4  # 160+ samples / 40
        assert 0.0 <= r["min_rms"] <= r["max_rms"]
        assert 0 <= r["n_low"] <= r["n_frames"]


def test_scratch_dir_is_session_unique(spark):
    d1 = scratch_dir(spark, "x", SF_DIR)
    assert spark.sparkContext.applicationId.replace("-", "_") in d1
    assert d1 == scratch_dir(spark, "x", SF_DIR)  # stable within a session


def test_bpe_merge_symbol_containing_column_name(spark):
    # a learned merge symbol that literally contains the
    # target column's name must not corrupt the fold SQL now that the
    # column is a template parameter.
    seg = spark.createDataFrame(
        [(1, ["sym", "s", "x"])], "term long, cols array<string>"
    )
    merges = [(0, "sym", "s", "syms", 1), (1, "syms", "x", "symsx", 1)]
    out = apply_merges(seg, merges, syms_col="cols").collect()
    assert out[0]["cols"] == ["symsx"]


def test_n15_ivf_sweep_monotone_and_exact_at_full_probe(spark):
    rows = (
        registry.QUERIES["n15_ivf_nprobe_sweep"](spark, SF_DIR)
        .orderBy("nprobe")
        .collect()
    )
    assert [r["nprobe"] for r in rows] == [1, 2, 4, 8, 16]
    for a, b in zip(rows, rows[1:]):
        assert b["mean_recall_at_5"] >= a["mean_recall_at_5"], rows
    # nprobe == nlist scans every cell: exact brute force, recall 1.0
    assert rows[-1]["mean_recall_at_5"] == 1.0, rows


def test_doc_counts_match_registry():
    # README/SURVEY query totals once drifted from the registry. Derive
    # the numbers from the registry and require both docs to state them
    # exactly, so the drift can't recur.
    n_q = len(registry.QUERIES)
    n_o = len(registry.ORACLE_SQL)
    n_r = n_q - n_o
    readme = open(os.path.join(REPO, "README.md")).read()
    survey = open(os.path.join(REPO, "SURVEY.md")).read()
    m = re.search(r"\((\d+) queries, (\d+) oracle-backed; (\d+) estimator", readme)
    assert m, "README query-total sentence not found"
    assert tuple(map(int, m.groups())) == (n_q, n_o, n_r), (m.groups(), n_q, n_o, n_r)
    m = re.search(r"\*\*(\d+) named queries, (\d+)\s+oracle-backed\*\*", survey)
    assert m, "SURVEY query-total sentence not found"
    assert tuple(map(int, m.groups())) == (n_q, n_o), (m.groups(), n_q, n_o)
    m = re.search(r"the (\d+) rows-only", survey)
    assert m and int(m.group(1)) == n_r, (m and m.group(1), n_r)


def test_components_converge_on_10k_chain(spark):
    # VERDICT r6 #8's adversarial case, run against the EXISTING
    # pointer-doubling implementation: a 10k-node path graph (diameter
    # 9999) must converge in ~log2(d) rounds, far inside max_iter=25 —
    # which holds for any diameter to 2^25, so no large-star/small-star
    # variant is needed for real dup graphs.
    from ml_training_data_pipeline_spark.operators.dedup import connected_components

    n = 10_000
    edges = spark.range(n - 1).selectExpr("id AS doc_a", "id + 1 AS doc_b")
    out = connected_components(edges)
    comps = out.agg(
        F.count_distinct("component_id").alias("k"),
        F.min("component_id").alias("mn"),
        F.count("*").alias("cnt"),
    ).collect()[0]
    assert (comps["k"], comps["mn"], comps["cnt"]) == (1, 0, n)


def test_strip_html_drops_unterminated_script(spark):
    from ml_training_data_pipeline_spark.functions.text import strip_html

    df = spark.createDataFrame(
        [
            (1, "before <script>var x = 'payload';"),          # no closing tag
            (2, "a <style type='x'> p { color: red }"),        # no closing tag
            (3, "keep <script>drop</script> tail"),
        ],
        "id long, text string",
    )
    got = {
        r["id"]: r["s"]
        for r in df.select("id", strip_html(F.col("text")).alias("s")).collect()
    }
    assert got[1] == "before"        # payload gone, not leaked
    assert got[2] == "a"
    assert got[3] == "keep tail"


def test_w14_gini_bounds_and_uniform_zero(spark):
    # Gini of a perfectly uniform distribution is 0 by construction
    # (up to the (n+1)/n sample correction: exactly 0 for equal counts).
    ev = spark.createDataFrame(
        [(u, i) for u in range(8) for i in range(5)], "user_id long, event_id long"
    ).withColumn("ts", F.lit("2024-01-01 00:00:00").cast("timestamp"))
    ev.createOrReplaceTempView("_gini_uniform")
    per_user = ev.groupBy("user_id").agg(F.count("*").alias("c"))

    w = Window.orderBy("c", "user_id")
    ranked = per_user.select("c", F.row_number().over(w).alias("i"))
    row = ranked.agg(
        F.round(
            F.lit(2.0) * F.sum(F.col("i") * F.col("c"))
            / (F.count("*") * F.sum("c").cast("double"))
            - (F.count("*") + 1) / F.count("*").cast("double"),
            6,
        ).alias("gini")
    ).collect()[0]
    assert row["gini"] == 0.0
    # and on the real table the coefficient is a proper fraction
    real = registry.QUERIES["w14_activity_gini"](spark, SF_DIR).collect()[0]
    assert 0.0 <= real["gini"] < 1.0


def test_t10_round_robin_balance_within_stratum(spark):
    # round-robin inside each stratum ⇒ per-shard doc counts differ by
    # at most 1 within a stratum — the balance property the layout
    # exists for.
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "n_chars")

    stratum = F.floor(F.least(F.col("n_chars"), F.lit(799)) / 100).cast("int")
    w = Window.partitionBy("stratum").orderBy("doc_id")
    rr = docs.withColumn("stratum", stratum).select(
        "stratum", ((F.row_number().over(w) - 1) % 8).alias("shard")
    )
    spread = (
        rr.groupBy("stratum", "shard")
        .count()
        .groupBy("stratum")
        .agg((F.max("count") - F.min("count")).alias("spread"))
        .agg(F.max("spread").alias("max_spread"))
        .collect()[0]
    )
    assert spread["max_spread"] <= 1


def test_v13_compression_monotone(spark):
    rows = (
        registry.QUERIES["v13_bpe_compression_curve"](spark, SF_DIR)
        .orderBy("n_merges")
        .collect()
    )
    assert [r["n_merges"] for r in rows] == [0, 2, 4, 8]
    for a, b in zip(rows, rows[1:]):
        # each extra merge can only shrink (or hold) the subword count
        assert b["total_subwords"] <= a["total_subwords"], rows
        assert b["chars_per_subword"] >= a["chars_per_subword"], rows
    # zero merges ⇒ every subword is one char
    assert rows[0]["chars_per_subword"] == 1.0


def test_m9_threshold_sweep_monotone(spark):
    rows = (
        registry.QUERIES["m9_classifier_threshold_sweep"](spark, SF_DIR)
        .orderBy("cutoff")
        .collect()
    )
    assert [round(r["cutoff"], 1) for r in rows] == [0.3, 0.5, 0.7]
    for a, b in zip(rows, rows[1:]):
        # raising the cutoff can only shrink the predicted-positive set
        assert b["n_pred_pos"] <= a["n_pred_pos"], rows
        assert b["recall"] <= a["recall"], rows


def test_ep7_unpivot_does_not_rescan_per_metric(spark):
    # the card's 7-branch unpivot union runs off the materialized 1×1
    # stats row: the final plan must contain ZERO parquet scans (both
    # corpus passes happen before the checkpoint), so adding a metric
    # row costs nothing.
    df = registry.QUERIES["ep7_dataset_card"](spark, SF_DIR)
    plan = plan_str(df)
    assert "Scan parquet" not in plan, plan
    rows = {r["metric"]: r["value"] for r in df.collect()}
    assert rows["n_docs"] > 0 and 0.0 <= rows["exact_dup_rate"] <= 1.0
