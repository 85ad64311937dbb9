"""Round-10 additions, second batch: invariants for h20 (Q12-shape
conditional counts), w17 (RANGE-frame rolling stats — including the
gap-thinning semantics that distinguish RANGE from ROWS), mix8
(epoch-aware upsampling), v15 (subword fertility) and st14 (stream-stream
LEFT OUTER join with watermark eviction). Oracle parity for all five is
covered by tests/test_oracle_parity.py; these pin the semantic contracts
a hash match alone would not explain."""

from __future__ import annotations

import datetime

from pyspark.sql import Window, functions as F

import __spark_entry__ as entry_mod
from ml_training_data_pipeline_spark.io.sources import load_table
from ml_training_data_pipeline_spark.operators.similarity import pq_codebooks
from tests.conftest import SF_DIR, plan_str


def test_h20_counts_reconcile_with_plain_filter(spark):
    rows = entry_mod.queries()["h20_late_shipping_priority"](spark, SF_DIR).collect()
    assert {r.l_linestatus for r in rows} <= {"F", "O"}
    total = sum(r.high_line_count + r.low_line_count for r in rows)
    # recount the gated join without the CASE split — the two conditional
    # counts must partition it exactly
    l = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_shipdate")
    o = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_orderdate")
    delay = F.floor(
        (F.col("l_shipdate").cast("double") - F.col("o_orderdate").cast("double")) / 86400.0
    )
    n = l.join(o, l.l_orderkey == o.o_orderkey).where(delay >= 60).count()
    assert total == n > 0
    assert all(r.max_delay_days >= 60 for r in rows)


def test_w17_frame_invariants(spark):
    rows = entry_mod.queries()["w17_trailing_range_stats"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 1 <= r.trail7_active_days <= 7
        assert r.trail7_events >= r.n_events
        assert r.trail7_peak >= r.n_events
        assert abs(r.trail7_avg - round(r.trail7_events / 7.0, 6)) < 1e-9


def test_w17_range_frame_thins_across_gaps(spark):
    # THE semantic difference vs a ROWS frame: a day gap must shrink the
    # trailing frame instead of silently reaching further back in time.
    daily = spark.createDataFrame(
        [("a", d, 10) for d in (1, 2, 3, 10, 11)], "event_type string, day long, c long"
    )
    w = Window.partitionBy("event_type").orderBy("day").rangeBetween(-6, 0)
    got = {
        r.day: (r.active, r.total)
        for r in daily.select(
            "day",
            F.count("*").over(w).alias("active"),
            F.sum("c").over(w).alias("total"),
        ).collect()
    }
    # day 10: the frame covers days 4..10 — only day 10 itself is present
    assert got[10] == (1, 10)
    # day 11: days 5..11 — present days 10 and 11
    assert got[11] == (2, 20)
    # a ROWS frame would have kept all preceding rows in both frames
    assert got[3] == (3, 30)


def test_mix8_epoch_arithmetic_and_materialization(spark):
    rows = entry_mod.queries()["mix8_epoch_upsampling"](spark, SF_DIR).collect()
    assert rows
    biggest = max(rows, key=lambda r: r.n_tokens)
    assert biggest.epochs == 1, "the largest source is never upsampled"
    max_tokens = biggest.n_tokens
    for r in rows:
        assert 1 <= r.epochs <= 4
        # the exploded frame must be exactly epochs-fold
        assert r.eff_docs == r.n_docs * r.epochs
        assert r.eff_tokens == r.n_tokens * r.epochs
        # epochs is the capped integer ceil of the shortfall ratio
        want = min(4, -(-max_tokens // r.n_tokens))
        assert r.epochs == want
    assert abs(sum(r.eff_share for r in rows) - 1.0) < 1e-4


def test_v15_fertility_bounds(spark):
    rows = entry_mod.queries()["v15_subword_fertility"](spark, SF_DIR).collect()

    langs = {
        r.lang
        for r in load_table(spark, SF_DIR, "documents")
        .where(F.col("text").isNotNull())
        .select("lang")
        .distinct()
        .collect()
    }
    assert {r.lang for r in rows} == langs
    for r in rows:
        # every whitespace word yields at least one subword token
        assert r.n_subwords >= r.n_words > 0
        assert r.fertility >= 1.0
        assert r.chars_per_subword > 0


def test_st14_outer_join_matches_batch_eviction_rule(spark):
    out = entry_mod.queries()["st14_stream_outer_join"](spark, SF_DIR)
    got_inner = {
        (r.user_id, r.click_id, r.purchase_id)
        for r in out.where(F.col("purchase_id").isNotNull()).collect()
    }
    got_null = {
        (r.user_id, r.click_id) for r in out.where(F.col("purchase_id").isNull()).collect()
    }

    e = load_table(spark, SF_DIR, "events")
    c = e.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("event_id").alias("click_id"), F.col("ts").alias("cts")
    )
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("event_id").alias("purchase_id"), F.col("ts").alias("pts")
    )
    cond = (
        (F.col("cu") == F.col("pu"))
        & (F.col("pts") > F.col("cts"))
        & (F.col("pts") <= F.col("cts") + F.expr("interval 1 hour"))
    )
    want_inner = {
        (r.cu, r.click_id, r.purchase_id) for r in c.join(p, cond, "inner").collect()
    }
    assert got_inner == want_inner, "non-null rows are exactly the batch inner join"

    # the eviction rule: unmatched clicks emit NULL iff their join window
    # closed strictly before the final watermark (min of both inputs' max
    # event time, minus the 10-minute delay)
    wm = min(
        c.agg(F.max("cts")).collect()[0][0], p.agg(F.max("pts")).collect()[0][0]
    )

    horizon = wm - datetime.timedelta(minutes=10) - datetime.timedelta(hours=1)
    unmatched = c.join(p, cond, "left_anti")
    want_null = {
        (r.cu, r.click_id) for r in unmatched.where(F.col("cts") < F.lit(horizon)).collect()
    }
    assert got_null == want_null
    # sanity: the stream really did emit NULL-side rows, and really did
    # hold back the tail-horizon clicks
    assert want_null
    assert unmatched.count() > len(want_null)


def test_ep9_policy_decomposition_and_single_scan(spark):
    df = entry_mod.queries()["ep9_mixture_roadmap"](spark, SF_DIR)
    rows = df.collect()
    assert rows
    total = sum(r.n_tokens for r in rows)
    target = total / len(rows)
    for r in rows:
        assert 0.0 < r.weight <= 4.0
        # the export decomposition: weight = full epochs + last-epoch rate
        assert abs(r.weight - (r.full_epochs + r.last_epoch_rate)) < 2e-6
        assert 0.0 <= r.last_epoch_rate < 1.0
        # uncapped sources land exactly on target mass
        if r.weight < 4.0:
            assert abs(r.eff_tokens - target) < 1.0
    assert abs(sum(r.achieved_share for r in rows) - 1.0) < 1e-4
    # fusion discipline: the corpus is scanned ONCE — at the per-source
    # localCheckpoint (a linear scan→groupBy plan), after which the three
    # downstream branches (totals, weights, normalizer) read the
    # |sources|-sized checkpoint, so the final plan touches no parquet
    plan = plan_str(df)
    assert plan.count("documents.parquet") == 0, "branches must reuse the checkpoint"
    assert "Scan ExistingRDD" in plan


def test_n18_pq_shapes_and_audit_bounds(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    n = emb.count()
    books, encoded = pq_codebooks(emb, m=16, ksub=16, seed=123)
    assert len(books) == 16 and all(len(b) == 16 for b in books)
    assert all(len(c) == 4 for b in books for c in b), "64 dims / 16 subspaces"
    enc = encoded.collect()
    assert len(enc) == 16 * n, "one code row per (vector, subspace)"
    assert all(0 <= r.code < 16 for r in enc)

    # determinism under reconfiguration: the in-UDF vec_id sort makes the
    # codebooks independent of partitioning/arrival order
    books2, _ = pq_codebooks(emb.repartition(7), m=16, ksub=16, seed=123)
    assert books == books2

    rows = entry_mod.queries()["n18_pq_adc_audit"](spark, SF_DIR).collect()
    assert len(rows) == 10
    assert all(r.n_exact == 5 for r in rows)
    assert all(0.0 <= r.recall_at_5 <= 1.0 for r in rows)
    assert sum(r.n_hit for r in rows) > 0, "PQ must beat zero recall"
    # score fidelity: reconstructed-cosine drift stays small on the true
    # top-5 (measured ~0.03-0.11 across fixtures; 0.25 is the alarm bound)
    assert all(r.mean_cos_err < 0.25 for r in rows)


def test_l5_batching_conserves_work(spark):
    rows = entry_mod.queries()["l5_batched_inference_plan"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.n_batches <= r.n_docs
        assert r.calls_saved == r.n_docs - r.n_batches
        assert 0.0 <= r.saved_frac < 1.0
        # batches aim at the 2048 budget; the cumulative assignment can
        # overshoot by at most one doc's prompt, never undershoot to
        # absurdity (each non-final batch carries >= one prompt)
        assert r.avg_batch_tokens > 0
    assert sum(r.calls_saved for r in rows) > 0, "batching must save requests"


def test_cur15_conservation_and_shift(spark):
    rows = entry_mod.queries()["cur15_decontamination_impact"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0 <= r.docs_after <= r.docs_before
        assert 0 <= r.toks_after <= r.toks_before
        assert 0.0 <= r.token_loss_frac <= 1.0
    assert sum(r.docs_before - r.docs_after for r in rows) > 0, "K=2 must drop docs"
    # shares are distributions before AND after; shifts cancel globally
    assert abs(sum(r.share_before for r in rows) - 1.0) < 1e-4
    assert abs(sum(r.share_after for r in rows) - 1.0) < 1e-4
    assert abs(sum(r.share_shift for r in rows)) < 1e-4


def test_d20_scurve_monotonicity(spark):
    rows = {
        r.rows_per_band: r
        for r in entry_mod.queries()["d20_lsh_band_sweep"](spark, SF_DIR).collect()
    }
    assert sorted(rows) == [1, 2, 4]
    assert {rows[r].n_true for r in rows} == {rows[1].n_true}, "one shared truth set"
    for r in rows.values():
        assert r.bands * r.rows_per_band == 8
        assert 0 <= r.n_hit <= min(r.n_candidates, r.n_true)
        assert 0.0 <= r.precision_ <= 1.0 and 0.0 <= r.recall <= 1.0
    # structural containment: a matching r=2k band implies both its r=k
    # halves match, so cand(4) ⊆ cand(2) ⊆ cand(1) — candidate volume
    # and recall are non-increasing in r BY CONSTRUCTION; precision's
    # monotonicity is the empirical S-curve shape on this corpus
    assert rows[1].n_candidates >= rows[2].n_candidates >= rows[4].n_candidates
    assert rows[1].precision_ <= rows[2].precision_ <= rows[4].precision_
    assert rows[1].recall >= rows[2].recall >= rows[4].recall
    assert rows[1].n_candidates > rows[1].n_hit, "r=1 must over-generate"


def test_n19_ivfpq_bounds_and_pruning(spark):
    n = load_table(spark, SF_DIR, "embeddings").count()
    rows = entry_mod.queries()["n19_ivfpq_audit"](spark, SF_DIR).collect()
    assert len(rows) == 10
    assert all(r.n_exact == 5 for r in rows)
    assert all(0.0 <= r.recall_at_5 <= 1.0 for r in rows)
    assert sum(r.n_hit for r in rows) > 0
    for r in rows:
        # the inverted file must actually prune: probed cells hold fewer
        # vectors than the corpus, and at least one candidate
        assert 0 < r.n_candidates < n


def test_cur14_one_sided_error_and_fill(spark):
    rows = entry_mod.queries()["cur14_bloom_decontamination"](spark, SF_DIR).collect()
    assert rows
    bits = {r.bits_set for r in rows}
    assert len(bits) == 1 and 0 < bits.pop() <= 8192
    total_exact = sum(r.n_exact_flagged for r in rows)
    assert total_exact > 0, "the %97 eval slice must contaminate something"
    for r in rows:
        # the one-sided-error contract: a Bloom filter can over-flag but
        # never under-flag
        assert r.n_bloom_flagged >= r.n_exact_flagged
        assert r.n_false_pos == r.n_bloom_flagged - r.n_exact_flagged >= 0
        assert r.n_train_docs >= r.n_bloom_flagged
