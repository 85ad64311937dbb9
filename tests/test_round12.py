"""Round-12 regression pins: the ep9/mix7 signed-zero fix (VERDICT r11
items 1-2) and the hardened driver_sweep comparator (item 3).

Round-10's only red driver row (`ep9_mixture_roadmap`) was
`round(target_share − w_eff·n_tokens/z, 6)` evaluating to ±1e-17 with
the SIGN decided by each engine's double-summation order — DuckDB
hashed `-0.0` where Spark hashed `0.0`. The fix restates every float
output as ONE division of two exact BIGINTs (see the contract notes in
plans/queries_text.py above ep9/mix7); these tests pin (a) that no
output float is a negative zero, and (b) that the local sweep
comparator can no longer wave the failure class through.
"""

from __future__ import annotations

import sys
from decimal import ROUND_HALF_UP, Decimal
from fractions import Fraction

import pandas as pd
import pytest
from hypothesis import given, settings, strategies as hst
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
import bench
from ml_training_data_pipeline_spark.io.sources import load_table
from ml_training_data_pipeline_spark.operators.similarity import srp_buckets, with_norm
from ml_training_data_pipeline_spark.plans.queries_similarity import SRP_PLANES
from ml_training_data_pipeline_spark.plans.queries_stream import (
    _semantic_admission_counts,
)
from tests.conftest import SF_DIR, SF_DIR_T2, assert_no_negative_zero, load_script


def test_sweep_compare_fails_on_signed_zero():
    ds = load_script("driver_sweep")
    a = pd.DataFrame({"k": [1, 2], "v": [0.0, 1.5]})
    b = pd.DataFrame({"k": [1, 2], "v": [-0.0, 1.5]})
    out = ds.compare(a, b)
    assert out["rows_match"] and out["schema_match"]
    assert not out["hash_match"], (
        "comparator treated -0.0 == 0.0 — the exact failure class the "
        "driver's byte-level value-hash catches (ep9's signed zero)"
    )


def test_sweep_compare_order_insensitive_on_signed_zero_ties():
    # identical MULTISETS must match even when -0.0/0.0 ties arrive in
    # different row orders (a numeric sort key treats them equal and
    # preserves input order, which a positional compare would flag)
    ds = load_script("driver_sweep")
    a = pd.DataFrame({"k": [1, 1], "v": [-0.0, 0.0]})
    b = pd.DataFrame({"k": [1, 1], "v": [0.0, -0.0]})
    assert ds.compare(a, b)["hash_match"]


def test_sweep_compare_passes_on_identical_and_nan():
    ds = load_script("driver_sweep")
    a = pd.DataFrame({"k": [1, 2, 3], "v": [0.0, float("nan"), -2.25]})
    b = pd.DataFrame({"k": [1, 2, 3], "v": [0.0, float("nan"), -2.25]})
    assert ds.compare(a, b)["hash_match"]
    # sub-1e-6 noise must still round away (driver-equivalent round(6))
    c = pd.DataFrame({"k": [1], "v": [1.00000000012]})
    d = pd.DataFrame({"k": [1], "v": [1.00000000034]})
    assert ds.compare(c, d)["hash_match"]


def test_ep9_no_negative_zero(spark):
    for sf in (SF_DIR, SF_DIR_T2):
        pdf = entry_mod.queries()["ep9_mixture_roadmap"](spark, sf).toPandas()
        assert len(pdf) > 0
        assert_no_negative_zero(pdf, "ep9")
        # the roadmap identity: achieved shares sum to 1 and each
        # shortfall is target − achieved (checked against the exact
        # integer reconstruction below at full double precision)
        assert abs(pdf["achieved_share"].sum() - 1.0) < 1e-3  # round(6) per row


def test_mix7_no_negative_zero(spark):
    for sf in (SF_DIR, SF_DIR_T2):
        pdf = entry_mod.queries()["mix7_target_mixture_weights"](spark, sf).toPandas()
        assert len(pdf) > 0
        assert_no_negative_zero(pdf, "mix7")
        # downsample-only: every weight is in (0, 1]
        assert ((pdf["weight"] > 0) & (pdf["weight"] <= 1.0)).all()


def test_ep10_release_roadmap_invariants(spark):
    pdf = entry_mod.queries()["ep10_release_roadmap"](spark, SF_DIR).toPandas()
    assert len(pdf) > 0
    assert_no_negative_zero(pdf, "ep10")
    # gates only ever DROP: survivors never exceed the split, and the
    # two drop flags can overlap, so survivors >= docs - both flags
    assert (pdf["n_survivors"] <= pdf["n_train_docs"]).all()
    assert (
        pdf["n_survivors"]
        >= pdf["n_train_docs"] - pdf["n_contaminated"] - pdf["n_leak_twins"]
    ).all()
    # ep9's roadmap contract on the surviving mass
    assert ((pdf["weight"] > 0) & (pdf["weight"] <= 4.0)).all()
    assert pdf["full_epochs"].between(0, 4).all()
    assert abs(pdf["achieved_share"].sum() - 1.0) < 1e-3  # round(6) per row


def test_cur17_bloom_sweep_one_sided_and_sizing(spark):
    pdf = (
        entry_mod.queries()["cur17_bloom_sizing_sweep"](spark, SF_DIR)
        .toPandas()
        .sort_values("m_bits", ignore_index=True)
    )
    assert list(pdf["m_bits"]) == [2048, 8192, 32768]
    # one-sided error: a Bloom filter NEVER misses a truly contaminated doc
    assert (pdf["n_bloom_flagged"] >= pdf["n_exact_flagged"]).all()
    assert (pdf["n_false_pos"] >= 0).all()
    # exact truth is config-independent: one value across the sweep
    assert pdf["n_exact_flagged"].nunique() == 1
    # sizing physics: quadrupling M strictly drops the fill level
    fills = list(pdf["fill_rate"])
    assert fills[0] > fills[1] > fills[2] > 0


def test_cur18_width_monotonicity(spark):
    pdf = (
        entry_mod.queries()["cur18_ngram_decontamination_sweep"](spark, SF_DIR)
        .toPandas()
        .sort_values("ngram_n", ignore_index=True)
    )
    assert list(pdf["ngram_n"]) == [5, 9, 13]
    # train split is width-independent
    assert pdf["n_train_docs"].nunique() == 1
    # subset property: a shared 13-gram contains shared 5-grams, so the
    # flagged set strictly shrinks (or stays) as the window widens
    assert pdf["n_dropped"].iloc[0] >= pdf["n_dropped"].iloc[1] >= pdf["n_dropped"].iloc[2]
    assert (
        pdf["dropped_tokens"].iloc[0]
        >= pdf["dropped_tokens"].iloc[1]
        >= pdf["dropped_tokens"].iloc[2]
    )


def test_d21_threshold_monotonicity(spark):
    pdf = (
        entry_mod.queries()["d21_jaccard_threshold_sweep"](spark, SF_DIR)
        .toPandas()
        .sort_values("threshold", ignore_index=True)
    )
    assert list(pdf["threshold"]) == [0.5, 0.7, 0.9]
    # one candidate set across the sweep; verification only ever filters
    assert pdf["n_candidate_pairs"].nunique() == 1
    assert (pdf["n_verified_pairs"] <= pdf["n_candidate_pairs"]).all()
    assert (
        pdf["n_verified_pairs"].iloc[0]
        >= pdf["n_verified_pairs"].iloc[1]
        >= pdf["n_verified_pairs"].iloc[2]
    )
    assert (
        pdf["n_docs_flagged"].iloc[0]
        >= pdf["n_docs_flagged"].iloc[1]
        >= pdf["n_docs_flagged"].iloc[2]
    )
    assert (pdf["n_docs_flagged"] <= pdf["n_verified_pairs"]).all()


def test_st15_microbatch_invariance(spark):
    """st15's admission depends only on (batch row, static index), so any
    micro-batch partitioning of the feed must sum to the same counts —
    the st13 invariance property, embedding-side."""

    corpus = load_table(spark, SF_DIR, "embeddings").where(F.col("vec_id") % 2 == 0)
    corpus_b = (
        srp_buckets(corpus, SRP_PLANES)
        .join(with_norm(corpus).select("vec_id", "nrm"), "vec_id")
        .select(
            F.col("vec_id").alias("c_id"),
            F.col("vec").alias("cvec"),
            F.col("nrm").alias("cnrm"),
            "bucket",
        )
        .localCheckpoint()
    )
    feed = load_table(spark, SF_DIR, "embeddings").where(F.col("vec_id") % 2 == 1)

    def summed(batches):
        acc: dict[str, tuple[int, int]] = {}
        for b in batches:
            for r in _semantic_admission_counts(b, corpus_b).collect():
                n, rj = acc.get(r.label, (0, 0))
                acc[r.label] = (n + r.n_new, rj + r.n_rejected)
        return acc

    whole = summed([feed])
    halves = summed([feed.where(F.col("vec_id") % 4 == 1), feed.where(F.col("vec_id") % 4 == 3)])
    assert whole == halves
    assert sum(n for n, _ in whole.values()) == feed.count()


def test_mix9_waterfill_invariants(spark):
    pdf = entry_mod.queries()["mix9_budget_waterfill"](spark, SF_DIR).toPandas()
    assert len(pdf) > 0
    assert_no_negative_zero(pdf, "mix9")
    b = int(pdf["budget_tokens"].iloc[0])
    assert (pdf["budget_tokens"] == b).all()
    # feasibility: every allocation within its cap (tolerate round(6))
    assert (pdf["alloc_tokens"] <= pdf["cap_tokens"] + 1e-6).all()
    assert ((pdf["epochs_equiv"] > 0) & (pdf["epochs_equiv"] <= 4.0)).all()
    # the budget is spent exactly unless EVERY source is capped
    if not pdf["is_capped"].all():
        assert abs(pdf["alloc_tokens"].sum() - b) < 1e-2  # round(6) per row
        # water level: every capped source's cap sits at/below every
        # uncapped source's equal share (the defining property)
        lvl = pdf.loc[~pdf["is_capped"], "alloc_tokens"].min()
        assert (pdf.loc[pdf["is_capped"], "cap_tokens"] <= lvl + 1e-6).all()


@pytest.mark.parametrize("seed", range(1))
def test_waterfill_algebra_properties(seed):
    """Property-test the math mix9's relational form depends on, for
    arbitrary inputs: (a) the rowwise capped condition
    cap_i·(n−i+1) ≤ B − prefix_{i−1} is MONOTONE over the ascending-cap
    order (so the capped set is a prefix and one window pass finds it);
    (b) the resulting allocation is feasible (≤ cap each), exhausts B
    exactly when any source is uncapped, and every capped cap sits at or
    below the uncapped level (the defining water-filling property)."""

    @settings(max_examples=300, deadline=None)
    @given(
        hst.lists(hst.integers(1, 10**12), min_size=1, max_size=40),
        hst.integers(0, 4 * 10**13),
    )
    def check(tokens, budget):
        caps = sorted(4 * t for t in tokens)
        n = len(caps)
        prefix = 0
        conds = []
        for i, c in enumerate(caps, start=1):
            conds.append(c * (n - i + 1) <= budget - prefix)
            prefix += c
        # (a) True...True,False...False — no interleaving
        assert conds == sorted(conds, reverse=True)
        k = sum(conds)
        p_k = sum(caps[:k])
        if k < n:
            level = Fraction(budget - p_k, n - k)
            # (b) feasibility + exhaustion + the level property, exact
            assert all(Fraction(c) <= level for c in caps[:k])
            assert level <= Fraction(caps[k])  # uncapped really fit under cap
            assert p_k + level * (n - k) == budget
        else:
            assert p_k <= budget  # all capped: budget cannot be exceeded

    check()


def test_n21_multiprobe_dominance(spark):
    pdf = entry_mod.queries()["n21_srp_multiprobe_recall"](spark, SF_DIR).toPandas()
    assert len(pdf) == 10
    # the flipped bucket only ADDS candidates, and ranking is consistent
    # (cos desc, id asc on both exact and approx), so hits are monotone
    assert (pdf["n_cand_multi"] >= pdf["n_cand_single"]).all()
    assert (pdf["n_hit_multi"] >= pdf["n_hit_single"]).all()
    assert ((pdf["recall_multi"] >= 0) & (pdf["recall_multi"] <= 1)).all()
    assert (pdf["n_hit_multi"] <= pdf["n_exact"]).all()


def test_ep11_release_diff_ledger_closes(spark):
    pdf = entry_mod.queries()["ep11_release_diff_card"](spark, SF_DIR).toPandas()
    assert len(pdf) > 0
    assert_no_negative_zero(pdf, "ep11")
    # the ledger must close: statuses partition version B, removals
    # reconcile both doc and token columns, and the shifts sum to ~0
    assert (pdf["n_changed"] + pdf["n_unchanged"] == pdf["docs_v2"]).all()
    assert (pdf["n_removed"] == pdf["docs_v1"] - pdf["docs_v2"]).all()
    assert (pdf["tokens_removed"] == pdf["tokens_v1"] - pdf["tokens_v2"]).all()
    assert abs(pdf["share_v1"].sum() - 1.0) < 1e-3
    assert abs(pdf["share_v2"].sum() - 1.0) < 1e-3
    assert abs(pdf["share_shift"].sum()) < 2e-3  # round(6) per row


@pytest.mark.skipif(sys.platform != "linux", reason="proc_tree_cpu_s is /proc-based")
def test_proc_tree_cpu_seconds_positive_and_monotone():
    c0 = bench.proc_tree_cpu_s()
    assert c0 > 0  # this pytest process has burned CPU already
    x = 0
    for i in range(2_000_000):
        x += i * i
    c1 = bench.proc_tree_cpu_s()
    assert c1 >= c0
    assert c1 - c0 < 60  # sane scale: a busy-loop, not garbage ticks


def test_ep9_integer_exact_reconstruction(spark):
    """Recompute ep9's floats from the exact integers in pure Python and
    require BIT equality with the Spark output — proving every output is
    one division of integers (no hidden float intermediate)."""
    pdf = (
        entry_mod.queries()["ep9_mixture_roadmap"](spark, SF_DIR)
        .toPandas()
        .sort_values("source", ignore_index=True)
    )

    def r6(x: float) -> float:
        # Spark's round() is HALF_UP over the exact BigDecimal expansion of
        # the double; Python's round() is half-even and would disagree on
        # representable 6-decimal ties (e.g. 1/128) — mirror Spark exactly
        return float(Decimal(x).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP))

    n_src = len(pdf)
    caps = {}
    n = int(pdf["n_tokens"].sum())
    for _, r in pdf.iterrows():
        caps[r["source"]] = min(n, 4 * n_src * int(r["n_tokens"]))
    zc = sum(caps.values())
    for _, r in pdf.iterrows():
        cap, tok = caps[r["source"]], int(r["n_tokens"])
        d = n_src * tok
        assert r["weight"] == r6(cap / d)
        assert r["full_epochs"] == cap // d
        assert r["last_epoch_rate"] == r6((cap % d) / d)
        assert r["eff_tokens"] == r6(cap / n_src)
        assert r["achieved_share"] == r6(cap / zc)
        assert r["shortfall"] == r6((zc - n_src * cap) / (n_src * zc))
