"""Round-13 regression pins: the plan_audit shuffle ledger (VERDICT r12
#2), the n22 probe-budget sweep invariants (#4), and the round-12 ADVICE
closures (bench CPU sentinel hygiene, mix9 zero-token epochs, cur17
row-preserving sweep join).

The shuffle ledger exists because the one regression class the
correctness suite cannot catch is a quiet plan change that adds a
shuffle without changing answers — the h2-style drift questions of
rounds 7-11 would have been settled instantly by an Exchange-count
diff. ``ledger_counts`` is counted on the PRE-materialization
``executedPlan()`` string: EnsureRequirements has inserted the
Exchanges, but AQE has not yet locally re-planned them away for a 1 MB
input, so the fingerprint reflects what Catalyst would ship to a real
cluster.
"""

from __future__ import annotations

import glob
import json
import os
import re

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from ml_training_data_pipeline_spark.functions.text import tokenize
from ml_training_data_pipeline_spark.io.sources import load_table
from ml_training_data_pipeline_spark.operators.refine import RefineConfig, refine
from ml_training_data_pipeline_spark.operators.tfidf import tfidf_long
from ml_training_data_pipeline_spark.operators.vectorize import (
    fit_tfidf_vectorizer,
    tokens_frame,
    vectorize,
)
from tests.conftest import REPO, SF_DIR, fill, load_script, plan_str, write_documents


def test_ledger_counts_shuffle_vs_broadcast_vs_scan():
    pa = load_script("plan_audit")
    plan = """AdaptiveSparkPlan isFinalPlan=false
+- SortMergeJoin [k#1], [k#2], Inner
   :- Sort [k#1 ASC NULLS FIRST]
   :  +- Exchange hashpartitioning(k#1, 8), ENSURE_REQUIREMENTS, [plan_id=5]
   :     +- FileScan parquet [k#1] Batched: true
   +- Sort [k#2 ASC NULLS FIRST]
      +- Exchange rangepartitioning(k#2 ASC, 8), ENSURE_REQUIREMENTS, [plan_id=7]
         +- BroadcastHashJoin [j#3], [j#4], Inner, BuildRight
            :- FileScan parquet [j#3,k#2]
            +- BroadcastExchange HashedRelationBroadcastMode, [plan_id=9]
               +- BatchScan[j#4] class org.apache.iceberg
"""
    c = pa.ledger_counts(plan, "AQEShuffleRead coalesced\nAQEShuffleRead local")
    assert c == {
        "exchanges": 2,  # hash + range; BroadcastExchange is NOT a shuffle
        "broadcasts": 1,
        "bnlj": 0,
        "scans": 3,  # 2 FileScan + 1 BatchScan
        "aqe_shuffle_reads": 2,
    }


def test_ledger_counts_single_partition_and_bnlj():
    pa = load_script("plan_audit")
    plan = (
        "Exchange SinglePartition, ENSURE_REQUIREMENTS\n"
        "+- BroadcastNestedLoopJoin BuildRight, Cross\n"
        "   +- Exchange RoundRobinPartitioning(8)\n"
    )
    c = pa.ledger_counts(plan)
    assert (c["exchanges"], c["bnlj"], c["aqe_shuffle_reads"]) == (2, 1, 0)


# The round-over-round diff anchor: ten headline queries whose static
# plan shape must equal what the newest committed ledger records. A
# difference is not automatically a bug, but it IS a plan change, and it
# is recorded by committing a new PLANS_rN.json (scripts/plan_audit.py
# --ledger at sf0.001), not by editing this test.
HEADLINE = (
    "h1_lineitem_pricing_summary", "h2_revenue_per_nation", "v1_tfidf_ngram",
    "v4_vocab_top2000", "c1_cluster_term_scores", "d4_minhash_dedup",
    "n1_ann_brute_topk", "w2_sessionization", "x2_quality_scores",
    "m2_kmeans_cluster_sizes",
)


SHAPE = ("exchanges", "broadcasts", "bnlj", "scans")


def newest_ledger() -> dict:
    paths = glob.glob(os.path.join(REPO, "PLANS_r*.json"))
    return json.load(open(max(paths, key=lambda p: int(re.search(r"PLANS_r(\d+)", p).group(1)))))


def test_headline_plan_shapes_pinned(spark):
    pa = load_script("plan_audit")
    ledger = newest_ledger()["queries"]
    got, want = {}, {}
    for name in HEADLINE:
        # cold cache per query, exactly as plan_audit.main measures: an
        # earlier test's .cache() (the EP3 flagship caches its token
        # frame) substitutes InMemoryRelations into matching subtrees and
        # the plan string prints the cached subtree under every
        # InMemoryTableScan — c1 read (7,3,0,5) instead of (5,2,0,3)
        # whenever test ordering put the flagship first
        spark.catalog.clearCache()
        c = pa.ledger_counts(plan_str(entry_mod.queries()[name](spark, SF_DIR)))
        got[name] = tuple(c[k] for k in SHAPE)
        want[name] = tuple(ledger[name][k] for k in SHAPE)
    assert got == want, {k: (got[k], want[k]) for k in got if got[k] != want[k]}


def test_n22_probe_budget_monotone(spark):
    pdf = (
        entry_mod.queries()["n22_srp_probe_budget_sweep"](spark, SF_DIR)
        .toPandas()
        .sort_values("probe_budget", ignore_index=True)
    )
    assert list(pdf["probe_budget"]) == [1, 2, 4]
    # nested probe sets: candidates and recall are monotone in the budget
    assert pdf["n_cand_total"].is_monotonic_increasing
    assert pdf["n_hit_total"].is_monotonic_increasing
    assert pdf["recall_at5"].is_monotonic_increasing
    assert (pdf["n_hit_total"] <= pdf["n_exact_total"]).all()
    assert (pdf["n_queries"] == 10).all()
    # mean_cand is the one division of the two BIGINT columns
    assert (
        (pdf["mean_cand"] - pdf["n_cand_total"] / pdf["n_queries"]).abs() < 1e-6
    ).all()


def test_bench_total_cpu_poisoned_by_sentinel():
    """A single -1.0 per-query CPU sentinel must make total_cpu_s the
    sentinel, not a sum that silently understates by 1+N."""
    import ast

    src = open(
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "bench.py")
    ).read()
    ast.parse(src)  # bench has no importable total; pin the guard textually
    assert "any(c < 0 for c in cpu.values())" in src
    assert "delta >= 0" in src  # negative tree-CPU delta → sentinel, not data


def test_mix9_zero_token_source_reports_zero_epochs(spark, duck):
    """Both engines: a capped source's epochs_equiv is 4.0 ONLY when it
    has tokens; the all-zero-token degenerate case reports 0.0. At the
    test SFs every source has tokens, so pin the live invariant (capped
    ⇒ 4.0 ∧ cap>0) plus the guard's presence in both plan and oracle."""
    pdf = entry_mod.queries()["mix9_budget_waterfill"](spark, SF_DIR).toPandas()
    capped = pdf[pdf["is_capped"]]
    assert ((capped["cap_tokens"] > 0) & (capped["epochs_equiv"] == 4.0)).all()
    sql = entry_mod.oracle_sql()["mix9_budget_waterfill"]
    assert "WHEN m.cap_tokens = 0 THEN 0.0" in sql


def test_cur17_always_emits_all_three_configs(spark):
    pdf = entry_mod.queries()["cur17_bloom_sizing_sweep"](spark, SF_DIR).toPandas()
    assert sorted(pdf["m_bits"]) == [2048, 8192, 32768]
    assert (pdf["n_bloom_flagged"] >= pdf["n_exact_flagged"]).all()


CORPUS = [
    (1, "energy battery power electric charging", 1),
    (2, "energy storage renewable power battery", 1),
    (3, "finance investment risk banking money", 2),
    (4, "stock markets economic growth inflation", 2),
    (5, "healthcare hospital treatment diagnosis", 2),
    (6, "medicine health doctor therapy", 2),
]


def test_refine_end_to_end_parity_across_partitionings(spark):
    """m5/m6/m11 are rows-only 🔶; §5's determinism-under-reconfiguration
    discipline (same answer at shuffle partitions 3 and 32) applied to
    the full iterative composite: split → renumber → merge → renumber
    must produce IDENTICAL assignments regardless of physical layout."""
    cfg = RefineConfig(
        coherence_threshold=0.9,  # force splits so the loop actually works
        k_range=(2,),
        min_docs=3,
        top_m=3,
        lda_search_iter=5,
        lda_final_iter=10,
        max_rounds=2,
    )
    old = spark.conf.get("spark.sql.shuffle.partitions")
    results = {}
    try:
        for parts in (3, 32):
            spark.conf.set("spark.sql.shuffle.partitions", str(parts))
            corpus = spark.createDataFrame(
                CORPUS, schema="doc_id long, text string, cluster_id int"
            ).repartition(parts)
            tokens = tokens_frame(corpus, stopwords=None)
            model = fit_tfidf_vectorizer(tokens, vocab_size=100)
            vecs = vectorize(tokens, model)
            tfidf = tfidf_long(corpus)
            out = refine(
                vecs.select("doc_id", "tf"),
                tfidf,
                corpus.select("doc_id", "cluster_id"),
                cfg,
            )
            results[parts] = {
                r["doc_id"]: r["cluster_id"] for r in out.collect()
            }
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert sorted(results[3]) == [1, 2, 3, 4, 5, 6]
    assert results[3] == results[32], results


def test_d22_span_algebra_consistent_with_d15(spark):
    """Every maximal island is a union of 8-token windows, so each span
    is >= 8 tokens; and a doc has a dup SPAN iff d15 sees a dup WINDOW —
    the two grains must agree on WHICH docs are touched."""
    qs = entry_mod.queries()
    d22 = qs["d22_exact_substring_spans"](spark, SF_DIR).toPandas()
    assert (d22["dup_tokens"] <= d22["n_tokens"]).all()
    hit = d22[d22["n_spans"] > 0]
    assert (hit["max_span_tokens"] >= 8).all()
    assert (hit["dup_tokens"] >= 8 * hit["n_spans"]).all()
    assert (hit["dup_tokens"] >= hit["max_span_tokens"]).all()
    assert len(hit) > 0, "fixture corpus should contain duplicated spans"
    d15 = qs["d15_duplicate_spans"](spark, SF_DIR).toPandas()
    assert set(hit["doc_id"]) == set(d15[d15["n_dup_windows"] > 0]["doc_id"])


def test_ep12_agrees_with_ep7_card_and_ep11_ledger(spark):
    qs = entry_mod.queries()
    diff = qs["ep12_data_card_diff"](spark, SF_DIR).toPandas().set_index("metric")
    card = qs["ep7_dataset_card"](spark, SF_DIR).toPandas().set_index("metric")
    # version-1 face IS ep7's card, metric for metric
    for m in card.index:
        assert diff.loc[m, "value_v1"] == card.loc[m, "value"], m
    # doc/token deltas close against ep11's removal ledger
    ep11 = qs["ep11_release_diff_card"](spark, SF_DIR).toPandas()
    assert diff.loc["n_docs", "delta"] == -float(ep11["n_removed"].sum())
    assert diff.loc["n_tokens", "delta"] == -float(ep11["tokens_removed"].sum())
    # delta column is exactly v2 - v1 (rounded), and fully populated
    assert not diff["delta"].isna().any()


def test_d23_cascade_ledger_closes_against_d1(spark):
    qs = entry_mod.queries()
    d23 = qs["d23_dedup_cascade"](spark, SF_DIR).toPandas()
    # the three statuses partition every doc
    assert (
        d23["n_exact_dropped"] + d23["n_near_dropped"] + d23["n_survivors"]
        == d23["n_docs"]
    ).all()
    # total exact drops = what d1's group table implies (sum(n-1) per group)
    d1 = qs["d1_exact_dup_groups"](spark, SF_DIR).toPandas()
    assert d23["n_exact_dropped"].sum() == (d1["n_docs"] - 1).sum()
    # stage order matters: near-dup drops are reps only, so every source's
    # near drops are bounded by its representative count
    assert (
        d23["n_near_dropped"] <= d23["n_docs"] - d23["n_exact_dropped"]
    ).all()


def test_lsh_pair_count_quadratic_vs_cascade_linear(spark, tmp_path_factory):
    """The scale-probe's 29-91x CPU readings pinned as exact combinatorics:
    replicate the corpus R=3x verbatim (replica 0 keeps original keys, so
    the exact-dedup representatives ARE the source corpus). Identical docs
    share every band signature, so raw LSH candidate pairs obey

        pairs(3x corpus) == 9 * pairs(base) + 3 * n_shingled_docs

    (R^2 cross-replica pairs per original candidate pair + C(3,2)
    same-doc replica pairs per doc that has any band) — quadratic in the
    cluster size — while the cascade's rep-scoped candidate set is
    EXACTLY the base corpus's. No timing, no noise, just counting."""
    base = SF_DIR
    out = str(tmp_path_factory.mktemp("rep3"))
    rep3 = load_script("make_sf1")
    rep3.generate(base, out, reps=3, quiet=True)

    qs = entry_mod.queries()
    pairs_base = qs["d3_lsh_candidate_pairs"](spark, base).count()
    pairs_full = qs["d3_lsh_candidate_pairs"](spark, out).count()

    n_shingled = (
        load_table(spark, base, "documents")
        .where(F.col("text").isNotNull())
        .where(F.size(tokenize(F.col("text"))) >= 3)
        .count()
    )
    assert pairs_base > 0 and n_shingled > 0
    assert pairs_full == 9 * pairs_base + 3 * n_shingled, (
        pairs_full, pairs_base, n_shingled
    )
    # cascade stage 2 sees one representative per exact group == the base
    # corpus, so its near-dup ledger on the replicated corpus must match
    # the base corpus's drop structure exactly (3x the docs, same reps)
    d23_base = (
        qs["d23_dedup_cascade"](spark, base).toPandas().set_index("source").sort_index()
    )
    d23_full = (
        qs["d23_dedup_cascade"](spark, out).toPandas().set_index("source").sort_index()
    )
    assert (d23_full["n_docs"] == 3 * d23_base["n_docs"]).all()
    assert (d23_full["n_near_dropped"] == d23_base["n_near_dropped"]).all()
    assert (d23_full["n_survivors"] == d23_base["n_survivors"]).all()


def test_st16_cascade_admits_same_set_as_st13(spark):
    """An exact corpus twin shares every band signature and verifies at
    jaccard 1.0, so st13 rejects it too — the cascade only changes WHERE
    the rejection is attributed (and what the reject costs), never the
    admitted set. Pin per-source equality plus ledger closure."""
    qs = entry_mod.queries()
    c = qs["st16_stream_cascade_admission"](spark, SF_DIR).toPandas().set_index("source").sort_index()
    s = qs["st13_stream_neardup_admission"](spark, SF_DIR).toPandas().set_index("source").sort_index()
    assert (
        c["n_exact_rejected"] + c["n_near_rejected"] + c["n_admitted"] == c["n_new"]
    ).all()
    assert list(c.index) == list(s.index)
    assert (c["n_new"] == s["n_new"]).all()
    assert (c["n_admitted"] == s["n_admitted"]).all()
    assert (c["n_exact_rejected"] + c["n_near_rejected"] == s["n_rejected"]).all()
    # the fixture's dups are near (cross-parity exact twins don't exist at
    # sf0.001) — so the gate must actually exercise the expensive stage
    assert s["n_rejected"].sum() > 0, "fixture corpus should have near-dup twins"


@pytest.mark.parametrize("span_len", [8, 15, 40])
def test_d22_planted_span_reconstructs_exactly(spark, tmp_path_factory, span_len):
    """Lee et al.'s exact-substring contract, verified against a planted
    truth: two docs share ONE span of exactly span_len tokens inside
    otherwise doc-unique filler, so d22 must report exactly one maximal
    span of span_len duplicated tokens in each doc — the L-7 consecutive
    duplicated windows reconstruct L, not L±1."""
    shared = fill("shared", span_len)
    a = fill("aupre", 10) + " " + shared + " " + fill("aupost", 10)
    b = fill("bupre", 7) + " " + shared + " " + fill("bupost", 12)
    d = write_documents(str(tmp_path_factory.mktemp("planted")), [a, b])
    pdf = (
        entry_mod.queries()["d22_exact_substring_spans"](spark, d)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert list(pdf.index) == [1, 2]
    assert (pdf["n_spans"] == 1).all()
    assert (pdf["max_span_tokens"] == span_len).all()
    assert (pdf["dup_tokens"] == span_len).all()


def test_d22_two_disjoint_planted_spans(spark, tmp_path_factory):
    s1 = fill("one", 9)
    s2 = fill("two", 12)
    a = " ".join([fill("ax", 9), s1, fill("ay", 9), s2, fill("az", 9)])
    b = " ".join([fill("bx", 5), s1, fill("by", 11), s2, fill("bz", 6)])
    d = write_documents(str(tmp_path_factory.mktemp("planted2")), [a, b])
    pdf = (
        entry_mod.queries()["d22_exact_substring_spans"](spark, d)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert (pdf["n_spans"] == 2).all()
    assert (pdf["max_span_tokens"] == 12).all()
    assert (pdf["dup_tokens"] == 21).all()


def test_d23_cascade_planted_attribution(spark, tmp_path_factory):
    base = fill("alpha", 20)
    near = fill("alpha", 19) + " omega999"
    other = fill("beta", 20)
    d = write_documents(
        str(tmp_path_factory.mktemp("cascade")), [base, base, near, other]
    )
    pdf = entry_mod.queries()["d23_dedup_cascade"](spark, d).toPandas()
    assert len(pdf) == 1
    r = pdf.iloc[0]
    # doc2 is a verbatim copy (exact stage), doc3 shares 16/20 shingles
    # with the doc1 representative (jaccard 0.8 -> near stage), doc4 and
    # the representative survive
    assert (r["n_docs"], r["n_exact_dropped"], r["n_near_dropped"], r["n_survivors"]) \
        == (4, 1, 1, 2), dict(r)


def test_st16_cascade_planted_attribution(spark, tmp_path_factory):
    x = fill("gamma", 20)
    y = fill("delta", 20)
    y_near = fill("delta", 19) + " omega999"
    z = fill("edge", 20)
    # doc_id parity is the stream/corpus split: evens {2: x, 4: y} are the
    # standing corpus; odds arrive — 1 = x verbatim (exact reject),
    # 3 = y-near (near reject), 5 = novel (admitted)
    d = write_documents(
        str(tmp_path_factory.mktemp("stcascade")), [x, x, y_near, y, z]
    )
    pdf = entry_mod.queries()["st16_stream_cascade_admission"](spark, d).toPandas()
    assert len(pdf) == 1
    r = pdf.iloc[0]
    assert (r["n_new"], r["n_exact_rejected"], r["n_near_rejected"], r["n_admitted"]) \
        == (3, 1, 1, 1), dict(r)


def test_ep13_budget_over_cascade_survivors(spark):
    qs = entry_mod.queries()
    ep13 = qs["ep13_dedup_budget_roadmap"](spark, SF_DIR).toPandas().set_index("source").sort_index()
    d23 = qs["d23_dedup_cascade"](spark, SF_DIR).toPandas().set_index("source").sort_index()
    # the roadmap runs over EXACTLY the cascade's survivor set
    assert (ep13["n_survivors"] == d23["n_survivors"]).all()
    # mix9's water-fill properties over that mass: the budget is spent
    # exactly (capped rows take their cap, uncapped split the remainder),
    # no row exceeds 4 epochs, and the cap binds iff marked
    assert (ep13["epochs_equiv"] <= 4.0).all()
    assert (ep13["alloc_tokens"] <= ep13["cap_tokens"] + 1e-6).all()
    spent = ep13["alloc_tokens"].sum()
    assert abs(spent - ep13["budget_tokens"].iloc[0]) < 1e-3 * len(ep13), (
        spent, ep13["budget_tokens"].iloc[0]
    )
