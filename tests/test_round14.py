"""Round-14 regression pins: the d24 exact-substring SCRUB transform
(VERDICT r13 #2 — cur6's byte-exact reassembly discipline at d22's span
grain), the d25 quality-survivor cascade (VERDICT r13 #5 — d23's
exact-first ordering composed with cur2's keep-the-best-copy policy),
and their consistency with the parents they extend.

The planted-truth style follows tests/test_round13.py: tiny corpora
written to parquet with a known duplication structure, so the expected
ledger (and the expected scrubbed BYTES, via md5) is computable by hand
— the engine must reproduce it exactly, not just plausibly.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pandas as pd
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from ml_training_data_pipeline_spark.functions.analysis import quality_score
from tests.conftest import SF_DIR, fill, load_script, plan_str, write_documents


def md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def test_d24_planted_span_scrubbed_byte_exact(spark, tmp_path_factory):
    """Two docs share one 12-token span; the keeper (min doc_id) must come
    through untouched and the other doc must lose EXACTLY the span — the
    md5 fingerprints prove the reassembled bytes, not just the counts."""
    span = fill("shared", 12)
    a_pre = fill("apre", 10)
    a_post = fill("apost", 10)
    b_pre = fill("bpre", 7)
    b_post = fill("bpost", 12)
    a = f"{a_pre} {span} {a_post}"
    b = f"{b_pre} {span} {b_post}"
    d = write_documents(str(tmp_path_factory.mktemp("scrub")), [a, b])
    pdf = (
        entry_mod.queries()["d24_span_scrub"](spark, d)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert list(pdf.index) == [1, 2]
    # keeper: nothing removed, fingerprint of the ORIGINAL token stream
    assert pdf.loc[1, "tokens_removed"] == 0
    assert pdf.loc[1, "tokens_kept"] == 32
    assert pdf.loc[1, "scrubbed_fp"] == md5(a)
    # non-keeper: exactly the span excised, byte-exact reassembly
    assert pdf.loc[2, "tokens_removed"] == 12
    assert pdf.loc[2, "tokens_kept"] == 19
    assert pdf.loc[2, "scrubbed_fp"] == md5(f"{b_pre} {b_post}")


def test_d24_three_way_span_keeps_first_only(spark, tmp_path_factory):
    span = fill("common", 9)
    docs = [
        f"{fill('x', 8)} {span}",
        f"{fill('y', 8)} {span}",
        f"{span} {fill('z', 8)}",
    ]
    d = write_documents(str(tmp_path_factory.mktemp("scrub3")), docs)
    pdf = (
        entry_mod.queries()["d24_span_scrub"](spark, d)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert pdf["tokens_removed"].tolist() == [0, 9, 9]
    assert pdf.loc[2, "scrubbed_fp"] == md5(fill("y", 8))
    assert pdf.loc[3, "scrubbed_fp"] == md5(fill("z", 8))


def test_d24_intra_doc_repeat_is_kept(spark, tmp_path_factory):
    """A span repeated WITHIN one doc is x9's domain (repetition quality),
    not cross-doc duplication — the scrub must keep it (the duplicated-
    window rule counts DISTINCT docs, exactly as d22 does)."""
    run = fill("loop", 8)
    a = f"{run} {run}"
    d = write_documents(str(tmp_path_factory.mktemp("intra")), [a])
    pdf = entry_mod.queries()["d24_span_scrub"](spark, d).toPandas()
    assert len(pdf) == 1
    assert pdf.iloc[0]["tokens_removed"] == 0
    assert pdf.iloc[0]["scrubbed_fp"] == md5(a)


def test_d24_consistent_with_d22_report(spark):
    """d24 is the transform d22's report feeds: same doc universe, and a
    doc can never lose more tokens than d22 says are duplicated (the
    keeper's copy of every span is d22-counted but never removed — so
    corpus-wide the scrub strictly undershoots the report when any
    cross-doc duplication exists)."""
    qs = entry_mod.queries()
    d22 = qs["d22_exact_substring_spans"](spark, SF_DIR).toPandas().set_index("doc_id")
    d24 = qs["d24_span_scrub"](spark, SF_DIR).toPandas().set_index("doc_id")
    assert set(d22.index) == set(d24.index)
    j = d22.join(d24, lsuffix="_22")
    assert (j["tokens_removed"] <= j["dup_tokens"]).all()
    assert (j["tokens_removed"] + j["tokens_kept"] == j["n_tokens"]).all()
    # the fixture corpus carries real cross-doc duplication, so the
    # keeper discipline must show as a strict corpus-level gap
    assert j["dup_tokens"].sum() > 0, "fixture corpus should have duplicated spans"
    assert j["tokens_removed"].sum() < j["dup_tokens"].sum()


def _planted_quality_corpus() -> tuple[list[str], int]:
    """doc1 = near-dup of doc2 with heavy punctuation noise (lower
    quality, EARLIER id), doc2 = the clean twin, doc3 = unrelated and
    also noisy. Tokens are punctuation-insensitive, so doc1/doc2 must
    differ in token content too (else they'd be the same EXACT group
    and quality could never arbitrate): doc1 drops doc2's last token.
    Returns (texts, expected_survivor_doc_id)."""
    words = [
        "a", "an", "and", "are", "as", "at", "be", "but", "by", "for",
        "from", "has", "have", "he", "her", "his", "in", "is", "it", "its",
    ]
    clean = " ".join(words)
    noisy_twin = " ".join(words[:19]) + " !!!???!!!???!!!???!!!???"
    other = " ".join(f"zebra{i:02d}" for i in range(8)) + " ###!!!###!!!###!!!###"
    return [noisy_twin, clean, other], 2


def test_d25_planted_higher_quality_twin_survives(spark, tmp_path_factory):
    texts, survivor = _planted_quality_corpus()
    d = write_documents(str(tmp_path_factory.mktemp("qsurv")), texts)
    pdf = entry_mod.queries()["d25_cascade_quality_survivors"](spark, d).toPandas()
    assert len(pdf) == 1
    r = pdf.iloc[0]
    # no exact dups; docs 1+2 form one near component; doc3 is alone
    assert (r["n_docs"], r["n_exact_dropped"], r["n_near_dropped"], r["n_survivors"]) \
        == (3, 0, 1, 2), dict(r)
    # THE policy pin: the surviving twin is the high-quality LATER id —
    # best_survivor_quality must equal doc2's engine quality score, which
    # is strictly above the noisy earlier-id twin's (min-doc-id policy
    # would have kept doc1 and read the lower value here)
    q = {
        row.doc_id: row.q
        for row in spark.createDataFrame(
            [(i + 1, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        .select("doc_id", quality_score(F.col("text")).alias("q"))
        .collect()
    }
    assert q[survivor] > q[1], q
    assert abs(r["best_survivor_quality"] - q[survivor]) < 1e-9, (dict(r), q)


def test_d25_exact_group_keeps_clean_copy(spark, tmp_path_factory):
    """The stage-1 policy pin: the
    exact fingerprint is token-normalized but punct_ratio reads RAW
    text, so a punctuation-noisy EARLIER-id copy and a clean later-id
    copy land in ONE exact group with different qualities — the group
    must keep the clean copy, not min(doc_id)."""
    words = " ".join(f"alpha{i:02d} the and for are" for i in range(4))
    noisy = words + " !!!???!!!???!!!???!!!???!!!???"  # same TOKEN stream
    other = " ".join(f"gamma{i:02d}" for i in range(10))
    d = write_documents(str(tmp_path_factory.mktemp("exq")), [noisy, words, other])
    pdf = entry_mod.queries()["d25_cascade_quality_survivors"](spark, d).toPandas()
    assert len(pdf) == 1
    r = pdf.iloc[0]
    assert (r["n_docs"], r["n_exact_dropped"], r["n_near_dropped"], r["n_survivors"]) \
        == (3, 1, 0, 2), dict(r)

    qvals = (
        spark.createDataFrame([(1, noisy), (2, words)], "doc_id long, text string")
        .select("doc_id", quality_score(F.col("text")).alias("q"))
        .collect()
    )
    q = {row.doc_id: row.q for row in qvals}
    assert q[2] > q[1], q  # the clean copy scores strictly higher
    # best_survivor_quality reads the CLEAN copy's score: doc2 survived
    # (min-doc_id policy would have kept doc1 and read a lower value)
    assert abs(r["best_survivor_quality"] - q[2]) < 1e-9, (dict(r), q)


def test_d25_ledger_closes_against_d23(spark):
    """Group SIZES are policy-independent (each exact group drops
    size-1 members whichever member it keeps), so the GLOBAL exact-drop
    count must equal d23's exactly and per-source doc counts agree;
    per-source exact-drop attribution may shift when a group spans
    sources. Stage 2's component policy drops every non-argmax member,
    so the total near-drop count dominates d23's pairwise rule and the
    ledger still partitions every doc."""
    qs = entry_mod.queries()
    d23 = qs["d23_dedup_cascade"](spark, SF_DIR).toPandas().set_index("source").sort_index()
    d25 = (
        qs["d25_cascade_quality_survivors"](spark, SF_DIR)
        .toPandas()
        .set_index("source")
        .sort_index()
    )
    assert list(d23.index) == list(d25.index)
    assert (d23["n_docs"] == d25["n_docs"]).all()
    assert d23["n_exact_dropped"].sum() == d25["n_exact_dropped"].sum()
    assert d25["n_near_dropped"].sum() >= d23["n_near_dropped"].sum()
    assert (
        d25["n_exact_dropped"] + d25["n_near_dropped"] + d25["n_survivors"]
        == d25["n_docs"]
    ).all()


def test_ep14_budget_over_scrubbed_mass(spark):
    qs = entry_mod.queries()
    ep14 = qs["ep14_scrub_budget_roadmap"](spark, SF_DIR).toPandas()
    d24 = qs["d24_span_scrub"](spark, SF_DIR).toPandas()
    # the removed mass IS d24's (only >= 8-token docs can lose tokens),
    # while the budget universe is the whole corpus (short docs pass
    # through unscrubbed, so before-mass dominates d24's report universe)
    assert ep14["tokens_removed"].sum() == d24["tokens_removed"].sum()
    assert ep14["tokens_before"].sum() >= d24["n_tokens"].sum()
    assert (
        ep14["tokens_before"] - ep14["tokens_removed"] == ep14["n_tokens"]
    ).all()
    # mix9's water-fill properties over the post-scrub mass: budget spent
    # exactly, nobody exceeds 4 epochs, caps respected
    assert (ep14["epochs_equiv"] <= 4.0).all()
    assert (ep14["alloc_tokens"] <= ep14["cap_tokens"] + 1e-6).all()
    b = ep14["budget_tokens"].iloc[0]
    assert abs(ep14["alloc_tokens"].sum() - b) < 1e-3 * max(b, 1), (
        ep14["alloc_tokens"].sum(),
        b,
    )


def test_ep14_planted_scrub_shifts_the_mixture(spark, tmp_path_factory):
    """Two sources, equal raw mass; source A's second doc is a verbatim
    span-copy of its first, so the scrub removes that mass from A only
    — post-scrub, A's cap must shrink below B's while raw masses tie."""

    span = fill("dup", 16)
    a1 = span
    a2 = span  # verbatim: every window duplicated, non-keeper loses all 16
    b1 = fill("bone", 16)
    b2 = fill("btwo", 16)
    tmpdir = write_documents(
        str(tmp_path_factory.mktemp("ep14")), [a1, a2, b1, b2], ["srcA", "srcA", "srcB", "srcB"]
    )
    out = (
        entry_mod.queries()["ep14_scrub_budget_roadmap"](spark, tmpdir)
        .toPandas()
        .set_index("source")
        .sort_index()
    )
    assert out.loc["srcA", "tokens_before"] == out.loc["srcB", "tokens_before"] == 32
    assert out.loc["srcA", "tokens_removed"] == 16
    assert out.loc["srcB", "tokens_removed"] == 0
    assert out.loc["srcA", "n_tokens"] == 16 and out.loc["srcB", "n_tokens"] == 32
    # the mixture shifted: A's cap (and thus max allocation) is half B's
    assert out.loc["srcA", "cap_tokens"] == 64 and out.loc["srcB", "cap_tokens"] == 128


def test_ckpt_recorder_surfaces_ep12_upstream_scans(spark):
    """PLANS_r13.json read ep12 as {exchanges: 0, scans: 0} because
    localCheckpoint truncates the visible plan — the recorder must
    surface the two upstream aggregation scans, and
    segments must not double count (d24's second checkpoint reads the
    first's RDD, so pre_scans stays 1)."""
    pa = load_script("plan_audit")
    qs = entry_mod.queries()

    def audit(name: str) -> dict:
        # Per-query cache clear, mirroring plan_audit.main: a hot cache from
        # earlier tests (m-family caches tf-idf/token subtrees that ep12/d24
        # plans contain) substitutes InMemoryRelations and shifts the pinned
        # counters, making this test order-dependent.
        spark.catalog.clearCache()
        with pa.CkptRecorder() as rec:
            df = qs[name](spark, SF_DIR)
            plan = plan_str(df)
        out = pa.ledger_counts(plan)
        out.update(rec.pre_counts())
        return out

    ep12 = audit("ep12_data_card_diff")
    assert ep12["checkpointed"] == 1 and ep12["segments"] == 1
    assert ep12["pre_scans"] == 2, ep12  # the two upstream aggregation scans
    assert ep12["pre_exchanges"] > 0, ep12
    d24 = audit("d24_span_scrub")
    assert d24["checkpointed"] == 1 and d24["segments"] == 2
    # t8's segment scans the file; p's segment starts at t8's ExistingRDD
    assert d24["pre_scans"] == 1, d24
    # an uncheckpointed query reads clean zeros and the flag stays down
    h1 = audit("h1_lineitem_pricing_summary")
    assert h1["checkpointed"] == 0 and h1["segments"] == 0
    assert h1["pre_scans"] == 0 and h1["scans"] == 1


def test_ledger_counts_are_cache_independent(spark):
    """An earlier query's .cache() makes the CacheManager substitute
    InMemoryRelations into later matching plans, and the plan string
    prints the cached subtree under every InMemoryTableScan — v3 read
    x=3/s=2 in isolation but x=6/s=4 after the m-family in the first
    r14 sweep. The audit clears the cache per query, so the fingerprint
    must be identical with and without a hot cache."""
    pa = load_script("plan_audit")
    qs = entry_mod.queries()

    def counts() -> dict:
        spark.catalog.clearCache()  # what plan_audit.main does per query
        df = qs["v3_tfidf_unigram"](spark, SF_DIR)
        return pa.ledger_counts(plan_str(df))

    cold = counts()
    qs["m2_kmeans_cluster_sizes"](spark, SF_DIR).count()  # caches tf-idf
    hot = counts()
    spark.catalog.clearCache()
    assert cold == hot, (cold, hot)


def test_ckpt_recorder_restores_method_even_on_error():
    pa = load_script("plan_audit")
    cls = pa.CkptRecorder._target()
    orig = cls.localCheckpoint
    with pytest.raises(RuntimeError):
        with pa.CkptRecorder():
            assert cls.localCheckpoint is not orig
            raise RuntimeError("boom")
    assert cls.localCheckpoint is orig


def _run_plan_diff(tmpdir, old: dict, new: dict) -> tuple[int, str]:
    po, pn = os.path.join(tmpdir, "old.json"), os.path.join(tmpdir, "new.json")
    with open(po, "w") as f:
        json.dump(old, f)
    with open(pn, "w") as f:
        json.dump(new, f)
    script = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scripts",
        "plan_diff.py",
    )
    r = subprocess.run(
        [sys.executable, script, po, pn], capture_output=True, text=True
    )
    return r.returncode, r.stdout + r.stderr


def test_plan_diff_old_errors_do_not_fail_forever(tmp_path):
    """A clean new run diffed against a HISTORICAL ledger that captured a
    broken sweep must exit 0 (old errors are known history) — and a new
    error must still gate."""
    q = {"exchanges": 1, "broadcasts": 0, "bnlj": 0, "scans": 1,
         "aqe_shuffle_reads": 0}
    t = {k: v for k, v in q.items()}
    old = {"queries": {"a": q}, "totals": t, "errors": {"b": "boom"}}
    new = {"queries": {"a": q}, "totals": t, "errors": {}}
    rc, out = _run_plan_diff(str(tmp_path), old, new)
    assert rc == 0, out
    assert "old: ['b']" in out  # still printed for context
    rc, _ = _run_plan_diff(
        str(tmp_path), new, {**new, "errors": {"c": "fresh"}}
    )
    assert rc == 1


def test_plan_diff_tolerates_counter_set_drift(tmp_path):
    """An r13 ledger lacks the r14 pre-checkpoint columns; the diff must
    read the missing counters as 0, not raise KeyError — and surface the
    new columns as changes."""
    old_q = {"exchanges": 2, "broadcasts": 1, "bnlj": 0, "scans": 0,
             "aqe_shuffle_reads": 1}
    new_q = {**old_q, "checkpointed": 1, "segments": 1, "pre_exchanges": 4,
             "pre_broadcasts": 1, "pre_bnlj": 1, "pre_scans": 2,
             "aqe_shuffle_reads": 2}
    old = {"queries": {"ep12": old_q}, "totals": dict(old_q), "errors": {}}
    new = {"queries": {"ep12": new_q}, "totals": dict(new_q), "errors": {}}
    rc, out = _run_plan_diff(str(tmp_path), old, new)
    assert rc == 0, out
    assert "pre_scans 0→2" in out, out
    # AQE's final-plan read count follows stage-completion timing: it is
    # reported on its own line, never as a fingerprint change
    change_line = next(ln for ln in out.splitlines() if ln.startswith("~ ep12:"))
    assert "aqe_shuffle_reads" not in change_line, out
    assert "i ep12: aqe_shuffle_reads 1→2" in out, out


def test_bench_emits_median_cpu_column():
    """Round-over-round CPU comparisons read cpu_median_s (the min-wall
    rep's CPU swings ~2x on identical code — VERDICT r13 #6); the
    sentinel discipline applies to the median column too."""
    import ast

    src = open(
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "bench.py")
    ).read()
    ast.parse(src)
    assert '"cpu_median_s": cpu_med' in src
    assert '"total_cpu_median_s": total_cpu_med' in src
    assert "any(c < 0 for c in cpu_med.values())" in src
    # ADVICE r13 (superseded in r15 session 2): a CPU column whose reps
    # aren't fully trustworthy must be flagged. The "cpu from Xs rep"
    # mixed-pair marker was replaced by the per-query cpu_rep_source tag
    # ("clean-k/n" steal-gated / "all-k/n" no-quiet-rep fallback), which
    # subsumes it — pin the replacement, not the retired string.
    assert '"cpu_rep_source": cpu_src' in src
    assert "pick_cpu_stats" in src
    # the timed action must be the noop sink, NOT count(): count() lets
    # Catalyst prune unused columns and eliminate unique-key left joins,
    # so per-doc report queries (x2, d24) measured as parquet count-stars
    # (round-14 find: x2 read 0.4 CPU-s at sf1 where the real cost is 29)
    assert 'df.write.format("noop")' in src
    assert "run(df)" in src


def test_make_sf1_rejects_aliasing_offset(tmp_path):
    """A source key >= OFF would silently alias keys across
    replicas; generate() must refuse instead."""

    src = str(tmp_path / "src")
    os.makedirs(src)
    ms = load_script("make_sf1")
    # build a minimal source dir: every KEYED table with tiny rows, one
    # key pushed past OFF
    for t, keys in ms.KEYED.items():
        df = pd.DataFrame({k: [1, 2] for k in keys})
        df["payload"] = ["a", "b"]
        if t == "documents":
            df.loc[1, keys[0]] = ms.OFF + 5
        df.to_parquet(os.path.join(src, f"{t}.parquet"), index=False)
    for t in ms.COPIED:
        pd.DataFrame({"x": [1]}).to_parquet(
            os.path.join(src, f"{t}.parquet"), index=False
        )
    with pytest.raises(SystemExit, match="alias"):
        ms.generate(src, str(tmp_path / "out"), reps=2, quiet=True)
