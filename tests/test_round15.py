"""Round-15 regression pins: the st17 streaming span scrub (the
arrival-side twin of d24 — VERDICT r14 #6), the d25 stage-2 argmax
unification (VERDICT r14 #4 — no component-partitioned window anywhere
in the cascade), the shared span-scrub operator/oracle factoring (r14
ADVICE), and the materialization-strategy knob (VERDICT r14 #5).

Planted-truth style follows tests/test_round14.py: tiny corpora written
to parquet with a known duplication structure so the expected ledger is
computable by hand.
"""

from __future__ import annotations

import os
import re

import pandas as pd
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
import bench
from ml_training_data_pipeline_spark.functions.text import tokenize
from ml_training_data_pipeline_spark.io.sources import load_table
from ml_training_data_pipeline_spark.operators.dedup import (
    span_window_stream,
    span_windows,
)
from ml_training_data_pipeline_spark.operators.materialize import _strategy
from ml_training_data_pipeline_spark.plans import oracle_fragments as of
from ml_training_data_pipeline_spark.plans.oracle_fragments import materialized_ctes
from tests.conftest import SF_DIR, fill, load_script, write_documents


def test_st17_planted_repost_loses_corpus_covered_span(spark, tmp_path_factory):
    """doc_id parity splits the universe: even = standing corpus, odd =
    arriving feed. doc1 (arriving) re-posts a 12-token span doc2 (corpus)
    already contains — it must lose EXACTLY those 12 tokens; doc3
    (arriving, novel) must lose nothing. The ledger is per-source over
    ALL arriving docs."""
    span = fill("shared", 12)
    arr_dup = f"{fill('bpre', 7)} {span} {fill('bpost', 12)}"  # doc1, 31 toks
    corpus = f"{fill('apre', 10)} {span} {fill('apost', 10)}"  # doc2
    arr_novel = fill("novel", 20)  # doc3
    corpus2 = fill("corp", 15)  # doc4
    d = write_documents(
        str(tmp_path_factory.mktemp("st17")), [arr_dup, corpus, arr_novel, corpus2]
    )
    pdf = entry_mod.queries()["st17_stream_span_scrub"](spark, d).toPandas()
    assert len(pdf) == 1
    row = pdf.iloc[0]
    assert row["source"] == "planted"
    assert row["n_docs"] == 2  # the two ARRIVING docs only
    assert row["tokens_before"] == 31 + 20
    assert row["tokens_removed"] == 12  # exactly the corpus-covered span
    assert row["tokens_kept"] == 31 + 20 - 12
    assert row["removed_frac"] == pytest.approx(12 / 51, abs=1e-6)


def test_st17_cross_arrival_duplication_is_not_scrubbed(spark, tmp_path_factory):
    """Two ARRIVING docs share a span the corpus does NOT contain: the
    scrub must remove nothing — admission/scrub depends only on the
    static corpus inventory, so micro-batch boundaries cannot change the
    result (the st13/st16 discipline). Cross-arrival duplication is the
    batch scrub's job at the next compaction."""
    span = fill("feeddup", 10)
    arr_a = f"{fill('fa', 8)} {span}"  # doc1 (odd)
    corpus = fill("standing", 25)  # doc2 (even)
    arr_b = f"{span} {fill('fb', 8)}"  # doc3 (odd)
    d = write_documents(str(tmp_path_factory.mktemp("st17x")), [arr_a, corpus, arr_b])
    pdf = entry_mod.queries()["st17_stream_span_scrub"](spark, d).toPandas()
    assert len(pdf) == 1
    assert pdf.iloc[0]["tokens_removed"] == 0
    assert pdf.iloc[0]["tokens_kept"] == pdf.iloc[0]["tokens_before"]


def test_st17_short_arrivals_pass_through_in_ledger(spark, tmp_path_factory):
    """Arriving docs under the 8-token window width carry no windows and
    cannot be scrubbed, but they ARE part of the arriving universe — the
    ledger counts them (the ep14 whole-corpus discipline, not d24's
    >= 8-token report universe)."""
    corpus = fill("base", 30)  # doc2 (even)
    tiny = "just five little words here"  # doc1 (odd), 5 tokens
    d = write_documents(str(tmp_path_factory.mktemp("st17s")), [tiny, corpus])
    pdf = entry_mod.queries()["st17_stream_span_scrub"](spark, d).toPandas()
    assert len(pdf) == 1
    assert pdf.iloc[0]["n_docs"] == 1
    assert pdf.iloc[0]["tokens_before"] == 5
    assert pdf.iloc[0]["tokens_removed"] == 0


def test_st17_agrees_with_d24_on_the_fixture_direction(spark):
    """On the shared fixture corpus, every token st17 removes from an
    arriving (odd) doc is covered by a window some OTHER doc contains —
    so st17's per-source removed mass can never exceed what a d24 scrub
    of the WHOLE corpus would remove from odd docs PLUS the mass d24
    attributes to odd keepers. Weak-form consistency: totals are
    comparable and st17 finds duplication iff the corpus has cross-parity
    duplication."""
    qs = entry_mod.queries()
    st17 = qs["st17_stream_span_scrub"](spark, SF_DIR).toPandas()
    d24 = qs["d24_span_scrub"](spark, SF_DIR).toPandas()
    # the d24 universe is >=8-token docs; st17's is all arriving docs
    assert st17["tokens_before"].sum() >= 0
    # d24 removes from non-keepers only; st17's corpus-wins policy can
    # remove MORE from a given odd doc (an odd keeper keeps nothing when
    # the corpus holds the same span) — but both must see the same
    # fixture: if d24 found no duplication at all, st17 must not either
    if d24["tokens_removed"].sum() == 0:
        assert st17["tokens_removed"].sum() == 0


def test_d25_plan_has_no_window_funnel(spark):
    """d25's survivor argmax at BOTH stages must be the combinable
    (q, -doc_id)-max struct groupBy — a pathological giant near-dup
    component must not ride a hot-key window funnel. Checked on the FULL
    executed plan including pre-checkpoint segments (the ledger's
    checkpoint lens), since d25 checkpoints mid-pipeline."""
    pa = load_script("plan_audit")
    spark.catalog.clearCache()
    with pa.CkptRecorder() as rec:
        df = entry_mod.queries()["d25_cascade_quality_survivors"](spark, SF_DIR)
        final_plan = df._jdf.queryExecution().executedPlan().toString()
    for seg in [final_plan, *rec.plans]:
        assert "Window" not in seg, "component-partitioned window reappeared in d25"


def _fragment_table() -> dict[str, tuple[str, ...]]:
    """{fragment text: oracles that must embed it verbatim}."""

    return {
        of.span_scrub_ctes(): (
            "d24_span_scrub", "ep14_scrub_budget_roadmap", "st17_stream_span_scrub",
        ),
        of.cluster_scores_ctes(): ("c1_cluster_term_scores",),
        of.cluster_topterms_ctes(): (
            "c6_prob_coherence", "c7_quality_summary", "l2_cluster_labels",
        ),
        of.coherence_ctes(): ("c6_prob_coherence", "c7_quality_summary"),
        of.candidates_ctes(): (
            "d3_lsh_candidate_pairs", "d4_minhash_dedup", "d10_neardup_components",
            "cur2_component_survivors", "d18_component_size_histogram",
        ),
        of.bands_ctes(): (
            "cur12_versioned_admission", "st16_stream_cascade_admission",
            "ep10_release_roadmap",
        ),
        of.candidates_ctes(of.REP_TOKS): (
            "d23_dedup_cascade", "ep13_dedup_budget_roadmap",
            "d25_cascade_quality_survivors",
        ),
        of.JACCARD_CTES: (
            "d4_minhash_dedup", "d7_jaccard_pairs", "d23_dedup_cascade",
            "d25_cascade_quality_survivors", "st16_stream_cascade_admission",
        ),
        of.NEAR_PAIRS_CTE: (
            "d10_neardup_components", "cur2_component_survivors",
            "d18_component_size_histogram", "cur8_dedup_quality_interaction",
            "d25_cascade_quality_survivors",
        ),
        of.closure_ctes(): (
            "d10_neardup_components", "cur2_component_survivors",
            "d18_component_size_histogram", "cur8_dedup_quality_interaction",
            "d25_cascade_quality_survivors",
        ),
        of.closure_ctes("vec_a", "vec_b"): (
            "n6_embedding_dedup_groups", "cur11_semantic_survivors",
        ),
        of.cascade_ctes(): ("d23_dedup_cascade", "ep13_dedup_budget_roadmap"),
        of.FPS_CTE: ("d25_cascade_quality_survivors",),
        of.exposure_ctes(): ("d27_cross_source_exposure", "ep15_source_drop_impact"),
        of.WATERFILL_CTES: (
            "mix9_budget_waterfill", "ep13_dedup_budget_roadmap",
            "ep14_scrub_budget_roadmap",
        ),
        of.capped_mixture_ctes(1): ("mix7_target_mixture_weights",),
        of.capped_mixture_ctes(4): ("ep9_mixture_roadmap", "ep10_release_roadmap"),
        of.exact_topk_cte(): (
            "n11_ann_recall_audit", "n12_ann_multitable_recall", "n13_ann_table_sweep",
        ),
        of.exact_topk_cte("q0"): (
            "n21_srp_multiprobe_recall", "n22_srp_probe_budget_sweep",
        ),
        of.cos_sql("v.ve", "q.qve"): (
            "n1_ann_brute_topk", "n14_ann_margin", "n16_hard_negatives",
            "n17_ann_hard_negatives",
        ),
    }


def test_oracles_share_the_fragments():
    """Every shared oracle contract has one home in oracle_fragments: each
    listed oracle embeds its fragment's exact text, so a semantics fix
    lands in all of them and no drifted inline copy survives. (A
    ``MATERIALIZED`` hint is a physical rewrite of the CTE header, undone
    before matching.)"""
    osql = entry_mod.oracle_sql()
    for frag, names in _fragment_table().items():
        for name in names:
            sql = osql[name].replace(" AS MATERIALIZED (", " AS (")
            assert frag.strip() in sql, f"{name} oracle no longer embeds {frag.strip()[:60]!r}"


def test_span_window_stream_matches_materialized_form(spark, tmp_path_factory):
    """span_windows is span_window_stream + materialize — same rows."""

    d = write_documents(
        str(tmp_path_factory.mktemp("sws")), [fill("w", 12), fill("v", 9)]
    )
    t8 = (
        load_table(spark, d, "documents")
        .select("doc_id", tokenize(F.col("text")).alias("toks"))
        .where(F.size("toks") >= 8)
    )
    a = sorted(map(tuple, span_window_stream(t8).collect()))
    b = sorted(map(tuple, span_windows(t8).collect()))
    assert a == b and len(a) == (12 - 7) + (9 - 7)


def test_materialize_invalid_strategy_raises(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE", "cache")
    with pytest.raises(ValueError, match="SPARK_GRAFT_MATERIALIZE"):
        _strategy()


_LOCAL_ROWS: dict[str, list[tuple]] = {}


def _query_rows(spark, name: str) -> list[tuple]:
    return sorted(tuple(r) for r in entry_mod.queries()[name](spark, SF_DIR).collect())


@pytest.mark.parametrize("strategy", ["local", "reliable", "parquet"])
def test_materialize_strategies_preserve_results(
    spark, tmp_path_factory, monkeypatch, strategy
):
    """Every strategy must return the same rows — the knob changes WHERE
    the intermediate lives, never WHAT it holds. d24 exercises the
    span-window site on a planted scrub; m5 (refine's split, merge and
    per-round frames) and n19 (the PQ codebook and index frames) must
    match their rows under the default ``local`` strategy — both also
    build a frame on a run_concurrently thread."""
    monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE", strategy)
    monkeypatch.setenv(
        "SPARK_GRAFT_MATERIALIZE_DIR",
        str(tmp_path_factory.mktemp("matdir")),
    )
    monkeypatch.setenv(
        "SPARK_GRAFT_CHECKPOINT_DIR", str(tmp_path_factory.mktemp("ckptdir"))
    )
    span = fill("mshare", 10)
    d = write_documents(
        str(tmp_path_factory.mktemp(f"mat_{strategy}")),
        [f"{fill('ma', 6)} {span}", f"{span} {fill('mb', 6)}"],
    )
    pdf = (
        entry_mod.queries()["d24_span_scrub"](spark, d)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert pdf["tokens_removed"].tolist() == [0, 10]
    assert pdf["tokens_kept"].tolist() == [16, 6]
    for name in ("m5_refine_pipeline", "n19_ivfpq_audit"):
        if name not in _LOCAL_ROWS:
            with monkeypatch.context() as m:
                m.setenv("SPARK_GRAFT_MATERIALIZE", "local")
                _LOCAL_ROWS[name] = _query_rows(spark, name)
        assert _query_rows(spark, name) == _LOCAL_ROWS[name], name


def test_ckpt_recorder_rejects_interleaved_recorders():
    """Recorders patch the DataFrame class process-globally; a second
    active recorder would restore a stale wrapper on exit and
    cross-attribute segments — it must fail loudly at __enter__, and the
    original method must survive the failed attempt."""
    pa = load_script("plan_audit")
    cls = pa.CkptRecorder._target()
    orig = cls.localCheckpoint
    with pa.CkptRecorder():
        with pytest.raises(RuntimeError, match="not reentrant"):
            with pa.CkptRecorder():
                pass  # pragma: no cover
        assert cls.localCheckpoint is not orig  # outer wrapper still active
    assert cls.localCheckpoint is orig


def _three_source_corpus(tmpdir: str) -> str:
    span_ab = fill("sharedab", 8)
    span_ac = fill("sharedac", 10)
    span_c = fill("cdup", 8)
    texts = [
        f"{fill('fa1x', 10)} {span_ab}",  # A: 18 toks -> 11 windows, 8 exposed
        f"{fill('fa2x', 9)} {span_ac}",  # A: 19 toks -> 12 windows, 10 exposed
        f"{fill('fb1x', 12)} {span_ab}",  # B: 20 toks -> 13 windows, 8 exposed
        f"{fill('fc1x', 11)} {span_ac}",  # C: 21 toks -> 14 windows, 10 exposed
        f"{fill('fc2x', 7)} {span_c}",  # C: 15 toks -> 8 windows, 0 exposed (intra-C)
        f"{fill('fc3x', 8)} {span_c}",  # C: 16 toks -> 9 windows (1 shared w/ fc2), 0 exposed
    ]
    return write_documents(tmpdir, texts, ["srcA", "srcA", "srcB", "srcC", "srcC", "srcC"])


def test_d26_planted_contagion_matrix_exact(spark, tmp_path_factory):
    """Three sources with a hand-computable window structure: an 8-token
    template shared A↔B (exactly 1 window), a 10-token template shared
    A↔C (exactly 3 windows), and an 8-token span duplicated INSIDE C
    only (no pair row — intra-source duplication is not contagion).
    Fillers are doc-unique, so every cross-filler window is unique and
    the per-source window vocabularies are exact arithmetic."""
    d = _three_source_corpus(str(tmp_path_factory.mktemp("d26")))
    pdf = (
        entry_mod.queries()["d26_boilerplate_contagion"](spark, d)
        .toPandas()
        .sort_values(["src_a", "src_b"], ignore_index=True)
    )
    # windows_A = 11 + 12 = 23; windows_B = 13; windows_C = 14 + 8 + 9 - 1 = 30
    assert len(pdf) == 2, pdf
    ab = pdf.iloc[0]
    assert (ab["src_a"], ab["src_b"]) == ("srcA", "srcB")
    assert ab["shared_windows"] == 1
    assert (ab["windows_a"], ab["windows_b"]) == (23, 13)
    assert ab["share_a"] == pytest.approx(round(1 / 23, 6), abs=1e-9)
    assert ab["share_b"] == pytest.approx(round(1 / 13, 6), abs=1e-9)
    ac = pdf.iloc[1]
    assert (ac["src_a"], ac["src_b"]) == ("srcA", "srcC")
    assert ac["shared_windows"] == 3  # the 10-token span carries 3 stride-1 windows
    assert (ac["windows_a"], ac["windows_b"]) == (23, 30)
    assert ac["share_a"] == pytest.approx(round(3 / 23, 6), abs=1e-9)
    assert ac["share_b"] == pytest.approx(round(3 / 30, 6), abs=1e-9)
    # intra-source duplication (span_c inside C) produced no (srcB, srcC)
    # pair row — contagion is strictly cross-source (len==2 above plus
    # the explicit pair identities already pin this; restate it directly)
    assert set(zip(pdf["src_a"], pdf["src_b"])) == {("srcA", "srcB"), ("srcA", "srcC")}


def test_d27_planted_cross_source_exposure_exact(spark, tmp_path_factory):
    """Same planted corpus as the d26 test: exposure counts token
    positions covered by a window shared with ANOTHER source. span_ab
    exposes 8 tokens in each of docA1/docB1; span_ac exposes 10 in each
    of docA2/docC1; span_c is intra-C only and exposes NOTHING — the
    cross-source filter is the whole point (d24 would remove the
    non-keeper copy of span_c; d27 must not count it)."""
    d = _three_source_corpus(str(tmp_path_factory.mktemp("d27")))
    pdf = (
        entry_mod.queries()["d27_cross_source_exposure"](spark, d)
        .toPandas()
        .set_index("source")
        .sort_index()
    )
    assert list(pdf.index) == ["srcA", "srcB", "srcC"]
    a, b, c = pdf.loc["srcA"], pdf.loc["srcB"], pdf.loc["srcC"]
    assert (a["n_docs"], a["n_tokens"], a["exposed_tokens"], a["n_exposed_docs"]) == (2, 37, 18, 2)
    assert a["exposure_frac"] == pytest.approx(round(18 / 37, 6), abs=1e-9)
    assert (b["n_docs"], b["n_tokens"], b["exposed_tokens"], b["n_exposed_docs"]) == (1, 20, 8, 1)
    assert b["exposure_frac"] == pytest.approx(0.4, abs=1e-9)
    # intra-source duplication contributes ZERO exposure
    assert (c["n_docs"], c["n_tokens"], c["exposed_tokens"], c["n_exposed_docs"]) == (3, 52, 10, 1)
    assert c["exposure_frac"] == pytest.approx(round(10 / 52, 6), abs=1e-9)


def test_bench_parse_sf_tolerates_probe_dirs():
    assert bench.parse_sf("/root/testdata/sf0.1") == 0.1
    assert bench.parse_sf("/tmp/sf1/") == 1.0
    # a low-dup floor probe once lost its artifact to float('1_lowdup')
    # AFTER all nine reps had run — carry the suffix as a string instead
    assert bench.parse_sf("/tmp/sf1_lowdup") == "1_lowdup"
    # PEP-515: float('1_2') == 12.0 — an underscore suffix must never
    # mislabel as a (wrong) numeric scale
    assert bench.parse_sf("/tmp/sf1_2") == "1_2"
    assert bench.parse_sf("/tmp/sf0_1") == "0_1"


def test_ckpt_recorder_captures_reliable_checkpoints(spark, tmp_path_factory):
    """SPARK_GRAFT_MATERIALIZE=reliable routes materialization through
    df.checkpoint(); the recorder must capture those segments too, or
    auditing a reliable-configured deployment silently re-opens the
    pre-checkpoint blind spot."""
    pa = load_script("plan_audit")
    spark.sparkContext.setCheckpointDir(str(tmp_path_factory.mktemp("ckpt")))

    with pa.CkptRecorder() as rec:
        df = spark.range(100).withColumn("g", F.col("id") % 5).groupBy("g").count()
        df.checkpoint(eager=True)
    assert len(rec.plans) == 1
    assert "HashAggregate" in rec.plans[0] or "Aggregate" in rec.plans[0]


def test_sf1_probe_artifacts_are_clean():
    """Every sf1-probe row ever recorded must be hash-green: the rotating
    probe's value is the claim that no oracle-backed query diverges from
    DuckDB at 6M-row scale, so a committed artifact with a fail (or a
    result row whose hash_match is not True) means a cross-engine
    divergence shipped unfixed — the h1 decimal-ulp class this probe
    exists to catch."""
    import glob
    import json

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    artifacts = sorted(glob.glob(os.path.join(repo, "SF1_PROBE_r*.json")))
    if not artifacts:
        pytest.skip("no sf1 probe artifacts yet")
    for path in artifacts:
        data = json.load(open(path))
        assert data["fails"] == [], f"{path} records failures: {data['fails']}"
        for name, row in data["results"].items():
            assert row.get("err") is None, f"{path}:{name} errored: {row['err']}"
            assert row.get("hash_match") is True, f"{path}:{name} not hash-green"


def test_cur14_fully_contaminated_source_yields_null_rate(spark, tmp_path_factory):
    """A source whose train docs are ALL exact-contaminated leaves
    fp_doc_rate with a zero denominator (no non-exact doc a false
    positive could discard). The sf1 probe caught this crashing: ANSI
    Spark throws DIVIDE_BY_ZERO where DuckDB yields NULL — both sides
    now make the NULL explicit. Planted: doc 97 is the eval doc (the
    %97 slice), the 'dirty' source is two verbatim copies of it, the
    'clean' source shares no shingle."""

    eval_text = fill("contam", 10)
    d = write_documents(
        str(tmp_path_factory.mktemp("cur14null")),
        [eval_text, eval_text, eval_text, fill("ca", 12), fill("cb", 12)],
        ["evalsrc", "dirty", "dirty", "clean", "clean"],
        doc_ids=[97, 1, 2, 3, 4],
    )
    out = entry_mod.queries()["cur14_bloom_decontamination"](spark, d).toPandas()
    rows = {r["source"]: r for _, r in out.iterrows()}
    assert rows["dirty"]["n_train_docs"] == 2
    assert rows["dirty"]["n_exact_flagged"] == 2
    assert pd.isna(rows["dirty"]["fp_doc_rate"])  # explicit NULL, no crash
    assert rows["clean"]["n_exact_flagged"] == 0
    assert rows["clean"]["fp_doc_rate"] == rows["clean"]["fp_doc_rate"]  # not NaN


def test_materialize_rewrites_word_boundary_cte_names_only():
    """materialized_ctes() must hit exactly the named CTEs: 'sh AS (' inside
    another identifier (e.g. 'hash AS (') or a non-requested CTE must
    stay untouched, and every occurrence of a requested name is
    rewritten (d20 defines cand_1 once but the helper is re-entrant)."""

    sql = "WITH hash AS (SELECT 1), sh AS (SELECT 2), stats_1 AS (SELECT 3) SELECT 4"
    out = materialized_ctes(sql, "sh")
    assert "sh AS MATERIALIZED (" in out
    assert "hash AS (" in out  # suffix-collision guard
    assert "stats_1 AS (" in out  # non-requested CTE untouched


def test_d20_d21_oracles_materialize_shared_ctes():
    """The d20/d21 oracles must carry MATERIALIZED on their shared CTEs:
    DuckDB 1.0 inlines multi-referenced CTEs, and at sf1 d20's inlined
    plan re-ran the 113M-row Jaccard intersection aggregate inside all
    four consuming branches — >80 GB of temp spill, disk full, killed at
    772 s. Materialized, the identical query returns in 160 s with zero
    spill (both measured 2026-08-16). This pin keeps a fragment refactor
    from silently dropping the hint."""
    sql20 = entry_mod.oracle_sql()["d20_lsh_band_sweep"]
    for name in ("sh", "mh", "truth", "inter", "cand_1", "cand_2", "cand_4"):
        assert f"{name} AS MATERIALIZED (" in sql20, name
    assert "stats_1 AS (" in sql20  # single-consumer CTEs stay plain
    sql21 = entry_mod.oracle_sql()["d21_jaccard_threshold_sweep"]
    for name in ("sh", "cands", "jac"):
        assert f"{name} AS MATERIALIZED (" in sql21, name


def test_heavy_dedup_oracles_materialize_shared_ctes():
    """The post-registration guard in queries_dedup must keep the
    MATERIALIZED hint on every heavy-fragment oracle: ep10 reproduced
    d20's sf1 disk-fill (785 s, >80 GB temp) with `sh` inlined into six
    consumers before the guard existed."""
    for name in (
        "ep10_release_roadmap", "d4_minhash_dedup", "d8_jaccard_capped",
        "d10_neardup_components", "d17_lsh_precision",
        "d18_component_size_histogram", "cur2_component_survivors",
        "cur8_dedup_quality_interaction",
    ):
        sql = entry_mod.oracle_sql()[name]
        assert "sh AS MATERIALIZED (" in sql, name


def test_cur17_fully_contaminated_corpus_yields_null_rate(spark, tmp_path_factory):
    """Corpus-grain twin of the cur14 hazard: when EVERY train doc is
    exact-contaminated, cur17's fp_doc_rate denominator
    (n_train_docs - n_exact_flagged) is 0 — ANSI Spark threw
    DIVIDE_BY_ZERO at sf1 where DuckDB yields NULL. Planted: doc 97 is
    the eval doc, both train docs are verbatim copies of it."""

    d = write_documents(
        str(tmp_path_factory.mktemp("cur17null")),
        [fill("bloomsat", 10)] * 3,
        ["evalsrc", "train", "train"],
        doc_ids=[97, 1, 2],
    )
    out = entry_mod.queries()["cur17_bloom_sizing_sweep"](spark, d).toPandas()
    assert len(out) == 3  # one row per M
    assert (out["n_train_docs"] == 2).all()
    assert (out["n_exact_flagged"] == 2).all()
    assert out["fp_doc_rate"].isna().all()  # explicit NULL, no crash


def test_sf1_rowsonly_artifacts_are_clean():
    """Every rows-only sf1 execution-probe row must have executed without
    error: these queries have no oracle by design, so the probe's whole
    claim is 'the query runs and returns a stable frame at 6M-row scale'
    — a recorded err means a scale-only crash (the cur14/cur17 ANSI
    class) shipped unfixed."""
    import glob
    import json

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    artifacts = sorted(glob.glob(os.path.join(repo, "SF1_ROWSONLY_r*.json")))
    if not artifacts:
        pytest.skip("no rows-only sf1 artifacts yet")
    for path in artifacts:
        data = json.load(open(path))
        assert data["fails"] == [], f"{path} records failures: {data['fails']}"
        for name, row in data["results"].items():
            assert row.get("err") is None, f"{path}:{name} errored: {row['err']}"
            assert row.get("spark_rows", -1) >= 0, f"{path}:{name} no row count"


def test_no_guarded_oracle_leaves_a_heavy_cte_inlined():
    """The real invariant behind the materialize pins: in every oracle
    that went through materialize() (d20/d21 inline + the 8-name guard),
    NO heavy shared fragment may remain in plain inlined form — a
    formatting drift in a fragment that stops the rewrite matching
    would silently bring back the measured >80 GB sf1 temp spill. The
    helper is case/whitespace-tolerant, and this pin catches whatever
    still slips through."""

    heavy = ("toks", "sh", "mh", "bands", "cands", "jac", "inter", "sizes")
    guarded = (
        "d20_lsh_band_sweep", "d21_jaccard_threshold_sweep",
        "ep10_release_roadmap", "d4_minhash_dedup", "d8_jaccard_capped",
        "d10_neardup_components", "d17_lsh_precision",
        "d18_component_size_histogram", "cur2_component_survivors",
        "cur8_dedup_quality_interaction",
    )
    for name in guarded:
        sql = entry_mod.oracle_sql()[name]
        for cte in heavy:
            plain = re.search(
                rf"(?<![A-Za-z0-9_]){cte}\s+AS\s*\((?!\s*SELECT 1)", sql, re.IGNORECASE
            )
            if plain and "MATERIALIZED" not in sql[plain.start():plain.end() + 14]:
                raise AssertionError(f"{name}: CTE '{cte}' is defined inlined")
