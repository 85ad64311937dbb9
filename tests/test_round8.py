"""Round-8 invariants: the v12 limit-then-window plan guard (VERDICT r7
task 2) and fixture tests pinning the four ADVICE r7 fixes — x27's
zero-survivor sources, x22's one-token Simpson guard, strip_html's
exact-tag-name match, and scratch_dir's stale-tree pruning."""

from __future__ import annotations

import collections
import os
import time

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from ml_training_data_pipeline_spark.io import sources
from ml_training_data_pipeline_spark.io.sources import load_table
from ml_training_data_pipeline_spark.operators.multimodal import (
    DecodedImage,
    decode_image,
    encode_netpbm,
    extract_image_channel_stats,
    synth_rgb_pixels,
)
from ml_training_data_pipeline_spark.plans import registry
from tests.conftest import (
    SF_DIR,
    compare_to_oracle,
    dead_pid,
    plan_str,
    write_documents,
)


def test_v12_limit_then_window(spark):
    # the rank window must run over a TakeOrdered top-4000 slice, never a
    # single-partition sort of the full vocabulary (at 100 TB
    # the vocab is 10^7-10^8 terms and a global window is the funnel the
    # w14 commit bans). v4's own pattern, applied to the audit that picks
    # v4's cutoff.
    df = registry.QUERIES["v12_vocab_coverage"](spark, SF_DIR)
    plan = plan_str(df)
    lines = plan.splitlines()
    win = [i for i, ln in enumerate(lines) if "Window" in ln and "row_number" in ln]
    assert win, plan
    # the window's direct input is the bounded TakeOrdered slice — not an
    # Exchange SinglePartition over the full vocab (the one SinglePartition
    # elsewhere in the plan is `tot`'s one-row global sum, which is fine)
    assert "TakeOrderedAndProject" in lines[win[0] + 1], plan
    assert "SinglePartition" not in lines[win[0] + 1], plan


def test_x27_zero_survivor_source_kept(spark, tmp_path):
    # source 'b' contributes nothing but duplicates of a lower-doc_id doc
    # in source 'a': the old inner join dropped it; the oracle (and now
    # the engine) emit it with effective_tokens=0.
    sf_dir = write_documents(
        str(tmp_path),
        ["alpha beta gamma", "alpha beta gamma", "alpha beta gamma", "delta epsilon"],
        ["a", "b", "b", "a"],
    )
    out = compare_to_oracle(spark, "x27_effective_tokens", sf_dir)
    b_row = out[out["source"] == "b"].iloc[0]
    assert b_row["effective_tokens"] == 0
    assert b_row["effective_ratio"] == 0.0


def test_x22_one_token_source_simpson_null(spark, tmp_path):
    # a one-token source makes Simpson's denominator sum(c)*(sum(c)-1)=0;
    # without the CASE guard Spark says NULL while DuckDB says NaN. Both
    # engines must now agree on NULL.
    sf_dir = write_documents(str(tmp_path), ["solo", "alpha beta alpha gamma"], ["tiny", "big"])
    out = compare_to_oracle(spark, "x22_lexical_diversity", sf_dir)
    tiny = out[out["source"] == "tiny"].iloc[0]
    assert pd.isna(tiny["simpson"])
    big = out[out["source"] == "big"].iloc[0]
    assert big["simpson"] == pytest.approx(2 * 1 / (4.0 * 3), abs=1e-6)


def test_strip_html_exact_tag_name_only(spark):
    # <script-loader> is NOT a script tag: the generic tag-strip removes
    # the tags, the payload survives (ADVICE r7 — the old prefix match
    # dropped the whole tail). Real script tags, attributed/unterminated
    # ones included, still drop with their payloads.
    from ml_training_data_pipeline_spark.functions.text import strip_html

    rows = [
        (1, "before <script-loader>keep me</script-loader> after"),
        (2, "before <script>drop me</script> after"),
        (3, "before <script src='x.js'>drop me"),  # unterminated + attrs
        (4, "before <style-guide>keep</style-guide> after"),
        (5, "before <style>h1{}</style> after"),
        (6, "a <scriptx>not script</scriptx> b"),
    ]
    out = dict(
        spark.createDataFrame(rows, "doc_id int, text string")
        .select("doc_id", strip_html(F.col("text")).alias("s"))
        .collect()
    )
    assert out[1] == "before keep me after"
    assert out[2] == "before after"
    assert out[3] == "before"
    assert out[4] == "before keep after"
    assert out[5] == "before after"
    assert out[6] == "a not script b"


def test_scratch_dir_registers_and_prunes(spark, tmp_path, monkeypatch):
    # every handed-out path is tracked for atexit removal; stale mtdp_*
    # trees from PRIOR runs (crashed runs never reach atexit) are pruned
    # age-gated on first use, while fresh trees survive.
    monkeypatch.setattr(sources.tempfile, "gettempdir", lambda: str(tmp_path))
    monkeypatch.setattr(sources, "_stale_pruned", False)
    stale = tmp_path / "mtdp_old_sf0_001_app_dead"
    fresh = tmp_path / "mtdp_new_sf0_001_app_live"
    stale_zip = tmp_path / f"mtdp_spark_pkg_{dead_pid()}.zip"
    stale.mkdir()
    fresh.mkdir()
    stale_zip.write_bytes(b"zip")
    old = time.time() - 3 * 3600
    os.utime(stale, (old, old))
    os.utime(stale_zip, (old, old))
    path = sources.scratch_dir(spark, "probe", SF_DIR)
    assert path in sources._scratch_created
    assert not stale.exists(), "3h-old tree from a prior app must be pruned"
    assert not stale_zip.exists(), "3h-old per-pid package zip must be pruned"
    assert fresh.exists(), "fresh tree (possibly a live concurrent session) must survive"


def test_doc_count_test_still_enforced():
    # the totals in README/SURVEY are checked by
    # test_doc_counts_match_registry; this probe pins that x29/g6/cur8
    # registered with their oracles.
    for name in (
        "x29_token_psi",
        "g6_source_lang_chi2",
        "cur8_dedup_quality_interaction",
    ):
        assert name in registry.QUERIES and name in registry.ORACLE_SQL, name


def test_x29_psi_invariants(spark):
    rows = registry.QUERIES["x29_token_psi"](spark, SF_DIR).collect()
    assert len(rows) >= 2
    for r in rows:
        # PSI is a sum of (p_s - p_r) ln(p_s/p_r) terms, each >= 0
        assert r["psi"] >= 0.0, r
        assert 0 <= r["n_skipped_bins"] <= 10, r
    # identical-ish sources on synthetic data: drift should be mild
    assert sum(r["n_docs"] for r in rows) > 0


def test_g6_chi2_invariants(spark):
    rows = registry.QUERIES["g6_source_lang_chi2"](spark, SF_DIR).collect()
    assert len(rows) >= 2
    for r in rows:
        assert r["chi2_contrib"] >= 0.0, r


def test_cur8_shares_sum_to_one(spark):
    rows = registry.QUERIES["cur8_dedup_quality_interaction"](spark, SF_DIR).collect()
    by_band = collections.defaultdict(float)
    for r in rows:
        assert r["status"] in ("kept", "removed")
        assert r["band"] in ("low", "mid", "high")
        by_band[r["band"]] += r["share_of_band"]
    for band, tot in by_band.items():
        assert abs(tot - 1.0) < 1e-6, (band, tot)


def test_w16_finds_the_level_shift(spark, tmp_path):
    # 20 days at ~10 events/day then 10 days at ~50/day: the CUSUM
    # S_t = Σ(c_i − μ) is most negative exactly at the last low day, so
    # the reported change point must be the regime boundary.
    base = 86400 * 20000  # arbitrary epoch anchor
    ts, etype = [], []
    for d in range(30):
        n = 10 if d < 20 else 50
        for i in range(n):
            ts.append((base + d * 86400 + i * 60) * 1_000_000_000)
            etype.append("click")
    pdf = pd.DataFrame(
        {
            "event_id": np.arange(len(ts), dtype="int64"),
            "ts": pd.to_datetime(np.array(ts, dtype="int64"), utc=False),
            "user_id": np.zeros(len(ts), dtype="int64"),
            "event_type": etype,
        }
    )
    pdf.to_parquet(os.path.join(str(tmp_path), "events.parquet"), index=False)
    rows = registry.QUERIES["w16_cusum_changepoint"](spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_days"] == 30
    assert r["change_day"] == 20000 + 19, r  # last day of the low regime
    assert r["peak_cusum"] < 0  # level shifted UP, so the dip is negative
    assert abs(r["daily_mean"] - 700 / 30) < 1e-6


def test_v14_oov_consistent_with_vocab(spark):
    # every source's OOV mass is a sub-mass of its total, and because the
    # vocabulary is global top-2000 by tf-idf (on 17k+ distinct 1-3-grams
    # at sf0.01, 31 unigrams would be trivially covered), SOME mass must
    # be out-of-vocabulary for the audit to bite.
    rows = registry.QUERIES["v14_oov_by_source"](spark, SF_DIR).collect()
    assert len(rows) >= 2
    for r in rows:
        assert 0 <= r["oov_grams"] <= r["n_grams"], r
        assert abs(r["oov_rate"] - r["oov_grams"] / r["n_grams"]) < 1e-6, r
    assert any(r["oov_grams"] > 0 for r in rows)


def test_x29_degenerate_single_value_psi_zero(spark, tmp_path):
    # every doc has the SAME token count: all nine decile breakpoints
    # collapse onto that one value, every source's mass lands in bin 1,
    # and PSI must be exactly 0 with no skipped bins — on both engines
    # (the tie-heavy edge where interpolated-percentile binning would
    # diverge; the integer-histogram rule cannot).
    sf_dir = write_documents(
        str(tmp_path),
        ["alpha beta gamma", "delta epsilon zeta", "eta theta iota", "kappa lambda mu"],
        ["a", "a", "b", "b"],
    )
    out = compare_to_oracle(spark, "x29_token_psi", sf_dir)
    assert (out["psi"] == 0.0).all()
    assert (out["n_skipped_bins"] == 0).all()


def test_cur9_rates_are_consistent(spark):
    rows = registry.QUERIES["cur9_split_leakage"](spark, SF_DIR).collect()
    assert {r["split"] for r in rows} <= {"val", "test"}
    for r in rows:
        assert 0 <= r["n_contaminated_docs"] <= r["n_docs"], r
        assert 0 <= r["n_leaked_shingles"] <= r["n_shingles"], r
        assert abs(r["doc_leak_rate"] - r["n_contaminated_docs"] / r["n_docs"]) < 1e-6


def test_mix6_weighted_sample_bias(spark):
    # 200 draws weighted by n_chars must over-represent long documents:
    # the sample's mean length exceeds the corpus mean (the whole point
    # of weighting), ranks are exactly 1..200 (or corpus size if
    # smaller), and draws are unique docs.
    rows = registry.QUERIES["mix6_weighted_sample"](spark, SF_DIR).collect()
    assert len({r["doc_id"] for r in rows}) == len(rows)
    assert sorted(r["rank"] for r in rows) == list(range(1, len(rows) + 1))
    corpus_mean = (
        load_table(spark, SF_DIR, "documents")
        .where(F.col("n_chars") > 0)
        .agg(F.avg("n_chars"))
        .first()[0]
    )
    sample_mean = sum(r["n_chars"] for r in rows) / len(rows)
    assert sample_mean > corpus_mean, (sample_mean, corpus_mean)


def test_mm7_rgb_roundtrip_and_error_isolation(spark):
    # P6 encode → decode is pixel-identical for the synthetic RGB raster
    # (the color analogue of the P5 property test), and a corrupt blob
    # yields a decoded=false row instead of a task failure.
    for mid in (0, 1, 37, 255, 1000):
        px = synth_rgb_pixels(mid)
        back = decode_image(encode_netpbm(DecodedImage(8, 8, "RGB", px)))
        assert back.mode == "RGB"
        assert np.array_equal(np.asarray(back.pixels), px)

    media = spark.createDataFrame(
        pd.DataFrame(
            {
                "media_id": [1, 2],
                "modality": ["image", "image"],
                "content": [
                    encode_netpbm(DecodedImage(8, 8, "RGB", synth_rgb_pixels(1))),
                    b"not an image",
                ],
                "meta": ["{}", "{}"],
            }
        )
    )
    rows = extract_image_channel_stats(media).collect()
    ok = [r for r in rows if r["decoded"]]
    bad = [r for r in rows if not r["decoded"]]
    assert len(ok) == 3 and {r["channel"] for r in ok} == {0, 1, 2}
    assert len(bad) == 1 and bad[0]["media_id"] == 2


def test_zero_token_docs_fingerprint_identically(spark, tmp_path):
    # a doc with no alphanumeric content tokenizes to [] — Spark's
    # concat_ws gives '' (fp = md5('')) while DuckDB's array_to_string
    # gives NULL; the oracles coalesce so both engines agree, and all
    # zero-token docs land in ONE exact-dup group.
    sf_dir = write_documents(str(tmp_path), ["!!! ???", "---", "real words here"], ["a"] * 3)
    out = compare_to_oracle(spark, "x4_fingerprint", sf_dir)
    empty_md5 = "d41d8cd98f00b204e9800998ecf8427e"
    assert list(out[out["doc_id"] == 1]["fp"]) == [empty_md5]
    groups = compare_to_oracle(spark, "d1_exact_dup_groups", sf_dir)
    g = groups[groups["fp"] == empty_md5].iloc[0]
    assert g["n_docs"] == 2 and g["keep_doc_id"] == 1


def test_ep8_bundles_all_three_metrics(spark):
    rows = registry.QUERIES["ep8_drift_report"](spark, SF_DIR).collect()
    by_metric = {}
    for r in rows:
        by_metric.setdefault(r["metric"], set()).add(r["source"])
    assert set(by_metric) == {"ks_chars", "psi_tokens", "chi2_lang"}
    # every metric covers the same source set
    assert len({frozenset(v) for v in by_metric.values()}) == 1
