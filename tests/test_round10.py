"""Round-10 regression pins: ADVICE r9 fixes (120-bit fingerprint pair,
scratch heartbeat vs the 7-day hard cap, ep8 grouping-sets marginals)
plus the band_sig long-key change and the bench contention guard."""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F
from pyspark.sql.types import LongType

import __spark_entry__ as entry_mod
import bench
from ml_training_data_pipeline_spark.functions.analysis import (
    fingerprint,
    fingerprint_pair,
)
from ml_training_data_pipeline_spark.io import sources
from ml_training_data_pipeline_spark.io.sources import load_table
from ml_training_data_pipeline_spark.operators.dedup import (
    doc_shingles,
    exact_dup_groups,
    lsh_bands_from_wide,
    minhash_wide,
)
from ml_training_data_pipeline_spark.plans.queries_stream import _admission_counts
from tests.conftest import SF_DIR


def test_fingerprint_pair_shape_and_identity(spark):
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).where(
        F.col("text").isNotNull()
    )
    fp = docs.select(
        fingerprint(F.col("text")).alias("hex"),
        fingerprint_pair(F.col("text")).alias("pair"),
    )
    pair_t = fp.schema["pair"].dataType
    assert [f.name for f in pair_t.fields] == ["h", "l"]
    assert all(isinstance(f.dataType, LongType) for f in pair_t.fields)
    # each half IS the md5 substring bridge (h: chars 1-15, l: 16-30) —
    # the cross-engine conv(substr(md5)) contract, and 120 bits total so
    # the collision budget (n²/2^121) holds at billions of docs
    mism = fp.where(
        (F.col("pair.h") != F.conv(F.substring("hex", 1, 15), 16, 10).cast("long"))
        | (F.col("pair.l") != F.conv(F.substring("hex", 16, 15), 16, 10).cast("long"))
    ).count()
    assert mism == 0
    # pair identity == hex identity on real data (no truncation merges)
    agg = fp.agg(
        F.countDistinct("hex").alias("nh"), F.countDistinct("pair").alias("np")
    ).first()
    assert agg.nh == agg.np > 0


def test_exact_dup_groups_hash_keys_matches_hex_policy(spark):
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    by_hex = exact_dup_groups(docs).select("n_docs", "keep_doc_id")
    by_pair = exact_dup_groups(docs, hash_keys=True).select("n_docs", "keep_doc_id")
    a = sorted(map(tuple, by_hex.collect()))
    b = sorted(map(tuple, by_pair.collect()))
    assert a == b, "survivor policy must be identical under the pair key"


def test_hard_cap_spares_heartbeated_live_owner(tmp_path, monkeypatch):
    # an 8-day-old tree whose LIVE owner keeps heartbeating its sentinel
    # must survive: the cap measures time since the owner last touched
    # the entry, not time since creation
    monkeypatch.setattr(sources.tempfile, "gettempdir", lambda: str(tmp_path))
    monkeypatch.setattr(sources, "_stale_pruned", False)
    ancient = time.time() - 8 * 24 * 3600

    tree = tmp_path / "mtdp_sink_sf0_001_app_marathon"
    tree.mkdir()
    owner = tmp_path / (tree.name + ".owner")
    owner.write_text(str(os.getpid()))
    os.utime(tree, (ancient, ancient))  # tree itself untouched for 8 days
    # owner sentinel mtime is FRESH (the heartbeat) — cap must not fire
    sources._prune_stale_scratch(str(tmp_path))
    assert tree.exists(), "8-day tree with live owner + fresh heartbeat survives"

    # same tree, heartbeat also 8 days stale → pid-reuse backstop fires
    monkeypatch.setattr(sources, "_stale_pruned", False)
    os.utime(owner, (ancient, ancient))
    sources._prune_stale_scratch(str(tmp_path))
    assert not tree.exists(), "8-day tree whose owner stopped touching it is reclaimed"


def test_heartbeat_refreshes_owned_entries(tmp_path, monkeypatch):
    monkeypatch.setattr(sources.tempfile, "gettempdir", lambda: str(tmp_path))
    old = time.time() - 8 * 24 * 3600
    tree = tmp_path / "mtdp_sink_sf0_001_app_hb"
    tree.mkdir()
    owner = tmp_path / (tree.name + ".owner")
    owner.write_text(str(os.getpid()))
    zpath = tmp_path / f"mtdp_spark_pkg_{os.getpid()}.zip"
    zpath.write_bytes(b"zip")
    for p in (tree, owner, zpath):
        os.utime(p, (old, old))
    monkeypatch.setattr(sources, "_scratch_created", {str(tree), str(owner)})

    sources._heartbeat_scratch()
    for p in (tree, owner, zpath):
        assert os.path.getmtime(p) > time.time() - 60, f"{p} not heartbeated"


def test_grouping_sets_gid_contract(spark):
    # ep8 derives its three marginals from grouping_id() == 3/5/6 over
    # cols (source, n_chars, lang, ntok); pin Spark's bit assignment so
    # an upstream change breaks loudly here, not silently in ep8
    df = spark.createDataFrame(
        [("a", 1, "en", None), ("a", 2, "fr", 5)],
        "source string, n_chars int, lang string, ntok int",
    )
    m = (
        df.groupingSets(
            [["source", "n_chars"], ["source", "lang"], ["source", "ntok"]],
            "source", "n_chars", "lang", "ntok",
        )
        .agg(F.count("*").alias("c"), F.grouping_id().alias("gid"))
        .collect()
    )
    by_gid = {}
    for r in m:
        by_gid.setdefault(r.gid, []).append(r)
    assert set(by_gid) == {3, 5, 6}
    assert all(r.n_chars is not None and r.lang is None for r in by_gid[3])
    assert all(r.lang is not None and r.n_chars is None for r in by_gid[5])
    # gid 6 = the ntok marginal; genuine NULL ntok (null text) appears as
    # a NULL-valued group that ep8's x29 marginal filters out
    assert sorted(r.ntok for r in by_gid[6] if r.ntok is not None) == [5]
    assert sum(1 for r in by_gid[6] if r.ntok is None) == 1
    # the materialized cardinality is the SUM of marginals (a composite
    # groupBy could approach corpus row count)
    assert len(m) == len(by_gid[3]) + len(by_gid[5]) + len(by_gid[6])


def test_ep8_equals_component_union(spark):
    import __spark_entry__ as entry_mod

    QUERIES = entry_mod.queries()

    ep8 = QUERIES["ep8_drift_report"](spark, SF_DIR).toPandas()
    parts = []
    for name, metric, col in (
        ("x28_length_drift_ks", "ks_chars", "ks_stat"),
        ("x29_token_psi", "psi_tokens", "psi"),
        ("g6_source_lang_chi2", "chi2_lang", "chi2_contrib"),
    ):
        p = QUERIES[name](spark, SF_DIR).toPandas()[["source", col]]
        p = p.rename(columns={col: "value"})
        p["metric"] = metric
        parts.append(p[["source", "metric", "value"]])
    import pandas as pd

    want = pd.concat(parts, ignore_index=True)
    key = ["source", "metric", "value"]
    a = ep8[key].sort_values(key, ignore_index=True)
    b = want[key].sort_values(key, ignore_index=True)
    assert a.equals(b), "fused ep8 must equal the three standalone audits"


def test_band_sig_is_long_in_both_forms(spark):
    from ml_training_data_pipeline_spark.operators.dedup import (
        doc_shingles,
        lsh_bands,
        lsh_bands_from_wide,
        minhash_signatures,
        minhash_wide,
    )

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).limit(50)
    sh = doc_shingles(docs)
    wide = lsh_bands_from_wide(minhash_wide(sh, num_hashes=4), rows_per_band=2)
    long_form = lsh_bands(minhash_signatures(sh, num_hashes=4))
    assert isinstance(wide.schema["band_sig"].dataType, LongType)
    assert isinstance(long_form.schema["band_sig"].dataType, LongType)
    assert sorted(map(tuple, wide.collect())) == sorted(map(tuple, long_form.collect()))


def test_sample_load_waits_then_goes_quiet():
    loads = iter([0.8, 0.6, 0.02])
    slept = []
    clock = iter([0.0, 1.0, 2.0, 3.0, 4.0, 5.0])
    load, contended = bench.sample_load(
        threshold=0.05,
        max_wait_s=100.0,
        poll_s=10.0,
        _loadavg=lambda: next(loads),
        _sleep=slept.append,
        _monotonic=lambda: next(clock),
    )
    assert (load, contended) == (0.02, False)
    assert slept == [10.0, 10.0], "polled twice before the host went quiet"


def test_sample_load_stamps_contended_on_timeout():
    clock = iter([0.0, 5.0, 11.0])
    load, contended = bench.sample_load(
        threshold=0.05,
        max_wait_s=10.0,
        poll_s=5.0,
        _loadavg=lambda: 0.7,
        _sleep=lambda s: None,
        _monotonic=lambda: next(clock),
    )
    assert contended is True
    assert load == 0.7


def test_sample_load_handles_missing_loadavg():
    def boom():
        raise OSError("no loadavg")

    assert bench.sample_load(_loadavg=boom) == (-1.0, False)


def test_st13_admission_is_batch_boundary_invariant(spark):
    # st13's contract: admission depends only on the static corpus index,
    # so splitting the arriving feed into any micro-batches sums to the
    # same per-source counts as one batch (= cur10's oracle semantics).
    docs = load_table(spark, SF_DIR, "documents").where(F.col("text").isNotNull())
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    corpus_sh = doc_shingles(corpus).localCheckpoint()
    corpus_bands = (
        lsh_bands_from_wide(minhash_wide(corpus_sh, num_hashes=8), rows_per_band=2)
        .select(F.col("doc_id").alias("corpus_doc"), "band", "band_sig")
        .localCheckpoint()
    )
    arriving = docs.where(F.col("doc_id") % 2 == 1).select("doc_id", "source", "text")

    one = {
        (r.source): (r.n_new, r.n_rejected)
        for r in _admission_counts(arriving, corpus_sh, corpus_bands).collect()
    }
    acc: dict[str, list[int]] = {}
    for part in (
        arriving.where(F.col("doc_id") % 4 == 1),
        arriving.where(F.col("doc_id") % 4 == 3),
    ):
        for r in _admission_counts(part, corpus_sh, corpus_bands).collect():
            a = acc.setdefault(r.source, [0, 0])
            a[0] += r.n_new
            a[1] += r.n_rejected
    assert {k: tuple(v) for k, v in acc.items()} == one
    assert sum(v[0] for v in one.values()) > 0


def test_cur13_sweep_is_monotone(spark):
    rows = {
        r.min_shared: r
        for r in entry_mod.queries()["cur13_decontamination_sweep"](
            spark, SF_DIR
        ).collect()
    }
    ks = sorted(rows)
    assert ks == [1, 2, 4, 8, 16]
    n_train = {rows[k].n_train for k in ks}
    assert len(n_train) == 1, "denominator is the whole training set at every K"
    for lo, hi in zip(ks, ks[1:]):
        assert rows[lo].n_dropped >= rows[hi].n_dropped, (
            "raising the threshold can only drop fewer docs"
        )
        assert rows[lo].dropped_chars >= rows[hi].dropped_chars
    assert rows[1].n_dropped > 0, "K=1 must catch the contaminated docs"
    assert all(0.0 <= rows[k].drop_rate <= 1.0 for k in ks)
