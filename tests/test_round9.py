"""Round-9 regression pins: ADVICE r8 fixes (liveness-gated scratch
pruning; escape-sequence hygiene) plus this round's structural changes."""

from __future__ import annotations

import glob
import os
import py_compile
import tempfile
import time
import warnings
from collections import defaultdict

from pyspark.sql import functions as F

from ml_training_data_pipeline_spark.io import sources
from ml_training_data_pipeline_spark.io.sources import load_table
from ml_training_data_pipeline_spark.operators.dedup import (
    doc_shingles,
    jaccard_pairs,
    shingle_df_audit,
)
from ml_training_data_pipeline_spark.plans import queries_misc as qm, registry
from tests.conftest import REPO, SF_DIR, dead_pid


def test_prune_spares_live_owner_regardless_of_age(tmp_path, monkeypatch):
    # a session alive longer than the 2h age gate must NOT lose
    # its scratch to a newly-starting concurrent session. The .owner pid
    # sentinel now gates pruning on process liveness, not mtime alone.
    monkeypatch.setattr(sources.tempfile, "gettempdir", lambda: str(tmp_path))
    monkeypatch.setattr(sources, "_stale_pruned", False)
    old = time.time() - 3 * 3600

    live_tree = tmp_path / "mtdp_sink_sf0_001_app_longlived"
    live_tree.mkdir()
    (tmp_path / (live_tree.name + ".owner")).write_text(str(os.getpid()))
    dead_tree = tmp_path / "mtdp_sink_sf0_001_app_crashed"
    dead_tree.mkdir()
    (tmp_path / (dead_tree.name + ".owner")).write_text(str(dead_pid()))
    for p in (live_tree, tmp_path / (live_tree.name + ".owner"),
              dead_tree, tmp_path / (dead_tree.name + ".owner")):
        os.utime(p, (old, old))

    sources._prune_stale_scratch(str(tmp_path))

    assert live_tree.exists(), "3h-old tree with a LIVE owner pid must survive"
    assert (tmp_path / (live_tree.name + ".owner")).exists()
    assert not dead_tree.exists(), "3h-old tree with a dead owner is pruned"
    assert not (tmp_path / (dead_tree.name + ".owner")).exists(), (
        "the dead tree's sentinel is pruned with it"
    )


def test_prune_spares_live_pid_zip_and_orphan_sentinels(tmp_path, monkeypatch):
    monkeypatch.setattr(sources.tempfile, "gettempdir", lambda: str(tmp_path))
    monkeypatch.setattr(sources, "_stale_pruned", False)
    old = time.time() - 3 * 3600

    # a concurrent LIVE process's addPyFile zip: pid 1 (init — always
    # alive, never our own pid, so not skipped as own_zip) must survive
    # the age gate on liveness alone
    live_zip = tmp_path / "mtdp_spark_pkg_1.zip"
    dead_zip = tmp_path / f"mtdp_spark_pkg_{dead_pid()}.zip"
    live_other = tmp_path / "mtdp_tree_no_sentinel_fresh"
    live_other.mkdir()  # fresh mtime — age gate spares it
    orphan = tmp_path / "mtdp_gone_tree.owner"
    orphan.write_text(str(dead_pid()))
    live_zip.write_bytes(b"zip")
    dead_zip.write_bytes(b"zip")
    os.utime(live_zip, (old, old))
    os.utime(dead_zip, (old, old))
    os.utime(orphan, (old, old))

    sources._prune_stale_scratch(str(tmp_path))

    assert live_zip.exists(), "a live process's package zip must survive on liveness"
    assert not dead_zip.exists(), "a dead process's old package zip is pruned"
    assert not orphan.exists(), "old orphan sentinel (base tree gone) is pruned"
    assert live_other.exists()


def test_prune_hard_cap_overrides_liveness(tmp_path, monkeypatch):
    # pid reuse must not make a crashed session's tree immortal: past the
    # 7-day hard cap, even a sentinel naming a LIVE pid is reclaimed.
    monkeypatch.setattr(sources.tempfile, "gettempdir", lambda: str(tmp_path))
    monkeypatch.setattr(sources, "_stale_pruned", False)
    ancient = time.time() - 8 * 24 * 3600

    tree = tmp_path / "mtdp_sink_sf0_001_app_recycledpid"
    tree.mkdir()
    (tmp_path / (tree.name + ".owner")).write_text(str(os.getpid()))  # "alive"
    for p in (tree, tmp_path / (tree.name + ".owner")):
        os.utime(p, (ancient, ancient))

    sources._prune_stale_scratch(str(tmp_path))
    assert not tree.exists(), "8-day-old tree is pruned even with a live owner pid"


def test_scratch_dir_writes_owner_sentinel(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(sources.tempfile, "gettempdir", lambda: str(tmp_path))
    monkeypatch.setattr(sources, "_stale_pruned", True)
    path = sources.scratch_dir(spark, "probe9", SF_DIR)
    owner = path + ".owner"
    assert os.path.exists(owner)
    with open(owner) as fh:
        assert fh.read().strip() == str(os.getpid())
    assert owner in sources._scratch_created, "sentinel is atexit-cleaned too"


def test_no_invalid_escape_sequences_anywhere():
    # \s in non-raw f-strings emits SyntaxWarning today and is slated to
    # become SyntaxError. Compile every engine module with
    # warnings-as-errors so a regression fails loudly.
    files = glob.glob(
        os.path.join(REPO, "ml_training_data_pipeline_spark", "**", "*.py"),
        recursive=True,
    )
    assert len(files) > 20
    with warnings.catch_warnings(), tempfile.TemporaryDirectory() as td:
        warnings.simplefilter("error", SyntaxWarning)
        for f in files:
            py_compile.compile(f, doraise=True, cfile=os.path.join(td, "x.pyc"))


def test_ep8_single_scan_and_component_equivalence(spark, monkeypatch):
    # ep8 is the per-batch monitoring query — its cost sets the cadence.
    # The fused path must read documents ONCE (x28/g6 need only plain
    # columns; x29's tokenize rides the same scan), its rows must equal
    # the three standalone audits exactly, and all three metrics must
    # cover the same source set.
    calls = []
    real = qm.load_table

    def counting(spark_, sf_dir_, name):
        calls.append(name)
        return real(spark_, sf_dir_, name)

    monkeypatch.setattr(qm, "load_table", counting)
    fused = sorted(
        (r["source"], r["metric"], r["value"]) for r in qm.ep8_drift_report(spark, SF_DIR).collect()
    )
    assert calls == ["documents"], f"ep8 must scan documents exactly once, got {calls}"
    parts = sorted(
        (r["source"], metric, r[col])
        for fn, metric, col in (
            (qm.x28_length_drift_ks, "ks_chars", "ks_stat"),
            (qm.x29_token_psi, "psi_tokens", "psi"),
            (qm.g6_source_lang_chi2, "chi2_lang", "chi2_contrib"),
        )
        for r in fn(spark, SF_DIR).collect()
    )
    assert fused == parts, "fused ep8 must equal the three standalone audits"
    by_metric = {}
    for source, metric, _ in fused:
        by_metric.setdefault(metric, set()).add(source)
    assert set(by_metric) == {"ks_chars", "psi_tokens", "chi2_lang"}
    assert len({frozenset(v) for v in by_metric.values()}) == 1


def test_st12_psi_invariants(spark):
    rows = registry.QUERIES["st12_stream_drift_gate"](spark, SF_DIR).collect()
    assert rows, "arriving half must produce at least one source"
    for r in rows:
        assert r["psi"] >= 0.0, r  # PSI terms are (p-q)ln(p/q) >= 0
        assert 0 <= r["n_skipped_bins"] <= 10, r
        assert r["n_docs"] > 0, r


def test_cur10_admission_invariants(spark):
    rows = registry.QUERIES["cur10_incremental_neardup"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["n_rejected"] + r["n_admitted"] == r["n_new"], r
        assert 0.0 <= r["rejection_rate"] <= 1.0, r


def test_mix7_mixture_invariants(spark):
    rows = registry.QUERIES["mix7_target_mixture_weights"](spark, SF_DIR).collect()
    assert rows
    assert abs(sum(r["eff_share"] for r in rows) - 1.0) < 1e-4
    for r in rows:
        assert 0.0 < r["weight"] <= 1.0, r  # downsample-only policy
    # over-target sources must actually downsample on any non-degenerate mix
    assert any(r["weight"] < 1.0 for r in rows)


def test_d19_histogram_invariants(spark):
    rows = registry.QUERIES["d19_shingle_df_audit"](spark, SF_DIR).collect()
    assert rows
    assert abs(sum(r["posting_share"] for r in rows) - 1.0) < 1e-4
    for r in rows:
        assert r["n_postings"] == r["df"] * r["n_shingles"], r
        assert r["dropped_by_cap"] == (1 if r["df"] > 20 else 0), r


def test_streaming_checkpoint_recovery_exactly_once(spark, tmp_path):
    # The deployment credential the bounded-stream harness doesn't cover:
    # a checkpointed query stopped and RESTARTED over new input must (a)
    # deliver every input row exactly once into a file sink — no loss, no
    # replay — and (b) recover aggregation STATE from the checkpoint, so
    # post-restart snapshots count pre-restart rows it never re-read.
    ind = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ck1 = str(tmp_path / "ck1")
    ck2 = str(tmp_path / "ck2")
    snap = str(tmp_path / "snap")
    schema = "id long, k long"

    def feed(lo, hi):
        spark.range(lo, hi).select(
            F.col("id"), (F.col("id") % 5).alias("k")
        ).write.mode("append").parquet(ind)

    def run_append():
        q = (
            spark.readStream.schema(schema)
            .parquet(ind)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck1)
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        q.stop()

    def run_agg():
        agg = (
            spark.readStream.schema(schema)
            .parquet(ind)
            .groupBy("k")
            .agg(F.count("*").alias("n"))
        )
        q = (
            agg.writeStream.foreachBatch(
                lambda df, _epoch: df.write.mode("overwrite").parquet(snap)
            )
            .option("checkpointLocation", ck2)
            .outputMode("complete")
            .start()
        )
        q.processAllAvailable()
        q.stop()

    feed(0, 50)
    run_append()
    run_agg()
    feed(50, 100)
    run_append()  # restart from ck1: must pick up ONLY rows 50..99
    run_agg()  # restart from ck2: state for rows 0..49 comes from checkpoint
    got = spark.read.parquet(out)
    assert got.count() == 100
    assert got.select("id").distinct().count() == 100, "replayed or lost rows"
    counts = {r["k"]: r["n"] for r in spark.read.parquet(snap).collect()}
    assert counts == {k: 20 for k in range(5)}, counts
    run_append()  # idle restart: no new input, no new output
    assert spark.read.parquet(out).count() == 100


def test_n16_hard_negative_invariants(spark):
    rows = registry.QUERIES["n16_hard_negatives"](spark, SF_DIR).collect()
    assert rows
    per = defaultdict(list)
    for r in rows:
        assert r["cos_sim"] < 0.35, "near-dup leaked past the gate"
        per[r["anchor_id"]].append((r["rank"], r["cos_sim"]))
    for ranks in per.values():
        ranks.sort()
        assert [k for k, _ in ranks] == list(range(1, len(ranks) + 1))
        sims = [s for _, s in ranks]
        assert sims == sorted(sims, reverse=True), "rank order must follow cosine"


def test_cur11_survivor_invariants(spark):
    rows = registry.QUERIES["cur11_semantic_survivors"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["n_members"] >= 2, "components come from edges — never singletons"
        assert r["keep_vec_id"] >= r["component_id"], "survivor must be a member"
        assert r["keep_score"] > 0, r


def test_s17_no_leaks_and_conservation(spark):
    rows = registry.QUERIES["s17_tombstone_delete"](spark, SF_DIR).collect()
    assert rows

    totals = {
        r["source"]: r["n"]
        for r in load_table(spark, SF_DIR, "documents")
        .groupBy("source")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    assert set(totals) == {r["source"] for r in rows}
    for r in rows:
        assert r["n_leaked"] == 0, "tombstoned doc survived in the written files"
        assert r["n_retained"] + r["n_deleted"] == totals[r["source"]], r


def test_d19_cap_binds_on_boilerplate_fixture(spark):
    # The synthetic corpus never exceeds df 7, so d19's dropped_by_cap is
    # only structurally exercised there. This fixture makes the cap BITE:
    # one boilerplate shingle shared by 25 docs (df 25 > cap 20) plus one
    # unique shingle per doc — and checks the audit prices it correctly.
    docs = spark.createDataFrame(
        [(i, f"common boiler plate unique{i} tail{i} end{i}") for i in range(25)],
        schema="doc_id long, text string",
    )
    sh = doc_shingles(docs).localCheckpoint()
    rows = {r["df"]: r for r in shingle_df_audit(sh).collect()}
    assert 25 in rows and rows[25]["dropped_by_cap"] == 1
    assert rows[25]["n_shingles"] == 1  # 'common boiler plate' only
    assert all(r["dropped_by_cap"] == 0 for d, r in rows.items() if d <= 20)
    assert abs(sum(r["posting_share"] for r in rows.values()) - 1.0) < 1e-4
    # and the guard the audit prices: with the cap, the boilerplate-only
    # pair explosion disappears (unique shingles share nothing)
    assert jaccard_pairs(sh, max_shingle_df=20).count() == 0
    assert jaccard_pairs(sh).count() == 25 * 24 // 2
