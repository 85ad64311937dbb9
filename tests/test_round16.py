"""Round-16 pins: bench host-speed canary, steal-denominator fix,
adaptive rep top-up, and the ADVICE closures in m11/cur2/cur11.

Context: rounds 14 and 15 both produced official BENCH artifacts whose
wall totals were dominated by cross-boot host speed (r15's 18.48s vs a
same-host A/B reading 15.35s), each costing a session of forensics. The
canary makes BENCH_r*.json self-normalizing: value_per_canary =
suite_total / canary_s is the cross-round comparable.
"""

from __future__ import annotations

import glob
import json
import os
import re

from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
import bench
from ml_training_data_pipeline_spark.io.sources import load_table
from ml_training_data_pipeline_spark.operators.cluster import (
    lloyd_quantized,
    scatter_row_num,
)
from ml_training_data_pipeline_spark.operators.similarity import dot, srp_bucket_array
from ml_training_data_pipeline_spark.plans.queries_similarity import SWEEP_PLANE_TABLES
from tests.conftest import REPO, SF_DIR, write_documents


def test_host_canary_is_deterministic_work_and_positive():
    # tiny iteration count: pin the MECHANISM (md5 chain runs, timing
    # positive), not the host speed
    a = bench.host_canary_s(iters=2_000, best_of=2)
    assert a > 0
    # min-of-N: a second measurement of the same work is the same order
    b = bench.host_canary_s(iters=2_000, best_of=2)
    assert b > 0


def test_per_canary_normalization_and_sentinels():
    assert bench.per_canary(18.0, 1.5) == 12.0
    # sentinel totals and degenerate canaries must not divide
    assert bench.per_canary(-1.0, 1.5) == -1.0
    assert bench.per_canary(10.0, 0.0) == -1.0
    assert bench.per_canary(10.0, -1.0) == -1.0


def test_bench_artifact_carries_canary_fields():
    # the driver reads BENCH_r{N}.json; the canary fields must be in the
    # emitted JSON object — pin the source so a refactor can't drop them
    src = open(os.path.join(os.path.dirname(__file__), "..", "bench.py")).read()
    for field in ('"canary_s"', '"value_per_canary"', '"cpu_median_per_canary"'):
        assert field in src, field


def test_read_proc_stat_excludes_guest_columns(tmp_path):
    # guest (field 9) and guest_nice (field 10) are already counted
    # inside user/nice; a host running KVM guests must not double-count
    # them in the steal%% denominator
    p = tmp_path / "stat"
    p.write_text("cpu  100 0 50 800 10 0 5 35 400 200\nCPU0 ignored\n")
    steal, total = bench.read_proc_stat(str(p))
    assert steal == 35
    assert total == 1000  # NOT 1600


def test_bench_tops_up_reps_when_clean_pool_starved():
    # the main loop's top-up predicate lives inline; pin its pieces via
    # the source (the behavior itself is exercised by the round's bench
    # runs — this guards against the knob or the bounded loop vanishing)
    src = open(os.path.join(os.path.dirname(__file__), "..", "bench.py")).read()
    assert "SPARK_GRAFT_BENCH_EXTRA_REPS" in src
    assert "clean_count() < min(2, reps)" in src
    # no-steal hosts must not top up (extra reps can never become clean)
    assert "any(s >= 0 for _, _, s in rep_times)" in src


def test_bench_r16_artifact_if_present_carries_canary():
    path = os.path.join(REPO, "BENCH_r16.json")
    if not os.path.exists(path):
        return  # driver writes it at round end; local trees may predate it
    raw = open(path).read().strip()
    try:
        # driver-written artifact: whole-file JSON wrapper with the bench
        # line under "parsed" (the file did not exist when this test was
        # written; the wrapper came with the first graded run)
        art = json.loads(raw)
        art = art.get("parsed", art)
    except json.JSONDecodeError:
        art = json.loads(raw.splitlines()[-1])  # raw one-line bench output
    assert art["canary_s"] > 0
    assert art["value_per_canary"] > 0
    # no CPU column may rest on a single clean rep on a quiet host run
    # unless the host was contended during that query's whole window
    for name, tag in art["cpu_rep_source"].items():
        assert not tag.startswith("none-"), (name, tag)


def test_scatter_fold_survives_long_overflow(spark):
    # a long-accumulated fold threw
    # ArithmeticException under ANSI once (q_i*n - s_i)^2 crossed
    # Long.MAX (~3e5-member clusters at |q|~600). Plant exactly that
    # regime: n=10^7, q_i=600, s_i=0 -> each term (6e9)^2 = 3.6e19,
    # 4x Long.MAX, and the exact digits must come back.
    df = spark.createDataFrame([(1,)], "id long").select(
        F.array(*[F.lit(600).cast("long")] * 2).alias("q"),
        F.array(*[F.lit(0).cast("long")] * 2).alias("s"),
        F.lit(10_000_000).cast("long").alias("n"),
    )
    [row] = df.select(scatter_row_num("q", "s", "n").alias("x")).collect()
    assert int(row["x"]) == 2 * (600 * 10_000_000) ** 2  # 7.2e19 exact


def test_m11_shares_one_quantized_corpus(spark):
    # the k-sweep must quantize/materialize the corpus
    # once (the oracle's emit_input=False shape), not once per k — pin
    # via lloyd_quantized's prequantized fast path identity
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    a1, _, q1 = lloyd_quantized(emb, k=2, iters=1, quant=1000)
    a2, _, q2 = lloyd_quantized(emb, k=4, iters=1, quant=1000, prequantized=q1)
    assert q2 is q1  # no re-quantize, no second materialization
    # and the shared-input path computes the same assignments as a fresh
    # quantization would
    a2b, _, _ = lloyd_quantized(emb, k=4, iters=1, quant=1000)
    left = {r["vec_id"]: r["cluster_id"] for r in a2.select("vec_id", "cluster_id").collect()}
    right = {r["vec_id"]: r["cluster_id"] for r in a2b.select("vec_id", "cluster_id").collect()}
    assert left == right


def test_cur2_cur11_use_combinable_argmax_not_window(spark):
    """VERDICT r15 #3: cur2/cur11's survivor selection must be the same
    (score, -id)-max struct groupBy d25 uses — identical answers (the
    round's two-scale sweeps), but no component-partitioned window a
    pathological giant component could funnel through. Checked on the
    full executed plan including pre-checkpoint segments (cur11
    checkpoints its pairs frame)."""
    import importlib.util

    import __spark_entry__ as entry_mod
    from tests.conftest import SF_DIR

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scripts",
        "plan_audit.py",
    )
    spec = importlib.util.spec_from_file_location("plan_audit", path)
    pa = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(pa)
    for name in ("cur2_component_survivors", "cur11_semantic_survivors"):
        spark.catalog.clearCache()
        with pa.CkptRecorder() as rec:
            df = entry_mod.queries()[name](spark, SF_DIR)
            final_plan = df._jdf.queryExecution().executedPlan().toString()
        for seg in [final_plan, *rec.plans]:
            assert "Window" not in seg, f"component window reappeared in {name}"


def test_d28_reconciles_with_st17_per_source(spark):
    """The compaction ledger owes the stream an exact reconciliation:
    d28's removed_vs_corpus must equal st17's tokens_removed per source
    (same arrival universe, same corpus inventory, same shared span-scrub
    operators) — the compaction only ADDS cross-arrival removals on top."""

    qs = entry_mod.queries()
    d28 = {
        r["source"]: (r["removed_vs_corpus"], r["tokens_before"], r["n_docs"])
        for r in qs["d28_compaction_arrival_scrub"](spark, SF_DIR).collect()
    }
    st17 = {
        r["source"]: (r["tokens_removed"], r["tokens_before"], r["n_docs"])
        for r in qs["st17_stream_span_scrub"](spark, SF_DIR).collect()
    }
    assert d28 == st17
    # and the compaction finds strictly new mass somewhere (the testdata
    # plants cross-source duplicate docs that land on both arrival sides)
    extra = sum(
        r["removed_cross_arrival"]
        for r in qs["d28_compaction_arrival_scrub"](spark, SF_DIR).collect()
    )
    assert extra > 0


def test_d28_removes_planted_cross_arrival_dup_st17_keeps(spark, tmp_path):
    """The exact scope-hole scenario st17's comment defers to 'the next
    compaction': two ARRIVALS share an 8-token window the corpus lacks.
    st17 must keep those tokens (corpus-only inventory); d28 must scrub
    them from the non-keeper arrival (keep-first among arrivals)."""

    # WORD-DISJOINT fillers: no 8-token window may accidentally recur
    # across docs — the only planted duplicate is dup_win between the
    # two arrivals (boundary windows differ because the fillers differ)
    filler_c0 = "ca cb cc cd ce cf cg ch ci cj"
    filler_c2 = "da db dc dd de df dg dh di dj"
    filler_a1 = "ea eb ec ed ee ef eg eh ei ej"
    filler_a3 = "fa fb fc fd fe ff fg fh fi fj"
    dup_win = "alpha beta gamma delta epsilon zeta eta theta"
    # corpus (even ids 0, 2): no dup_win anywhere, no window shared with
    # arrivals; arrivals (odd ids 1, 3) share dup_win, and doc 3 is the
    # non-keeper (keep-first = min doc_id = 1). One parquet FILE: the
    # stream source opens it with pyarrow for schema inference.
    sf_dir = write_documents(
        str(tmp_path),
        [filler_c0, filler_c2, f"{filler_a1} {dup_win}", f"{filler_a3} {dup_win}"],
        ["wiki", "wiki", "crawl", "crawl"],
        doc_ids=[0, 2, 1, 3],
    )
    qs = entry_mod.queries()
    st17 = {r["source"]: r for r in qs["st17_stream_span_scrub"](spark, sf_dir).collect()}
    d28 = {r["source"]: r for r in qs["d28_compaction_arrival_scrub"](spark, sf_dir).collect()}
    # corpus shares no window with the arrivals -> the stream removes 0
    assert st17["crawl"]["tokens_removed"] == 0
    # the compaction agrees on the corpus share (reconciliation) ...
    assert d28["crawl"]["removed_vs_corpus"] == 0
    # ... and scrubs the planted window from the non-keeper arrival only:
    # 8 tokens (doc 3's dup_win positions), none from keeper doc 1
    assert d28["crawl"]["removed_cross_arrival"] == 8
    assert d28["crawl"]["tokens_removed"] == 8
    assert d28["crawl"]["tokens_kept"] == st17["crawl"]["tokens_kept"] - 8


def test_ep15_exposure_closes_against_d27(spark):
    """ep15's evidence columns must BE d27's numbers (same position
    stream, same multi-source-window inventory) — if the two reports
    disagree about a source's exposure the decision table is junk."""

    qs = entry_mod.queries()
    d27 = {
        r["source"]: (r["n_tokens"], r["exposed_tokens"], r["exposure_frac"])
        for r in qs["d27_cross_source_exposure"](spark, SF_DIR).collect()
    }
    ep15 = {
        r["source"]: (r["n_tokens"], r["exposed_tokens"], r["exposure_frac"])
        for r in qs["ep15_source_drop_impact"](spark, SF_DIR).collect()
    }
    assert ep15 == d27


def test_ep15_waterfill_algebra(spark):
    """Post-drop water-fill invariants: budget_after = (T - T_s) div 2,
    capped allocation never exceeds the budget, and the uncapped level is
    the exact remainder split."""

    qs = entry_mod.queries()
    rows = qs["ep15_source_drop_impact"](spark, SF_DIR).collect()
    assert rows
    t_all = sum(r["n_tokens"] for r in rows)
    for r in rows:
        assert r["budget_after"] == (t_all - r["n_tokens"]) // 2
        assert 0 <= r["n_capped_after"] <= len(rows) - 1
        assert r["unique_tokens"] == r["n_tokens"] - r["exposed_tokens"]
        if r["n_capped_after"] < len(rows) - 1:
            assert r["level_after"] > 0


def test_every_registry_name_has_an_sf1_artifact_stamp():
    """Full sf1 coverage must be READABLE FROM ARTIFACTS,
    not commit messages. Fold every SF1_PROBE_r*.json (oracle comparison)
    and SF1_ROWSONLY_r*.json (execution probe for the no-oracle names):
    every registered query must carry a stamp from r15 or newer (the
    first FULL oracle sweep). The floor ratchets upward when a newer
    full sweep lands; a new query registered without an sf1 stamp fails
    here until its probe row is committed."""

    newest: dict[str, int] = {}
    for pat in ("SF1_PROBE_r*.json", "SF1_ROWSONLY_r*.json"):
        for f in glob.glob(os.path.join(REPO, pat)):
            rnd = int(re.search(r"r(\d+)", os.path.basename(f)).group(1))
            for name in json.load(open(f)).get("results", {}):
                newest[name] = max(newest.get(name, 0), rnd)
    FLOOR = 15
    stale = {n: newest.get(n, 0) for n in entry_mod.queries() if newest.get(n, 0) < FLOOR}
    assert not stale, f"registry names without an sf1 stamp >= r{FLOOR}: {stale}"


def test_srp_bucket_kernel_matches_column_fold(spark):
    """The Arrow-batched SRP hashing kernel (srp_bucket_array) must be
    bit-identical to the per-plane zip_with/aggregate column fold it
    replaced: same sequential per-dimension IEEE accumulation, so every
    sign — and hence every bucket over every table — agrees exactly.
    Checked on the real embeddings fixture over the n13 sweep's full
    16-table plane list (the widest production config)."""

    emb = load_table(spark, SF_DIR, "embeddings")
    base = emb.select("vec_id", F.col("embedding").alias("vec"))

    per_table = []
    for planes in SWEEP_PLANE_TABLES:
        b = F.lit(0).cast("long")
        for i, p in enumerate(planes):
            plane = F.array(*[F.lit(float(x)) for x in p])
            bit = (
                F.when(dot(F.col("vec"), plane) > 0, F.lit(1).cast("long"))
                .otherwise(F.lit(0).cast("long"))
            )
            b = b + F.shiftleft(bit, i)
        per_table.append(b)
    fold = base.select("vec_id", F.posexplode(F.array(*per_table)).alias("tbl", "bucket"))
    kernel = base.select(
        "vec_id",
        F.posexplode(srp_bucket_array(F.col("vec"), SWEEP_PLANE_TABLES)).alias(
            "tbl", "bucket"
        ),
    )
    assert fold.exceptAll(kernel).count() == 0
    assert kernel.exceptAll(fold).count() == 0
    assert kernel.count() == base.count() * len(SWEEP_PLANE_TABLES)
