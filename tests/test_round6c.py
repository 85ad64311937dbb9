"""Round-6c invariants: Z-order layout quality and duplicate-span
semantics that the DuckDB oracle can't state."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from ml_training_data_pipeline_spark.functions.text import tokenize
from ml_training_data_pipeline_spark.io.sources import load_table, scratch_dir
from ml_training_data_pipeline_spark.operators.dedup import md5_long
from ml_training_data_pipeline_spark.plans import registry
from ml_training_data_pipeline_spark.plans.queries_ml import _ari_from_contingency
from tests.conftest import SF_DIR, plan_str


def test_t9_zorder_files_cluster_both_dims(spark):
    # Run the query (writes the layout), then audit the written files:
    # a Z-ordered layout must localize the LANG dimension too — most
    # files should touch at most half of the 8 lang buckets. A pure
    # length-ordered layout fails this (every length run spans all langs).
    registry.QUERIES["t9_zorder_layout"](spark, SF_DIR).collect()

    out_dir = scratch_dir(spark, "zorder", SF_DIR)
    files = sorted(glob.glob(os.path.join(out_dir, "part-*.parquet")))
    assert len(files) >= 4, files
    spans = []
    for f in files:
        pdf = (
            spark.read.parquet(f)
            .select(F.pmod(F.crc32(F.col("lang")), F.lit(8)).alias("lb"))
            .agg(F.count_distinct("lb").alias("n"))
            .collect()
        )
        spans.append(pdf[0]["n"])
    # at least half the files are lang-localized (≤ 4 of 8 buckets)
    localized = sum(1 for s in spans if s <= 4)
    assert localized * 2 >= len(files), spans


def test_d15_catches_shifted_alignment_cur5_misses(spark):
    # The motivating case: a 12-token span shared between two docs at a
    # 3-token offset. Fixed-stride-8 passages (cur5 grain) disagree on
    # alignment and match nothing; stride-1 windows (d15) must flag both
    # docs. Build the corpus inline; both metrics computed on it.
    span = "alpha bravo charlie delta echo foxtrot golf hotel india juliett kilo lima"
    docs = spark.createDataFrame(
        [
            (1, "one two three " + span + " tail1a tail1b"),
            (2, "x1 " + span + " y1 y2 y3"),
        ],
        "doc_id long, text string",
    )

    toks = docs.select("doc_id", tokenize(F.col("text")).alias("toks"))
    # stride-8 passages: no shared passage (alignment differs by 13-2=11 % 8 != 0)
    p8 = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "array_distinct(transform(sequence(0, (size(toks) div 8) - 1),"
                " i -> concat_ws(' ', slice(toks, i*8+1, 8))))"
            )
        ).alias("p"),
    )
    shared8 = (
        p8.groupBy("p").agg(F.count_distinct("doc_id").alias("n")).where(F.col("n") > 1)
    ).count()
    # stride-1 windows: the span produces aligned 8-grams in both docs
    w1 = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "array_distinct(transform(sequence(0, size(toks) - 8),"
                " i -> concat_ws(' ', slice(toks, i+1, 8))))"
            )
        ).alias("w"),
    )
    shared1 = (
        w1.groupBy("w").agg(F.count_distinct("doc_id").alias("n")).where(F.col("n") > 1)
    ).count()
    assert shared8 == 0, "fixed-stride should miss the shifted span"
    assert shared1 >= 5, f"stride-1 must catch the span's windows, got {shared1}"


def test_pack2_chunks_cover_every_token_with_overlap(spark):
    # long-doc semantics the sf-corpus (short docs) can't exercise: a
    # 300-token doc must produce ceil((300-16)/112)=3 chunks, starting
    # at 0/112/224, each 128 tokens except the 76-token tail, adjacent
    # chunks sharing exactly 16 tokens, and the union covering 0..299.
    text = " ".join(f"tok{i}" for i in range(300))
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")

    toks = docs.select("doc_id", tokenize(F.col("text")).alias("toks"))
    rows = (
        toks.select(
            F.explode(
                F.expr(
                    "transform(sequence(0, greatest(1, CAST(ceil((size(toks) - 16) / 112.0) AS BIGINT)) - 1),"
                    " i -> struct(i AS idx, slice(toks, i*112+1, 128) AS chunk))"
                )
            ).alias("c")
        )
        .select("c.idx", "c.chunk")
        .collect()
    )
    chunks = {r["idx"]: r["chunk"] for r in rows}
    assert sorted(chunks) == [0, 1, 2]
    assert [len(chunks[i]) for i in (0, 1, 2)] == [128, 128, 76]
    assert chunks[0][-16:] == chunks[1][:16]  # 16-token overlap
    assert chunks[1][-16:] == chunks[2][:16]
    covered = set()
    for c in chunks.values():
        covered.update(c)
    assert len(covered) == 300  # every token in at least one chunk


def test_s11_compaction_reduces_file_count_losslessly(spark):
    registry.QUERIES["s11_small_file_compaction"](spark, SF_DIR).collect()

    base = scratch_dir(spark, "compact", SF_DIR)
    frag = glob.glob(os.path.join(base + "_frag", "part-*.parquet"))
    out = glob.glob(os.path.join(base + "_out", "part-*.parquet"))
    assert len(frag) >= 32, len(frag)   # genuinely fragmented input
    assert len(out) <= 4, len(out)      # compacted to the target
    a = spark.read.parquet(base + "_frag").count()
    b = spark.read.parquet(base + "_out").count()
    assert a == b  # lossless


def test_s11_compaction_plan_has_no_shuffle(spark):
    # coalesce must not introduce an Exchange — the whole point is a
    # shuffle-free rewrite.
    docs = load_table(spark, SF_DIR, "documents").select("doc_id")
    plan = plan_str(docs.coalesce(4))
    assert "Exchange" not in plan, plan


def test_f13_strip_html_semantics(spark):
    from pyspark.sql import functions as F

    from ml_training_data_pipeline_spark.functions.text import strip_html

    cases = [
        (1, "<p>Hello <b>world</b></p>", "Hello world"),
        (2, "before<script type='x'>var a = '<p>';</script>after", "before after"),
        (3, "a<style>.x { color: red }</style>b", "a b"),
        # entities unescape AFTER tag strip: no double-unescape injection
        (4, "&lt;script&gt;alert(1)&lt;/script&gt;", "<script>alert(1)</script>"),
        (5, "Tom &amp; Jerry &quot;cartoon&quot; &#39;classic&#39;", "Tom & Jerry \"cartoon\" 'classic'"),
        (6, "<div\nclass='multi\nline'>x</div>", "x"),
        (7, "no markup at all", "no markup at all"),
    ]
    df = spark.createDataFrame([(i, t) for i, t, _ in cases], "id long, text string")
    got = {
        r["id"]: r["s"]
        for r in df.select("id", strip_html(F.col("text")).alias("s")).collect()
    }
    for i, _, want in cases:
        assert got[i] == want, f"case {i}: {got[i]!r} != {want!r}"


def test_m7_elbow_is_monotone_nonincreasing(spark):
    # more clusters can only reduce (or hold) total within-SS — the
    # invariant that makes the elbow curve meaningful.
    rows = registry.QUERIES["m7_kmeans_elbow"](spark, SF_DIR).collect()
    by_k = {r["k"]: r["total_withinss"] for r in rows}
    ks = sorted(by_k)
    assert ks == [2, 5, 10, 20]
    for a, b in zip(ks, ks[1:]):
        assert by_k[b] <= by_k[a] * 1.001, (a, b, by_k)


def test_mix4_split_is_a_partition_with_sane_ratios(spark):
    docs = load_table(spark, SF_DIR, "documents").where(F.col("text").isNotNull())
    bucket = F.pmod(md5_long(F.col("doc_id").cast("string")), F.lit(100))
    split = F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
    assigned = docs.select("doc_id", split.alias("split"))
    n_docs = docs.count()
    # partition: every doc in exactly one split (assignment is a pure
    # function of doc_id, so membership is structural; count proves
    # completeness)
    counts = {r["split"]: r["n"] for r in assigned.groupBy("split").agg(
        F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == n_docs
    assert set(counts) == {"train", "val", "test"}
    # hash-range ratios: train ~90% within a loose tolerance at sf0.001
    assert 0.80 <= counts["train"] / n_docs <= 0.97, counts


def test_ep5_survivors_are_subset_and_split(spark):
    rows = registry.QUERIES["ep5_dedup_split_shards"](spark, SF_DIR).collect()
    total = sum(r["n_docs"] for r in rows)

    n_docs = load_table(spark, SF_DIR, "documents").where(
        F.col("text").isNotNull()
    ).count()
    assert 0 < total <= n_docs  # dedup can only shrink
    assert {r["split"] for r in rows} <= {"train", "val", "test"}
    assert all(0 <= r["shard"] <= 7 for r in rows)


def test_m8_ari_bounds_and_identical_fit_calibration(spark):
    # calibration: a perfectly-agreeing contingency (diagonal) gives 1
    assert _ari_from_contingency([(0, 0, 30), (1, 1, 25), (2, 2, 45)]) == 1.0
    # independence-shaped contingency gives ~0 (not exactly: the
    # hypergeometric adjustment leaves a small finite-n residual)
    flat = [(i, j, 10) for i in range(3) for j in range(3)]
    assert abs(_ari_from_contingency(flat)) < 0.05
    row = registry.QUERIES["m8_cluster_stability"](spark, SF_DIR).collect()[0]
    assert row["n_overlap"] > 0
    assert -1.0 <= row["ari"] <= 1.0
