"""Round-6 late additions: plan-shape and invariant guards for the
passage-dedup / stratified-quota / char-entropy / shard / decay queries
(value parity itself is covered by tests/test_oracle_parity.py)."""

from __future__ import annotations

import collections
import math
import re

from pyspark.ml.feature import CountVectorizer, MinHashLSH
from pyspark.sql import Observation, functions as F

from ml_training_data_pipeline_spark.operators.dedup import (
    doc_shingles,
    jaccard_pairs,
    minhash_dedup,
)
from ml_training_data_pipeline_spark.plans import registry
from tests.conftest import SF_DIR, explain_str


def count_nodes(plan: str, op: str) -> int:
    # formatted plans print every node twice (tree + detail section);
    # count only the detail headers "(3) Exchange".
    return len(re.findall(rf"^\(\d+\) {op}\b", plan, re.M))


def test_x12_entropy_is_exchange_free(spark):
    # the whole signal is a map-side projection: 37 length(replace(...))
    # terms over a closed alphabet — any Exchange means someone turned it
    # back into an explode+groupBy.
    plan = explain_str(spark, "x12_char_entropy")
    assert "Exchange" not in plan, plan
    assert "Generate" not in plan, plan


def test_x12_entropy_matches_python(spark):
    rows = registry.QUERIES["x12_char_entropy"](spark, SF_DIR).collect()
    docs = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
        if r["text"] is not None
    }

    checked = 0
    for r in rows[:20]:
        text = docs[r["doc_id"]]
        cleaned = " ".join(
            t for t in re.sub(r"\s+", " ", re.sub(r"[^a-z0-9\s]", "", text.lower())).split(" ") if t
        )
        n = len(cleaned)
        ent = 0.0
        for ch in set(cleaned):
            p = cleaned.count(ch) / n
            ent -= p * math.log(p)
        assert abs(ent - r["char_entropy"]) < 1e-5, (r["doc_id"], ent, r["char_entropy"])
        assert r["n_chars_clean"] == n
        checked += 1
    assert checked > 0


def test_w6_single_exchange(spark):
    # the max-ts window and the final groupBy share the user_id hash
    # partitioning: Spark must plan exactly one shuffle.
    plan = explain_str(spark, "w6_decayed_engagement")
    assert count_nodes(plan, "Exchange") == 1, plan


def test_w6_decay_bounds(spark):
    # decayed value is positive and ≤ the plain sum (decay only shrinks),
    # and equals it when all the user's events share one timestamp.
    out = {
        r["user_id"]: r
        for r in registry.QUERIES["w6_decayed_engagement"](spark, SF_DIR).collect()
    }
    plain = {
        r["user_id"]: (r["n"], r["s"])
        for r in spark.read.parquet(f"{SF_DIR}/events.parquet")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert set(out) == set(plain)
    for uid, r in out.items():
        n, s = plain[uid]
        assert r["n_events"] == n
        assert r["decayed_value"] <= s + 1e-6, (uid, r["decayed_value"], s)


def test_cur5_no_distinct_shuffle_no_window_funnel(spark):
    # per-doc passage dedup happens in-row (array_distinct inside the
    # projection — no distinct shuffle), and the cross-doc count is a
    # map-side-combinable groupBy joined back off the checkpointed
    # passage table — NOT a window partitioned by passage, which would
    # funnel hot boilerplate passages into one task. Three Exchanges:
    # count aggregate, join probe, final doc aggregate (the probe
    # Exchange disappears when the count side is small enough to
    # broadcast, as at test SF).
    plan = explain_str(spark, "cur5_passage_dedup")
    assert count_nodes(plan, "Window") == 0, plan
    assert count_nodes(plan, "Exchange") in (2, 3), plan
    assert count_nodes(plan, "Scan ExistingRDD") == 2, plan  # checkpointed once


def test_cur5_passage_invariants(spark):
    rows = registry.QUERIES["cur5_passage_dedup"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_dup_passages"] <= r["n_passages"]
        assert 0.0 <= r["dup_frac"] <= 1.0


def test_mix2_exact_quota(spark):
    # per-language quota is exactly ceil(0.2 * n_lang), and ranks are
    # contiguous from 1.
    sampled = registry.QUERIES["mix2_stratified_quota"](spark, SF_DIR).collect()
    totals = {
        r["lang"]: r["n"]
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    by_lang: dict[str, list[int]] = {}
    for r in sampled:
        by_lang.setdefault(r["lang"], []).append(r["sample_rank"])
    for lang, ranks in by_lang.items():
        want = math.ceil(0.2 * totals[lang])
        assert len(ranks) == want, (lang, len(ranks), want)
        assert sorted(ranks) == list(range(1, want + 1))


def test_t7_shards_cover_all_docs(spark):
    rows = registry.QUERIES["t7_training_shards"](spark, SF_DIR).collect()
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert sum(r["n_docs"] for r in rows) == n_docs
    assert {r["shard"] for r in rows} <= set(range(8))
    # hash sharding balances: no shard holds more than 2× the mean
    mean = n_docs / len(rows)
    assert all(r["n_docs"] < 2 * mean for r in rows)


def test_s9_bucketed_join_shuffle_free(spark):
    # both sides are bucketed by doc_id, so the join needs no Exchange:
    # with broadcast disabled the plan is a bucket-pairwise SortMergeJoin
    # and the ONLY Exchange is the final groupBy(lang).
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = explain_str(spark, "s9_bucketed_join_roundtrip")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert plan.count("Bucketed: true") == 2, plan
    assert count_nodes(plan, "SortMergeJoin") == 1, plan
    assert count_nodes(plan, "Exchange") == 1, plan
    assert "BroadcastExchange" not in plan, plan


def test_x13_topk_is_take_ordered(spark):
    # the global top-100 must be a parallel TakeOrderedAndProject, with
    # the rank/cum-share window above the limit (≤100 rows).
    plan = explain_str(spark, "x13_zipf_profile")
    assert "TakeOrderedAndProject" in plan, plan
    rows = registry.QUERIES["x13_zipf_profile"](spark, SF_DIR).collect()
    assert 0 < len(rows) <= 100
    # cumulative share is nondecreasing and ends ≤ 1
    by_rank = sorted(rows, key=lambda r: r["rank"])
    cums = [r["cum_share"] for r in by_rank]
    assert all(a <= b + 1e-9 for a, b in zip(cums, cums[1:]))
    assert cums[-1] <= 1.0 + 1e-9


def test_d11_containment_dominates_jaccard(spark):
    # containment = inter/min(|A|,|B|) ≥ inter/|A∪B| = jaccard for every
    # pair, and subset pairs score exactly 1.0.
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j"),
            (2, "a b c d e f g h i j k l m n o p q r s t"),  # superset of 1
            (3, "x y z w v u t s r q"),
        ],
        schema="doc_id long, text string",
    )
    sh = doc_shingles(docs)
    cont = {
        (r["doc_a"], r["doc_b"]): r["containment"]
        for r in jaccard_pairs(sh, metric="containment").collect()
    }
    jac = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in jaccard_pairs(sh).collect()
    }
    assert set(jac) == set(cont)
    for pair, c in cont.items():
        assert c >= jac[pair] - 1e-9
    assert cont[(1, 2)] == 1.0  # doc 1's shingles all inside doc 2
    assert jac[(1, 2)] < 1.0


def test_w7_single_scan_and_sane_rates(spark):
    # ONE scan of events (the cohort-size self-join would re-execute the
    # lineage and scan twice); cohort day is in-row array_min (no second
    # user-level shuffle); cohort size is a window over the tiny offset
    # matrix.
    plan = explain_str(spark, "w7_cohort_retention")
    assert count_nodes(plan, "Scan parquet") == 1, plan
    assert count_nodes(plan, "Exchange") == 3, plan
    assert "Join" not in plan, plan
    rows = registry.QUERIES["w7_cohort_retention"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["day_offset"] >= 0
        assert 0.0 < r["retention_rate"] <= 1.0
    # offset 0 is every cohort's own size → rate exactly 1.0
    assert all(
        r["retention_rate"] == 1.0 for r in rows if r["day_offset"] == 0
    )


def test_n7_prototype_confusion_covers_corpus(spark):
    rows = registry.QUERIES["n7_prototype_confusion"](spark, SF_DIR).collect()
    emb_n = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").count()
    labels = {
        r["label"]
        for r in spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .select("label")
        .distinct()
        .collect()
    }
    total = sum(r["n_vecs"] for r in rows)
    assert total == emb_n  # every vector classified exactly once
    assert {r["predicted_label"] for r in rows} <= labels
    # the synthetic labels carry signal: diagonal beats chance by ≥ 2×
    diag = sum(r["n_vecs"] for r in rows if r["label"] == r["predicted_label"])
    assert diag / total > 2.0 / len(labels), (diag, total)
    for r in rows:
        assert -1.0 - 1e-9 <= r["avg_cos"] <= 1.0 + 1e-9


def test_aqe_skew_join_mechanism_fires(spark):
    # The engine deliberately leaves big-table join skew to AQE (SURVEY
    # §4) rather than hand-salting. That promise is only real if the
    # mechanism fires in this session's config — so build a 90%-one-key
    # fact, force a sort-merge join, and assert AQE split the skewed
    # partition (skew=true in the final adaptive plan).
    keys = (
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.autoBroadcastJoinThreshold",
    )
    prev = {k: spark.conf.get(k) for k in keys}
    spark.conf.set(keys[0], "32768")
    spark.conf.set(keys[1], "16384")
    spark.conf.set(keys[2], "2")
    spark.conf.set(keys[3], "-1")
    try:
        fact = spark.range(200_000).select(
            F.when(F.col("id") % 10 != 0, F.lit(0))
            .otherwise(F.col("id"))
            .alias("k"),
            F.col("id").alias("payload"),
        )
        dim = spark.range(20_000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("attr")
        )
        joined = fact.join(dim, "k").groupBy().agg(F.sum("attr").alias("s"))
        joined.collect()  # AQE finalizes the plan during execution
        plan = explain_str(spark, joined)
        assert "skew=true" in plan, plan
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_x14_closed_form_matches_bruteforce(spark):
    # the zero-count KL mass is folded in closed form; validate against a
    # brute-force full-vocabulary sum computed in Python on the same data
    # (independent of the oracle, which shares the engine's derivation).
    rows = registry.QUERIES["x14_source_divergence"](spark, SF_DIR).collect()
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()

    def toks(s):
        cleaned = re.sub(r"[ \t\n\r\f\v]+", " ", re.sub(r"[^a-z0-9 \t\n\r\f\v]", "", s.lower())).strip()
        return [t for t in cleaned.split(" ") if t]

    per_source: dict[str, collections.Counter] = collections.defaultdict(collections.Counter)
    for r in docs:
        if r["text"] is not None:
            per_source[r["source"]].update(toks(r["text"]))
    corpus = collections.Counter()
    for c in per_source.values():
        corpus.update(c)
    V = len(corpus)
    N = sum(corpus.values())
    got = {r["source"]: r["kl_vs_corpus"] for r in rows}
    assert set(got) == set(per_source)
    for srcname, cnt in per_source.items():
        n_s = sum(cnt.values())
        kl = 0.0
        for t, ctot in corpus.items():
            p = (cnt.get(t, 0) + 1) / (n_s + V)
            q = (ctot + 1) / (N + V)
            kl += p * math.log(p / q)
        assert kl >= -1e-9
        assert abs(kl - got[srcname]) < 1e-4, (srcname, kl, got[srcname])


def test_g3_cube_single_expand_single_scan(spark):
    # the four grouping sets aggregate in ONE pass: one scan, one Expand
    # (row fan-out to set memberships), one Exchange — not four scans.
    plan = explain_str(spark, "g3_cube_profile")
    assert count_nodes(plan, "Expand") == 1, plan
    assert count_nodes(plan, "Exchange") == 1, plan
    assert count_nodes(plan, "Scan parquet") == 1, plan
    rows = registry.QUERIES["g3_cube_profile"](spark, SF_DIR).collect()
    by_gid = {}
    for r in rows:
        by_gid.setdefault(r["gid"], []).append(r)
    # margins must reconcile: every grouping set sums to the grand total
    grand = by_gid[3][0]["n_docs"]
    assert len(by_gid[3]) == 1
    for gid in (0, 1, 2):
        assert sum(r["n_docs"] for r in by_gid[gid]) == grand, gid


def test_d12_sources_ordered_and_counts_match_pairs(spark):
    rows = registry.QUERIES["d12_cross_source_dups"](spark, SF_DIR).collect()
    n_pairs = minhash_dedup(
        spark.read.parquet(f"{SF_DIR}/documents.parquet"), threshold=0.5
    ).count()
    assert sum(r["n_dup_pairs"] for r in rows) == n_pairs
    for r in rows:
        assert r["source_a"] <= r["source_b"]
        assert 0.5 <= r["mean_jaccard"] <= 1.0


def test_cur6_scrub_invariants(spark):
    rows = registry.QUERIES["cur6_passage_scrub"](spark, SF_DIR).collect()
    assert rows
    by_doc = {r["doc_id"]: r for r in rows}
    for r in rows:
        assert r["n_kept"] + r["n_dropped"] == r["n_passages"]
        assert r["scrubbed_fp"] is not None
    # first-doc-wins: the smallest doc_id keeps every one of its passages
    first = by_doc[min(by_doc)]
    assert first["n_dropped"] == 0, first


def test_ep4_observe_metrics_without_extra_pass(spark):
    # production pipelines attach Observation metrics to the curation run
    # so row counts/token totals come back WITH the action instead of a
    # second scan — prove the API composes with the composite and agrees
    # with the result.
    df = registry.QUERIES["ep4_curation_to_shards"](spark, SF_DIR)
    obs = Observation("ep4_metrics")
    observed = df.observe(
        obs, F.sum("n_docs").alias("docs"), F.sum("total_tokens").alias("tokens")
    )
    rows = observed.collect()
    got = obs.get
    assert got["docs"] == sum(r["n_docs"] for r in rows)
    assert got["tokens"] == sum(r["total_tokens"] for r in rows)


def test_jsonl_corrupt_records_are_isolated(spark, tmp_path):
    # at 100 TB some fraction of JSONL lines is always garbage; the read
    # path must isolate them per-record (PERMISSIVE + corrupt-record
    # column), never fail the scan.
    p = tmp_path / "data.jsonl"
    p.write_text(
        '{"doc_id": 1, "lang": "en", "n_chars": 10}\n'
        "{this is not json}\n"
        '{"doc_id": 2, "lang": "de", "n_chars": 20}\n'
        '{"doc_id": "not-a-number", "lang": "fr", "n_chars": 5}\n'
    )
    df = (
        spark.read.schema("doc_id long, lang string, n_chars long, _corrupt string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(str(p))
    )
    rows = df.collect()
    assert len(rows) == 4  # every line surfaces, none kills the scan
    good = [r for r in rows if r["_corrupt"] is None]
    bad = [r for r in rows if r["_corrupt"] is not None]
    assert {r["doc_id"] for r in good} == {1, 2}
    assert len(bad) == 2  # the non-JSON line and the type-mismatched one


def test_ep4_single_scan_three_shuffles(spark):
    # the whole prep pipeline — gates, quota, shards, budget — must cost
    # ONE corpus scan and three Exchanges (fp survivorship window, the
    # source quota windows sharing one shuffle, the shard aggregate).
    plan = explain_str(spark, "ep4_curation_to_shards")
    assert count_nodes(plan, "Scan parquet") == 1, plan
    assert count_nodes(plan, "Exchange") == 3, plan


def test_minhash_dedup_cross_checked_against_mllib(spark):
    # independent-implementation agreement: MLlib's MinHashLSH (different
    # hash family, approxSimilarityJoin with EXACT Jaccard distance on
    # its candidates) must emit only pairs our exact inverted-index
    # jaccard confirms, and recover most of them — two codebases, one
    # truth.
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").where(
        F.col("text").isNotNull()
    )
    sh = doc_shingles(docs)
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in jaccard_pairs(sh, threshold=0.5).collect()
    }
    assert exact, "fixture should contain near-dup pairs"

    # shingles are 60-bit longs now; CountVectorizer wants string terms
    grouped = sh.groupBy("doc_id").agg(
        F.collect_list(F.col("shingle").cast("string")).alias("shingles")
    )
    cv = CountVectorizer(inputCol="shingles", outputCol="features", binary=True)
    model = cv.fit(grouped)
    feats = model.transform(grouped)
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=8, seed=7)
    lmodel = lsh.fit(feats)
    joined = lmodel.approxSimilarityJoin(feats, feats, 0.5, distCol="jd")
    mllib = {
        (min(a, b), max(a, b))
        for a, b in (
            (r["datasetA"]["doc_id"], r["datasetB"]["doc_id"])
            for r in joined.where("datasetA.doc_id < datasetB.doc_id").collect()
        )
    }
    # approxSimilarityJoin verifies exact distance on candidates → no
    # false positives vs our exact pairs...
    assert mllib <= exact, mllib - exact
    # ...and LSH recall at jaccard ≥ 0.5 with 8 tables recovers most
    assert len(mllib) >= 0.8 * len(exact), (len(mllib), len(exact))


def test_m6_quality_classifier_learns_the_gate(spark):
    # the labels are a threshold of the (deterministic) input features,
    # so a logistic regression must recover the gate almost perfectly on
    # the training corpus — and the confusion matrix covers every doc
    # exactly once.
    rows = registry.QUERIES["m6_quality_classifier"](spark, SF_DIR).collect()
    n_docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .where(F.col("text").isNotNull())
        .count()
    )
    total = sum(r["n_docs"] for r in rows)
    assert total == n_docs
    correct = sum(r["n_docs"] for r in rows if r["label"] == r["prediction"])
    assert correct / total >= 0.9, (correct, total, rows)
