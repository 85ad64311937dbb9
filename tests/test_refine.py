"""Refine-pipeline invariants on the reference's own 6-doc fixture
(FIXTURES.md §3 / 04_cluster_refiner.R:391-407): forced splits, renumber
compaction, merge closure, partition validity.
"""

from __future__ import annotations

import pandas as pd
import pytest

from ml_training_data_pipeline_spark.operators.refine import (
    RefineConfig,
    _make_group_splitter,
    merge_similar_clusters,
    renumber_clusters,
    split_low_coherence_clusters,
)
from ml_training_data_pipeline_spark.operators.tfidf import tfidf_long
from ml_training_data_pipeline_spark.operators.vectorize import (
    fit_tfidf_vectorizer,
    tokens_frame,
    vectorize,
)

CORPUS = [
    (1, "energy battery power electric charging", 1),
    (2, "energy storage renewable power battery", 1),
    (3, "finance investment risk banking money", 2),
    (4, "stock markets economic growth inflation", 2),
    (5, "healthcare hospital treatment diagnosis", 2),
    (6, "medicine health doctor therapy", 2),
]


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(CORPUS, schema="doc_id long, text string, cluster_id int")


@pytest.fixture(scope="module")
def fitted(spark, corpus):
    tokens = tokens_frame(corpus, stopwords=None)
    model = fit_tfidf_vectorizer(tokens, vocab_size=100)
    vecs = vectorize(tokens, model)
    tfidf = tfidf_long(corpus)
    return vecs, tfidf


def test_renumber_compacts_ids(spark):
    a = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 40), (4, 99)], schema="doc_id long, cluster_id int"
    )
    out = renumber_clusters(a).collect()
    mapping = {r["doc_id"]: r["cluster_id"] for r in out}
    assert mapping == {1: 1, 2: 1, 3: 2, 4: 3}


def test_forced_split_preserves_partition(spark, corpus, fitted):
    vecs, tfidf = fitted
    assignments = corpus.select("doc_id", "cluster_id")
    cfg = RefineConfig(
        coherence_threshold=0.9,  # force: everything is "low coherence"
        k_range=(2,),
        min_docs=3,
        top_m=3,
        lda_search_iter=5,
        lda_final_iter=10,
    )
    out, split_ids = split_low_coherence_clusters(
        vecs.select("doc_id", "tf"), tfidf, assignments, n_docs=6, cfg=cfg
    )
    rows = out.collect()
    # exactly one row per doc (hard clustering invariant, README.md:214-215)
    assert sorted(r["doc_id"] for r in rows) == [1, 2, 3, 4, 5, 6]
    # cluster 2 (4 docs ≥ min_docs=3) must have split into new ids > max(1,2)
    assert split_ids, "expected at least one split"
    new_ids = {r["cluster_id"] for r in rows}
    assert max(new_ids) > 2


def test_forced_split_big_path_threaded(spark, corpus, fitted):
    """local_fit_max_docs=0 routes every candidate through the MLlib
    fallback — submitted through session.run_concurrently. TWO candidate
    clusters (3 docs each, both under the forced threshold) so the fits
    actually run concurrently; same partition invariants as the
    applyInPandas path."""
    vecs, tfidf = fitted
    assignments = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 2), (5, 2), (6, 2)],
        schema="doc_id long, cluster_id int",
    )
    cfg = RefineConfig(
        coherence_threshold=0.9,
        k_range=(2,),
        min_docs=3,
        top_m=3,
        lda_search_iter=5,
        lda_final_iter=10,
        local_fit_max_docs=0,
    )
    out, split_ids = split_low_coherence_clusters(
        vecs.select("doc_id", "tf"), tfidf, assignments, n_docs=6, cfg=cfg
    )
    rows = out.collect()
    assert sorted(r["doc_id"] for r in rows) == [1, 2, 3, 4, 5, 6]
    assert len(split_ids) == 2, "both oversized candidates must split via the MLlib path"
    assert max(r["cluster_id"] for r in rows) > 2


def test_split_respects_min_docs_guard(spark, corpus, fitted):
    vecs, tfidf = fitted
    assignments = corpus.select("doc_id", "cluster_id")
    cfg = RefineConfig(coherence_threshold=0.9, k_range=(2,), min_docs=5, top_m=3,
                       lda_search_iter=5, lda_final_iter=10)
    out, split_ids = split_low_coherence_clusters(
        vecs.select("doc_id", "tf"), tfidf, assignments, n_docs=6, cfg=cfg
    )
    # no cluster reaches 5 docs except none → only clusters ≥5 split; cluster 2 has 4
    assert split_ids == []
    assert out.count() == 6


def test_gibbs_split_separates_mixed_cluster():
    """The local Gibbs LDA fit splits the fixture's mixed cluster (docs
    3,4 finance vs 5,6 health) in two. The splitter group function runs
    in-process, as it would inside an executor task."""

    rows = []
    for doc_id, text, cid in CORPUS:
        if cid != 2:
            continue
        for term in text.split():
            rows.append({"cluster_id": 2, "base_id": 100, "doc_id": doc_id, "term": term, "tf": 1})
    pdf = pd.DataFrame(rows)
    cfg = RefineConfig(
        coherence_threshold=0.9, k_range=(2,), min_docs=3, top_m=3,
        lda_search_iter=20, lda_final_iter=50,
    )
    split = _make_group_splitter(cfg)

    out = split(pdf)
    parts = {frozenset(int(d) for d in g["doc_id"]) for _, g in out.groupby("cluster_id")}
    assert len(parts) == 2, parts


def test_merge_identical_clusters(spark, fitted):
    _, tfidf = fitted
    # split the corpus so clusters 1/2 have identical term distributions:
    # docs 1,2 are energy-themed; assign each to its own cluster → their
    # centroids are not identical, so use a synthetic duplicate assignment
    a = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 3), (4, 3), (5, 3), (6, 3)], schema="doc_id long, cluster_id int"
    )
    # clusters 1 and 2 share the terms energy/power/battery → cosine high
    merged = merge_similar_clusters(tfidf, a, threshold=0.1)
    rows = {r["doc_id"]: r["cluster_id"] for r in merged.collect()}
    assert rows[1] == rows[2], "energy docs should merge"
    assert len(rows) == 6


def test_merge_threshold_1_is_identity(spark, fitted):
    _, tfidf = fitted
    a = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 2), (4, 2), (5, 2), (6, 2)], schema="doc_id long, cluster_id int"
    )
    merged = merge_similar_clusters(tfidf, a, threshold=1.0)
    before = {(r["doc_id"], r["cluster_id"]) for r in a.collect()}
    after = {(r["doc_id"], r["cluster_id"]) for r in merged.collect()}
    assert before == after
