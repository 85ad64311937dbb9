"""Round-3 behavior tests: the coherent-cluster probe gate
(02_build_models.R:543-547), grouped applyInPandas splitting, disjoint
merge-component enumeration, bounded-concurrency LLM transport, the spaCy
tagger hook, and EP3 persisted-state parity."""

from __future__ import annotations

import sys
import threading
import time
import types

import pandas as pd
import pytest

from ml_training_data_pipeline_spark.functions.llm import (
    CLUSTER_LABELS,
    HTTPLLMClient,
    enrich_documents,
)
from ml_training_data_pipeline_spark.io.sources import load_table
from ml_training_data_pipeline_spark.operators.centroids import merge_components
from ml_training_data_pipeline_spark.operators.cluster import fit_kmeans
from ml_training_data_pipeline_spark.operators.pos_keywords import (
    HeuristicTagger,
    SpacyTagger,
    load_tagger,
)
from ml_training_data_pipeline_spark.operators.refine import (
    RefineConfig,
    _make_group_splitter,
)
from ml_training_data_pipeline_spark.operators.tfidf import tfidf_long
from ml_training_data_pipeline_spark.operators.vectorize import (
    fit_tfidf_vectorizer,
    tokens_frame,
    vectorize,
)
from ml_training_data_pipeline_spark.plans.queries_ml import (
    _phase1_cfg,
    ep2_build_models,
    ep3_phase1_pipeline,
    phase1_summary,
)
from ml_training_data_pipeline_spark.streaming.enrich import (
    enrich_stream_to_parquet,
    stream_table,
)
from tests.conftest import SF_DIR


def _two_theme_group(cluster_id: int = 1, base_id: int = 100) -> pd.DataFrame:
    """12 docs, two disjoint term themes: a/b/c (docs 1-6), x/y/z (7-12).
    Probe LDA at k=2 separates them; each topic's top terms then co-occur
    in all their docs but only half the cluster, so cluster-local
    coherence ≈ 1 - 6/12 = 0.5 per pair."""
    rows = []
    for d in range(1, 7):
        for t in ("alpha", "beta", "ceta"):
            rows.append((d, t, 1))
    for d in range(7, 13):
        for t in ("xray", "yankee", "zulu"):
            rows.append((d, t, 1))
    pdf = pd.DataFrame(rows, columns=["doc_id", "term", "tf"])
    pdf["cluster_id"] = cluster_id
    pdf["base_id"] = base_id
    return pdf


def _cfg(threshold: float) -> RefineConfig:
    return RefineConfig(
        coherence_threshold=threshold,
        k_range=(2,),
        min_docs=4,
        top_m=3,
        lda_search_iter=30,
        lda_final_iter=30,
    )


def test_probe_gate_keeps_coherent_cluster_unsplit():
    # best probe coherence (~0.5) clears the threshold → the reference
    # keeps the cluster whole ("Cluster is coherent. No split needed.")
    out = _make_group_splitter(_cfg(threshold=0.3))(_two_theme_group())
    assert sorted(out["doc_id"]) == list(range(1, 13))
    assert set(out["cluster_id"]) == {1}


def test_low_coherence_cluster_splits_along_themes():
    out = _make_group_splitter(_cfg(threshold=0.9))(_two_theme_group())
    assert sorted(out["doc_id"]) == list(range(1, 13))
    by_doc = dict(zip(out["doc_id"], out["cluster_id"]))
    theme_a = {by_doc[d] for d in range(1, 7)}
    theme_b = {by_doc[d] for d in range(7, 13)}
    # two minted ids in the cluster's reserved block, one per theme
    assert len(theme_a) == 1 and len(theme_b) == 1 and theme_a != theme_b
    assert theme_a | theme_b == {100, 101}


def test_group_splitter_respects_size_guards():
    pdf = _two_theme_group()
    small = pdf[pdf["doc_id"] <= 3]  # 3 docs < min_docs=4
    out = _make_group_splitter(_cfg(threshold=0.9))(small)
    assert set(out["cluster_id"]) == {1}


def test_merge_components_includes_disjoint_group(spark):
    # group 3 shares no nonzero index with 1/2 → no cosine pair row; it
    # must still appear in the mapping (mapped to itself).
    pairs = spark.createDataFrame(
        [(1, 2, 0.95)], schema="grp_a int, grp_b int, cos_sim double"
    )
    groups = spark.createDataFrame([(1,), (2,), (3,)], schema="grp int")
    mapping = {
        r["grp"]: r["new_grp"]
        for r in merge_components(pairs, 0.9, groups=groups).collect()
    }
    assert mapping == {1: 1, 2: 1, 3: 3}


class _TrackingClient(HTTPLLMClient):
    """Transport stub that records peak in-flight concurrency."""

    def __init__(self, **kw):
        super().__init__("http://unit.test/v1", "key", **kw)
        self._lock = threading.Lock()
        self._inflight = 0
        self.peak = 0
        self.calls = 0

    def _post(self, body: bytes) -> str:
        with self._lock:
            self._inflight += 1
            self.calls += 1
            self.peak = max(self.peak, self._inflight)
        time.sleep(0.02)
        with self._lock:
            self._inflight -= 1
        return "ok"


def test_llm_batch_concurrency_is_bounded():
    client = _TrackingClient(max_concurrency=3)
    out = client.complete_batch([f"p{i}" for i in range(20)])
    assert out == ["ok"] * 20
    assert 1 <= client.peak <= 3


class _FlakyClient(HTTPLLMClient):
    def __init__(self, fail_times: int, **kw):
        super().__init__("http://unit.test/v1", "key", backoff_base=0.0, **kw)
        self.fail_times = fail_times
        self.attempts = 0

    def _post(self, body: bytes) -> str:
        self.attempts += 1
        if self.attempts <= self.fail_times:
            raise OSError("transient")
        return "recovered"


def test_llm_retry_recovers_then_gives_up():
    ok = _FlakyClient(fail_times=2, retries=3)
    assert ok.complete("hello") == "recovered"
    assert ok.attempts == 3
    dead = _FlakyClient(fail_times=99, retries=3)
    with pytest.raises(RuntimeError, match="after 3 retries"):
        dead.complete("hello")
    assert dead.attempts == 3


def test_load_tagger_uses_spacy_when_configured(monkeypatch):
    class _FakeToken:
        pos_ = "NOUN"

    class _FakeDoc(list):
        pass

    class _FakeNlp:
        def __call__(self, text):
            return _FakeDoc([_FakeToken()])

    fake_spacy = types.ModuleType("spacy")
    fake_spacy.load = lambda name: _FakeNlp()
    monkeypatch.setitem(sys.modules, "spacy", fake_spacy)
    monkeypatch.setenv("MTDP_POS_MODEL", "en_core_web_sm")
    tagger = load_tagger()
    assert isinstance(tagger, SpacyTagger)
    assert tagger.tag("pipeline") == "NOUN"


def test_load_tagger_defaults_to_heuristic(monkeypatch):
    monkeypatch.delenv("MTDP_POS_MODEL", raising=False)
    assert isinstance(load_tagger(), HeuristicTagger)
    # configured but unloadable model → heuristic fallback, no raise
    monkeypatch.setenv("MTDP_POS_MODEL", "no_such_model")
    monkeypatch.setitem(sys.modules, "spacy", None)
    assert isinstance(load_tagger(), HeuristicTagger)


def test_ep3_matches_in_memory_run(spark):
    """The reloaded-refined EP3 summary equals the same pipeline run
    without the persistence round-trip (runPhase1Pipeline parity)."""
    persisted = ep3_phase1_pipeline(spark, SF_DIR).collect()

    docs = load_table(spark, SF_DIR, "documents")
    tokens = tokens_frame(docs)
    vec_model = fit_tfidf_vectorizer(tokens, vocab_size=500)
    vecs = vectorize(tokens, vec_model)
    res = fit_kmeans(vecs, k=6, seed=123)
    in_memory = phase1_summary(
        vecs.select("doc_id", "tf"), tfidf_long(docs), res.assignments, _phase1_cfg()
    ).collect()

    assert sorted(map(tuple, persisted), key=lambda t: t[0]) == sorted(
        map(tuple, in_memory), key=lambda t: t[0]
    )


def test_ep2_build_models_invariants(spark):
    """EP2 composite: hard-clustering summary over the POS-keyword DFM —
    every doc with keywords lands in exactly one labeled cluster."""
    out = ep2_build_models(spark, SF_DIR).collect()
    assert out, "summary must be non-empty"
    assert {c for r in out for c in (r["label"],)} <= set(CLUSTER_LABELS)
    sizes = [r["documents"] for r in out]
    assert all(s > 0 for s in sizes)
    # cluster ids are the compact renumbered 1..K
    ids = sorted(r["cluster_id"] for r in out)
    assert ids == list(range(1, len(ids) + 1))


def test_foreach_batch_enrichment_matches_batch(spark, tmp_path):
    """foreachBatch sink parity: streaming micro-batches through the same
    enrichment operator write exactly the batch result."""
    out_dir = str(tmp_path / "enriched")
    enrich_stream_to_parquet(stream_table(spark, SF_DIR, "documents"), out_dir)
    streamed = {
        tuple(r) for r in spark.read.parquet(out_dir).collect()
    }
    batch = {
        tuple(r) for r in enrich_documents(load_table(spark, SF_DIR, "documents")).collect()
    }
    assert streamed == batch
