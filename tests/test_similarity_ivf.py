"""IVF ANN invariants: probing every cell reproduces exact brute force;
partial probing keeps recall high on the clustered synthetic embeddings."""

from __future__ import annotations

import inspect

import pytest
from pyspark.sql import functions as F

from ml_training_data_pipeline_spark.io.sources import load_table
from ml_training_data_pipeline_spark.operators.similarity import (
    brute_force_topk,
    ivf_assignments,
    ivf_probe_scored_all,
    ivf_probe_topk,
    ivf_topk,
    rank_topk,
)
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_DIR, "embeddings")


def _pairs(df) -> set[tuple[int, int]]:
    return {(r["query_id"], r["neighbor_id"]) for r in df.collect()}


def test_full_probe_equals_brute_force(spark, emb):
    queries = emb.where(F.col("vec_id") < 5)
    exact = brute_force_topk(emb, queries)
    full = ivf_topk(emb, queries, nlist=4, nprobe=4)
    assert _pairs(full) == _pairs(exact)
    # cosine values identical too, not just the id sets
    ev = {(r["query_id"], r["neighbor_id"]): r["cos_sim"] for r in exact.collect()}
    fv = {(r["query_id"], r["neighbor_id"]): r["cos_sim"] for r in full.collect()}
    assert ev == fv


def test_partial_probe_recall(spark, emb):
    queries = emb.where(F.col("vec_id") < 5)
    exact = _pairs(brute_force_topk(emb, queries))
    approx = _pairs(ivf_topk(emb, queries, nlist=8, nprobe=3))
    recall = len(approx & exact) / len(exact)
    # embeddings are generated around label centroids → cells align with
    # labels and most true neighbors share the query's probed cells
    assert recall >= 0.5, f"recall {recall:.2f}"


def test_ivf_rank_contract(spark, emb):
    out = ivf_topk(emb, emb.where(F.col("vec_id") < 3), nlist=4, nprobe=2)
    pdf = out.toPandas()
    assert set(pdf.columns) == {"query_id", "neighbor_id", "cos_sim", "rank"}
    for _, grp in pdf.groupby("query_id"):
        ranks = sorted(grp["rank"])
        assert ranks == list(range(1, len(ranks) + 1))
        assert (grp.sort_values("rank")["cos_sim"].diff().dropna() <= 1e-12).all()


def test_serving_default_is_measured_knee():
    # n15's sweep measured recall@5 = 0.88 at nprobe=8 (1.00 at 16) on a
    # 16-cell index; the serving default must embody that audit, not a
    # guess. A default drift here silently changes n5's output.
    assert inspect.signature(ivf_topk).parameters["nprobe"].default == 8
    assert inspect.signature(ivf_probe_topk).parameters["nprobe"].default == 8


def test_sweep_path_equals_serving_path(spark, emb):
    # the n15 score-once form (ivf_probe_scored_all filtered to
    # p <= nprobe, then ranked) must reproduce ivf_probe_topk exactly —
    # the sweep and the serving path may never drift apart.
    queries = emb.where(F.col("vec_id") < 5)
    centers, assigned = ivf_assignments(emb, nlist=8)
    assigned = assigned.localCheckpoint()
    scored_all = ivf_probe_scored_all(centers, assigned, emb, queries)
    for nprobe in (2, 5, 8):
        via_sweep = rank_topk(scored_all.where(F.col("p") <= nprobe).drop("p"))
        direct = ivf_probe_topk(centers, assigned, emb, queries, nprobe=nprobe)
        a = {tuple(r) for r in via_sweep.collect()}
        b = {tuple(r) for r in direct.collect()}
        assert a == b, f"nprobe={nprobe}: sweep path diverged from serving path"
