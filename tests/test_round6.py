"""Round-6 additions: pointer-doubling connected components (chain graphs
+ explicit non-convergence), the lsh_bands_from_wide partial-band fix, and
the SimHash signature plan shape (no bit-explode, no hash join)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ml_training_data_pipeline_spark.io.sources import load_table
from ml_training_data_pipeline_spark.operators.dedup import (
    connected_components,
    lsh_bands,
    lsh_bands_from_wide,
    minhash_signatures,
    minhash_wide,
    simhash,
    simhash_banded_near_dups,
)
from ml_training_data_pipeline_spark.operators.tfidf import doc_tokens, term_counts
from ml_training_data_pipeline_spark.operators.vectorize import vectorize_dfm
from tests.conftest import SF_DIR, explain_str


def test_components_converge_on_long_chain(spark):
    # 1000-node path graph: diameter 999. Naive min-label propagation
    # needs ~999 rounds; pointer doubling must land inside max_iter=25.
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1000)], schema="doc_a long, doc_b long"
    )
    out = connected_components(edges)
    comps = out.agg(
        F.countDistinct("component_id").alias("k"),
        F.min("component_id").alias("mn"),
        F.count("*").alias("n"),
    ).collect()[0]
    assert (comps["k"], comps["mn"], comps["n"]) == (1, 0, 1001)


def test_components_nonconvergence_raises(spark):
    # a chain that cannot finish in one round must raise, not silently
    # return split components (the former failure mode: multiple
    # survivors per true dup group with no error signal).
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], schema="doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=1)


def test_wide_bands_emit_trailing_partial_band(spark):
    # num_hashes=5, rows_per_band=2 → bands (m0,m1) (m2,m3) (m4): the wide
    # projection must agree with the long-form collect_list banding,
    # including the final shorter band (dropping it shrinks LSH recall).
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "alpha beta gamma delta epsilon eta"),
         (3, "one two three four five six seven")],
        schema="doc_id long, text string",
    )
    from ml_training_data_pipeline_spark.operators.dedup import doc_shingles

    sh = doc_shingles(docs)
    wide = lsh_bands_from_wide(minhash_wide(sh, num_hashes=5), rows_per_band=2)
    long = lsh_bands(minhash_signatures(sh, num_hashes=5))
    a = {(r["doc_id"], r["band"], r["band_sig"]) for r in wide.collect()}
    b = {(r["doc_id"], r["band"], r["band_sig"]) for r in long.collect()}
    assert a == b
    assert {band for (_, band, _) in a} == {0, 1, 2}


def test_simhash_full_64_bit_width_builds_and_runs(spark):
    # regression: the bit-63 weight must come from a JVM shiftleft — a
    # python-int literal (1 << 63) overflows LongType at plan build.
    docs = spark.createDataFrame(
        [(1, "alpha beta beta"), (2, "gamma alpha")], schema="doc_id long, text string"
    )
    rows = simhash(docs, bits=64).collect()
    assert len(rows) == 2
    assert all(isinstance(r["simhash"], int) for r in rows)


def test_vectorize_dfm_keeps_zero_vector_docs(spark):
    # a doc whose every term fell out of the pinned vocabulary must stay
    # in the vectorized state as a zero vector (dfm_match semantics), not
    # silently vanish from the KMeans/phase-1 corpus.
    dfm = spark.createDataFrame(
        [(1, "alpha", 2), (1, "beta", 1), (2, "alpha", 1)],
        schema="doc_id long, term string, tf long",
    )
    universe = spark.createDataFrame([(1,), (2,), (3,)], schema="doc_id long")
    _, vecs = vectorize_dfm(dfm, ["alpha", "beta"], doc_ids=universe)
    rows = {r["doc_id"]: r["tf"] for r in vecs.collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[3].numNonzeros() == 0
    assert rows[1].toArray().tolist() == [2.0, 1.0]
    # without the universe, the legacy contract (present docs only) holds
    _, vecs2 = vectorize_dfm(dfm, ["alpha", "beta"])
    assert {r["doc_id"] for r in vecs2.collect()} == {1, 2}


def test_banded_simhash_complete_vs_brute_force(spark):
    # empirical completeness: with bands = max_hamming + 1, the banded
    # equi-join must find EXACTLY the pairs an all-pairs hamming filter
    # finds — checked on 60 real signatures (pigeonhole guarantee, not a
    # sample of it).
    docs = load_table(spark, SF_DIR, "documents").limit(60)
    sim = simhash(docs, bits=60)
    rows = sim.collect()
    sigs = {r["doc_id"]: r["simhash"] for r in rows}
    ids = sorted(sigs)
    expected = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    got = {
        (r["doc_a"], r["doc_b"])
        for r in simhash_banded_near_dups(sim).collect()
    }
    assert got == expected


def test_simhash_plan_has_no_bit_explode_and_no_join(spark):
    # the per-bit contribution sums are aggregate expressions over one row
    # per (doc, term): no Generate beyond tokenization's own explodes (a
    # sequence(0, bits-1) explode is a bits× row inflation through the
    # first shuffle), and no join (the term hash is computed inline).
    docs = spark.createDataFrame(
        [(1, "alpha beta beta"), (2, "gamma alpha")], schema="doc_id long, text string"
    )
    sig_plan = explain_str(spark, simhash(docs, bits=60))
    base_plan = explain_str(spark, term_counts(doc_tokens(docs)))
    assert sig_plan.count("Generate") == base_plan.count("Generate"), sig_plan
    for op in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert op not in sig_plan, sig_plan
