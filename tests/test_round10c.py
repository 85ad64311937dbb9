"""Round-10 review fixes: the shared admission pipeline's same-id
contract (a delta doc re-ingested under an id the corpus already holds
must be REJECTED, not silently admitted through the a < b canonical-pair
filter) and the bounded PQ codebook training sample (the fit trains on a
deterministic smallest-hash prefix, never the whole corpus in one pandas
group, while the encode still covers every row)."""

from __future__ import annotations

from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from ml_training_data_pipeline_spark.io.sources import load_table
from ml_training_data_pipeline_spark.operators.dedup import (
    doc_shingles,
    lsh_admission_rejects,
    lsh_bands_from_wide,
    minhash_wide,
)
from ml_training_data_pipeline_spark.operators.similarity import pq_codebooks
from tests.conftest import SF_DIR


def _toy_corpus(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "an entirely different document about spark engines at scale"),
            (3, "completely novel text with no shingle overlap whatsoever here"),
        ],
        "doc_id long, text string",
    )


def test_admission_rejects_reingested_same_id(spark):
    docs = _toy_corpus(spark)
    sh = doc_shingles(docs).localCheckpoint()
    bands = lsh_bands_from_wide(minhash_wide(sh, num_hashes=8), rows_per_band=2)
    # corpus holds docs 1 and 2; the delta re-ingests doc 1 under its own
    # id and brings the novel doc 3
    delta = bands.where(F.col("doc_id").isin(1, 3)).select(
        F.col("doc_id").alias("delta_doc"), "band", "band_sig"
    )
    corpus = bands.where(F.col("doc_id").isin(1, 2)).select(
        F.col("doc_id").alias("corpus_doc"), "band", "band_sig"
    )
    rejected = {
        r.delta_doc
        for r in lsh_admission_rejects(delta, corpus, sh).collect()
    }
    assert 1 in rejected, "re-ingesting a standing doc under its own id must reject"
    assert 3 not in rejected, "a novel doc must still be admitted"


def test_pq_codebook_fit_trains_on_bounded_sample(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    n = emb.count()
    train_n = max(8, n // 4)  # strictly smaller than the corpus
    books, encoded = pq_codebooks(emb, m=16, ksub=8, seed=123, train_n=train_n)
    # the fit is bounded but the ENCODE covers every corpus row
    assert len(books) == 16 and all(len(b) <= 8 for b in books)
    enc = encoded.collect()
    assert len(enc) == 16 * n
    assert all(0 <= r.code < 8 for r in enc)
    # the sample is a deterministic hash prefix of vec_ids, so partitioning
    # cannot change which rows train — fitted books must be identical
    books2, _ = pq_codebooks(
        emb.repartition(7), m=16, ksub=8, seed=123, train_n=train_n
    )
    assert books == books2


def test_cur16_leakage_invariants(spark):
    rows = entry_mod.queries()["cur16_neardup_split_leakage"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        # leaked is a subset of the test split, token mass likewise
        assert 0 <= r.n_leaked <= r.n_test
        assert 0 <= r.leaked_tokens <= r.test_tokens
        assert abs(r.leak_rate - round(r.n_leaked / r.n_test, 6)) < 1e-9
        assert abs(
            r.leaked_token_share - round(r.leaked_tokens / r.test_tokens, 6)
        ) < 1e-9
    # the fixture plants near-dups across the parity split, so some must
    # cross the %10 split too
    assert sum(r.n_leaked for r in rows) > 0


def test_n20_health_bounds(spark):
    rows = entry_mod.queries()["n20_embedding_health"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.n_vecs > 0
        # fixture embeddings are unit-normalized — the normalization
        # contract the audit exists to check
        assert abs(r.mean_norm - 1.0) < 1e-6
        # mean of unit vectors has norm in [0, 1]
        assert 0.0 <= r.centroid_norm <= 1.0 + 1e-9
        assert -1.0 - 1e-9 <= r.cos_to_global <= 1.0 + 1e-9


def test_s20_mergeschema_backfill(spark):
    rows = {
        r.snap: r
        for r in entry_mod.queries()["s20_schema_evolution_read"](
            spark, SF_DIR
        ).collect()
    }
    assert set(rows) == {1, 2}
    # the old snapshot lacks `lang`: mergeSchema must backfill EVERY row
    # with NULL, and the new snapshot must carry real values
    assert rows[1].n_lang_null == rows[1].n_rows > 0
    assert rows[1].n_distinct_lang == 0
    assert rows[2].n_distinct_lang > 0
