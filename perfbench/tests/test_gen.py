"""The input generator is deterministic per seed."""

import hashlib
import os

import pyarrow.parquet as pq

import gen


def _digests(d: str) -> dict[str, str]:
    return {
        f: hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest()
        for f in sorted(os.listdir(d))
    }


def test_same_seed_gives_identical_files(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    pa_ = gen.write_inputs(a, seed=7, n_docs=400, n_vecs=300)
    pb = gen.write_inputs(b, seed=7, n_docs=400, n_vecs=300)
    gen.write_inputs(c, seed=8, n_docs=400, n_vecs=300)
    assert _digests(a) == _digests(b)
    assert pa_ == pb
    assert _digests(a)["documents.parquet"] != _digests(c)["documents.parquet"]
    assert _digests(a)["embeddings.parquet"] != _digests(c)["embeddings.parquet"]


def test_tables_have_the_layout_load_table_reads(tmp_path):
    props = gen.write_inputs(str(tmp_path), seed=1, n_docs=500, n_vecs=200)
    docs = pq.ParquetFile(tmp_path / "documents.parquet")
    emb = pq.ParquetFile(tmp_path / "embeddings.parquet")
    assert docs.schema_arrow.names == ["doc_id", "text", "lang", "source", "n_chars"]
    assert emb.schema_arrow.names == ["vec_id", "embedding", "label"]
    assert (docs.metadata.num_rows, emb.metadata.num_rows) == (500, 200)
    t = docs.read().to_pydict()
    assert t["n_chars"] == [len(x) for x in t["text"]]
    assert props["docs"] == 500 and props["embeddings"] == 200 and props["dim"] == 64
    assert 0 < props["exact_dup_share"] < props["near_dup_share"] < 0.2
    assert 0.1 < props["off_topic_share"] < 0.3
    assert props["vocabulary"] > 1000
