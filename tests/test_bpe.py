"""BPE trainer invariants (v10 is rows-only — these tests ARE its
correctness contract): the classic textbook corpus, merge-fold
semantics, and partitioning determinism."""

from __future__ import annotations

from pyspark.sql import functions as F

from ml_training_data_pipeline_spark.io.sources import load_table
from ml_training_data_pipeline_spark.operators.bpe import (
    apply_merges,
    encode_token_counts,
    train_bpe,
    vocab_symbols,
)
from tests.conftest import SF_DIR


def _classic_docs(spark):
    return spark.createDataFrame(
        [
            (
                1,
                "low low low low low lower lower newest newest newest "
                "newest newest newest widest widest widest",
            )
        ],
        "doc_id long, text string",
    )


def test_bpe_learns_textbook_merges(spark):
    # Sennrich et al.'s worked example: es, est, lo, low, ew, ewest.
    merges, state = train_bpe(_classic_docs(spark), n_merges=6)
    assert [(m[1], m[2], m[3]) for m in merges] == [
        ("e", "s", "es"),
        ("es", "t", "est"),
        ("l", "o", "lo"),
        ("lo", "w", "low"),
        ("e", "w", "ew"),
        ("ew", "est", "ewest"),
    ]
    assert [m[4] for m in merges] == [9, 9, 7, 7, 6, 6]
    seg = {r["term"]: r["syms"] for r in state.collect()}
    assert seg["low"] == ["low"]
    assert seg["newest"] == ["n", "ewest"]


def test_bpe_merge_is_left_to_right_non_overlapping(spark):
    # 'aaaa' under merge (a,a) must become [aa, aa] — greedy
    # left-to-right, the overlapping middle pair never fires.
    docs = spark.createDataFrame([(1, "aaaa aaa")], "doc_id long, text string")
    merges, state = train_bpe(docs, n_merges=1)
    assert (merges[0][1], merges[0][2]) == ("a", "a")
    seg = {r["term"]: r["syms"] for r in state.collect()}
    assert seg["aaaa"] == ["aa", "aa"]
    assert seg["aaa"] == ["aa", "a"]


def test_bpe_rules_invariant_to_partitioning(spark):
    docs = load_table(spark, SF_DIR, "documents").limit(200)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        got = []
        for n in ("3", "17"):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            merges, _ = train_bpe(docs, n_merges=5)
            got.append(merges)
        assert got[0] == got[1], "merge rules vary with partitioning"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def test_symbol_split_is_per_codepoint(spark):
    # the canonical tokenizer only emits ASCII terms, but the symbol
    # split itself must stay codepoint-safe if a custom tokenizer feeds
    # unicode terms in: one symbol per character, no byte shearing.
    row = (
        spark.createDataFrame([("héllo",)], "term string")
        .select(F.expr("split(term, '(?!^)(?=.)')").alias("syms"))
        .collect()
    )
    assert row[0]["syms"] == ["h", "é", "l", "l", "o"]


def test_train_serve_roundtrip_segmentation_identical(spark):
    # applying the learned rules through apply_merges must reproduce the
    # trainer's own final segmentation exactly (same fold, same order).
    docs = _classic_docs(spark)
    merges, state = train_bpe(docs, n_merges=6)
    served = apply_merges(vocab_symbols(docs), merges)
    a = {r["term"]: r["syms"] for r in state.collect()}
    b = {r["term"]: r["syms"] for r in served.collect()}
    assert a == b


def test_encode_token_counts_compresses(spark):
    # subword count must be <= char count, and merged terms must show
    # real compression on the classic corpus.
    docs = _classic_docs(spark)
    merges, _ = train_bpe(docs, n_merges=6)
    row = encode_token_counts(docs, merges).collect()[0]
    assert row["n_subwords"] < row["n_chars_sym"]
    # low×5→[low]=1, lower×2→[low,e,r]=3, newest×6→[n,ewest]=2,
    # widest×3→[w,i,d,est]=4
    assert row["n_subwords"] == 5 * 1 + 2 * 3 + 6 * 2 + 3 * 4
