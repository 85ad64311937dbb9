"""Property-based tests (hypothesis) for the pure-Python operator cores:
the numpy EM topic model, the local coherence twin, the heuristic POS
tagger, and the deterministic mock LLM. No SparkSession needed — these are
the functions that run inside executors, so their invariants must hold for
arbitrary inputs, not just fixture data."""

from __future__ import annotations

import re

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from ml_training_data_pipeline_spark.functions.llm import (
    CLUSTER_LABELS,
    DOMAINS,
    LEVEL_1,
    LEVEL_2,
    MockLLMClient,
    label_prompt,
    topic_prompt,
)
from ml_training_data_pipeline_spark.operators.pos_keywords import HeuristicTagger
from ml_training_data_pipeline_spark.operators.refine import (
    _gibbs_topics,
    _local_prob_coherence,
    _probe_seed,
)

count_matrices = st.integers(2, 10).flatmap(
    lambda n: st.integers(3, 8).flatmap(
        lambda d: st.lists(
            st.lists(st.integers(0, 5), min_size=d, max_size=d),
            min_size=n,
            max_size=n,
        ).map(lambda rows: np.array(rows, dtype=float))
    )
)


@settings(deadline=None, max_examples=40)
@given(X=count_matrices, k=st.integers(2, 4), seed=st.integers(0, 2**31 - 1))
def test_gibbs_topics_deterministic_and_normalized(X, k, seed):
    theta1, phi1 = _gibbs_topics(X, k, seed, iters=5)
    theta2, phi2 = _gibbs_topics(X, k, seed, iters=5)
    assert np.allclose(theta1, theta2) and np.allclose(phi1, phi2)
    assert theta1.shape == (X.shape[0], k) and phi1.shape == (k, X.shape[1])
    assert np.all(theta1 >= 0) and np.all(phi1 > 0)
    assert np.allclose(theta1.sum(axis=1), 1.0)
    assert np.allclose(phi1.sum(axis=1), 1.0)


@settings(deadline=None, max_examples=40)
@given(X=count_matrices, seed=st.integers(0, 2**31 - 1))
def test_local_coherence_bounded(X, seed):
    rng = np.random.default_rng(seed)
    d = X.shape[1]
    phi = rng.dirichlet(np.ones(d), size=2)  # 2 arbitrary topics
    terms = np.array([f"t{i}" for i in range(d)])
    got = _local_prob_coherence(X > 0, phi, terms, top_m=3)
    # score(i,j) = D_ij/D_i − D_j/N with D_ij ≤ D_i and 0 < D_j ≤ N
    assert np.isnan(got) or -1.0 <= got <= 1.0


@settings(deadline=None, max_examples=30)
@given(
    seed=st.integers(0, 10**6),
    cid=st.integers(0, 10**6),
    k=st.integers(2, 10),
)
def test_probe_seed_in_numpy_range(seed, cid, k):
    s = _probe_seed(seed, cid, k)
    assert 0 <= s < 2**31 - 1
    assert s == _probe_seed(seed, cid, k)


@settings(deadline=None, max_examples=100)
@given(token=st.text(max_size=20))
def test_heuristic_tagger_total_and_deterministic(token):
    tagger = HeuristicTagger()
    tag = tagger.tag(token)
    assert tag in {"OTHER", "ADV", "ADJ", "VERB", "NOUN"}
    assert tag == tagger.tag(token)


@settings(deadline=None, max_examples=100)
@given(text=st.text(min_size=1, max_size=80).filter(lambda s: s.strip()))
def test_mock_llm_topic_response_parses(text):
    client = MockLLMClient()
    prompt = f"Extract Domain, Level 1 and Level 2 for: {text}"
    resp = client.complete(prompt)
    assert resp == client.complete(prompt)  # deterministic
    m = re.fullmatch(r"Domain: (.+) Level 1: (.+) Level 2: (.+)", resp)
    assert m, resp
    assert m.group(1) in DOMAINS
    assert m.group(2) in LEVEL_1
    assert m.group(3) in LEVEL_2


@settings(deadline=None, max_examples=50)
@given(kw=st.text(min_size=1, max_size=40).filter(lambda s: s.strip()))
def test_mock_llm_label_from_vocabulary(kw):
    client = MockLLMClient()
    assert client.complete(f"Suggest a short label for keywords: {kw}") in CLUSTER_LABELS


@settings(deadline=None, max_examples=60)
@given(
    w=st.integers(1, 8),
    h=st.integers(1, 8),
    gray=st.booleans(),
    seed=st.integers(0, 2**31 - 1),
)
def test_netpbm_roundtrip_identity(w, h, gray, seed):
    # encode(decode) must be the identity on the pixel array for every
    # image shape and mode the built-in codec supports.
    from ml_training_data_pipeline_spark.operators.multimodal import (
        DecodedImage,
        decode_image,
        encode_netpbm,
    )

    rng = np.random.default_rng(seed)
    ch = 1 if gray else 3
    pixels = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)
    img = DecodedImage(w, h, "L" if gray else "RGB", pixels)
    back = decode_image(encode_netpbm(img))
    assert (back.width, back.height, back.mode) == (w, h, img.mode)
    assert np.array_equal(back.pixels, pixels)


def test_prompt_builders_are_column_expressions(spark):
    # prompt builders must stay Column-typed (JVM-side concat, no UDF)
    from pyspark.sql import Column
    from pyspark.sql import functions as F

    assert isinstance(topic_prompt(F.lit("x")), Column)
    assert isinstance(label_prompt(F.lit("x")), Column)


# --- cross-engine tokenizer contract ------------------------------------------
# Every text oracle depends on Spark `tokenize` ≡ DuckDB TOKS_EXPR. The
# engines' regex dialects differ (Java \s includes \x0B, RE2's does not
# — the oracle classes spell \s\x0b explicitly), so the contract is
# pinned over an adversarial alphabet: mixed case, digits, punctuation,
# every ASCII whitespace incl. \x0b/\x0c, NBSP, zero-width space,
# combining-dot uppercase İ, ß, CJK, emoji.
_TOK_ALPHABET = (
    "abcXYZ019 \t\n\r\x0b\x0c\xa0​.,'\"-_İß中😀é"
)


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.text(alphabet=_TOK_ALPHABET, max_size=40), min_size=1, max_size=25
    )
)
def test_tokenizer_contract_spark_vs_duckdb(texts):
    import duckdb
    import pyspark.sql.functions as F

    from ml_training_data_pipeline_spark.functions.text import tokenize
    from ml_training_data_pipeline_spark.plans.oracle_fragments import TOKS_EXPR
    from ml_training_data_pipeline_spark.session import get_spark

    spark = get_spark("tests", shuffle_partitions=8)
    rows = [(i, s) for i, s in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string").select(
        "doc_id", tokenize(F.col("text")).alias("toks")
    )
    got = {r["doc_id"]: r["toks"] for r in df.collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE t(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    want = dict(
        con.execute(f"SELECT doc_id, {TOKS_EXPR.format(col='text')} FROM t").fetchall()
    )
    assert got == want


@settings(max_examples=8, deadline=None)
@given(st.lists(st.text(max_size=30), min_size=1, max_size=20))
def test_hash_bridge_contract_spark_vs_duckdb(texts):
    # the engine-portable 60-bit hash every dedup oracle leans on:
    # Spark conv(substr(md5(x),1,15),16,10) ≡ DuckDB
    # ('0x'||substr(md5(x),1,15))::BIGINT — over arbitrary unicode.
    import duckdb
    import pyspark.sql.functions as F

    from ml_training_data_pipeline_spark.session import get_spark

    spark = get_spark("tests", shuffle_partitions=8)
    rows = [(i, s) for i, s in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string").select(
        "doc_id",
        F.conv(F.substring(F.md5(F.col("text")), 1, 15), 16, 10)
        .cast("long")
        .alias("h"),
    )
    got = {r["doc_id"]: r["h"] for r in df.collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE t(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    want = dict(
        con.execute(
            "SELECT doc_id, ('0x'||substr(md5(text),1,15))::BIGINT FROM t"
        ).fetchall()
    )
    assert got == want


@settings(deadline=None, max_examples=60)
@given(
    n=st.integers(1, 500),
    sr=st.sampled_from([8000, 16000, 44100]),
    seed=st.integers(0, 2**31 - 1),
)
def test_wav_roundtrip_identity(n, sr, seed):
    # encode(decode) must be the identity on samples and rate for every
    # mono PCM16 signal the built-in codec supports.
    from ml_training_data_pipeline_spark.operators.multimodal import (
        DecodedAudio,
        decode_wav,
        encode_wav,
    )

    rng = np.random.default_rng(seed)
    samples = rng.integers(-32768, 32768, size=n, dtype=np.int16)
    back = decode_wav(encode_wav(DecodedAudio(sr, samples)))
    assert back.sample_rate == sr
    assert np.array_equal(back.samples, samples)


def test_wav_decoder_skips_unknown_chunks_and_rejects_garbage():
    import struct

    from ml_training_data_pipeline_spark.operators.multimodal import (
        DecodedAudio,
        decode_wav,
        encode_wav,
    )

    samples = np.arange(-5, 5, dtype=np.int16)
    blob = encode_wav(DecodedAudio(8000, samples))
    # splice a LIST chunk (odd-sized, so word-alignment is exercised)
    # between fmt and data
    head, fmt_and_rest = blob[:12], blob[12:]
    fmt_chunk, data_chunk = fmt_and_rest[:24], fmt_and_rest[24:]
    extra = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"
    spliced = head[:4] + struct.pack("<I", len(head) - 8 + len(fmt_and_rest) + len(extra)) + head[8:] + fmt_chunk + extra + data_chunk
    back = decode_wav(spliced)
    assert np.array_equal(back.samples, samples)
    import pytest as _pytest

    for garbage in (b"", b"RIFFxxxx", b"RIFF\x00\x00\x00\x00WAVE", blob[:20]):
        with _pytest.raises(ValueError):
            decode_wav(garbage)


@settings(deadline=None, max_examples=40)
@given(
    w=st.integers(1, 6).map(lambda x: x * 2),
    h=st.integers(1, 4).map(lambda x: x * 2),
    nf=st.integers(0, 5),
    seed=st.integers(0, 2**31 - 1),
)
def test_y4m_roundtrip_identity(w, h, nf, seed):
    # decode(encode) must reproduce every luma plane exactly for any
    # even-dimensioned C420 clip, including the zero-frame stream.
    from ml_training_data_pipeline_spark.operators.multimodal import (
        decode_y4m,
        encode_y4m,
    )

    rng = np.random.default_rng(seed)
    frames = [rng.integers(0, 256, size=(h, w), dtype=np.uint8) for _ in range(nf)]
    back = decode_y4m(encode_y4m(w, h, frames))
    assert (back.width, back.height, back.n_frames) == (w, h, nf)
    for a, b in zip(frames, back.luma):
        assert np.array_equal(a, b)


@settings(deadline=None, max_examples=20)
@given(
    st.lists(
        st.sampled_from(
            ["hello", "<b>", "</b>", "<script>", "</script>",
             "plain", "<div class='x'>", "a < b", "x>y"]
        ),
        min_size=1,
        max_size=12,
    )
)
def test_strip_html_never_leaves_a_tag(pieces):
    # whatever mix of tags/text goes in (entity-free — entities
    # legitimately unescape to literal <...> TEXT, by design), the output
    # must contain no live tag (no '<' followed by a letter or '/').
    import re

    import pyspark.sql.functions as F

    from ml_training_data_pipeline_spark.functions.text import strip_html
    from ml_training_data_pipeline_spark.session import get_spark

    spark = get_spark("tests", shuffle_partitions=4)
    text = " ".join(pieces)
    row = (
        spark.createDataFrame([(text,)], "text string")
        .select(strip_html(F.col("text")).alias("s"))
        .collect()
    )
    assert not re.search(r"<[a-zA-Z/]", row[0]["s"]), (text, row[0]["s"])


@settings(deadline=None, max_examples=30)
@given(st.integers(0, 10**9))
def test_ahash_halves_are_unsigned_32bit(media_id):
    from ml_training_data_pipeline_spark.operators.multimodal import (
        ahash_bits,
        synth_image_pixels,
    )

    h_lo, h_hi = ahash_bits(synth_image_pixels(media_id))
    assert 0 <= h_lo < 2**32 and 0 <= h_hi < 2**32


def test_bpe_fold_noop_when_pair_absent():
    # applying a merge whose pair never occurs must leave every
    # segmentation unchanged.
    from pyspark.sql import functions as F

    from ml_training_data_pipeline_spark.operators.bpe import apply_merges
    from ml_training_data_pipeline_spark.session import get_spark

    spark = get_spark("tests", shuffle_partitions=4)
    seg = spark.createDataFrame(
        [("ab", ["a", "b"]), ("cd", ["c", "d"])], "term string, syms array<string>"
    )
    out = apply_merges(seg, [(0, "x", "y", "xy", 1)])
    got = {r["term"]: r["syms"] for r in out.collect()}
    assert got == {"ab": ["a", "b"], "cd": ["c", "d"]}


_HTML_FRAGMENTS = [
    "<script>", "</script>", "<script src='x.js'>", "<script-loader>",
    "</script-loader>", "<style>", "</style>", "<style-guide>", "<b>", "</b>",
    "<p class='q'>", "payload", "var x = 1;", "hello world", "a < b", "x > y",
    "&lt;", "&gt;", "&amp;", "&quot;", "&#39;", " ", "\t", "\n", "\x0b", ".",
]


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from(_HTML_FRAGMENTS), min_size=0, max_size=12).map("".join),
        min_size=1,
        max_size=15,
    )
)
def test_strip_html_contract_spark_vs_duckdb(texts):
    # strip_html must produce byte-identical output on Spark (Java regex)
    # and DuckDB (RE2) for adversarial tag soup — balanced, unterminated,
    # and lookalike script/style tags, entities, and the \x0b whitespace
    # Java's \s includes but RE2's doesn't (the f13 oracle spells
    # [\s\x0b] for exactly that reason).
    import duckdb
    import pyspark.sql.functions as F

    from ml_training_data_pipeline_spark.functions.text import strip_html
    from ml_training_data_pipeline_spark.session import get_spark

    spark = get_spark("tests", shuffle_partitions=8)
    rows = [(i, s) for i, s in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string").select(
        "doc_id", strip_html(F.col("text")).alias("s")
    )
    got = {r["doc_id"]: r["s"] for r in df.collect()}
    chain = "text"
    for pat in (
        r"(?is)<script(>|[\s/][^>]*>).*?</script>",
        r"(?is)<style(>|[\s/][^>]*>).*?</style>",
        r"(?is)<script(>|[\s/][^>]*>).*$",
        r"(?is)<style(>|[\s/][^>]*>).*$",
        r"(?s)<[^>]+>",
    ):
        chain = f"regexp_replace({chain}, '{pat}', ' ', 'g')"
    for ent, ch in (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "''"), ("&amp;", "&")):
        chain = f"replace({chain}, '{ent}', '{ch}')"
    chain = rf"trim(regexp_replace({chain}, '[\s\x0b]+', ' ', 'g'))"
    con = duckdb.connect()
    con.execute("CREATE TABLE t(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    want = dict(con.execute(f"SELECT doc_id, {chain} FROM t").fetchall())
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.text(max_size=60),
        min_size=1,
        max_size=12,
    )
)
def test_quality_score_contract_spark_vs_duckdb(texts):
    # the x2/cur1 composite quality formula must agree cross-engine on
    # arbitrary unicode (cur8 BANDS on this value with strict <
    # thresholds, so a last-ulp divergence would flip a band). Uses the
    # shared quality_cte fragment — the same SQL cur8's oracle runs. Both
    # Spark forms are checked: the Column form and the staged
    # with_quality_score/quality_score_from_ratios path the queries run.
    import duckdb
    import pyspark.sql.functions as F

    from ml_training_data_pipeline_spark.functions.analysis import (
        quality_score,
        with_quality_score,
    )
    from ml_training_data_pipeline_spark.plans.oracle_fragments import (
        quality_cte,
        toks_cte,
    )
    from ml_training_data_pipeline_spark.session import get_spark

    spark = get_spark("tests", shuffle_partitions=8)
    rows = [(i, s) for i, s in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string").select(
        "doc_id", "text", quality_score(F.col("text")).alias("q")
    )
    df = with_quality_score(df, "q_staged")
    got = {r["doc_id"]: (r["q"], r["q_staged"]) for r in df.collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = dict(
        con.execute(
            f"WITH {toks_cte()}, {quality_cte()} SELECT doc_id, quality_score FROM qual"
        ).fetchall()
    )
    assert got == {i: (q, q) for i, q in want.items()}


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.lists(
            st.sampled_from(
                ["the", "and", "der", "und", "le", "la", "el", "los", "o", "не",
                 "hello", "mundo", "welt", "monde", "x1", "", "  ", "zz"]
            ),
            min_size=0,
            max_size=10,
        ).map(" ".join),
        min_size=1,
        max_size=12,
    )
)
def test_langid_and_fingerprint_contract_spark_vs_duckdb(texts):
    # detect_language's argmax-with-tie-break and fingerprint's
    # md5-of-joined-tokens must agree cross-engine — x3/x23 (confusion
    # audit) and d1/x27/cur8 (survivor policy) all key on them. The staged
    # forms the queries run (with_language and with_fingerprint_pair over
    # one shared token array) are checked against the same DuckDB values.
    import duckdb
    import pyspark.sql.functions as F

    from ml_training_data_pipeline_spark.functions.analysis import (
        detect_language,
        fingerprint,
        with_fingerprint_pair,
        with_language,
        with_token_stats,
    )
    from ml_training_data_pipeline_spark.plans.oracle_fragments import toks_cte
    from ml_training_data_pipeline_spark.plans.queries_text import _langid_oracle
    from ml_training_data_pipeline_spark.session import get_spark

    spark = get_spark("tests", shuffle_partitions=8)
    rows = [(i, s) for i, s in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string").select(
        "doc_id",
        "text",
        detect_language(F.col("text")).alias("lang"),
        fingerprint(F.col("text")).alias("fp"),
    )
    staged = with_token_stats(df, keep_tokens=True)
    staged = with_fingerprint_pair(with_language(staged), "fpp", "_qs_toks")
    got = {
        r["doc_id"]: (r["lang"], r["fp"], r["lang_detected"], (r["fpp"]["h"], r["fpp"]["l"]))
        for r in staged.collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want_lang = dict(
        con.execute(
            f"SELECT doc_id, lang_detected FROM ({_langid_oracle()})"
        ).fetchall()
    )
    # coalesce: DuckDB array_to_string([]) is NULL while Spark concat_ws
    # is '' — zero-token docs must fingerprint identically (md5(''))
    want_fp = dict(
        con.execute(
            f"WITH {toks_cte()} SELECT doc_id, "
            f"md5(coalesce(array_to_string(toks, ' '), '')) FROM toks"
        ).fetchall()
    )
    for i, (lang, fp, staged_lang, fpp) in got.items():
        assert lang == staged_lang == want_lang[i], (i, lang, staged_lang, want_lang[i])
        assert fp == want_fp[i], (i, fp, want_fp[i])
        # the pair is md5 hex chars 1-15 and 16-30 read as two longs
        assert fpp == (int(want_fp[i][:15], 16), int(want_fp[i][15:30], 16)), (i, fpp, want_fp[i])


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.lists(
            st.sampled_from(
                ["contact bob.smith+x@corp.example.com now", "call 555-123-4567",
                 "or 555.987.6543!", "not-a-phone 12-34", "a@b", "x@y.zz",
                 "word", "123", "...", "\x0b", "üñï", " ", "<b>t</b>"]
            ),
            min_size=0,
            max_size=8,
        ).map(" ".join),
        min_size=1,
        max_size=10,
    )
)
def test_subword_and_pii_contract_spark_vs_duckdb(texts):
    # the x6 pretokenizer pattern and x10's email/phone redaction chain
    # must count and rewrite identically cross-engine — all three
    # patterns are deliberately lookaround-free ASCII classes, and this
    # pins that property against future edits.
    import duckdb
    import pyspark.sql.functions as F

    from ml_training_data_pipeline_spark.plans.queries_text import (
        _EMAIL_RE,
        _PHONE_RE,
        _SUBWORD_PATTERN,
    )
    from ml_training_data_pipeline_spark.session import get_spark

    spark = get_spark("tests", shuffle_partitions=8)
    rows = [(i, s) for i, s in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string").select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_SUBWORD_PATTERN), 0)).alias("n_sub"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_EMAIL_RE), 0)).alias("n_email"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_PHONE_RE), 0)).alias("n_phone"),
        F.md5(
            F.regexp_replace(
                F.regexp_replace(F.col("text"), _EMAIL_RE, "[EMAIL]"),
                _PHONE_RE,
                "[PHONE]",
            )
        ).alias("fp"),
    )
    got = {r["doc_id"]: (r["n_sub"], r["n_email"], r["n_phone"], r["fp"]) for r in df.collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE t(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    want = {
        r[0]: (r[1], r[2], r[3], r[4])
        for r in con.execute(
            f"""SELECT doc_id,
                 len(regexp_extract_all(text, '{_SUBWORD_PATTERN.replace("'", "''")}')),
                 len(regexp_extract_all(text, '{_EMAIL_RE}')),
                 len(regexp_extract_all(text, '{_PHONE_RE}')),
                 md5(regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '[EMAIL]', 'g'),
                                    '{_PHONE_RE}', '[PHONE]', 'g'))
               FROM t"""
        ).fetchall()
    }
    assert got == want
