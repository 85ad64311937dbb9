"""Text-function and TF-IDF queries (SURVEY.md §2.3-2.4 + text-analysis
scale extensions). All oracle-checkable: the tokenizer/TF-IDF formulas are
stated once in oracle_fragments.py and mirrored by functions/text.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import analysis
from ..functions.text import (
    ALL_STOPWORDS,
    clean_text,
    ngrams_up_to,
    remove_stopwords,
    tokenize,
)
from ..io.sources import load_table
from ..operators.materialize import materialize
from ..operators.tfidf import (
    corpus_size,
    doc_tokens,
    doc_top_terms,
    term_counts,
    tfidf_long,
    top_vocabulary_from_counts,
)
from ..operators.waterfill import capped_mixture, waterfill
from .oracle_fragments import (
    WATERFILL_CTES,
    capped_mixture_ctes,
    ngram_cte,
    stopword_list_sql,
    tfidf_cte,
    toks_cte,
    unigram_cte,
    waterfill_select,
)
from .registry import query


# --- F1-F7: clean_text composite --------------------------------------------
# Reference: 02_build_models.R:25-41 (lower, contractions, punct, numbers,
# whitespace). The oracle restates the identical regexp chain.
_CONTRACTION_SQL = (
    "regexp_replace(regexp_replace(regexp_replace(regexp_replace("
    "regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace("
    "lower(text),"
    " 'won''t', 'will not', 'g'),"
    " 'can''t', 'cannot', 'g'),"
    " 'n''t', ' not', 'g'),"
    " '''re', ' are', 'g'),"
    " '''ve', ' have', 'g'),"
    " '''ll', ' will', 'g'),"
    " '''d', ' would', 'g'),"
    " 'it''s', 'it is', 'g'),"
    " '''s', '', 'g')"
)

@query(
    "f1_clean_text",
    oracle=f"""
    SELECT doc_id,
           trim(regexp_replace(regexp_replace(regexp_replace(
             {_CONTRACTION_SQL},
             '[^\\s\x0ba-zA-Z0-9]', '', 'g'),
             '[0-9]+', '', 'g'),
             '[\\s\x0b]+', ' ', 'g')) AS cleaned_text
    FROM documents WHERE text IS NOT NULL
    """,
)
def f1_clean_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.where(F.col("text").isNotNull()).select(
        "doc_id", clean_text(F.col("text")).alias("cleaned_text")
    )


# --- F8: regex field extraction ----------------------------------------------
# Reference: str_extract lookarounds for Domain/Level_1/Level_2
# (01_extract_features.R:277-279) — capture groups; here over events.props
# JSON-ish strings, plus NULL-on-no-match semantics.
@query(
    "f8_regex_extract",
    oracle="""
    SELECT event_id,
           CAST(NULLIF(regexp_extract(props, '"k": ([0-9]+)', 1), '') AS INTEGER) AS k_value
    FROM events
    """,
)
def f8_regex_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.nullif(F.regexp_extract(F.col("props"), r'"k": ([0-9]+)', 1), F.lit("")).cast("int").alias("k_value"),
    )


# --- V1/V2/A7: token explosion + per-doc term counts -------------------------
# Reference: quanteda::dfm counts (02_build_models.R:163); count(document, word)
# (02_build_models.R:147-149).
@query(
    "v2_term_counts",
    oracle=f"""
    WITH {toks_cte()}, {unigram_cte()}
    SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term
    """,
)
def v2_term_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return term_counts(doc_tokens(docs))


# --- V3: TF-IDF long format (unigram) ----------------------------------------
# Reference: dfm_tfidf (02_build_models.R:165); formula defined in
# operators/tfidf.py and oracle_fragments.py identically.
@query(
    "v3_tfidf_unigram",
    oracle=f"""
    WITH {toks_cte()}, {unigram_cte()}, {tfidf_cte()}
    SELECT doc_id, term, tf, weight FROM tfidf
    """,
)
def v3_tfidf_unigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return tfidf_long(docs)


# --- V1+V3: TF-IDF over 1-3-grams --------------------------------------------
# Reference: tokens(ngrams=1:3) → dfm_tfidf (02_build_models.R:162-165).
@query(
    "v1_tfidf_ngram",
    oracle=f"""
    WITH {toks_cte()}, {ngram_cte()}, {tfidf_cte()}
    SELECT doc_id, term, tf, weight FROM tfidf
    """,
)
def v1_tfidf_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return tfidf_long(docs, ngram_max=3)


# --- V4: vocabulary reduction (top-N terms by TF-IDF mass) --------------------
# Reference: reduce_dfm(top_n=2000) (02_build_models.R:174-180).
@query(
    "v4_vocab_top2000",
    oracle=f"""
    WITH {toks_cte()}, {ngram_cte()},
    counts AS (
      SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term
    ),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM counts),
    totals AS (
      SELECT term,
             round(sum(tf) * ln(CAST(n.n_docs AS DOUBLE) / count(*)), 6) AS total_weight
      FROM counts CROSS JOIN n GROUP BY term, n.n_docs
    )
    SELECT term, total_weight, rank FROM (
      SELECT term, total_weight,
             row_number() OVER (ORDER BY total_weight DESC, term ASC) AS rank
      FROM totals
    ) WHERE rank <= 2000
    """,
)
def v4_vocab_top2000(spark: SparkSession, sf_dir: str) -> DataFrame:
    # single-pass ranking: Σ_d tf·idf = idf·Σ_d tf per term, so the
    # per-cell weight materialization + df join of the long DFM is
    # unnecessary for the vocabulary (see top_vocabulary_from_counts;
    # matches the reference's unrounded colSums, 02_build_models.R:174-180)
    docs = load_table(spark, sf_dir, "documents")
    counts = term_counts(doc_tokens(docs, ngram_max=3))
    return top_vocabulary_from_counts(counts, corpus_size(docs))


# --- V6/T-family: per-doc top-k TF-IDF terms ----------------------------------
# Reference: extract_summary top-10 by tf_idf (02_build_models.R:141-158).
@query(
    "v6_doc_top_terms",
    oracle=f"""
    WITH {toks_cte()}, {unigram_cte()}, {tfidf_cte()}
    SELECT doc_id, term, weight, rank FROM (
      SELECT doc_id, term, weight,
             row_number() OVER (PARTITION BY doc_id ORDER BY weight DESC, term ASC) AS rank
      FROM tfidf
    ) WHERE rank <= 10
    """,
)
def v6_doc_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return doc_top_terms(tfidf_long(docs))


# --- F6: stopword removal (duplicate-preserving) -------------------------------
# Reference: tm::removeWords + custom noise words (02_build_models.R:35-36).
@query(
    "f6_stopword_removal",
    oracle=f"""
    WITH {toks_cte()}
    SELECT doc_id,
           len(toks) AS n_tokens,
           len(list_filter(toks, x -> NOT list_contains({stopword_list_sql()}, x))) AS n_content_tokens
    FROM toks
    """,
)
def f6_stopword_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.where(F.col("text").isNotNull()).select(
        "doc_id", tokenize(F.col("text")).alias("toks")
    )
    return toked.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.size(remove_stopwords(F.col("toks"), ALL_STOPWORDS)).cast("long").alias("n_content_tokens"),
    )


# --- V5: POS-filtered keyword extraction ---------------------------------------
# Reference: extract_cleaned_text — clean → udpipe_annotate → keep
# NOUN/VERB → unique → comma-join (02_build_models.R:69-85; worker-local
# model load 02_test.R:44-58). Spark: mapInPandas with a lazy per-executor
# tagger; the deterministic heuristic tagger is a pure token→tag map, so
# the SAME rules are stated here as an ordered CASE expression.
def pos_keep_sql() -> str:
    """keep iff tag ∈ {NOUN, VERB}: pass the OTHER gate, and match neither
    the ADV nor the ADJ suffix rule (ADJ outranks VERB in the tagger, and
    VERB vs NOUN both survive the filter, so VERB_SUFFIXES doesn't appear).
    Asserted equivalent to the Python tagger in tests/test_pos_keywords.py."""
    from ..operators.pos_keywords import ADJ_SUFFIXES, ADV_SUFFIXES, CLOSED_CLASS

    closed = ", ".join(f"'{w}'" for w in sorted(CLOSED_CLASS))

    def any_suffix(sufs: tuple[str, ...]) -> str:
        return " OR ".join(f"x LIKE '%{s}'" for s in sufs)

    return (
        f"NOT list_contains([{closed}], x) AND length(x) >= 3 "
        f"AND regexp_matches(x, '^[a-z]+$') "
        f"AND NOT ({any_suffix(ADV_SUFFIXES)}) "
        f"AND NOT ({any_suffix(ADJ_SUFFIXES)})"
    )


def _pos_keywords_oracle() -> str:
    keep = pos_keep_sql()
    return f"""
    WITH {toks_cte()}
    SELECT doc_id,
           array_to_string(list_sort(list_distinct(
             list_filter(toks, x -> {keep}))), ', ') AS keywords
    FROM toks
    """


@query("v5_pos_keywords", oracle=_pos_keywords_oracle())
def v5_pos_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pos_keywords import extract_pos_keywords

    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    return extract_pos_keywords(docs)


# === Text-analysis scale extensions (BASELINE.json) ===========================

# --- X1: token/char counting ---------------------------------------------------
@query(
    "x1_token_stats",
    oracle=f"""
    WITH {toks_cte()}
    SELECT t.doc_id, len(t.toks) AS n_tokens, length(d.text) AS n_chars_raw
    FROM toks t JOIN documents d ON t.doc_id = d.doc_id
    """,
)
def x1_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.where(F.col("text").isNotNull()).select(
        "doc_id",
        analysis.token_count(F.col("text")).cast("long").alias("n_tokens"),
        analysis.char_count(F.col("text")).cast("long").alias("n_chars_raw"),
    )


# --- X2: quality scoring ---------------------------------------------------------
# length/punct/stopword ratios — the curation quality gate.
@query(
    "x2_quality_scores",
    oracle=f"""
    WITH {toks_cte()},
    stats AS (
      SELECT t.doc_id, d.text, t.toks,
             length(d.text) AS n_chars,
             length(regexp_replace(d.text, '[^\\s\x0ba-zA-Z0-9]', '', 'g')) AS n_alnum_chars,
             len(t.toks) AS n_toks,
             len(list_filter(t.toks, x -> list_contains({stopword_list_sql()}, x))) AS n_stop,
             list_sum(list_transform(t.toks, x -> length(x))) AS tok_chars
      FROM toks t JOIN documents d USING (doc_id)
    )
    SELECT doc_id,
      round(CASE WHEN n_chars > 0 THEN CAST(n_chars - n_alnum_chars AS DOUBLE) / n_chars ELSE 0.0 END, 6) AS punct_ratio,
      round(CASE WHEN n_toks > 0 THEN CAST(n_stop AS DOUBLE) / n_toks ELSE 0.0 END, 6) AS stopword_ratio,
      round(CASE WHEN n_toks > 0 THEN CAST(tok_chars AS DOUBLE) / n_toks ELSE 0.0 END, 6) AS mean_word_len,
      round(
        least(CASE WHEN n_toks > 0 THEN CAST(n_stop AS DOUBLE) / n_toks ELSE 0.0 END * 4, 1.0) * 0.4
        + (1.0 - least(CASE WHEN n_chars > 0 THEN CAST(n_chars - n_alnum_chars AS DOUBLE) / n_chars ELSE 0.0 END * 5, 1.0)) * 0.3
        + (CASE WHEN n_toks > 0 AND CAST(tok_chars AS DOUBLE) / n_toks BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END) * 0.3,
      6) AS quality_score
    FROM stats
    """,
)
def x2_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    # staged shared-tokenize form (see analysis.with_quality_ratios): the
    # single-select form evaluated tokenize 15x per row because lambda-
    # bound subtrees defeat subexpression elimination — 4.7x CPU on the
    # identical output (r16 measurement; bit-equality oracle-pinned).
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    scored = analysis.with_quality_ratios(docs.select("doc_id", "text"))
    sw, pr, mwl = F.col("_qs_sw"), F.col("_qs_pr"), F.col("_qs_mwl")
    return scored.select(
        "doc_id",
        F.round(pr, 6).alias("punct_ratio"),
        F.round(sw, 6).alias("stopword_ratio"),
        F.round(mwl, 6).alias("mean_word_len"),
        analysis.quality_score_from_ratios(sw, pr, mwl).alias("quality_score"),
    )


# --- X3: language identification ---------------------------------------------
# Marker-word heuristic; argmax with alphabetical tie-break, 'und' on zero.
def _langid_oracle() -> str:
    score_cols = []
    for lang in sorted(analysis.LANG_MARKERS):
        markers = ", ".join(f"'{m}'" for m in analysis.LANG_MARKERS[lang])
        score_cols.append(
            f"len(list_filter(toks, x -> list_contains([{markers}], x))) AS s_{lang}"
        )
    langs = sorted(analysis.LANG_MARKERS)
    greatest = "greatest(" + ", ".join(f"s_{lg}" for lg in langs) + ")"
    case = "CASE WHEN " + greatest + " = 0 THEN 'und' " + " ".join(
        f"WHEN s_{lg} = {greatest} THEN '{lg}'" for lg in langs
    ) + " END"
    return f"""
    WITH {toks_cte()},
    scores AS (SELECT doc_id, {', '.join(score_cols)} FROM toks)
    SELECT doc_id, {case} AS lang_detected FROM scores
    """


@query("x3_language_id", oracle=_langid_oracle())
def x3_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    # staged: one tokenize shared by the 5 language-score passes (the
    # single-column detect_language re-tokenizes per language)
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    toked = docs.select("doc_id", tokenize(F.col("text")).alias("_qs_toks"))
    return analysis.with_language(toked).select("doc_id", "lang_detected")


# --- X4: document fingerprint ---------------------------------------------------
@query(
    "x4_fingerprint",
    oracle=f"""
    WITH {toks_cte()}
    SELECT doc_id, md5(coalesce(array_to_string(toks, ' '), '')) AS fp FROM toks
    """,
)
def x4_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    return docs.select("doc_id", analysis.fingerprint(F.col("text")).alias("fp"))


# --- X6: BPE-ish regex subword counting ------------------------------------------
# The second token-counting mode beside whitespace (X1): a GPT-2-style
# pretokenizer pattern — letter runs, digit runs, punctuation runs — as a
# single regexp_extract_all, engine-portable (no lookarounds, so Java
# regex and DuckDB's RE2 agree). A real BPE merges within these
# pretokens; the pretoken count is the standard cheap token-budget proxy.
# \x0b spelled explicitly: Java's \s contains it, RE2's does not, and the
# SAME literal pattern runs on both engines (redundant for Java, decisive
# for RE2 — see oracle_fragments.TOKS_EXPR note).
_SUBWORD_PATTERN = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s\x0b]+"


@query(
    "x6_subword_counts",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_SUBWORD_PATTERN.replace("'", "''")}')) AS BIGINT) AS n_subwords
    FROM documents WHERE text IS NOT NULL
    """,
)
def x6_subword_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_SUBWORD_PATTERN), 0)).cast("long").alias("n_subwords"),
    )


# --- CUR1: end-to-end corpus curation (the 100-TB pipeline's daily job) ----------
# Composes the curation gates a training-data pipeline actually runs over
# raw documents, in one plan: exact-dedup survivorship (X4/D1 fingerprint,
# min-doc_id survivor), detected-language gate (X3), token-count bounds
# (X1) and composite quality threshold (X2). Every stage is the same
# column algebra the standalone queries check, so the whole composite
# stays value-checkable.
def _curation_gated_ctes() -> str:
    """Shared oracle prefix: `toks` → `stats` → `gated(doc_id, source,
    n_toks, quality_score, lang_detected, keep_id)` — cur1 selects the
    survivors, ep4 keeps composing (quota → shards) on top."""
    langs = sorted(analysis.LANG_MARKERS)
    score_cols = ", ".join(
        "len(list_filter(toks, x -> list_contains(["
        + ", ".join(f"'{m}'" for m in analysis.LANG_MARKERS[lang])
        + f"], x))) AS s_{lang}"
        for lang in langs
    )
    greatest = "greatest(" + ", ".join(f"s_{lg}" for lg in langs) + ")"
    lang_case = (
        "CASE WHEN " + greatest + " = 0 THEN 'und' "
        + " ".join(f"WHEN s_{lg} = {greatest} THEN '{lg}'" for lg in langs)
        + " END"
    )
    quality = (
        "least(CASE WHEN n_toks > 0 THEN CAST(n_stop AS DOUBLE) / n_toks ELSE 0.0 END * 4, 1.0) * 0.4"
        " + (1.0 - least(CASE WHEN n_chars > 0 THEN CAST(n_chars - n_alnum_chars AS DOUBLE) / n_chars ELSE 0.0 END * 5, 1.0)) * 0.3"
        " + (CASE WHEN n_toks > 0 AND CAST(tok_chars AS DOUBLE) / n_toks BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END) * 0.3"
    )
    return f"""
    WITH {toks_cte()},
    stats AS (
      SELECT t.doc_id, d.source, t.toks,
             length(d.text) AS n_chars,
             length(regexp_replace(d.text, '[^\\s\x0ba-zA-Z0-9]', '', 'g')) AS n_alnum_chars,
             len(t.toks) AS n_toks,
             len(list_filter(t.toks, x -> list_contains({stopword_list_sql()}, x))) AS n_stop,
             list_sum(list_transform(t.toks, x -> length(x))) AS tok_chars,
             md5(coalesce(array_to_string(t.toks, ' '), '')) AS fp,
             {score_cols}
      FROM toks t JOIN documents d USING (doc_id)
    ),
    gated AS (
      SELECT doc_id, source, n_toks,
             round({quality}, 6) AS quality_score,
             {lang_case} AS lang_detected,
             min(doc_id) OVER (PARTITION BY fp) AS keep_id
      FROM stats
    )"""


def _curation_oracle() -> str:
    return (
        _curation_gated_ctes()
        + """
    SELECT doc_id, CAST(n_toks AS BIGINT) AS n_tokens, quality_score
    FROM gated
    WHERE doc_id = keep_id AND lang_detected = 'en'
      AND n_toks BETWEEN 5 AND 1000 AND quality_score >= 0.5
    """
    )


def _staged_curation_scored(docs: DataFrame, n_toks_name: str, extra_cols: tuple = ()) -> DataFrame:
    """The cur1/ep4 scored frame `(doc_id, *extra, n_toks, quality_score,
    lang_detected, fp)` via the staged shared-tokenize path: ONE tokenize
    feeds the count, the quality stats, the 5 language scores and the
    fingerprint (the single-select form carried ~12 copies; r16)."""
    base = docs.select("doc_id", *extra_cols, "text")
    st = analysis.with_quality_ratios(base, keep_tokens=True)
    st = analysis.with_language(st)
    return st.select(
        "doc_id",
        *extra_cols,
        F.col("_qs_n_toks").cast("long").alias(n_toks_name),
        analysis.quality_score_from_ratios(
            F.col("_qs_sw"), F.col("_qs_pr"), F.col("_qs_mwl")
        ).alias("quality_score"),
        "lang_detected",
        F.md5(F.array_join(F.col("_qs_toks"), " ")).alias("fp"),
    )


@query("cur1_corpus_curation", oracle=_curation_oracle())
def cur1_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    scored = _staged_curation_scored(docs, "n_tokens")
    # dedup survivorship: min doc_id per fingerprint (partitioned window —
    # shuffles once on fp, the same key an exact-dedup groupBy would use)
    w = Window.partitionBy("fp")
    return (
        scored.withColumn("keep_id", F.min("doc_id").over(w))
        .where(
            (F.col("doc_id") == F.col("keep_id"))
            & (F.col("lang_detected") == "en")
            & F.col("n_tokens").between(5, 1000)
            & (F.col("quality_score") >= 0.5)
        )
        .select("doc_id", "n_tokens", "quality_score")
    )


# --- MIX1: stratified source-mixing sample ----------------------------------------
# The training-mix step: each source contributes at a configured rate
# (upweight rare/high-quality sources, downsample the crawl firehose).
# Deterministic hash-gate per row — the same md5-nibble primitive as P3,
# so the sample is reproducible, engine-portable, and join-free to
# audit. Rates here derive from the source's numeric suffix (rate16 =
# 3 + suffix mod 10 sixteenths), standing in for a real mix config; at
# scale the rate table is a broadcast dimension instead of an expression.
@query(
    "mix1_source_mixing_sample",
    oracle="""
    SELECT doc_id, source, lang
    FROM documents
    WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || source), 1, 1))::INT
          < 3 + CAST(regexp_extract(source, '([0-9]+)$', 1) AS INT) % 10
    """,
)
def mix1_source_mixing_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    nibble = F.conv(
        F.substring(F.md5(F.concat_ws(":", F.col("doc_id").cast("string"), F.col("source"))), 1, 1),
        16, 10,
    ).cast("int")
    rate16 = F.lit(3) + (F.regexp_extract("source", "([0-9]+)$", 1).cast("int") % 10)
    return docs.where(nibble < rate16).select("doc_id", "source", "lang")


# --- X7: per-language length quantiles (corpus profiling) --------------------------
# Exact continuous-interpolation percentiles (Spark `percentile` ≡ DuckDB
# `quantile_cont`) of document length per language — the profile a mix
# designer reads before setting MIX1's rates. Exact (not approx_)
# percentile IS a full sort per group at 100 TB; swap to
# percentile_approx when ±0.1% suffices — kept exact here so the oracle
# hash-checks the values.
@query(
    "x7_language_length_quantiles",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           round(quantile_cont(n_chars, 0.25), 6) AS p25,
           round(quantile_cont(n_chars, 0.50), 6) AS p50,
           round(quantile_cont(n_chars, 0.75), 6) AS p75,
           round(quantile_cont(n_chars, 0.90), 6) AS p90
    FROM documents GROUP BY lang
    """,
)
def x7_language_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.expr("percentile(n_chars, 0.25)"), 6).alias("p25"),
        F.round(F.expr("percentile(n_chars, 0.50)"), 6).alias("p50"),
        F.round(F.expr("percentile(n_chars, 0.75)"), 6).alias("p75"),
        F.round(F.expr("percentile(n_chars, 0.90)"), 6).alias("p90"),
    )

# --- X9: repetition-based quality filter (Gopher-style) ----------------------------
# The repetition signals large-scale curation actually gates on (Gopher /
# MassiveText rules): duplicate-unigram fraction, most-frequent-word
# mass, duplicate-2-gram fraction. SINGLE-PASS plan: one explode emits
# both unigram and 2-gram keys as a tagged (kind, key) stream off one
# tokenize, one groupBy(doc_id, kind, key) counts them (map-side
# combinable), one conditional doc-level aggregate folds both kinds —
# no second corpus scan, no join, no per-row quadratic array scan, so
# the same plan holds when docs are 10k tokens at 100 TB. Restricted to
# docs with ≥ 2 tokens (a 2-gram must exist for the signal to be
# defined).
@query(
    "x9_repetition_quality",
    oracle=f"""
    WITH {toks_cte()},
    t2 AS (SELECT doc_id, toks FROM toks WHERE len(toks) >= 2),
    uni AS (
      SELECT doc_id, sum(tf) AS n_toks, count(*) AS n_distinct, max(tf) AS top_tf
      FROM (
        SELECT doc_id, term, count(*) AS tf
        FROM (SELECT doc_id, unnest(toks) AS term FROM t2)
        GROUP BY doc_id, term
      ) GROUP BY doc_id
    ),
    grams AS (
      SELECT doc_id, sum(c) AS n_grams, count(*) AS n_distinct_grams
      FROM (
        SELECT doc_id, gram, count(*) AS c
        FROM (
          SELECT doc_id,
                 unnest([toks[i]||' '||toks[i+1] for i in range(1, len(toks))]) AS gram
          FROM t2
        ) GROUP BY doc_id, gram
      ) GROUP BY doc_id
    )
    SELECT u.doc_id,
           round(1.0 - CAST(u.n_distinct AS DOUBLE) / u.n_toks, 6) AS dup_word_frac,
           round(CAST(u.top_tf AS DOUBLE) / u.n_toks, 6) AS top_word_frac,
           round(1.0 - CAST(g.n_distinct_grams AS DOUBLE) / g.n_grams, 6) AS dup_2gram_frac,
           (CAST(u.top_tf AS DOUBLE) / u.n_toks > 0.2
            OR 1.0 - CAST(g.n_distinct_grams AS DOUBLE) / g.n_grams > 0.3) AS repetitive
    FROM uni u JOIN grams g USING (doc_id)
    """,
)
def x9_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import ngrams

    docs = load_table(spark, sf_dir, "documents")
    tok_rows = (
        docs.where(F.col("text").isNotNull())
        .select("doc_id", F.explode(F.array(tokenize(F.col("text")))).alias("_toks"))
        .where(F.size("_toks") >= 2)
    )
    # one explode → tagged (kind, key) stream: 'u' per token, 'g' per 2-gram
    tagged = tok_rows.select(
        "doc_id",
        F.explode(
            F.concat(
                F.transform(
                    F.col("_toks"),
                    lambda t: F.struct(F.lit("u").alias("kind"), t.alias("key")),
                ),
                F.transform(
                    ngrams(F.col("_toks"), 2),
                    lambda g: F.struct(F.lit("g").alias("kind"), g.alias("key")),
                ),
            )
        ).alias("kk"),
    ).select("doc_id", F.col("kk.kind").alias("kind"), F.col("kk.key").alias("key"))
    counts = tagged.groupBy("doc_id", "kind", "key").agg(F.count("*").alias("c"))
    is_u = F.col("kind") == "u"
    per_doc = counts.groupBy("doc_id").agg(
        F.sum(F.when(is_u, F.col("c"))).alias("n_toks"),
        F.count(F.when(is_u, True)).alias("n_distinct"),
        F.max(F.when(is_u, F.col("c"))).alias("top_tf"),
        F.sum(F.when(~is_u, F.col("c"))).alias("n_grams"),
        F.count(F.when(~is_u, True)).alias("n_distinct_grams"),
    )
    top_frac = F.col("top_tf") / F.col("n_toks")
    dup2 = F.lit(1.0) - F.col("n_distinct_grams") / F.col("n_grams")
    return per_doc.select(
        "doc_id",
        F.round(F.lit(1.0) - F.col("n_distinct") / F.col("n_toks"), 6).alias("dup_word_frac"),
        F.round(top_frac, 6).alias("top_word_frac"),
        F.round(dup2, 6).alias("dup_2gram_frac"),
        ((top_frac > 0.2) | (dup2 > 0.3)).alias("repetitive"),
    )


# --- X10: PII detection + redaction -------------------------------------------------
# The privacy gate: count and redact email/phone patterns before text
# ships to training. Pure JVM regexp (no lookarounds, so Java regex and
# DuckDB's RE2 agree byte-for-byte); the redacted text is fingerprinted
# so the oracle value-checks the REPLACEMENT semantics, not just counts.
# The testdata corpus is synthetic and PII-free, so a deterministic
# doc_id-gated PII suffix is injected identically on both sides — the
# redaction path is exercised on every 7th document rather than never.
_EMAIL_RE = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
_PHONE_RE = r"[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}"
_PII_SUFFIX = " contact me: jane.doe+spam@example.co.uk or 555-867-5309."


@query(
    "x10_pii_redaction",
    oracle=f"""
    WITH seeded AS (
      SELECT doc_id,
             text || CASE WHEN doc_id % 7 = 0 THEN '{_PII_SUFFIX}' ELSE '' END AS text
      FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text, '{_PHONE_RE}')) AS BIGINT) AS n_phones,
           md5(regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '[EMAIL]', 'g'),
                              '{_PHONE_RE}', '[PHONE]', 'g')) AS redacted_fp
    FROM seeded
    """,
)
def x10_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 7 == 0, F.lit(_PII_SUFFIX)).otherwise(F.lit("")),
        ).alias("text"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("text"), _EMAIL_RE, "[EMAIL]"), _PHONE_RE, "[PHONE]"
    )
    return seeded.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_EMAIL_RE), 0)).cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_PHONE_RE), 0)).cast("long").alias("n_phones"),
        F.md5(redacted).alias("redacted_fp"),
    )


# --- X11: corpus-unigram log-probability score (CCNet-style typicality) ------------
# The statistical quality signal CCNet-class pipelines gate on beside the
# heuristic scores (x2) and repetition mass (x9): mean negative log
# probability of the document's tokens under the CORPUS unigram
# distribution — low = typical text, high = gibberish/rare-token soup.
# (Real CCNet uses a KenLM 5-gram; the unigram form is the same plan
# shape with the model table swapped in.) Scale shape: the term
# probability table is VOCABULARY-sized, so the join back to the
# doc-term stream broadcasts; the corpus total is a 1-row aggregate
# cross-joined in (no driver-side scalar); one groupBy(doc_id) folds the
# per-doc mean.
@query(
    "x11_unigram_logprob",
    oracle=f"""
    WITH {toks_cte()},
    tc AS (
      SELECT doc_id, term, count(*) AS tf
      FROM (SELECT doc_id, unnest(toks) AS term FROM toks WHERE len(toks) > 0)
      GROUP BY doc_id, term
    ),
    totals AS (SELECT term, sum(tf) AS ctf FROM tc GROUP BY term),
    total AS (SELECT sum(ctf) AS tot FROM totals)
    SELECT doc_id,
           round(-sum(tf * ln(ctf / tot)) / sum(tf), 6) AS unigram_logprob
    FROM tc JOIN totals USING (term) CROSS JOIN total
    GROUP BY doc_id
    """,
)
def x11_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tc = term_counts(doc_tokens(docs))
    totals = tc.groupBy("term").agg(F.sum("tf").alias("ctf"))
    total = totals.agg(F.sum("ctf").alias("tot"))
    scored = tc.join(totals, "term").crossJoin(F.broadcast(total))
    return scored.groupBy("doc_id").agg(
        F.round(
            -F.sum(F.col("tf") * F.log(F.col("ctf") / F.col("tot"))) / F.sum("tf"), 6
        ).alias("unigram_logprob")
    )


# --- MIX2: exact stratified quota sample -------------------------------------------
# MIX1's hash-gate hits a configured rate only in expectation; eval-set
# and ablation-mix construction need EXACT per-stratum quotas
# (ceil(f * n_lang) docs per language, reproducibly). Deterministic
# order: md5(doc_id) is the shuffle key, doc_id the tie-break. Scale
# shape: one shuffle on lang for both windows (row_number + count share
# the partitioning); the per-stratum sort is real — at 100 TB with few,
# huge strata, switch to the two-pass variant (count per stratum, then
# keep hash < rank-threshold) or accept MIX1's expectation semantics.
# Kept exact here because exactness IS this operator's contract.
@query(
    "mix2_stratified_quota",
    oracle="""
    WITH ordered AS (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
             count(*) OVER (PARTITION BY lang) AS n_lang
      FROM documents
    )
    SELECT doc_id, lang, CAST(rn AS BIGINT) AS sample_rank
    FROM ordered WHERE rn <= CAST(ceil(0.2 * n_lang) AS BIGINT)
    """,
)
def mix2_stratified_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    order_w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    count_w = Window.partitionBy("lang")
    return (
        docs.select("doc_id", "lang")
        .withColumn("rn", F.row_number().over(order_w))
        .withColumn("n_lang", F.count("*").over(count_w))
        .where(F.col("rn") <= F.ceil(F.lit(0.2) * F.col("n_lang")))
        .select("doc_id", "lang", F.col("rn").cast("long").alias("sample_rank"))
    )


# --- X12: character-entropy quality signal -----------------------------------------
# Shannon entropy of the character distribution over the canonical
# cleaned text (the token stream space-joined) — low entropy flags
# degenerate/boilerplate docs (aaaa..., repeated fragments) that
# length/stopword ratios miss. The alphabet is closed ([a-z0-9 ]), so
# per-char counts are a PURE PROJECTION: 37 length(replace(...)) terms,
# zero explode, zero shuffle — the whole signal costs one map pass at
# any scale (plan-guarded Exchange-free in tests/test_round6b.py).
_X12_ALPHABET = "abcdefghijklmnopqrstuvwxyz0123456789 "


def _x12_entropy_sql() -> str:
    terms = []
    for ch in _X12_ALPHABET:
        lit = "' '" if ch == " " else f"'{ch}'"
        n = f"(length(c) - length(replace(c, {lit}, '')))"
        p = f"(CAST({n} AS DOUBLE) / length(c))"
        terms.append(f"CASE WHEN {n} > 0 THEN -{p} * ln({p}) ELSE 0.0 END")
    return " + ".join(terms)


@query(
    "x12_char_entropy",
    oracle=f"""
    WITH {toks_cte()},
    cl AS (
      SELECT doc_id, array_to_string(toks, ' ') AS c
      FROM toks WHERE len(toks) > 0
    )
    SELECT doc_id, length(c) AS n_chars_clean,
           round({_x12_entropy_sql()}, 6) AS char_entropy
    FROM cl
    """,
)
def x12_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    import functools
    import operator

    docs = load_table(spark, sf_dir, "documents")
    cleaned = docs.select(
        "doc_id", F.concat_ws(" ", tokenize(F.col("text"))).alias("c")
    ).where(F.length("c") > 0)
    length = F.length(F.col("c"))
    terms = []
    # Same alphabet order as the oracle so the float sum associates
    # identically term-by-term (round(6) absorbs any residual ulp).
    for ch in _X12_ALPHABET:
        n = length - F.length(F.replace(F.col("c"), F.lit(ch), F.lit("")))
        p = n.cast("double") / length
        terms.append(F.when(n > 0, -p * F.log(p)).otherwise(F.lit(0.0)))
    entropy = functools.reduce(operator.add, terms)
    return cleaned.select(
        "doc_id",
        length.cast("long").alias("n_chars_clean"),
        F.round(entropy, 6).alias("char_entropy"),
    )


# --- X13: Zipf rank-frequency profile ----------------------------------------------
# The corpus-health fingerprint: top-100 terms by collection frequency
# with rank, corpus share, and cumulative share. A healthy natural-text
# corpus follows Zipf (share ≈ c/rank); boilerplate floods and template
# spam show up as a flattened head or a cliff. Plan shape: the global
# top-k is a TakeOrderedAndProject (parallel partial top-k, no
# single-partition sort — v4's pattern) and the rank/cumulative window
# runs over the ≤100 surviving rows; the grand total joins in as a
# 1-row broadcast.
@query(
    "x13_zipf_profile",
    oracle=f"""
    WITH {toks_cte()},
    {unigram_cte()},
    totals AS (SELECT term, count(*) AS ctf FROM tok GROUP BY term),
    grand AS (SELECT CAST(sum(ctf) AS DOUBLE) AS total_tf FROM totals),
    top AS (
      SELECT term, ctf FROM totals ORDER BY ctf DESC, term LIMIT 100
    )
    SELECT term,
           CAST(ctf AS BIGINT) AS ctf,
           CAST(row_number() OVER (ORDER BY ctf DESC, term) AS BIGINT) AS rank,
           round(ctf / g.total_tf, 6) AS share,
           round(sum(ctf) OVER (ORDER BY ctf DESC, term
                                ROWS UNBOUNDED PRECEDING) / g.total_tf, 6)
             AS cum_share
    FROM top CROSS JOIN grand g
    """,
)
def x13_zipf_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tc = term_counts(doc_tokens(docs))
    totals = tc.groupBy("term").agg(F.sum("tf").alias("ctf"))
    grand = totals.agg(F.sum("ctf").cast("double").alias("total_tf"))
    top = totals.orderBy(F.desc("ctf"), F.asc("term")).limit(100)
    order = Window.orderBy(F.desc("ctf"), F.asc("term"))
    cum = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        top.crossJoin(F.broadcast(grand))
        .withColumn("rank", F.row_number().over(order).cast("long"))
        .withColumn("share", F.round(F.col("ctf") / F.col("total_tf"), 6))
        .withColumn(
            "cum_share", F.round(F.sum("ctf").over(cum) / F.col("total_tf"), 6)
        )
        .select("term", F.col("ctf").cast("long").alias("ctf"), "rank", "share", "cum_share")
    )


# --- X14: per-source distribution drift (smoothed unigram KL) ----------------------
# The corpus-ops drift monitor: KL(p_source ‖ p_corpus) over the corpus
# vocabulary with add-one smoothing — spikes when a source's language
# shifts (template floods, scraper breakage, new domain mix). The naive
# sum ranges over source × vocabulary (every source pays every
# zero-count term); the zero-count mass folds in CLOSED FORM instead —
# for terms absent from source s, p0 = 1/(N_s+V) is constant, so
#   Σ_{c=0} p0·(ln p0 − ln q_t) = p0·[(V−|T_s|)·ln p0 − (S_lnq − S_lnq_s)]
# leaving one (source, term) aggregate, one term aggregate, and three
# global scalars — no source×vocab cross join at any vocabulary size.
# The term table is materialized: three consumers (two scalar
# passes + the scoring join), one materialization.
@query(
    "x14_source_divergence",
    oracle=f"""
    WITH {toks_cte()},
    src AS (
      SELECT d.source, unnest(t.toks) AS term
      FROM toks t JOIN documents d USING (doc_id)
    ),
    st AS (SELECT source, term, count(*) AS c FROM src GROUP BY 1, 2),
    ct AS (SELECT term, CAST(sum(c) AS BIGINT) AS ctot FROM st GROUP BY term),
    g1 AS (SELECT count(*) AS v, CAST(sum(ctot) AS DOUBLE) AS n FROM ct),
    g2 AS (
      SELECT sum(ln((ctot + 1) / (g1.n + g1.v))) AS s_lnq
      FROM ct CROSS JOIN g1
    ),
    ns AS (
      SELECT source, CAST(sum(c) AS DOUBLE) AS n_s, count(*) AS t_s
      FROM st GROUP BY source
    ),
    direct AS (
      SELECT s.source,
             sum(((s.c + 1) / (ns.n_s + g1.v))
                 * ln(((s.c + 1) / (ns.n_s + g1.v))
                      / ((c.ctot + 1) / (g1.n + g1.v)))) AS kl_direct,
             sum(ln((c.ctot + 1) / (g1.n + g1.v))) AS s_lnq_s
      FROM st s
      JOIN ct c USING (term)
      JOIN ns ON s.source = ns.source
      CROSS JOIN g1
      GROUP BY s.source
    )
    SELECT d.source,
           CAST(ns.n_s AS BIGINT) AS n_tokens,
           CAST(ns.t_s AS BIGINT) AS n_terms,
           round(d.kl_direct
                 + (1.0 / (ns.n_s + g1.v))
                   * ((g1.v - ns.t_s) * ln(1.0 / (ns.n_s + g1.v))
                      - (g2.s_lnq - d.s_lnq_s)), 6) AS kl_vs_corpus
    FROM direct d JOIN ns USING (source) CROSS JOIN g1 CROSS JOIN g2
    """,
)
def x14_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.where(F.col("text").isNotNull()).select(
        "source", F.explode(tokenize(F.col("text"))).alias("term")
    )
    st = tok.groupBy("source", "term").agg(F.count("*").alias("c"))
    ct = materialize(st.groupBy("term").agg(F.sum("c").alias("ctot")))
    # three global scalars (V, N, S_lnq): two bounded driver collects off
    # the checkpointed term table — job structure, not data movement.
    g = ct.agg(F.count("*").alias("v"), F.sum("ctot").cast("double").alias("n")).collect()[0]
    v_g, n_g = float(g["v"]), float(g["n"])
    s_lnq = ct.agg(
        F.sum(F.log((F.col("ctot") + 1) / F.lit(n_g + v_g))).alias("s")
    ).collect()[0]["s"]
    ns = st.groupBy("source").agg(
        F.sum("c").cast("double").alias("n_s"), F.count("*").alias("t_s")
    )
    p = (F.col("c") + 1) / (F.col("n_s") + F.lit(v_g))
    q = (F.col("ctot") + 1) / F.lit(n_g + v_g)
    direct = (
        st.join(ct, "term")
        .join(F.broadcast(ns), "source")
        .groupBy("source")
        .agg(
            F.sum(p * F.log(p / q)).alias("kl_direct"),
            F.sum(F.log(q)).alias("s_lnq_s"),
        )
    )
    p0 = 1.0 / (F.col("n_s") + F.lit(v_g))
    return direct.join(F.broadcast(ns), "source").select(
        "source",
        F.col("n_s").cast("long").alias("n_tokens"),
        F.col("t_s").cast("long").alias("n_terms"),
        F.round(
            F.col("kl_direct")
            + p0
            * (
                (F.lit(v_g) - F.col("t_s")) * F.log(p0)
                - (F.lit(s_lnq) - F.col("s_lnq_s"))
            ),
            6,
        ).alias("kl_vs_corpus"),
    )


# --- X15: Zipf exponent fit (regression aggregate over the head) -------------------
# x13 plots the head; x15 compresses it to the scalar mix designers
# track: the log-log slope of frequency vs rank over the top-1000 terms
# (Zipf's alpha ≈ −slope, healthy natural text ≈ 1). The head comes from
# a parallel TakeOrdered (no global sort), the fit from the built-in
# least-squares aggregates (regr_slope/regr_intercept ≡ DuckDB) — no
# driver-side math.
@query(
    "x15_zipf_alpha",
    oracle=f"""
    WITH {toks_cte()},
    {unigram_cte()},
    totals AS (SELECT term, count(*) AS ctf FROM tok GROUP BY term),
    head AS (
      SELECT ctf,
             row_number() OVER (ORDER BY ctf DESC, term) AS rank
      FROM (SELECT term, ctf FROM totals ORDER BY ctf DESC, term LIMIT 1000)
    )
    SELECT count(*) AS n_terms,
           round(regr_slope(ln(CAST(ctf AS DOUBLE)), ln(CAST(rank AS DOUBLE))), 6)
             AS zipf_slope,
           round(regr_intercept(ln(CAST(ctf AS DOUBLE)), ln(CAST(rank AS DOUBLE))), 6)
             AS zipf_intercept
    FROM head
    """,
)
def x15_zipf_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    totals = (
        term_counts(doc_tokens(docs)).groupBy("term").agg(F.sum("tf").alias("ctf"))
    )
    head = (
        totals.orderBy(F.desc("ctf"), F.asc("term"))
        .limit(1000)
        .withColumn(
            "rank", F.row_number().over(Window.orderBy(F.desc("ctf"), F.asc("term")))
        )
    )
    ln_ctf = F.log(F.col("ctf").cast("double"))
    ln_rank = F.log(F.col("rank").cast("double"))
    return head.agg(
        F.count("*").alias("n_terms"),
        F.round(F.regr_slope(ln_ctf, ln_rank), 6).alias("zipf_slope"),
        F.round(F.regr_intercept(ln_ctf, ln_rank), 6).alias("zipf_intercept"),
    )


# --- F12: fuzzy vocabulary variants (edit distance) --------------------------------
# Vocabulary normalization intelligence: pairs of frequent terms within
# levenshtein distance 1 (typos, plural/singular, regional spellings)
# that a token-merge step would collapse. Scoped to the top-200
# vocabulary so the pair space is a broadcast cross of a tiny head —
# the production shape (variant detection runs on the vocab table, never
# the corpus).
@query(
    "f12_fuzzy_term_variants",
    oracle=f"""
    WITH {toks_cte()},
    {unigram_cte()},
    totals AS (SELECT term, count(*) AS ctf FROM tok GROUP BY term),
    head AS (SELECT term, ctf FROM totals ORDER BY ctf DESC, term LIMIT 200)
    SELECT a.term AS term_a, b.term AS term_b,
           CAST(a.ctf AS BIGINT) AS ctf_a, CAST(b.ctf AS BIGINT) AS ctf_b,
           CAST(levenshtein(a.term, b.term) AS BIGINT) AS edit_distance
    FROM head a JOIN head b ON a.term < b.term
    WHERE levenshtein(a.term, b.term) <= 1
    """,
)
def f12_fuzzy_term_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    totals = (
        term_counts(doc_tokens(docs)).groupBy("term").agg(F.sum("tf").alias("ctf"))
    )
    head = totals.orderBy(F.desc("ctf"), F.asc("term")).limit(200)
    a = head.select(F.col("term").alias("term_a"), F.col("ctf").alias("ctf_a"))
    b = head.select(F.col("term").alias("term_b"), F.col("ctf").alias("ctf_b"))
    dist = F.levenshtein(F.col("term_a"), F.col("term_b"))
    return (
        a.join(F.broadcast(b), F.col("term_a") < F.col("term_b"))
        .where(dist <= 1)
        .select(
            "term_a",
            "term_b",
            "ctf_a",
            "ctf_b",
            dist.cast("long").alias("edit_distance"),
        )
    )


# --- EP4: curation → quota → shards, the full prep pipeline as ONE plan ------------
# The capstone composite: everything between raw documents and training
# shards in a single oracle-checked query — cur1's gates (fingerprint
# survivorship, language, token bounds, quality), mix2's exact
# per-source quota (ceil(0.5·n) by md5 order), t7's hash-shard
# assignment, and pack1's token budget as per-shard sequence counts.
# Each stage is the same column algebra its standalone query checks;
# composing them costs three shuffles (fp window, source quota windows,
# shard aggregate) on a single corpus scan.
def _ep4_oracle() -> str:
    return (
        _curation_gated_ctes()
        + """
    , surv AS (
      SELECT doc_id, source, n_toks FROM gated
      WHERE doc_id = keep_id AND lang_detected = 'en'
        AND n_toks BETWEEN 5 AND 1000 AND quality_score >= 0.5
    ),
    quota AS (
      SELECT doc_id, n_toks,
             row_number() OVER (PARTITION BY source
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
             count(*) OVER (PARTITION BY source) AS n_src
      FROM surv
    ),
    sampled AS (
      SELECT doc_id, n_toks FROM quota
      WHERE rn <= CAST(ceil(0.5 * n_src) AS BIGINT)
    ),
    sharded AS (
      SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))::INT % 4 AS shard,
             n_toks
      FROM sampled
    )
    SELECT shard,
           count(*) AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS total_tokens,
           CAST(ceil(CAST(sum(n_toks) AS DOUBLE) / 2048) AS BIGINT) AS n_sequences
    FROM sharded GROUP BY shard
    """
    )


@query("ep4_curation_to_shards", oracle=_ep4_oracle())
def ep4_curation_to_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    scored = _staged_curation_scored(docs, "n_toks", extra_cols=("source",))
    surv = (
        scored.withColumn("keep_id", F.min("doc_id").over(Window.partitionBy("fp")))
        .where(
            (F.col("doc_id") == F.col("keep_id"))
            & (F.col("lang_detected") == "en")
            & F.col("n_toks").between(5, 1000)
            & (F.col("quality_score") >= 0.5)
        )
        .select("doc_id", "source", "n_toks")
    )
    order_w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    sampled = (
        surv.withColumn("rn", F.row_number().over(order_w))
        .withColumn("n_src", F.count("*").over(Window.partitionBy("source")))
        .where(F.col("rn") <= F.ceil(F.lit(0.5) * F.col("n_src")))
    )
    shard = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10).cast(
            "int"
        )
        % 4
    )
    return (
        sampled.select(shard.alias("shard"), "n_toks")
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("total_tokens"),
            F.ceil(F.sum("n_toks").cast("double") / 2048).cast("long").alias("n_sequences"),
        )
    )


# --- X16: PMI collocations (phrase detection) --------------------------------------
# The statistic behind phrase/merge lists in tokenizer design: pointwise
# mutual information ln(p(ab) / (p(a)·p(b))) over adjacent pairs, min
# count 5, top-50 by PMI. All counts come off one tokenize (bigrams via
# the in-row transform, unigrams via explode), the probability join is
# two broadcast lookups against the unigram table, and the top-k is a
# parallel TakeOrdered. Counts are exact integers on both engines, so
# the PMI doubles agree bit-for-bit before rounding.
@query(
    "x16_pmi_collocations",
    oracle=f"""
    WITH {toks_cte()},
    uni AS (
      SELECT term, count(*) AS c1 FROM (
        SELECT doc_id, unnest(toks) AS term FROM toks
      ) GROUP BY term
    ),
    n1 AS (SELECT CAST(sum(c1) AS DOUBLE) AS n_uni FROM uni),
    bi AS (
      SELECT w1, w2, count(*) AS c2 FROM (
        SELECT doc_id,
               unnest([toks[i] for i in range(1, len(toks))]) AS w1,
               unnest([toks[i + 1] for i in range(1, len(toks))]) AS w2
        FROM toks WHERE len(toks) >= 2
      ) GROUP BY w1, w2
    ),
    n2 AS (SELECT CAST(sum(c2) AS DOUBLE) AS n_bi FROM bi),
    scored AS (
      SELECT b.w1, b.w2, b.c2,
             ln((b.c2 / n2.n_bi)
                / ((ua.c1 / n1.n_uni) * (ub.c1 / n1.n_uni))) AS pmi
      FROM bi b
      JOIN uni ua ON b.w1 = ua.term
      JOIN uni ub ON b.w2 = ub.term
      CROSS JOIN n1 CROSS JOIN n2
      WHERE b.c2 >= 5
    )
    SELECT w1, w2, CAST(c2 AS BIGINT) AS pair_count, round(pmi, 6) AS pmi
    FROM scored ORDER BY pmi DESC, w1, w2 LIMIT 50
    """,
)
def x16_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.where(F.col("text").isNotNull())
        .select("doc_id", tokenize(F.col("text")).alias("toks"))
    )
    uni = (
        toks.select(F.explode("toks").alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("c1"))
    )
    bi = (
        toks.where(F.size("toks") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1),"
                    " i -> struct(toks[i - 1] AS w1, toks[i] AS w2))"
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c2"))
        .where(F.col("c2") >= 5)
    )
    n_uni = uni.agg(F.sum("c1").cast("double").alias("n_uni"))
    n_bi_all = (
        toks.where(F.size("toks") >= 2)
        .agg(F.sum(F.size("toks") - 1).cast("double").alias("n_bi"))
    )
    ua = uni.select(F.col("term").alias("w1"), F.col("c1").alias("ca"))
    ub = uni.select(F.col("term").alias("w2"), F.col("c1").alias("cb"))
    scored = (
        bi.join(ua, "w1")
        .join(ub, "w2")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bi_all))
        .withColumn(
            "pmi",
            F.log(
                (F.col("c2") / F.col("n_bi"))
                / ((F.col("ca") / F.col("n_uni")) * (F.col("cb") / F.col("n_uni")))
            ),
        )
    )
    return (
        scored.orderBy(F.desc("pmi"), "w1", "w2")
        .limit(50)
        .select(
            "w1", "w2", F.col("c2").cast("long").alias("pair_count"),
            F.round("pmi", 6).alias("pmi"),
        )
    )


# --- MIX3: temperature-scaled source weights ---------------------------------------
# The multilingual/mix-balancing standard: sample source s with
# probability ∝ (n_s/N)^(1/T); T=1 is natural, T→∞ uniform, T<1
# sharpens. T=0.7 here. One tiny aggregate per source, the rest is
# projection arithmetic off two broadcast scalars; emits the weights and
# the expected doc counts a 100k-doc epoch would draw per source.
@query(
    "mix3_temperature_weights",
    oracle="""
    WITH per_source AS (
      SELECT source, count(*) AS n_docs FROM documents GROUP BY source
    ),
    tot AS (SELECT CAST(sum(n_docs) AS DOUBLE) AS n FROM per_source),
    p AS (
      SELECT source, n_docs, pow(n_docs / t.n, 1.0 / 0.7) AS raw
      FROM per_source CROSS JOIN tot t
    ),
    z AS (SELECT sum(raw) AS z FROM p)
    SELECT p.source,
           CAST(p.n_docs AS BIGINT) AS n_docs,
           round(p.raw / z.z, 6) AS sample_weight,
           CAST(round(100000 * p.raw / z.z, 0) AS BIGINT) AS expected_draws_100k
    FROM p CROSS JOIN z
    """,
)
def mix3_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    tot = per_source.agg(F.sum("n_docs").cast("double").alias("n"))
    p = per_source.crossJoin(F.broadcast(tot)).withColumn(
        "raw", F.pow(F.col("n_docs") / F.col("n"), F.lit(1.0 / 0.7))
    )
    z = p.agg(F.sum("raw").alias("z"))
    return p.crossJoin(F.broadcast(z)).select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.round(F.col("raw") / F.col("z"), 6).alias("sample_weight"),
        F.round(F.lit(100000) * F.col("raw") / F.col("z"), 0)
        .cast("long")
        .alias("expected_draws_100k"),
    )


# --- X17: hapax legomena rate per source -------------------------------------------
# The vocabulary-health complement to x14's KL drift: the fraction of a
# source's terms appearing exactly once. Natural text runs ~40-60%
# hapax; OCR noise and random IDs push it up, template spam crushes it.
# Two map-side-combinable aggregates — (source, term) counts, then the
# per-source rollup.
@query(
    "x17_hapax_rate",
    oracle=f"""
    WITH {toks_cte()},
    tok AS (
      SELECT d.source, unnest(t.toks) AS term
      FROM toks t JOIN documents d USING (doc_id)
    ),
    tc AS (SELECT source, term, count(*) AS c FROM tok GROUP BY 1, 2)
    SELECT source,
           count(*) AS n_terms,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           round(CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS hapax_rate
    FROM tc GROUP BY source
    """,
)
def x17_hapax_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    tok = docs.select("source", F.explode(tokenize(F.col("text"))).alias("term"))
    tc = tok.groupBy("source", "term").agg(F.count("*").alias("c"))
    return tc.groupBy("source").agg(
        F.count("*").alias("n_terms"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long").alias("n_hapax"),
        F.round(
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("double")
            / F.count("*"),
            6,
        ).alias("hapax_rate"),
    )


# --- X18: word-length outliers (giant-token gate) ----------------------------------
# The MassiveText rule x2's mean-word-length misses: a single giant
# "word" (base64 blob, concatenated URL, minified code) marks a doc even
# when the mean looks fine. Pure in-row array algebra — max token
# length and count of tokens > 15 chars — zero shuffle beyond the scan.
@query(
    "x18_word_length_outliers",
    oracle=f"""
    WITH {toks_cte()}
    SELECT doc_id,
           CAST(list_max(list_transform(toks, x -> length(x))) AS BIGINT)
             AS max_word_len,
           CAST(len(list_filter(toks, x -> length(x) > 15)) AS BIGINT)
             AS n_giant_words,
           (len(list_filter(toks, x -> length(x) > 15)) > 0) AS has_giant_word
    FROM toks WHERE len(toks) > 0
    """,
)
def x18_word_length_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # staged: tokenize once as an attribute (the inline form carried 4
    # copies — lens, the giants filter twice, the size guard)
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.where(F.col("text").isNotNull()).select(
        "doc_id", tokenize(F.col("text")).alias("toks")
    )
    sized = toked.where(F.size("toks") > 0).withColumn(
        "giants", F.size(F.filter("toks", lambda x: F.length(x) > 15))
    )
    return sized.select(
        "doc_id",
        F.array_max(F.transform("toks", lambda x: F.length(x))).cast("long").alias("max_word_len"),
        F.col("giants").cast("long").alias("n_giant_words"),
        (F.col("giants") > 0).alias("has_giant_word"),
    )


# --- V7b/v7: hashing-trick vectorizer (vocabulary-free) ----------------------------
# The vectorizer that needs NO fitted vocabulary: term -> bucket =
# hash(term) mod D (D=64 here). At 100 TB this is the difference between
# a two-pass fit+transform with a broadcast vocab (V4) and a single
# stateless pass — no driver round-trip, no vocab skew, new terms never
# invalidate the model. The price is collisions, so the query ALSO
# reports the collision audit (distinct terms per bucket, max single-term
# mass) that decides if D is wide enough. Hash bridge: the engine's
# 60-bit md5 (conv(substr(md5(t),1,15),16,10)) ≡ DuckDB
# ('0x'||substr(md5(t),1,15))::BIGINT, so bucket ids agree exactly
# cross-engine.
@query(
    "v7_feature_hashing",
    oracle=f"""
    WITH {toks_cte()}, {unigram_cte()},
    tf AS (
      SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term
    ),
    b AS (
      SELECT ('0x'||substr(md5(term),1,15))::BIGINT % 64 AS bucket, term, tf
      FROM tf
    )
    SELECT bucket,
           CAST(sum(tf) AS BIGINT) AS total_tf,
           count(DISTINCT term) AS n_distinct_terms,
           CAST(max(tf) AS BIGINT) AS max_doc_tf
    FROM b
    GROUP BY bucket
    """,
)
def v7_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tf = term_counts(doc_tokens(docs))
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("term")), 1, 15), 16, 10).cast("long"), F.lit(64)
    )
    return (
        tf.select(bucket.alias("bucket"), "term", "tf")
        .groupBy("bucket")
        .agg(
            F.sum("tf").cast("long").alias("total_tf"),
            F.count_distinct("term").alias("n_distinct_terms"),
            F.max("tf").cast("long").alias("max_doc_tf"),
        )
    )


# --- X19: Flesch reading-ease readability score ------------------------------------
# The classic curation readability gate (C4/Gopher pipelines bucket on
# it): Flesch = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/
# words), with the standard no-dictionary syllable proxy — vowel-group
# runs ([aeiouy]+) per word. Everything is regexp_extract_all + size in
# one narrow projection (no explode, no shuffle until the per-language
# rollup), identical regex semantics cross-engine. Zero-sentence docs
# (the synthetic corpus has no terminal punctuation) clamp to 1 sentence
# — documented, deterministic, and the formula stays defined.
@query(
    "x19_readability",
    oracle="""
    WITH c AS (
      SELECT doc_id, lang,
             len(regexp_extract_all(lower(text), '[a-z]+')) AS words,
             len(regexp_extract_all(lower(text), '[aeiouy]+')) AS syllables,
             greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS sentences
      FROM documents WHERE text IS NOT NULL
    ),
    f AS (
      SELECT doc_id, lang,
             206.835 - 1.015 * (words / CAST(sentences AS DOUBLE))
                     - 84.6 * (syllables / CAST(words AS DOUBLE)) AS flesch
      FROM c WHERE words > 0
    )
    SELECT lang,
           count(*) AS n_docs,
           round(sum(CAST(round(flesch * 1000000) AS BIGINT))
                 / 1000000.0 / count(*), 6) AS mean_flesch,
           round(min(flesch), 6) AS min_flesch,
           round(max(flesch), 6) AS max_flesch,
           CAST(sum(CASE WHEN flesch < 30 THEN 1 ELSE 0 END) AS BIGINT) AS n_hard
    FROM f GROUP BY lang
    """,
)
def x19_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    words = F.size(F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)"))
    syllables = F.size(F.expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)"))
    sentences = F.greatest(F.size(F.expr("regexp_extract_all(text, '[.!?]+', 0)")), F.lit(1))
    c = docs.select(
        "lang",
        words.alias("words"),
        syllables.alias("syllables"),
        sentences.alias("sentences"),
    ).where(F.col("words") > 0)
    flesch = (
        F.lit(206.835)
        - 1.015 * (F.col("words") / F.col("sentences").cast("double"))
        - 84.6 * (F.col("syllables") / F.col("words").cast("double"))
    )
    return (
        c.select("lang", flesch.alias("flesch"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            # decimal-summed mean (cur8's pattern): per-doc flesch is a
            # pure expression of three integer counts (identical double
            # cross-engine), but avg over ~10k-doc lang groups is
            # accumulation-order-dependent in the last ulp — the d12
            # sf1-probe class; min/max are order-independent and stay raw
            F.sum(F.round(F.col("flesch") * 1000000).cast("long")).alias("f6"),
            F.round(F.min("flesch"), 6).alias("min_flesch"),
            F.round(F.max("flesch"), 6).alias("max_flesch"),
            F.sum(F.when(F.col("flesch") < 30, 1).otherwise(0)).cast("long").alias("n_hard"),
        )
        .select(
            "lang",
            "n_docs",
            F.round(F.col("f6") / F.lit(1000000.0) / F.col("n_docs"), 6).alias(
                "mean_flesch"
            ),
            "min_flesch",
            "max_flesch",
            "n_hard",
        )
    )


# --- V8: Count-Min sketch heavy hitters (mergeable, exact-audited) -----------------
# The third mergeable sketch beside x8's HLL++ and GK: a 4×256 Count-Min
# sketch over corpus term frequencies. At 100 TB the sketch is the
# shippable object — 1024 counters per partition/source, merged by
# elementwise SUM — while exact per-term counts need a full term shuffle.
# Hash rows use the engine's md5 bridge (h_j(t) = md5_long(j||':'||t) %
# 256) so the sketch is bit-identical cross-engine, and the query
# surfaces the CM guarantee directly: for the exact top-20 terms, the
# estimate (min over rows) must over-count by ≥ 0 and ≤ εN. The sketch
# is built off the per-term TF aggregate (terms × 4 rows), NOT the raw
# token stream — 4× a small table instead of 4× the corpus.
@query(
    "v8_count_min_heavy_hitters",
    oracle=f"""
    WITH {toks_cte()}, {unigram_cte()},
    tf AS (SELECT term, count(*) AS tf FROM tok GROUP BY term),
    rws AS (SELECT unnest(range(0, 4)) AS j),
    cnt AS (
      SELECT j,
             ('0x'||substr(md5(CAST(j AS VARCHAR)||':'||term),1,15))::BIGINT % 256 AS b,
             sum(tf) AS c
      FROM tf CROSS JOIN rws GROUP BY 1, 2
    ),
    top AS (SELECT term, tf FROM tf ORDER BY tf DESC, term LIMIT 20),
    est AS (
      SELECT t.term, t.tf, min(c.c) AS cm
      FROM top t
      CROSS JOIN rws r
      JOIN cnt c
        ON c.j = r.j
       AND c.b = ('0x'||substr(md5(CAST(r.j AS VARCHAR)||':'||t.term),1,15))::BIGINT % 256
      GROUP BY 1, 2
    )
    SELECT term,
           CAST(tf AS BIGINT) AS exact_tf,
           CAST(cm AS BIGINT) AS cm_estimate,
           CAST(cm - tf AS BIGINT) AS overestimate
    FROM est
    """,
)
def v8_count_min_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import md5_long

    docs = load_table(spark, sf_dir, "documents")
    tf = (
        term_counts(doc_tokens(docs))
        .groupBy("term")
        .agg(F.sum("tf").alias("tf"))
    )

    def bucket(j_col, term_col):
        return F.pmod(md5_long(F.concat(j_col.cast("string"), F.lit(":"), term_col)), F.lit(256))

    rows4 = F.array(*[F.lit(j) for j in range(4)])
    cnt = (
        tf.select("term", "tf", F.explode(rows4).alias("j"))
        .select("j", bucket(F.col("j"), F.col("term")).alias("b"), "tf")
        .groupBy("j", "b")
        .agg(F.sum("tf").alias("c"))
    )
    top = tf.orderBy(F.col("tf").desc(), F.col("term")).limit(20)
    probes = top.select("term", "tf", F.explode(rows4).alias("j")).select(
        "term", "tf", "j", bucket(F.col("j"), F.col("term")).alias("b")
    )
    # both sides of this join are tiny (20×4 probes, ≤1024 counters) —
    # broadcast the counter table; the only real shuffle in the whole
    # query is the term-frequency aggregate every TF pass already pays.
    est = probes.join(F.broadcast(cnt), ["j", "b"]).groupBy("term", "tf").agg(
        F.min("c").alias("cm")
    )
    return est.select(
        "term",
        F.col("tf").cast("long").alias("exact_tf"),
        F.col("cm").cast("long").alias("cm_estimate"),
        (F.col("cm") - F.col("tf")).cast("long").alias("overestimate"),
    )


# --- MIX4: deterministic train/val/test split --------------------------------------
# The split every training run needs, done the 100-TB way: NOT
# randomSplit (nondeterministic across retries/partitionings — a straggler
# retry reassigns rows) but a HASH-RANGE rule on the stable document key:
# bucket = md5_long(doc_id) % 100 → train < 90 ≤ val < 95 ≤ test. The
# assignment is a pure per-row projection — reproducible on any engine,
# any partitioning, any subset of the corpus — and the audit proves the
# three invariants that matter: partition completeness (counts sum to
# corpus), disjointness (a doc is in exactly one split — structural,
# since the rule is a function of doc_id), and per-language ratio
# fidelity.
@query(
    "mix4_train_val_test_split",
    oracle="""
    WITH s AS (
      SELECT doc_id, lang,
             CASE WHEN ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT % 100 < 90 THEN 'train'
                  WHEN ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT % 100 < 95 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents WHERE text IS NOT NULL
    )
    SELECT lang, split, count(*) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS min_doc_id,
           CAST(max(doc_id) AS BIGINT) AS max_doc_id
    FROM s GROUP BY lang, split
    """,
)
def mix4_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import md5_long

    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    bucket = F.pmod(md5_long(F.col("doc_id").cast("string")), F.lit(100))
    split = (
        F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
    )
    return (
        docs.select("doc_id", "lang", split.alias("split"))
        .groupBy("lang", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


# --- V9: BPE merge-candidate induction (first trainer step) ------------------------
# The first step of training a BPE tokenizer on the corpus: character-
# pair frequencies within words, weighted by corpus term frequency — the
# exact statistic the first merge rule maximizes. Scale shape: pairs are
# counted on the DISTINCT-term table (term, corpus_tf) — vocabulary-
# sized, already aggregated — and each term fans out to length-1 in-row
# substring pairs, so the corpus token stream is never re-exploded per
# character. (The full trainer iterates merge→recount; each iteration is
# this same query over a re-segmented vocabulary — driver-coordinated
# like connected_components, with the per-iteration cost bounded by
# vocabulary size, not corpus size.) Top-50 with total-order tie-break.
@query(
    "v9_bpe_merge_candidates",
    oracle=f"""
    WITH {toks_cte()}, {unigram_cte()},
    tf AS (SELECT term, count(*) AS tf FROM tok GROUP BY term),
    pairs AS (
      SELECT unnest([substr(term, i, 2) for i in range(1, length(term))]) AS pair, tf
      FROM tf WHERE length(term) >= 2
    ),
    agg AS (
      SELECT pair, CAST(sum(tf) AS BIGINT) AS pair_freq
      FROM pairs GROUP BY pair
    )
    SELECT pair, pair_freq, rank FROM (
      SELECT pair, pair_freq,
             row_number() OVER (ORDER BY pair_freq DESC, pair ASC) AS rank
      FROM agg
    ) WHERE rank <= 50
    """,
)
def v9_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        term_counts(doc_tokens(docs))
        .groupBy("term")
        .agg(F.sum("tf").alias("tf"))
        .where(F.length("term") >= 2)
    )
    pairs = tf.select(
        F.explode(
            F.expr("transform(sequence(1, length(term) - 1), i -> substring(term, i, 2))")
        ).alias("pair"),
        "tf",
    )
    from pyspark.sql import Window

    agg = pairs.groupBy("pair").agg(F.sum("tf").cast("long").alias("pair_freq"))
    # TakeOrdered keeps the top-50 parallel; the rank window then runs
    # over ≤ 50 rows (the v4 pattern — window above the limit).
    top = agg.orderBy(F.col("pair_freq").desc(), F.col("pair")).limit(50)
    return top.withColumn(
        "rank",
        F.row_number()
        .over(Window.orderBy(F.col("pair_freq").desc(), F.col("pair")))
        .cast("long"),
    )


# --- V10: learned BPE merge rules (iterative trainer) ------------------------------
# 🔶 rows-only: the Sennrich-style merge loop is iterative argmax —
# driver-coordinated control flow a DuckDB oracle can't restate (the
# invariants are pinned in tests/test_bpe.py: the classic
# low/lower/newest/widest corpus learns exactly es→est→lo→low→ew→ewest,
# and rules are partitioning-invariant). Every iteration is bounded by
# |vocab|, not corpus size — see operators/bpe.py.
def _v10_oracle() -> str:
    # session-2 upgrade: v10 was rows-only since r8 ("iterative trainers
    # aren't SQL-expressible") — but train_bpe is DETERMINISTIC (exact
    # integer pair counts, freq-DESC/l/r tie-break, greedy fold), so an
    # 8-step unrolled CTE chain reproduces the merge table exactly.
    from .oracle_fragments import bpe_merge_ctes, toks_cte, unigram_cte

    ctes, selects = bpe_merge_ctes(8)
    return f"WITH {toks_cte()}, {unigram_cte()},\n{ctes}\n{selects}"


@query("v10_bpe_learned_merges", oracle=_v10_oracle())
def v10_bpe_learned_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bpe import merge_table, train_bpe

    docs = load_table(spark, sf_dir, "documents")
    merges, _state = train_bpe(docs, n_merges=8)
    return merge_table(spark, merges)


# --- V11: BPE encode / token-budget report (serve path) ----------------------------
# 🔶 rows-only: serves the v10-learned rules back over the corpus and
# reports per-language compression (chars per subword) — the number that
# converts a 100-TB character budget into a token budget. Segmentation
# runs ONCE per distinct term (vocabulary-sized) and joins back to the
# per-doc term stream; train/serve use the same JVM fold, so
# tests/test_bpe.py's train-serve round-trip is exact.
def _v11_oracle() -> str:
    # session-2 upgrade (same basis as v10): the serve path is as
    # deterministic as the trainer — segment each distinct term under the
    # 8 learned rules (st8 = the final state the unrolled trainer already
    # computes), join term-level subword counts back to the per-doc term
    # stream, aggregate per language.
    from .oracle_fragments import bpe_merge_ctes, toks_cte, unigram_cte

    ctes, _selects = bpe_merge_ctes(8, with_final_state=True)
    return f"""WITH {toks_cte()}, {unigram_cte()},
{ctes},
counts AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
seg AS (
  SELECT term, CAST(len(term) AS BIGINT) AS n_chars_term,
         CAST(len(string_split(symstr, chr(31))) AS BIGINT) AS n_sub_term
  FROM st8
),
per_doc AS (
  SELECT doc_id,
         CAST(sum(tf * n_chars_term) AS BIGINT) AS n_chars_sym,
         CAST(sum(tf * n_sub_term) AS BIGINT) AS n_subwords
  FROM counts JOIN seg USING (term) GROUP BY doc_id
)
SELECT lang, count(*) AS n_docs,
       CAST(sum(n_subwords) AS BIGINT) AS total_subwords,
       round(CAST(sum(n_chars_sym) AS DOUBLE) / sum(n_subwords), 6) AS chars_per_subword
FROM per_doc JOIN documents ON documents.doc_id = per_doc.doc_id
GROUP BY lang"""


@query("v11_bpe_token_budget", oracle=_v11_oracle())
def v11_bpe_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bpe import encode_token_counts, train_bpe

    docs = load_table(spark, sf_dir, "documents")
    merges, _ = train_bpe(docs, n_merges=8)
    counts = encode_token_counts(docs, merges)
    enriched = counts.join(docs.select("doc_id", "lang"), "doc_id")
    return enriched.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_subwords").alias("total_subwords"),
        F.round(
            F.sum("n_chars_sym").cast("double") / F.sum("n_subwords"), 6
        ).alias("chars_per_subword"),
    )


# --- F13: HTML boilerplate stripping -----------------------------------------------
# The first transform every web-scraped corpus runs: drop script/style
# blocks with their payloads, strip tags, unescape entities, collapse
# whitespace (functions/text.strip_html; semantics pinned on HTML-laden
# fixtures in tests/test_round6c.py — this corpus is already clean, so
# the report honestly shows n_changed = 0, proving the op is a no-op
# exactly when it should be). Identical RE2-safe regex chain on both
# engines; entity unescape runs AFTER tag-strip so &lt;script&gt; text
# can never become a live tag.
@query(
    "f13_html_strip",
    oracle="""
    WITH s AS (
      SELECT doc_id, lang, text,
             trim(regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(
                         regexp_replace(
                           regexp_replace(
                             regexp_replace(
                               regexp_replace(text, '(?is)<script(>|[\\s/][^>]*>).*?</script>', ' ', 'g'),
                             '(?is)<style(>|[\\s/][^>]*>).*?</style>', ' ', 'g'),
                           '(?is)<script(>|[\\s/][^>]*>).*$', ' ', 'g'),
                         '(?is)<style(>|[\\s/][^>]*>).*$', ' ', 'g'),
                       '(?s)<[^>]+>', ' ', 'g'),
                     '&lt;', '<', 'g'),
                   '&gt;', '>', 'g'),
                 '&quot;', '"', 'g'),
               '&#39;', '''', 'g'),
             '[\\s\\x0b]+', ' ', 'g')) AS stripped
      FROM documents WHERE text IS NOT NULL
    )
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN replace(stripped, '&amp;', '&') <> text THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
           CAST(sum(length(replace(stripped, '&amp;', '&'))) AS BIGINT) AS total_chars_after
    FROM s GROUP BY lang
    """,
)
def f13_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import strip_html

    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    s = docs.select("lang", "text", strip_html(F.col("text")).alias("stripped"))
    return s.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("stripped") != F.col("text"), 1).otherwise(0))
        .cast("long")
        .alias("n_changed"),
        F.sum(F.length("stripped")).cast("long").alias("total_chars_after"),
    )


# --- X20: term burstiness (Church-Gale variance-to-mean) ---------------------------
# The statistical signal separating topical words from function words:
# a bursty term concentrates its occurrences in few documents (high
# variance-to-mean ratio of per-doc tf), a function word spreads evenly
# (VMR ≈ its mean-conditional floor). Curation uses it to pick
# keyword-worthy vocabulary and to spot template spam (pathological
# burstiness). One groupBy(doc_id, term) + one groupBy(term) — both
# map-side combinable; min_df=20 keeps the statistic stable. Population
# variance over the POSTING distribution (docs containing the term),
# computed as E[x²]−E[x]² from plain sums, identical on both engines.
@query(
    "x20_term_burstiness",
    oracle=f"""
    WITH {toks_cte()}, {unigram_cte()},
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
    stats AS (
      SELECT term,
             count(*) AS df,
             sum(tf) AS total_tf,
             avg(tf) AS mean_tf,
             sum(tf * tf) / count(*) - avg(tf) * avg(tf) AS var_tf
      FROM tf GROUP BY term HAVING count(*) >= 20
    ),
    scored AS (
      SELECT term, CAST(df AS BIGINT) AS df, CAST(total_tf AS BIGINT) AS total_tf,
             round(mean_tf, 6) AS mean_tf,
             round(CASE WHEN mean_tf > 0 THEN var_tf / mean_tf ELSE 0 END, 6) AS burstiness
      FROM stats
    )
    SELECT term, df, total_tf, mean_tf, burstiness, rank FROM (
      SELECT *, row_number() OVER (ORDER BY burstiness DESC, term ASC) AS rank
      FROM scored
    ) WHERE rank <= 30
    """,
)
def x20_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tf = term_counts(doc_tokens(docs))
    stats = (
        tf.groupBy("term")
        .agg(
            F.count("*").alias("df"),
            F.sum("tf").alias("total_tf"),
            F.avg("tf").alias("mean_tf"),
            (F.sum(F.col("tf") * F.col("tf")) / F.count("*")
             - F.avg("tf") * F.avg("tf")).alias("var_tf"),
        )
        .where(F.col("df") >= 20)
    )
    scored = stats.select(
        "term",
        F.col("df").cast("long").alias("df"),
        F.col("total_tf").cast("long").alias("total_tf"),
        F.round("mean_tf", 6).alias("mean_tf"),
        F.round(
            F.when(F.col("mean_tf") > 0, F.col("var_tf") / F.col("mean_tf")).otherwise(0.0), 6
        ).alias("burstiness"),
    )
    top = scored.orderBy(F.col("burstiness").desc(), F.col("term")).limit(30)
    return top.withColumn(
        "rank",
        F.row_number()
        .over(Window.orderBy(F.col("burstiness").desc(), F.col("term")))
        .cast("long"),
    )


# --- X21: Heaps'-law fit per source ------------------------------------------------
# x15's companion statistic: Heaps' law V ≈ K·N^β relates a document's
# distinct-term count to its length; β (healthy natural text ≈ 0.4–0.7)
# drops toward 0 for template/boilerplate sources (vocabulary saturates)
# and rises toward 1 for ID-spam (every token novel). Fit per source by
# least squares on (ln N_d, ln V_d) across documents — one tokenize
# pass, one groupBy(doc), one regression aggregate per source
# (regr_slope/regr_intercept, built-in both engines); docs under 5
# tokens excluded (log fit degenerates).
@query(
    "x21_heaps_law",
    oracle=f"""
    WITH {toks_cte()},
    sized AS (
      SELECT t.doc_id, d.source,
             len(t.toks) AS n_toks,
             len(list_distinct(t.toks)) AS n_distinct
      FROM toks t JOIN documents d USING (doc_id)
      WHERE len(t.toks) >= 5
    )
    SELECT source,
           count(*) AS n_docs,
           round(regr_slope(ln(CAST(n_distinct AS DOUBLE)), ln(CAST(n_toks AS DOUBLE))), 6)
             AS heaps_beta,
           round(regr_intercept(ln(CAST(n_distinct AS DOUBLE)), ln(CAST(n_toks AS DOUBLE))), 6)
             AS heaps_log_k
    FROM sized GROUP BY source
    """,
)
def x21_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokenize

    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    toked = docs.select("source", tokenize(F.col("text")).alias("toks"))
    sized = toked.select(
        "source",
        F.size("toks").alias("n_toks"),
        F.size(F.array_distinct("toks")).alias("n_distinct"),
    ).where(F.col("n_toks") >= 5)
    ln_v = F.log(F.col("n_distinct").cast("double"))
    ln_n = F.log(F.col("n_toks").cast("double"))
    return sized.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.round(F.regr_slope(ln_v, ln_n), 6).alias("heaps_beta"),
        F.round(F.regr_intercept(ln_v, ln_n), 6).alias("heaps_log_k"),
    )


# --- X22: lexical diversity per source (TTR + Simpson) -----------------------------
# The two standard diversity indices a corpus mix is tuned on: type-token
# ratio (vocabulary breadth) and Simpson's index (probability two random
# tokens are the same type — repetition mass). Both reduce to integer
# aggregates over the (source, term) count table — one shuffle — with a
# single double division at the end, so the numbers are bit-stable under
# any partitioning. A low-TTR/high-Simpson source is boilerplate-heavy;
# mix policies (mix3) downweight it.
@query(
    "x22_lexical_diversity",
    oracle=f"""
    WITH {toks_cte()},
    src AS (
      SELECT d.source, unnest(t.toks) AS term
      FROM toks t JOIN documents d USING (doc_id)
    ),
    st AS (SELECT source, term, count(*) AS c FROM src GROUP BY 1, 2)
    SELECT source,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           count(*) AS n_types,
           round(count(*) / CAST(sum(c) AS DOUBLE), 6) AS ttr,
           CASE WHEN sum(c) > 1
                THEN round(sum(c * (c - 1)) / (CAST(sum(c) AS DOUBLE) * (sum(c) - 1)), 6)
           END AS simpson
    FROM st GROUP BY source
    """,
)
def x22_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.where(F.col("text").isNotNull()).select(
        "source", F.explode(tokenize(F.col("text"))).alias("term")
    )
    st = tok.groupBy("source", "term").agg(F.count("*").alias("c"))
    return st.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count("*").alias("n_types"),
        F.round(F.count("*") / F.sum("c").cast("double"), 6).alias("ttr"),
        # one-token sources make the denominator 0; Spark non-ANSI 0/0 is
        # NULL while DuckDB yields NaN — CASE to NULL on BOTH engines so
        # degenerate sources agree (ADVICE r7)
        F.when(
            F.sum("c") > 1,
            F.round(
                F.sum(F.col("c") * (F.col("c") - 1))
                / (F.sum("c").cast("double") * (F.sum("c") - 1)),
                6,
            ),
        ).alias("simpson"),
    )


# --- X23: language-ID confusion audit ----------------------------------------------
# The audit-trilogy discipline applied to x3: the heuristic detector's
# predictions cross-tabulated against the recorded lang label, with each
# cell's share of its true-label row — the number that says WHERE the
# detector is wrong (which language pairs bleed into each other), not
# just how often. Integer counts + one tiny window; the prediction CTE
# is x3's oracle verbatim, so the audit and the operator can never
# drift apart.
@query(
    "x23_langid_confusion",
    oracle=f"""
    WITH pred AS ({_langid_oracle()})
    SELECT d.lang AS lang_true, p.lang_detected, count(*) AS n_docs,
           round(count(*) / CAST(sum(count(*)) OVER (PARTITION BY d.lang) AS DOUBLE), 6)
             AS share_of_true
    FROM pred p JOIN documents d ON p.doc_id = d.doc_id
    GROUP BY d.lang, p.lang_detected
    """,
)
def x23_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    toked = docs.select(
        F.col("lang").alias("lang_true"), tokenize(F.col("text")).alias("_qs_toks")
    )
    pred = analysis.with_language(toked).select("lang_true", "lang_detected")
    cell = pred.groupBy("lang_true", "lang_detected").agg(F.count("*").alias("n_docs"))
    w = Window.partitionBy("lang_true")
    return cell.select(
        "lang_true",
        "lang_detected",
        "n_docs",
        F.round(F.col("n_docs") / F.sum("n_docs").over(w).cast("double"), 6).alias(
            "share_of_true"
        ),
    )


# --- V12: vocabulary coverage curve (OOV-rate sweep) -------------------------------
# The vocab-size knob curve: what fraction of corpus token MASS does a
# top-K vocabulary cover, for K in {500, 1000, 2000, 4000}? The number
# that picks V4's cutoff (and the embedding-table size downstream)
# from measurement. The rank window runs over a TakeOrdered top-4000
# slice of the vocab table (limit-then-window, like v4 — never a
# single-partition sort of the full vocabulary), the K fan-out is a 4×
# explode on that slice, and coverage is an exact integer mass ratio.
@query(
    "v12_vocab_coverage",
    oracle=f"""
    WITH {toks_cte()},
    {unigram_cte()},
    tc AS (SELECT term, count(*) AS c FROM tok GROUP BY term),
    tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM tc),
    ranked AS (SELECT c, row_number() OVER (ORDER BY c DESC, term) AS rn FROM tc),
    ks AS (SELECT unnest([500, 1000, 2000, 4000]) AS k)
    SELECT k,
           CAST(sum(CASE WHEN rn <= k THEN c ELSE 0 END) AS BIGINT) AS covered_mass,
           round(sum(CASE WHEN rn <= k THEN c ELSE 0 END) / tot.n, 6) AS coverage
    FROM ranked CROSS JOIN ks CROSS JOIN tot
    GROUP BY k, tot.n
    """,
)
def v12_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.where(F.col("text").isNotNull()).select(
        F.explode(tokenize(F.col("text"))).alias("term")
    )
    # vocab-sized after one corpus pass; TWO consumers (total mass +
    # ranked fan-out) — materialize instead of re-tokenizing per branch
    tc = materialize(tok.groupBy("term").agg(F.count("*").alias("c")))
    tot = tc.agg(F.sum("c").cast("double").alias("n"))
    # limit-then-window (v4's own pattern, operators/tfidf.py:152): only
    # ranks <= max(K)=4000 can contribute to covered_mass (the denominator
    # comes from `tot`), so TakeOrderedAndProject keeps N rows per
    # partition and the rank window runs over <=4000 rows — never a
    # single-partition sort of a 10^7-term vocabulary.
    top = tc.orderBy(F.desc("c"), F.asc("term")).limit(4000)
    w = Window.partitionBy(F.lit(0)).orderBy(F.desc("c"), F.asc("term"))
    ranked = top.select("c", F.row_number().over(w).alias("rn"))
    fan = ranked.select(
        "c", "rn", F.explode(F.array(*[F.lit(k) for k in (500, 1000, 2000, 4000)])).alias("k")
    )
    return (
        fan.crossJoin(F.broadcast(tot))  # singleton stats row
        .groupBy("k", "n")
        .agg(
            F.sum(F.when(F.col("rn") <= F.col("k"), F.col("c")).otherwise(0))
            .cast("long")
            .alias("covered_mass"),
            F.round(
                F.sum(F.when(F.col("rn") <= F.col("k"), F.col("c")).otherwise(0)) / F.col("n"),
                6,
            ).alias("coverage"),
        )
        .select("k", "covered_mass", "coverage")
    )


# --- X24: boilerplate template families (shared leading prefix) --------------------
# Template spam detection at the cheapest possible grain: documents
# sharing their first five tokens are one "template family" (form
# letters, scraped page chrome, generated boilerplate). One groupBy on
# a 60-bit md5 of the prefix — the key rides the shuffle as a LONG (the
# d15/cur5 discipline), never as the prefix text. Families of one are
# dropped; survivors get the canonical min-doc exemplar.
@query(
    "x24_template_families",
    oracle=f"""
    WITH {toks_cte()},
    pref AS (
      SELECT doc_id,
             ('0x' || substr(md5(array_to_string(list_slice(toks, 1, 5), ' ')), 1, 15))::BIGINT
               AS prefix_hash
      FROM toks WHERE len(toks) >= 5
    )
    SELECT prefix_hash, count(*) AS n_docs, min(doc_id) AS exemplar_doc_id
    FROM pref GROUP BY prefix_hash HAVING count(*) >= 2
    """,
)
def x24_template_families(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import md5_long

    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    toks = docs.select("doc_id", tokenize(F.col("text")).alias("toks")).where(
        F.size("toks") >= 5
    )
    pref = toks.select(
        "doc_id",
        md5_long(F.array_join(F.slice("toks", 1, 5), " ")).alias("prefix_hash"),
    )
    return (
        pref.groupBy("prefix_hash")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("exemplar_doc_id"))
        .where(F.col("n_docs") >= 2)
    )


# --- MIX5: mixture entropy (effective source count) --------------------------------
# The one-number health check on a corpus mix: Shannon entropy of the
# source distribution and its exponential — the "effective number of
# sources" a sampler actually sees (20 sources at eff≈3 means three
# dominate). Read next to mix3: temperature reweighting should push
# eff_sources toward the nominal count. Integer counts → one tiny
# 20-row aggregate; only the final entropy sum is floating-point.
@query(
    "mix5_mixture_entropy",
    oracle="""
    WITH per_source AS (SELECT source, count(*) AS c FROM documents GROUP BY source),
    tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n, count(*) AS k FROM per_source)
    SELECT tot.k AS n_sources,
           CAST(tot.n AS BIGINT) AS n_docs,
           round(-sum((c / tot.n) * ln(c / tot.n)), 6) AS entropy,
           round(exp(-sum((c / tot.n) * ln(c / tot.n))), 6) AS eff_sources
    FROM per_source CROSS JOIN tot
    GROUP BY tot.k, tot.n
    """,
)
def mix5_mixture_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(F.count("*").alias("c"))
    tot = per_source.agg(
        F.sum("c").cast("double").alias("n"), F.count("*").alias("k")
    )
    h = -F.sum((F.col("c") / F.col("n")) * F.log(F.col("c") / F.col("n")))
    return (
        per_source.crossJoin(F.broadcast(tot))  # singleton stats row
        .groupBy("k", "n")
        .agg(
            F.round(h, 6).alias("entropy"),
            F.round(F.exp(h), 6).alias("eff_sources"),
        )
        .select(
            F.col("k").alias("n_sources"),
            F.col("n").cast("long").alias("n_docs"),
            "entropy",
            "eff_sources",
        )
    )


# --- V13: BPE compression curve (subword count vs merge budget) --------------------
# 🔶 rows-only: the sweep-audit pattern (n13/n15/cur7/v12) applied to
# the tokenizer trainer — total corpus subword count after 0/2/4/8
# learned merges, i.e. the compression-per-merge curve that decides how
# long a BPE training run is worth continuing. One vocabulary pass per
# config off a SINGLE training run's rule list (prefixes of the same
# learning order, like n13's table prefixes); subword totals are exact
# integers. Monotone nonincreasing by construction — pinned in
# tests/test_round7.py.
def _v13_oracle() -> str:
    # session-2 upgrade: the compression curve needs only the trainer's
    # intermediate states — total subwords at n merges is
    # sum(corpus_tf x symbols(term)@st{n}), no per-doc pass at all.
    from .oracle_fragments import bpe_merge_ctes, toks_cte, unigram_cte

    ctes, _selects = bpe_merge_ctes(8, with_final_state=True)
    selects = " UNION ALL ".join(
        f"""SELECT CAST({n} AS BIGINT) AS n_merges,
       CAST(sum(tf * len(string_split(symstr, chr(31)))) AS BIGINT) AS total_subwords,
       round(CAST(sum(tf * len(term)) AS DOUBLE)
             / sum(tf * len(string_split(symstr, chr(31)))), 6) AS chars_per_subword
FROM st{n}"""
        for n in (0, 2, 4, 8)
    )
    return f"WITH {toks_cte()}, {unigram_cte()},\n{ctes}\n{selects}"


@query("v13_bpe_compression_curve", oracle=_v13_oracle())
def v13_bpe_compression_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bpe import encode_token_counts, train_bpe

    docs = load_table(spark, sf_dir, "documents")
    merges, _ = train_bpe(docs, n_merges=8)
    rows = None
    for n in (0, 2, 4, 8):
        counts = encode_token_counts(docs, merges[:n])
        row = counts.agg(
            F.lit(n).cast("long").alias("n_merges"),
            F.sum("n_subwords").cast("long").alias("total_subwords"),
            F.round(
                F.sum("n_chars_sym").cast("double") / F.sum("n_subwords"), 6
            ).alias("chars_per_subword"),
        )
        rows = row if rows is None else rows.unionAll(row)
    return rows


# --- V14: per-source OOV rate against the serving vocabulary ------------------------
# v12 picks the vocab size from the GLOBAL coverage curve; v14 reports
# the operational consequence per source — what fraction of each
# source's 1-3-gram mass falls outside v4's top-2000 tf-idf vocabulary
# (the embedding-table OOV rate a serving stack monitors). A source
# with an outlier OOV rate is the one the vocabulary underserves
# (code, another language, templated noise). Two corpus scans (the ep7
# bound): one builds the vocab exactly as v4 does (rounded weights, so
# the rank-2000 boundary is parity-stable), one splits per-source mass
# against the broadcast membership flag; plus corpus_size's
# metadata-cheap rlike count.
@query(
    "v14_oov_by_source",
    oracle=f"""
    WITH {toks_cte()}, {ngram_cte()},
    counts AS (
      SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term
    ),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM counts),
    totals AS (
      SELECT term,
             round(sum(tf) * ln(CAST(n.n_docs AS DOUBLE) / count(*)), 6) AS total_weight
      FROM counts CROSS JOIN n GROUP BY term, n.n_docs
    ),
    vocab AS (SELECT term FROM totals ORDER BY total_weight DESC, term LIMIT 2000),
    st AS (
      SELECT d.source, t.term, count(*) AS c
      FROM tok t JOIN documents d USING (doc_id)
      GROUP BY 1, 2
    )
    SELECT source,
           CAST(sum(c) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN term IN (SELECT term FROM vocab) THEN 0 ELSE c END)
                AS BIGINT) AS oov_grams,
           round(sum(CASE WHEN term IN (SELECT term FROM vocab) THEN 0 ELSE c END)
                 / CAST(sum(c) AS DOUBLE), 6) AS oov_rate
    FROM st GROUP BY source
    """,
)
def v14_oov_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.tfidf import (
        corpus_size,
        doc_tokens,
        term_counts,
        top_vocabulary_from_counts,
    )

    docs = load_table(spark, sf_dir, "documents")
    counts = term_counts(doc_tokens(docs, ngram_max=3))
    vocab = top_vocabulary_from_counts(counts, corpus_size(docs)).select(
        "term", F.lit(1).alias("in_vocab")
    )
    # second scan: per-source n-gram mass (source rides the explode, so
    # no join back to documents)
    tok_rows = docs.where(F.col("text").isNotNull()).select(
        "source", F.explode(F.array(tokenize(F.col("text")))).alias("_toks")
    )
    st = (
        tok_rows.where(F.size("_toks") > 0)
        .select("source", F.explode(ngrams_up_to(F.col("_toks"), 3)).alias("term"))
        .groupBy("source", "term")
        .agg(F.count("*").alias("c"))
    )
    oov_mass = F.sum(F.when(F.col("in_vocab").isNotNull(), 0).otherwise(F.col("c")))
    return (
        st.join(F.broadcast(vocab), "term", "left")
        .groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n_grams"),
            oov_mass.cast("long").alias("oov_grams"),
            F.round(oov_mass / F.sum("c").cast("double"), 6).alias("oov_rate"),
        )
    )


# --- MIX6: deterministic weighted sample (Efraimidis–Spirakis) ----------------------
# The distributed weighted sampler the mix family was missing: draw 200
# docs WITHOUT replacement with probability proportional to length
# (n_chars), deterministically. Efraimidis–Spirakis exponential keys —
# rank by ln(u)/w with u uniform in (0,1] — give exactly the
# weighted-without-replacement distribution, and deriving u from the
# md5 hash of doc_id makes the draw reproducible on any engine, any
# partitioning, any retry (the mix4 argument against randomSplit,
# applied to sampling). u = (h % 2^52 + 1)/2^52 is exact in doubles on
# both engines; the OUTPUT is integer-only (rank, ids) — floats exist
# only inside the ordering, where a cross-libm 1-ulp ln() difference
# would need two keys within one ulp to matter (60-bit hash inputs make
# that negligible; verified hash-green at sf0.001 and sf0.01).
# TakeOrdered top-200, rank window over the bounded slice (v4 pattern).
@query(
    "mix6_weighted_sample",
    oracle="""
    WITH k AS (
      SELECT doc_id, source, n_chars,
             ln((('0x'||substr(md5(CAST(doc_id AS VARCHAR) || ':mix6'),1,15))::BIGINT
                 % 4503599627370496 + 1) / 4503599627370496.0) / n_chars AS key
      FROM documents WHERE n_chars > 0
    )
    SELECT row_number() OVER (ORDER BY key DESC, doc_id) AS rank,
           doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
    FROM k ORDER BY key DESC, doc_id LIMIT 200
    """,
)
def mix6_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import md5_long

    docs = load_table(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    m = F.lit(4503599627370496)  # 2^52: exact in a double
    u = (F.pmod(md5_long(F.concat(F.col("doc_id").cast("string"), F.lit(":mix6"))), m) + 1) / m.cast("double")
    k = docs.select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("n_chars"),
        (F.log(u) / F.col("n_chars")).alias("key"),
    )
    top = k.orderBy(F.desc("key"), F.asc("doc_id")).limit(200)
    w = Window.partitionBy(F.lit(0)).orderBy(F.desc("key"), F.asc("doc_id"))
    return top.select(
        F.row_number().over(w).cast("long").alias("rank"),
        "doc_id",
        "source",
        "n_chars",
    )


# --- MIX7: downsample-only mixture weights toward a uniform token target -----------
# The mixture-design step after mix3's temperature softening: given a
# TARGET per-source token share (uniform here), compute each source's
# sampling weight target/current, capped at 1.0 — the no-repetition
# policy real pretraining mixtures use when epoching is off the table —
# and report the EFFECTIVE share the capped weights actually realize
# (min(t, p) renormalized). The cap-vs-target gap per source is the
# number a data roadmap acts on: it says which sources are short of
# their target and by how much, in tokens.
#
# INTEGER-EXACT CONTRACT (the mix8 discipline, applied after round 10's
# ep9 signed-zero post-mortem): every float output is a SINGLE division
# of two exact BIGINTs, so both engines divide the same integers and
# produce the bit-identical double — and a zero numerator yields +0.0 by
# construction (never -0.0 from a float subtraction of equal-but-not-
# bitwise-equal doubles). The algebra: w_capped = min(1, n/(n_src·tok_s))
# ⇒ with cap_s = least(n, n_src·tok_s) (BIGINT), w_capped·cur_share =
# cap_s/(n_src·n) exactly, so eff_share = cap_s/Σcap and shortfall =
# 1/n_src − cap_s/Σcap = (Σcap − n_src·cap_s)/(n_src·Σcap) — integer
# numerator, integer denominator. Overflow headroom: at 100 TB
# (n ≈ 2.5e13 tokens, n_src ≈ 100), n_src·Σcap ≤ n_src²·n ≈ 2.5e17,
# well under the 9.2e18 BIGINT ceiling.
@query(
    "mix7_target_mixture_weights",
    oracle=f"""
    WITH {toks_cte()},
    per_src AS (
      SELECT d.source, count(*) AS n_docs, CAST(sum(len(t.toks)) AS BIGINT) AS n_tokens
      FROM toks t JOIN documents d USING (doc_id) GROUP BY d.source
    ),
    {capped_mixture_ctes(1)}
    SELECT w.source, w.n_docs, w.n_tokens,
           round(w.n_tokens / w.n, 6) AS cur_share,
           round(1.0 / w.n_src, 6) AS target_share,
           round(w.cap / (w.n_src * w.n_tokens), 6) AS weight,
           round(w.cap / z.zc, 6) AS eff_share,
           round((z.zc - w.n_src * w.cap) / (w.n_src * z.zc), 6) AS shortfall
    FROM w CROSS JOIN z
    """,
)
def mix7_target_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.analysis import token_count

    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    # |sources|-sized, materialized ONCE: the totals/weights/normalizer
    # branches would otherwise each re-scan the corpus (the ep9 fix)
    per_src = materialize(docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(token_count(F.col("text"))).cast("long").alias("n_tokens"),
    ))
    # cap = least(n, n_src·tok_s) as BIGINT: every output below is ONE
    # division of exact integers (see the contract note above the oracle)
    return capped_mixture(per_src, epochs=1).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens") / F.col("n"), 6).alias("cur_share"),
        F.round(F.lit(1.0) / F.col("n_src"), 6).alias("target_share"),
        F.round(F.col("cap") / (F.col("n_src") * F.col("n_tokens")), 6).alias("weight"),
        F.round(F.col("cap") / F.col("zc"), 6).alias("eff_share"),
        F.round(
            (F.col("zc") - F.col("n_src") * F.col("cap"))
            / (F.col("n_src") * F.col("zc")),
            6,
        ).alias("shortfall"),
    )


# --- MIX8: epoch-aware upsampling (repeat factors, materialized) -------------------
# mix7's other half: when the mixture policy allows REPETITION, short
# sources are brought toward the largest source's token mass by integer
# epoch factors — ceil(max_tokens / n_tokens), capped at 4 epochs (past
# ~4 repeats additional epochs of the same data stop buying quality;
# the cap is the standard data-constrained-scaling rule of thumb). The
# epochs are integer-exact on both engines ((max + n − 1) div n — no
# float ceil), and the Spark side MATERIALIZES the repetition with
# explode(sequence(1, epochs)) — the operator a real epoching export
# runs — then re-aggregates the exploded frame, so the oracle's closed
# arithmetic (n_tokens × epochs) checks that the explosion was exactly
# epochs-fold, no row lost or doubled. At 100 TB the explode is
# narrow (no shuffle): each partition fans out locally and the writer
# consumes it; only the |sources|-sized report aggregates shuffle.
@query(
    "mix8_epoch_upsampling",
    oracle=f"""
    WITH {toks_cte()},
    per_src AS (
      SELECT d.source, count(*) AS n_docs, CAST(sum(len(t.toks)) AS BIGINT) AS n_tokens
      FROM toks t JOIN documents d USING (doc_id) GROUP BY d.source
    ),
    tot AS (SELECT CAST(max(n_tokens) AS BIGINT) AS max_tokens FROM per_src),
    e AS (
      SELECT p.source, p.n_docs, p.n_tokens,
             least(CAST((t.max_tokens + p.n_tokens - 1) // p.n_tokens AS BIGINT), 4)
               AS epochs
      FROM per_src p CROSS JOIN tot t
    ),
    z AS (SELECT CAST(sum(n_tokens * epochs) AS BIGINT) AS z FROM e)
    SELECT e.source, e.n_docs, e.n_tokens, e.epochs,
           CAST(e.n_docs * e.epochs AS BIGINT) AS eff_docs,
           CAST(e.n_tokens * e.epochs AS BIGINT) AS eff_tokens,
           round(CAST(e.n_tokens * e.epochs AS DOUBLE) / z.z, 6) AS eff_share
    FROM e CROSS JOIN z
    """,
)
def mix8_epoch_upsampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.analysis import token_count

    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    # per-doc token counts feed BOTH the per-source stats and the
    # exploded repetition — one materialization, not two corpus scans
    with_tokens = materialize(docs.select(
        "doc_id", "source", token_count(F.col("text")).cast("long").alias("doc_tokens")
    ))
    per_src = materialize(with_tokens.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum("doc_tokens").cast("long").alias("n_tokens")
    ))  # |sources|-sized; epochs/report branches reuse it
    tot = per_src.agg(F.max("n_tokens").cast("long").alias("max_tokens"))
    epochs = per_src.crossJoin(F.broadcast(tot)).select(  # singleton max row
        "source",
        "n_docs",
        "n_tokens",
        F.least(
            F.expr("(max_tokens + n_tokens - 1) div n_tokens"), F.lit(4)
        ).cast("long").alias("epochs"),
    )
    # materialize the repetition: one output row per (doc, epoch) — the
    # physical form an epoching export writes
    repeated = with_tokens.join(F.broadcast(epochs), "source").select(
        "source", "doc_tokens", F.explode(F.sequence(F.lit(1), F.col("epochs"))).alias("epoch")
    )
    eff = repeated.groupBy("source").agg(
        F.count("*").cast("long").alias("eff_docs"),
        F.sum("doc_tokens").cast("long").alias("eff_tokens"),
    )
    z = eff.agg(F.sum("eff_tokens").cast("long").alias("z"))
    return (
        epochs.join(eff, "source")
        .crossJoin(F.broadcast(z))  # singleton normalizer row
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "epochs",
            "eff_docs",
            "eff_tokens",
            F.round(F.col("eff_tokens").cast("double") / F.col("z"), 6).alias("eff_share"),
        )
    )


# --- EP9: the unified mixture roadmap (one policy table, one scan) -----------------
# mix7 (downsample-only) and mix8 (integer epochs) are the two halves of
# the decision a data roadmap actually publishes; this composite unifies
# them: per source, the raw weight toward a uniform token target
# w = target/current, clamped by the 4-epoch repetition cap, then
# DECOMPOSED into what an export executes — floor(w) full epochs plus a
# deterministic sample at rate frac(w) on the last partial epoch
# (w < 1 ⇒ zero full epochs, pure downsample at rate w). The achieved
# share and per-source shortfall against target close the loop: sources
# pinned at the cap show exactly how far uniform is unreachable without
# new data. ONE corpus scan: the per-source aggregate is checkpointed at
# |sources| rows and every downstream branch (totals, weights,
# normalizer) reuses it — the ep4/ep8 fusion discipline, pinned by a
# plan test asserting the final plan touches no parquet.
#
# INTEGER-EXACT CONTRACT (round-10 post-mortem: the old float form
# round(target − w_eff·tok/z, 6) produced ±1e-17 → a SIGNED zero whose
# sign the two engines' summation order decided, the suite's only
# driver hash failure). Restated so every float output is ONE division
# of two exact BIGINTs: w_eff = min(4, n/(n_src·tok_s)) ⇒ with
# cap_s = least(n, 4·n_src·tok_s) (BIGINT), w_eff = cap_s/(n_src·tok_s),
# full_epochs = cap_s div (n_src·tok_s), last_epoch_rate =
# (cap_s mod (n_src·tok_s))/(n_src·tok_s), eff_tokens = cap_s/n_src,
# achieved_share = cap_s/Σcap, shortfall = (Σcap − n_src·cap_s)/
# (n_src·Σcap). Identical doubles on both engines; zero numerators give
# +0.0 by construction. Overflow headroom at 100 TB (n ≈ 2.5e13 tokens,
# n_src ≈ 100): 4·n_src·tok_s ≤ 4·n_src·n ≈ 1e16 and n_src·Σcap ≤
# 4·n_src²·n ≈ 1e18, under the 9.2e18 BIGINT ceiling.
@query(
    "ep9_mixture_roadmap",
    oracle=f"""
    WITH {toks_cte()},
    per_src AS (
      SELECT d.source, count(*) AS n_docs, CAST(sum(len(t.toks)) AS BIGINT) AS n_tokens
      FROM toks t JOIN documents d USING (doc_id) GROUP BY d.source
    ),
    {capped_mixture_ctes(4)}
    SELECT w.source, w.n_docs, w.n_tokens,
           round(w.cap / (w.n_src * w.n_tokens), 6) AS weight,
           CAST(w.cap // (w.n_src * w.n_tokens) AS BIGINT) AS full_epochs,
           round((w.cap % (w.n_src * w.n_tokens)) / (w.n_src * w.n_tokens), 6)
             AS last_epoch_rate,
           round(w.cap / w.n_src, 6) AS eff_tokens,
           round(w.cap / z.zc, 6) AS achieved_share,
           round((z.zc - w.n_src * w.cap) / (w.n_src * z.zc), 6) AS shortfall
    FROM w CROSS JOIN z
    """,
)
def ep9_mixture_roadmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.analysis import token_count

    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    # |sources|-sized; materialized ONCE so the three downstream branches
    # (totals, weights, normalizer) cannot re-scan the corpus
    per_src = materialize(docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(token_count(F.col("text"))).cast("long").alias("n_tokens"),
    ))
    # cap = least(n, 4·n_src·tok_s) as BIGINT: every float below is ONE
    # division of exact integers (see the contract note above the oracle)
    den = F.col("n_src") * F.col("n_tokens")  # BIGINT per-source denominator
    return capped_mixture(per_src, epochs=4).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(F.col("cap") / den, 6).alias("weight"),
        F.expr("cap div (n_src * n_tokens)").cast("long").alias("full_epochs"),
        F.round(F.pmod(F.col("cap"), den) / den, 6).alias("last_epoch_rate"),
        F.round(F.col("cap") / F.col("n_src"), 6).alias("eff_tokens"),
        F.round(F.col("cap") / F.col("zc"), 6).alias("achieved_share"),
        F.round(
            (F.col("zc") - F.col("n_src") * F.col("cap"))
            / (F.col("n_src") * F.col("zc")),
            6,
        ).alias("shortfall"),
    )


# --- V15: subword fertility per language (tokenizer-efficiency monitor) ------------
# The serving-time tokenizer audit: per language, how many subword
# tokens the pretokenizer spends per whitespace word (fertility) and how
# many characters each subword carries. High fertility on a language
# means the vocabulary under-serves it — THE standard equity metric when
# one tokenizer feeds a multilingual corpus (v12's coverage curve is the
# vocab-size face of the same question; x6 is the raw count this derives
# from). Pure column algebra over one scan — two parity-proven bridges
# (the whitespace tokenizer and the x6 subword regex), integer sums
# until the final divisions.
@query(
    "v15_subword_fertility",
    oracle=f"""
    WITH {toks_cte()},
    per_doc AS (
      SELECT d.lang, len(t.toks) AS n_words,
             len(regexp_extract_all(d.text, '{_SUBWORD_PATTERN.replace("'", "''")}')) AS n_subwords,
             d.n_chars
      FROM toks t JOIN documents d USING (doc_id)
    )
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS n_words,
           CAST(sum(n_subwords) AS BIGINT) AS n_subwords,
           round(CAST(sum(n_subwords) AS DOUBLE) / sum(n_words), 6) AS fertility,
           round(CAST(sum(n_chars) AS DOUBLE) / sum(n_subwords), 6) AS chars_per_subword
    FROM per_doc GROUP BY lang
    """,
)
def v15_subword_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.analysis import token_count

    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    per_doc = docs.select(
        "lang",
        token_count(F.col("text")).cast("long").alias("n_words"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_SUBWORD_PATTERN), 0))
        .cast("long")
        .alias("n_subwords"),
        F.col("n_chars").cast("long").alias("n_chars"),
    )
    return per_doc.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_words").cast("long").alias("n_words"),
        F.sum("n_subwords").cast("long").alias("n_subwords"),
        F.round(F.sum("n_subwords").cast("double") / F.sum("n_words"), 6).alias("fertility"),
        F.round(F.sum("n_chars").cast("double") / F.sum("n_subwords"), 6).alias(
            "chars_per_subword"
        ),
    )


# --- MIX9: token-budget water-filling allocation -------------------------------------
# The allocation problem ep9/mix7 sidestep: given a fixed TRAINING TOKEN
# BUDGET B (here B = ⌊Σ tokens / 2⌋ — "train half an epoch-equivalent"),
# split B across sources as EQUALLY as possible subject to each source's
# repetition ceiling cap_s = 4·n_tokens_s (the data-constrained-scaling
# rule mix8 uses). That is classic water-filling: sort sources by cap
# ascending; a source is capped iff cap_i·(n−i+1) ≤ B − prefix_{i−1}
# (all-integer comparison — and once it fails it fails for every larger
# cap, so the capped set is a PREFIX of the sort order); capped sources
# take cap_i, the rest split the remainder evenly at level
# (B − Σ capped)/(n − k). INTEGER-EXACT throughout (the ep9 contract):
# the breakpoint is decided by BIGINT comparisons and every float output
# is one division of two BIGINTs — bit-identical cross-engine, +0.0 by
# construction. Scale shape: one corpus scan to per-source totals, then
# |sources|-row window algebra (partitionBy(lit(0)) over a frame that is
# tiny by construction).
@query(
    "mix9_budget_waterfill",
    oracle=f"""
    WITH {toks_cte()},
    per_src AS (
      SELECT d.source, CAST(sum(len(t.toks)) AS BIGINT) AS n_tokens,
             CAST(4 * sum(len(t.toks)) AS BIGINT) AS cap_tokens
      FROM toks t JOIN documents d USING (doc_id) GROUP BY d.source
    ),
    {WATERFILL_CTES}
    {waterfill_select('m.source')}
    """,
)
def mix9_budget_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.analysis import token_count

    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    per_src = materialize(docs.groupBy("source").agg(
        F.sum(token_count(F.col("text"))).cast("long").alias("n_tokens"),
        (F.lit(4) * F.sum(token_count(F.col("text")))).cast("long").alias("cap_tokens"),
    ))  # |sources| rows; totals + window + level reuse it
    return waterfill(per_src)


# --- EP11: release diff card (version-to-version mixture ledger) ---------------------
# s14 classifies docs between two corpus versions (added/removed/changed/
# unchanged) per language; this is the RELEASE-facing consequence table a
# dataset owner reads next: per source, the doc/token ledger of the diff
# and what it did to the mixture — share before vs after and the shift.
# Uses s14's exact version-B construction (drop doc_id % 7 == 0; even-id
# docs metadata-edited, text unchanged) so the two audits can never
# disagree about what "version B" means. Because B is DERIVED from A
# here, status is a pure function of doc_id and the whole card is ONE
# corpus scan + ONE aggregate — no join at all; against two MATERIAL
# snapshots this becomes s14's key-bucketed full-outer join and the same
# downstream algebra. share_shift is the cur15-audited-safe a−b shape:
# each operand is ONE division of exact integer sums, so both engines
# subtract bit-identical doubles (never old-ep9's ±0.0 roulette), and
# every other float is a single division of BIGINTs.
@query(
    "ep11_release_diff_card",
    oracle=f"""
    WITH {toks_cte()},
    per AS (
      SELECT d.source,
             count(*) AS docs_v1,
             CAST(sum(CASE WHEN d.doc_id % 7 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS docs_v2,
             CAST(sum(CASE WHEN d.doc_id % 7 <> 0 AND d.doc_id % 2 = 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
             CAST(sum(len(t.toks)) AS BIGINT) AS tokens_v1,
             CAST(sum(CASE WHEN d.doc_id % 7 <> 0 THEN len(t.toks) ELSE 0 END)
                  AS BIGINT) AS tokens_v2
      FROM toks t JOIN documents d USING (doc_id)
      GROUP BY d.source
    ),
    tot AS (
      SELECT CAST(sum(tokens_v1) AS BIGINT) AS t1, CAST(sum(tokens_v2) AS BIGINT) AS t2
      FROM per
    )
    SELECT p.source, p.docs_v1, p.docs_v2,
           CAST(p.docs_v1 - p.docs_v2 AS BIGINT) AS n_removed,
           p.n_changed,
           CAST(p.docs_v2 - p.n_changed AS BIGINT) AS n_unchanged,
           p.tokens_v1, p.tokens_v2,
           CAST(p.tokens_v1 - p.tokens_v2 AS BIGINT) AS tokens_removed,
           round((p.docs_v1 - p.docs_v2) / CAST(p.docs_v1 AS DOUBLE), 6)
             AS removal_rate,
           round(p.tokens_v1 / t.t1, 6) AS share_v1,
           round(p.tokens_v2 / t.t2, 6) AS share_v2,
           round(p.tokens_v2 / t.t2 - p.tokens_v1 / t.t1, 6) AS share_shift
    FROM per p CROSS JOIN tot t
    """,
)
def ep11_release_diff_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.analysis import token_count

    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    in_v2 = F.col("doc_id") % 7 != 0
    changed = in_v2 & (F.col("doc_id") % 2 == 0)
    toks = token_count(F.col("text")).cast("long")
    per = materialize(docs.groupBy("source").agg(
        F.count("*").alias("docs_v1"),
        F.sum(F.when(in_v2, 1).otherwise(0)).cast("long").alias("docs_v2"),
        F.sum(F.when(changed, 1).otherwise(0)).cast("long").alias("n_changed"),
        F.sum(toks).cast("long").alias("tokens_v1"),
        F.sum(F.when(in_v2, toks).otherwise(0)).cast("long").alias("tokens_v2"),
    ))  # |sources| rows; totals + report reuse it
    tot = per.agg(
        F.sum("tokens_v1").cast("long").alias("t1"),
        F.sum("tokens_v2").cast("long").alias("t2"),
    )
    return per.crossJoin(F.broadcast(tot)).select(  # singleton totals row
        "source",
        "docs_v1",
        "docs_v2",
        (F.col("docs_v1") - F.col("docs_v2")).cast("long").alias("n_removed"),
        "n_changed",
        (F.col("docs_v2") - F.col("n_changed")).cast("long").alias("n_unchanged"),
        "tokens_v1",
        "tokens_v2",
        (F.col("tokens_v1") - F.col("tokens_v2")).cast("long").alias("tokens_removed"),
        F.round(
            (F.col("docs_v1") - F.col("docs_v2")) / F.col("docs_v1").cast("double"), 6
        ).alias("removal_rate"),
        F.round(F.col("tokens_v1") / F.col("t1"), 6).alias("share_v1"),
        F.round(F.col("tokens_v2") / F.col("t2"), 6).alias("share_v2"),
        # audited-safe a−b (see cur15): bit-identical single-division
        # operands on both engines, so any zero carries the same sign
        F.round(
            F.col("tokens_v2") / F.col("t2") - F.col("tokens_v1") / F.col("t1"), 6
        ).alias("share_shift"),
    )
