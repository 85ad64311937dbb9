"""Text-analysis functions for training-data curation at scale.

Beyond-reference operators (BASELINE.json scale extensions): language ID,
quality scoring, token counting, document fingerprinting. All pure Column
expressions so they run JVM-side over 100 TB without Python in the loop,
and every one is SQL-expressible for the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .text import ALL_STOPWORDS, tokenize

# Tiny per-language marker-word lists for the n-gram/stopword language-ID
# heuristic. Deterministic and SQL-inlineable; a real deployment would swap
# in fastText — the operator contract (text -> lang code) stays the same.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "for", "with", "a"),
    "es": ("el", "la", "de", "que", "los", "las", "una", "por", "con", "para"),
    "fr": ("le", "la", "les", "des", "est", "une", "dans", "pour", "que", "et"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "eine", "zu"),
    "pt": ("o", "os", "um", "uma", "das", "dos", "em", "para", "com", "nao"),
}


def token_count(text: Column) -> Column:
    """Whitespace token count (BPE-ish proxy: tokens after the canonical
    tokenizer; a real BPE would be a Pandas UDF, same contract)."""
    return F.size(tokenize(text))


def char_count(text: Column) -> Column:
    return F.length(F.coalesce(text, F.lit("")))


def punct_ratio(text: Column) -> Column:
    """Fraction of non-alnum/non-space characters — quality signal."""
    t = F.coalesce(text, F.lit(""))
    stripped = F.regexp_replace(t, r"[^\sa-zA-Z0-9]", "")
    return F.when(F.length(t) > 0, (F.length(t) - F.length(stripped)) / F.length(t)).otherwise(F.lit(0.0))


def stopword_ratio(text: Column) -> Column:
    """Fraction of tokens that are stopwords — low values suggest keyword
    spam / non-prose; used as a quality gate."""
    toks = tokenize(text)
    stop_arr = F.array(*[F.lit(s) for s in ALL_STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, x)))
    return F.when(F.size(toks) > 0, n_stop / F.size(toks)).otherwise(F.lit(0.0))


def mean_word_length(text: Column) -> Column:
    toks = tokenize(text)
    total = F.aggregate(toks, F.lit(0), lambda acc, x: acc + F.length(x))
    return F.when(F.size(toks) > 0, total.cast("double") / F.size(toks)).otherwise(F.lit(0.0))


def quality_score(text: Column) -> Column:
    """Composite quality score in [0,1]: rewards prose-like stopword
    density, penalizes punctuation noise and extreme word lengths.
    Deterministic, documented formula shared with the oracle SQL."""
    sw = stopword_ratio(text)
    pr = punct_ratio(text)
    mwl = mean_word_length(text)
    length_ok = F.when((mwl >= 3.0) & (mwl <= 10.0), F.lit(1.0)).otherwise(F.lit(0.5))
    return F.round(
        (F.least(sw * 4, F.lit(1.0)) * 0.4 + (1.0 - F.least(pr * 5, F.lit(1.0))) * 0.3 + length_ok * 0.3),
        6,
    )


def detect_language(text: Column) -> Column:
    """Marker-word language ID: score = count of tokens in each language's
    marker list; argmax wins, ties broken by language code order, 'und'
    when no marker hits."""
    toks = tokenize(text)
    best_lang = F.lit("und")
    best_score = F.lit(0)
    # Iterate in reversed sorted order so that on equal scores the
    # alphabetically-first language wins (matches oracle max_by semantics
    # with (score, -ord) tie-break expressed as strict > comparison).
    for lang in sorted(LANG_MARKERS, reverse=True):
        markers = LANG_MARKERS[lang]
        arr = F.array(*[F.lit(m) for m in markers])
        score = F.size(F.filter(toks, lambda x: F.array_contains(arr, x)))
        is_better = (score > best_score) | ((score == best_score) & (score > 0) & (F.lit(lang) < best_lang))
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(is_better, score).otherwise(best_score)
    return best_lang


# --- Staged (shared-tokenize) forms of the ratio/score/language family ---
#
# The Column->Column forms above are correct but self-contained: every one
# re-derives the token array from raw text, so a projection that uses
# several of them (x2: 4 ratio columns, cur1: quality + language + count +
# fingerprint) carries 5-15 copies of the tokenize subtree. Catalyst's
# subexpression elimination cannot merge them: each higher-order function
# binds fresh LambdaVariable ids, so the trees are never `semanticEquals`
# (measured r16: the x2 projection evaluated tokenize 15x per row — 3.05s
# wall / 3.5 CPU-s serial at sf0.1 vs 0.63s / 0.74 for the staged form,
# and per-TASK plan-setup cost scaled the same way: 1.4s vs 0.26s).
#
# The staged builders below materialize the token array (and the scalar
# stats derived from it) as real attributes across a chain of Projects.
# CollapseProject cannot re-inline them (each producer is non-cheap and
# multiply-referenced), so tokenize runs once per row no matter how many
# consumers. Every derived expression keeps the EXACT shape of its
# single-column twin (same int inputs, same double ops), so results are
# bit-identical — pinned by the oracle sweep on every rewritten query.

_QS_TMP = ("_qs_n_chars", "_qs_n_stripped", "_qs_toks", "_qs_n_toks",
           "_qs_n_stop", "_qs_tok_chars", "_qs_sw", "_qs_pr", "_qs_mwl")


def with_token_stats(
    df, *, keep_tokens: bool = False
):
    """Append _qs_n_chars/_qs_n_stripped/_qs_n_toks/_qs_n_stop/_qs_tok_chars
    (and _qs_toks when keep_tokens) computed with ONE tokenize."""
    t = F.coalesce(F.col("text"), F.lit(""))
    df1 = df.withColumns(
        {
            "_qs_n_chars": F.length(t),
            "_qs_n_stripped": F.length(F.regexp_replace(t, r"[^\sa-zA-Z0-9]", "")),
            "_qs_toks": tokenize(F.col("text")),
        }
    )
    toks = F.col("_qs_toks")
    stop_arr = F.array(*[F.lit(s) for s in ALL_STOPWORDS])
    df2 = df1.withColumns(
        {
            "_qs_n_toks": F.size(toks),
            "_qs_n_stop": F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, x))),
            "_qs_tok_chars": F.aggregate(toks, F.lit(0), lambda acc, x: acc + F.length(x)),
        }
    )
    return df2 if keep_tokens else df2.drop("_qs_toks")


def with_quality_ratios(df, *, keep_tokens: bool = False):
    """Append the UNROUNDED _qs_sw/_qs_pr/_qs_mwl ratio columns (same
    expression shapes as stopword_ratio/punct_ratio/mean_word_length,
    over the shared stats attributes)."""
    df = with_token_stats(df, keep_tokens=keep_tokens)
    n_toks, n_stop = F.col("_qs_n_toks"), F.col("_qs_n_stop")
    n_chars, n_stripped = F.col("_qs_n_chars"), F.col("_qs_n_stripped")
    return df.withColumns(
        {
            "_qs_sw": F.when(n_toks > 0, n_stop / n_toks).otherwise(F.lit(0.0)),
            "_qs_pr": F.when(n_chars > 0, (n_chars - n_stripped) / n_chars).otherwise(F.lit(0.0)),
            "_qs_mwl": F.when(n_toks > 0, F.col("_qs_tok_chars").cast("double") / n_toks).otherwise(F.lit(0.0)),
        }
    )


def quality_score_from_ratios(sw: Column, pr: Column, mwl: Column) -> Column:
    """quality_score's exact composite formula over ratio ATTRIBUTES
    (sw/pr/mwl must be materialized columns, not expressions)."""
    length_ok = F.when((mwl >= 3.0) & (mwl <= 10.0), F.lit(1.0)).otherwise(F.lit(0.5))
    return F.round(
        (F.least(sw * 4, F.lit(1.0)) * 0.4 + (1.0 - F.least(pr * 5, F.lit(1.0))) * 0.3 + length_ok * 0.3),
        6,
    )


def with_quality_score(df, out_col: str):
    """Append ``out_col`` = quality_score(text) via the staged path (one
    tokenize, one token pass) and drop the intermediates. Drop-in for
    ``.withColumn(out_col, quality_score(text))`` — bit-identical output."""
    df = with_quality_ratios(df)
    df = df.withColumn(
        out_col,
        quality_score_from_ratios(F.col("_qs_sw"), F.col("_qs_pr"), F.col("_qs_mwl")),
    )
    return df.drop(*[c for c in _QS_TMP if c in df.columns])


def lang_score_cols(toks: Column) -> "dict[str, Column]":
    """Per-language marker-hit counts over a token ATTRIBUTE — one array
    pass per language, no re-tokenize."""
    out = {}
    for lang in sorted(LANG_MARKERS):
        arr = F.array(*[F.lit(m) for m in LANG_MARKERS[lang]])
        out[f"_ls_{lang}"] = F.size(F.filter(toks, lambda x: F.array_contains(arr, x)))
    return out


def lang_argmax(scores: "dict[str, Column]") -> Column:
    """detect_language's exact argmax chain over materialized score
    attributes (ties to the alphabetically-first language, 'und' on 0)."""
    best_lang = F.lit("und")
    best_score = F.lit(0)
    for lang in sorted(LANG_MARKERS, reverse=True):
        score = scores[f"_ls_{lang}"]
        is_better = (score > best_score) | ((score == best_score) & (score > 0) & (F.lit(lang) < best_lang))
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(is_better, score).otherwise(best_score)
    return best_lang


def with_language(df):
    """Append ``lang_detected`` = detect_language over the ``_qs_toks``
    token array (share the tokenize with with_token_stats(keep_tokens=True))."""
    df = df.withColumns(lang_score_cols(F.col("_qs_toks")))
    df = df.withColumn("lang_detected", lang_argmax({k: F.col(k) for k in (f"_ls_{lg}" for lg in sorted(LANG_MARKERS))}))
    return df.drop(*[f"_ls_{lg}" for lg in sorted(LANG_MARKERS)])


def with_fingerprint_pair(df, out_col: str, toks_col: str):
    """Append ``out_col`` = fingerprint_pair over an existing token-array
    column (share the tokenize with the site's other token consumers; the
    md5 hex is materialized once so the two 60-bit halves don't re-hash)."""
    df = df.withColumn("_fp_hex", F.md5(F.array_join(F.col(toks_col), " ")))
    df = df.withColumn(
        out_col,
        F.struct(
            F.conv(F.substring("_fp_hex", 1, 15), 16, 10).cast("long").alias("h"),
            F.conv(F.substring("_fp_hex", 16, 15), 16, 10).cast("long").alias("l"),
        ),
    )
    return df.drop("_fp_hex")


def fingerprint(text: Column) -> Column:
    """Exact-dedup document fingerprint: md5 of the canonical token join —
    whitespace/punctuation/case-insensitive identity."""
    return F.md5(F.array_join(tokenize(text), " "))


def fingerprint_pair(text: Column) -> Column:
    """120-bit form of ``fingerprint`` for JOIN/DEDUP KEYS that are never
    surfaced (ep5 survivor groups, st10/ep6 ingest anti-joins, ep7
    countDistinct): struct<h,l> of two 60-bit longs from md5 hex chars
    1-15 and 16-30 (chars 31-32 dropped so each half fits a signed
    BIGINT in every engine). 16 key bytes vs the 32-char hex string —
    the shingle-key shuffle discipline — but unlike a single 60-bit
    long the collision budget survives corpus scale: expected spurious
    merges ≈ n²/2^121 ≈ 4e-15 at n = 10^10 docs, where one 60-bit key
    expects ~40 silent merges (n²/2^61) that exact-dedup would
    propagate as dropped non-duplicates and falsely-rejected novel docs
    (ADVICE r9). The oracles key on the full md5 hex — identical
    semantics to within a 2^-120 collision, never observable at any
    testable scale. Use ``fingerprint`` wherever the value is surfaced."""
    h = F.md5(F.array_join(tokenize(text), " "))
    return F.struct(
        F.conv(F.substring(h, 1, 15), 16, 10).cast("long").alias("h"),
        F.conv(F.substring(h, 16, 15), 16, 10).cast("long").alias("l"),
    )
