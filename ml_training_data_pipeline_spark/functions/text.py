"""String / regex / tokenization functions (SURVEY.md §2.3-2.4, F1-F10, V1).

Everything here is a pure Column expression (JVM-side, whole-stage
codegen'd) — the reference does these row-at-a-time in R
(``02_build_models.R:25-41``, ``01_extract_features.R:60-67``). No Python
UDFs on the text-cleaning hot path.

The tokenization contract is deliberately simple and *defined here once*
so the DuckDB oracle SQL can state the identical formula:

    lower → strip non-[a-z0-9 space] → collapse whitespace → split → drop ''

n-grams (V1, reference ``quanteda::tokens(ngrams=1:3)`` at
``02_build_models.R:162``) are built from that token array with
``transform(sequence(...))`` — still JVM-side, no shuffle, no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Compact English stopword list (quanteda/snowball-style core) + the
# reference's custom noise words (``02_build_models.R:35-36``). Kept short
# and explicit so the same list can be inlined into oracle SQL.
ENGLISH_STOPWORDS: tuple[str, ...] = (
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for", "from",
    "has", "have", "he", "in", "is", "it", "its", "of", "on", "or", "that",
    "the", "this", "to", "was", "were", "will", "with", "not", "no", "she",
    "they", "we", "you", "i", "his", "her", "their", "our", "your", "them",
)
CUSTOM_NOISE_WORDS: tuple[str, ...] = (
    # reference removes these ad-hoc terms: 02_build_models.R:36
    "project", "focuses", "team", "users", "excuse", "tongue", "sticking", "loring",
)
ALL_STOPWORDS: tuple[str, ...] = ENGLISH_STOPWORDS + CUSTOM_NOISE_WORDS

# A minimal contraction dictionary (F7, textclean::replace_contraction at
# 02_build_models.R:28) — regexp_replace chain, no UDF.
CONTRACTIONS: tuple[tuple[str, str], ...] = (
    (r"won't", "will not"),
    (r"can't", "cannot"),
    (r"n't", " not"),
    (r"'re", " are"),
    (r"'ve", " have"),
    (r"'ll", " will"),
    (r"'d", " would"),
    (r"it's", "it is"),
    (r"'s", ""),  # possessive drop, matching tm's punctuation strip outcome
)


def lowercase(c: Column) -> Column:
    """F1 — str_to_lower (02_build_models.R:27)."""
    return F.lower(c)


def strip_punctuation(c: Column) -> Column:
    """F2 — tm::removePunctuation (02_build_models.R:32)."""
    return F.regexp_replace(c, r"[^\sa-zA-Z0-9]", "")


def strip_numbers(c: Column) -> Column:
    """F3 — tm::removeNumbers (02_build_models.R:33)."""
    return F.regexp_replace(c, r"[0-9]+", "")


def normalize_whitespace(c: Column) -> Column:
    """F4/F5 — stripWhitespace + newline strip + trim
    (02_build_models.R:34; 01_extract_features.R:64-65)."""
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def expand_contractions(c: Column) -> Column:
    """F7 — replace_contraction (02_build_models.R:28) as a
    regexp_replace chain."""
    out = c
    for pat, rep in CONTRACTIONS:
        out = F.regexp_replace(out, pat, rep)
    return out


def clean_text(c: Column) -> Column:
    """The reference's clean_text composite (02_build_models.R:25-41):
    lower → expand contractions → strip punctuation → strip numbers
    → normalize whitespace. Pure column expression."""
    out = lowercase(c)
    out = expand_contractions(out)
    out = strip_punctuation(out)
    out = strip_numbers(out)
    return normalize_whitespace(out)


def tokenize(c: Column) -> Column:
    """V1 (unigram part) — the engine's canonical tokenizer.

    lower → strip non-[a-z0-9 space] → split on whitespace → drop empties.
    Matches the oracle-SQL formula in __spark_entry__.py exactly.
    """
    cleaned = F.regexp_replace(F.lower(c), r"[^a-z0-9\s]", "")
    toks = F.split(F.trim(F.regexp_replace(cleaned, r"\s+", " ")), " ")
    return F.filter(toks, lambda x: x != "")


def remove_stopwords(tokens: Column, stopwords: tuple[str, ...] = ALL_STOPWORDS) -> Column:
    """F6 — tm::removeWords(stopwords + custom) (02_build_models.R:35-36)
    on a token array. ``filter`` (not ``array_except``, which would dedupe)
    so duplicate content tokens survive, matching StopWordsRemover."""
    stop_arr = F.array(*[F.lit(s) for s in stopwords])
    return F.filter(tokens, lambda x: ~F.array_contains(stop_arr, x))


def ngrams(tokens: Column, n: int) -> Column:
    """V1 — n-grams from a token array (quanteda tokens ngrams=1:3,
    02_build_models.R:162). For n=1 returns the array unchanged; else
    joins each n-window with a space. JVM-side transform(sequence(...))."""
    if n == 1:
        return tokens
    return F.when(
        F.size(tokens) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(tokens) - (n - 1)),
            lambda i: F.array_join(F.slice(tokens, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def ngrams_up_to(tokens: Column, max_n: int) -> Column:
    """V1 — concat of 1..max_n gram arrays (ngrams=1:3 semantics)."""
    parts = [ngrams(tokens, n) for n in range(1, max_n + 1)]
    out = parts[0]
    for p in parts[1:]:
        out = F.concat(out, p)
    return out


def strip_html(c: Column) -> Column:
    """Web-corpus boilerplate removal: drop <script>/<style> blocks WITH
    their contents, strip remaining tags, unescape the five XML entities,
    collapse whitespace. Pure column expressions with RE2-safe patterns
    (no lookarounds, (?is) inline flags work on both Java regex and
    DuckDB/RE2), so the op is oracle-restatable. Order matters:
    block-drop before tag-strip (a stripped <script> tag would leak its
    payload), entity unescape after tag-strip (so &lt;b&gt; never turns
    into a live tag — the classic double-unescape injection). An
    UNTERMINATED <script>/<style> (no closing tag — truncated crawls)
    falls back to dropping from the open tag to end-of-document, else
    the generic tag-strip would remove only the open tag and leak the
    raw payload into the cleaned text. The open-tag match requires the
    tag NAME to be exactly script/style — ``(>|[\\s/][^>]*>)`` is the
    RE2-safe (lookaround-free) spelling of ``(?=[\\s>/])`` — so a custom
    element like <script-loader> gets the generic tag-strip, never a
    whole-tail drop (ADVICE r7). Known heuristic limit: plain-text
    'a < b ... >' spans look like pseudo-tags and are swallowed."""
    out = F.regexp_replace(c, r"(?is)<script(>|[\s/][^>]*>).*?</script>", " ")
    out = F.regexp_replace(out, r"(?is)<style(>|[\s/][^>]*>).*?</style>", " ")
    out = F.regexp_replace(out, r"(?is)<script(>|[\s/][^>]*>).*$", " ")
    out = F.regexp_replace(out, r"(?is)<style(>|[\s/][^>]*>).*$", " ")
    out = F.regexp_replace(out, r"(?s)<[^>]+>", " ")
    for ent, ch in (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "'"), ("&amp;", "&")):
        out = F.regexp_replace(out, ent, ch)
    return F.trim(F.regexp_replace(out, r"\s+", " "))
