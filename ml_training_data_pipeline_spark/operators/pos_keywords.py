"""V5 — POS-filtered keyword extraction (SURVEY.md §2.4).

The reference's ``extract_cleaned_text`` (``02_build_models.R:69-85``,
``02_test.R:44-58``) cleans a document, runs UDPipe POS annotation inside
each worker process (the model is loaded *per worker*, never shipped —
``02_test.R:45,67``), keeps only NOUN/VERB tokens, de-duplicates, and
joins them into a comma-separated keyword string.

Spark shape: ``mapInPandas`` over Arrow batches with a lazy per-executor
tagger singleton — the exact worker-load pattern the reference uses. The
*tagger* is pluggable:

- ``load_tagger()`` tries spaCy (not installed in this container — the
  import-try is the deployment hook; swapping in a real model changes
  nothing about the plan), and falls back to
- ``HeuristicTagger``: a deterministic, pure-function-of-the-token
  suffix/closed-class rule tagger. Because it is a pure token→tag map,
  the whole operator stays **oracle-checkable** — the identical rules are
  stated in SQL in plans/queries_text.py.

Scale notes: no shuffle at all — one narrow mapInPandas pass; output is
one row per input row. Arrow batch size governs memory; the tagger
singleton amortizes model load across every batch an executor sees.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

# Closed-class words (articles, prepositions, pronouns, auxiliaries,
# conjunctions) — never keywords. Mirrored verbatim in the oracle SQL.
CLOSED_CLASS: frozenset[str] = frozenset(
    "a an the and or but if then than because as at by for from in into of "
    "on onto to with without is are was were be been being am do does did "
    "have has had will would can could shall should may might must he she "
    "it they we you i his her its their our your them this that these "
    "those there here not no nor so yet both each few more most other some "
    "such only own same too very just about after before during over under "
    "again further once while when where why how all any up down out off".split()
)

# Suffix rules, checked in THIS order (first match wins) — mirrored as an
# ordered CASE expression in the oracle SQL. The reference keeps only
# upos ∈ {NOUN, VERB} (02_build_models.R:78-80), so ADV/ADJ tags exist to
# be *excluded*, like UDPipe excludes them.
ADV_SUFFIXES: tuple[str, ...] = ("ly",)
ADJ_SUFFIXES: tuple[str, ...] = ("ous", "ful", "ive", "able", "ible", "less", "ish", "ical")
VERB_SUFFIXES: tuple[str, ...] = ("ing", "ize", "ise", "ify", "ated", "ates", "ened")


class HeuristicTagger:
    """Deterministic rule tagger: closed-class/short/non-alpha → OTHER,
    then ADV → ADJ → VERB suffix rules, else NOUN. A pure function of the
    token, so it is SQL-expressible (the DuckDB oracle states the same
    CASE expression)."""

    def tag(self, token: str) -> str:
        if token in CLOSED_CLASS or len(token) < 3 or not token.isalpha():
            return "OTHER"
        if token.endswith(ADV_SUFFIXES):
            return "ADV"
        if token.endswith(ADJ_SUFFIXES):
            return "ADJ"
        if token.endswith(VERB_SUFFIXES):
            return "VERB"
        return "NOUN"


class SpacyTagger:
    """Statistical tagger adapter: wraps a loaded spaCy pipeline behind
    the same ``tag(token) -> upos`` contract as HeuristicTagger (the
    reference loads a real UDPipe model per worker, 02_test.R:44-58)."""

    def __init__(self, nlp) -> None:
        self._nlp = nlp

    def tag(self, token: str) -> str:
        doc = self._nlp(token)
        return doc[0].pos_ if len(doc) else "OTHER"


def load_tagger():
    """Per-executor tagger factory (the 02_test.R:44-58 worker-load
    pattern). The deterministic heuristic is the default — it is what the
    DuckDB oracle states in SQL, so the correctness path never depends on
    an installed model. Deployments opt into the statistical tagger by
    installing spaCy on executors AND setting ``MTDP_POS_MODEL`` to a
    spaCy model name; any load failure falls back to the heuristic."""
    import os

    model_name = os.environ.get("MTDP_POS_MODEL")
    if model_name:
        try:
            import spacy

            return SpacyTagger(spacy.load(model_name))
        except Exception:  # noqa: BLE001 — missing lib/model → heuristic
            return HeuristicTagger()
    return HeuristicTagger()


_TAGGER: HeuristicTagger | SpacyTagger | None = None


def _tagger() -> HeuristicTagger | SpacyTagger:
    global _TAGGER
    if _TAGGER is None:
        _TAGGER = load_tagger()
    return _TAGGER


def extract_pos_keywords(docs: DataFrame) -> DataFrame:
    """(doc_id, keywords) — clean → tokenize → tag → keep NOUN/VERB →
    unique → sorted → comma-join (sorted, not first-occurrence, so the
    result is engine-order-independent and hash-comparable).

    The tokenize step reuses the engine's canonical contract (lower →
    strip non-alnum → split) in Python form so the mapInPandas pass is
    single-shot; the Column-expression twin lives in functions/text.py.
    """
    import re

    out_schema = "doc_id long, keywords string"

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tagger = _tagger()  # lazy per-executor init
        ws = re.compile(r"\s+")
        bad = re.compile(r"[^a-z0-9\s]")

        def keywords(text: object) -> str | None:
            if not isinstance(text, str) or not text:
                return None
            toks = ws.split(bad.sub("", text.lower()).strip())
            kept = sorted({t for t in toks if tagger.tag(t) in ("NOUN", "VERB")})
            return ", ".join(kept)

        for pdf in batches:
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "keywords": [keywords(t) for t in pdf["text"]]}
            )

    return docs.select("doc_id", "text").mapInPandas(op, schema=out_schema)
