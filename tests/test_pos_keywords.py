"""V5 tagger: the Python heuristic and the oracle-SQL CASE filter must
agree token-by-token (the v5_pos_keywords parity test then checks the full
mapInPandas plumbing end-to-end)."""

from __future__ import annotations

import duckdb
from hypothesis import given, settings
from hypothesis import strategies as st

from ml_training_data_pipeline_spark.operators.pos_keywords import (
    CLOSED_CLASS,
    HeuristicTagger,
)
from ml_training_data_pipeline_spark.plans.queries_text import pos_keep_sql

TAGGER = HeuristicTagger()
_KEEP = pos_keep_sql()


def sql_keep(tokens: list[str]) -> list[bool]:
    con = duckdb.connect()
    (out,) = con.execute(
        f"SELECT list_transform(?::varchar[], x -> ({_KEEP}))", [tokens]
    ).fetchone()
    return list(out)


tokens_st = st.text(alphabet="abcdefghijklmnopqrstuvwxyz0123456789", min_size=0, max_size=12)


@settings(max_examples=30, deadline=None)
@given(st.lists(tokens_st, min_size=1, max_size=30))
def test_tagger_matches_sql_filter(tokens):
    py = [TAGGER.tag(t) in ("NOUN", "VERB") for t in tokens]
    assert py == sql_keep(tokens)


def test_known_tags():
    cases = {
        "energy": "NOUN",
        "charging": "VERB",
        "quickly": "ADV",
        "massive": "ADJ",
        "useful": "ADJ",
        "the": "OTHER",
        "ab": "OTHER",
        "a1b2": "OTHER",
    }
    for tok, want in cases.items():
        assert TAGGER.tag(tok) == want, tok
    assert all(w in CLOSED_CLASS for w in ("the", "and", "of"))


class _FakePos:
    def __init__(self, pos: str) -> None:
        self.pos_ = pos


class _FakeDoc(list):
    pass


class _FakeNlp:
    """Stands in for a loaded spaCy pipeline: everything is a VERB, which
    the heuristic would never say for e.g. 'table' — proving the
    statistical path is actually consulted, not silently bypassed."""

    def __call__(self, token: str):
        return _FakeDoc([_FakePos("VERB")])


def test_spacy_path_wires_up(monkeypatch):
    import sys
    import types

    from ml_training_data_pipeline_spark.operators import pos_keywords as pk

    fake_spacy = types.ModuleType("spacy")
    fake_spacy.load = lambda name: _FakeNlp()
    monkeypatch.setitem(sys.modules, "spacy", fake_spacy)
    monkeypatch.setenv("MTDP_POS_MODEL", "fake_model")
    tagger = pk.load_tagger()
    assert isinstance(tagger, pk.SpacyTagger)
    assert tagger.tag("table") == "VERB"


def test_spacy_load_failure_falls_back(monkeypatch):
    import sys
    import types

    from ml_training_data_pipeline_spark.operators import pos_keywords as pk

    fake_spacy = types.ModuleType("spacy")

    def boom(name):
        raise OSError("model not found")

    fake_spacy.load = boom
    monkeypatch.setitem(sys.modules, "spacy", fake_spacy)
    monkeypatch.setenv("MTDP_POS_MODEL", "missing_model")
    tagger = pk.load_tagger()
    assert isinstance(tagger, pk.HeuristicTagger)
    # no model configured → heuristic; configured but spaCy not
    # importable → heuristic fallback, no raise
    monkeypatch.delenv("MTDP_POS_MODEL")
    assert isinstance(pk.load_tagger(), pk.HeuristicTagger)
    monkeypatch.setenv("MTDP_POS_MODEL", "no_such_model")
    monkeypatch.setitem(sys.modules, "spacy", None)
    assert isinstance(pk.load_tagger(), pk.HeuristicTagger)
