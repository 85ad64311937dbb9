"""Seeded input generator for the pipeline benchmark.

Writes the two tables the benchmarked queries read, in the layout
``io.sources.load_table`` expects (``<dir>/<table>.parquet``, one row group):

- ``documents (doc_id, text, lang, source, n_chars)``: topical pseudo-word
  text, with an exact-copy share and a near-duplicate share (token edits of
  an earlier document);
- ``embeddings (vec_id, embedding, label)``: unit vectors drawn around a few
  label centroids plus per-vector noise, never copied verbatim.

The same seed gives byte-identical files.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.15, 0.14, 0.14, 0.13)
N_SOURCES = 20
N_TOPICS = 12
VOCAB_SIZE = 6000
EXACT_SHARE = 0.02  # verbatim copies of an earlier document
NEAR_SHARE = 0.10  # token edits of an earlier document
# off-topic documents: words drawn from the whole vocabulary around one of
# two hub words repeated HUB_REPEATS times. The hub makes K-means gather
# each group into its own cluster; the random words give those clusters
# near-zero coherence. So ep2's coherence gate finds at least two
# low-coherence clusters on every seed and its refine loop always splits
# two (its cap), which keeps the pipeline's job count independent of the
# seed
OFF_TOPIC_SHARE = 0.2
N_HUBS = 2
HUB_REPEATS = 8
# closed-class words the POS tagger drops; they give the text realistic
# filler between keywords and shingles a shared-but-harmless background
FILLER = ("the", "a", "of", "and", "to", "in", "with", "for", "on", "is", "are", "by")
# suffixes that steer the heuristic tagger: nouns (none), verbs, adjectives,
# adverbs — so keyword extraction keeps a NOUN/VERB subset, as on real text
SUFFIXES = ("", "", "", "", "ing", "ize", "ated", "ous", "ful", "ive", "ly")
SYLLABLES = tuple(
    c + v for c in "bcdfghklmnprstvz" for v in ("a", "e", "i", "o", "u", "ar", "en", "or")
)
# embeddings: unit vectors around N_LABELS centroids plus per-vector noise
DIM = 64
N_LABELS = 10


def vocabulary(rng: np.random.Generator) -> list[str]:
    """VOCAB_SIZE distinct lowercase pseudo-words of 2-4 syllables."""
    words: list[str] = []
    seen: set[str] = set(FILLER)
    while len(words) < VOCAB_SIZE:
        n = int(rng.integers(2, 5))
        w = "".join(SYLLABLES[i] for i in rng.integers(0, len(SYLLABLES), n))
        w += SUFFIXES[int(rng.integers(0, len(SUFFIXES)))]
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def _edit(rng: np.random.Generator, toks: list[str], vocab: list[str]) -> list[str]:
    """A near-duplicate: replace, drop or insert about one token in 25."""
    out = list(toks)
    for _ in range(max(1, len(out) // 25)):
        i = int(rng.integers(0, len(out)))
        op = int(rng.integers(0, 3))
        w = vocab[int(rng.integers(0, len(vocab)))]
        if op == 0:
            out[i] = w
        elif op == 1 and len(out) > 8:
            del out[i]
        else:
            out.insert(i, w)
    return out


def documents(seed: int, n_docs: int) -> tuple[pa.Table, dict]:
    """The documents table and its properties (doc count, duplicate and
    off-topic shares as generated, vocabulary size)."""
    rng = np.random.default_rng([seed, 1])
    vocab = vocabulary(rng)
    # hub words: five syllables (no vocabulary word has more than four) and
    # no suffix, so the tagger keeps them as nouns
    hubs = ["".join(SYLLABLES[j] for j in rng.integers(0, len(SYLLABLES), 5)) for _ in range(N_HUBS)]
    # each topic owns a slice of the vocabulary with Zipf-like weights;
    # a document mixes one main topic with the shared filler words
    per_topic = len(vocab) // N_TOPICS
    zipf = 1.0 / np.arange(1, per_topic + 1) ** 0.6
    zipf /= zipf.sum()
    p_topical = 1 - EXACT_SHARE - NEAR_SHARE - OFF_TOPIC_SHARE
    kinds = rng.choice(4, size=n_docs, p=(p_topical, EXACT_SHARE, NEAR_SHARE, OFF_TOPIC_SHARE))
    kinds[0] = 0
    texts: list[str] = []
    token_lists: list[list[str]] = []
    n_exact = n_near = n_off = 0
    for i in range(n_docs):
        if kinds[i] in (0, 3):
            n = int(rng.integers(20, 80))
            if kinds[i] == 0:
                topic = int(rng.integers(0, N_TOPICS))
                ids = rng.choice(per_topic, size=n, p=zipf) + topic * per_topic
            else:  # off-topic: words from the whole vocabulary
                ids = rng.integers(0, len(vocab), n)
            toks = [vocab[j] for j in ids]
            # filler at every other slot of a random fifth of the
            # even positions: never two in a row, so no all-filler shingle
            # is shared by thousands of documents
            for j in rng.choice(n // 2, size=n // 5, replace=False):
                toks[2 * j] = FILLER[int(rng.integers(0, len(FILLER)))]
            if kinds[i] == 3:  # the hub goes to odd positions, clear of filler
                hub = hubs[int(rng.integers(0, N_HUBS))]
                for j in rng.choice(n // 2, size=HUB_REPEATS, replace=False):
                    toks[2 * j + 1] = hub
                n_off += 1
        else:
            src = token_lists[int(rng.integers(0, i))]
            if kinds[i] == 1:
                toks = list(src)
                n_exact += 1
            else:
                toks = _edit(rng, src, vocab)
                n_near += 1
        token_lists.append(toks)
        texts.append(" ".join(toks))
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[j] for j in rng.choice(len(LANGS), size=n_docs, p=LANG_P)]),
            "source": pa.array([f"src{j}" for j in rng.integers(0, N_SOURCES, n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    props = {
        "docs": n_docs,
        "exact_dup_share": round(n_exact / n_docs, 4),
        "near_dup_share": round(n_near / n_docs, 4),
        "off_topic_share": round(n_off / n_docs, 4),
        "vocabulary": len({t for toks in token_lists for t in toks}),
    }
    return table, props


def embeddings(seed: int, n_vecs: int) -> tuple[pa.Table, dict]:
    """The embeddings table and its properties."""
    rng = np.random.default_rng([seed, 2])
    centroids = rng.standard_normal((N_LABELS, DIM))
    labels = rng.integers(0, N_LABELS, n_vecs).astype(np.int32)
    vecs = centroids[labels] + 0.8 * rng.standard_normal((n_vecs, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel())
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, n_vecs * DIM + 1, DIM, dtype=np.int32)), flat
            ),
            "label": pa.array(labels),
        }
    )
    return table, {"embeddings": n_vecs, "dim": DIM, "labels": N_LABELS}


def write_inputs(out_dir: str, seed: int, n_docs: int = 0, n_vecs: int = 0) -> dict:
    """Write the requested tables under ``out_dir`` and return their
    properties (also written to ``out_dir/inputs.json``)."""
    os.makedirs(out_dir, exist_ok=True)
    props: dict = {"seed": seed}
    for name, n, make in (("documents", n_docs, documents), ("embeddings", n_vecs, embeddings)):
        if n:
            table, p = make(seed, n)
            pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=n)
            props.update(p)
    with open(os.path.join(out_dir, "inputs.json"), "w") as fh:
        json.dump(props, fh, sort_keys=True)
    return props

