"""Distributed BPE tokenizer training (scale extension; the reference
tokenizes with quanteda's fixed rules — ``02_build_models.R:162`` — and
never learns a subword vocabulary, but every modern training-data
pipeline does).

The trainer is the classic Sennrich et al. 2016 loop — count adjacent
symbol pairs, merge the most frequent, repeat — expressed the Spark way:

- All statistics run on the DISTINCT-TERM table (term, corpus_tf), which
  is vocabulary-sized. The corpus token stream is touched ONCE (the tf
  aggregate); every merge iteration after that is bounded by |vocab|,
  not corpus size — the property that makes N merges affordable at
  100 TB.
- Pair counting is one explode + groupBy per iteration (map-side
  combinable), and the winning pair comes back as ONE row (bounded
  driver transfer — job control flow, not data movement).
- The merge itself is a pure JVM higher-order fold (``aggregate``) over
  each term's symbol array — left-to-right, non-overlapping, exactly
  BPE's greedy replacement — so NO Python UDF anywhere in the loop.
- Lineage is cut with materialize() every ``_CHECKPOINT_EVERY`` merges (the
  connected_components discipline) so N merges stay O(N) planning, not
  O(N²).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .materialize import materialize
from .tfidf import doc_tokens, term_counts

# merges between lineage cuts, in training and in serving
_CHECKPOINT_EVERY = 4

# left-to-right greedy merge of the adjacent pair (L, R) inside a symbol
# array, as a pure SQL fold: walk the symbols, and whenever the
# accumulator's last element is L and the incoming symbol is R, replace
# the tail with the merged symbol — non-overlapping by construction
# (the merged tail no longer equals L, so an overlapping second match
# can't fire).
_MERGE_FOLD = """
aggregate(
  {COL},
  CAST(array() AS array<string>),
  (acc, x) -> CASE
    WHEN size(acc) > 0 AND element_at(acc, -1) = {L} AND x = {R}
      THEN concat(slice(acc, 1, size(acc) - 1), array({M}))
    ELSE concat(acc, array(x))
  END
)
"""


def _lit(s: str) -> str:
    """SQL string literal (single-quote escaped)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"


def _ident(name: str) -> str:
    """SQL column identifier (backtick-quoted). The fold template takes
    the column as a {COL} parameter — never a post-hoc string replace,
    which would corrupt a learned merge symbol that happens to contain
    the column name's text."""
    return "`" + name.replace("`", "``") + "`"


def vocab_symbols(docs: DataFrame) -> DataFrame:
    """(term, tf, syms): distinct corpus terms with total tf, segmented
    into their initial character symbols — the trainer's working state.
    The ONLY corpus-sized pass in the whole trainer."""
    tf = (
        term_counts(doc_tokens(docs))
        .groupBy("term")
        .agg(F.sum("tf").alias("tf"))
    )
    return tf.select(
        "term", "tf", F.expr("split(term, '(?!^)(?=.)')").alias("syms")
    )


def train_bpe(
    docs: DataFrame,
    n_merges: int = 10,
) -> tuple[list[tuple[int, str, str, str, int]], DataFrame]:
    """Learn ``n_merges`` BPE merge rules. Returns (merges, state):
    merges = [(step, left, right, merged, pair_freq)] in learning order,
    state = the final (term, tf, syms) segmentation DataFrame.

    Ties on pair frequency break by (left, right) lexicographic order —
    a total order, so the learned rules are deterministic across
    partitionings and engines."""
    state = materialize(vocab_symbols(docs))
    merges: list[tuple[int, str, str, str, int]] = []
    for step in range(n_merges):
        pairs = state.where(F.size("syms") >= 2).select(
            "tf",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(syms) - 1),"
                    " i -> struct(element_at(syms, i) AS l, element_at(syms, i + 1) AS r))"
                )
            ).alias("p"),
        )
        best = (
            pairs.groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("tf").alias("freq"))
            .orderBy(F.col("freq").desc(), F.col("l"), F.col("r"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        l, r, freq = best[0]["l"], best[0]["r"], int(best[0]["freq"])
        merged = l + r
        merges.append((step, l, r, merged, freq))
        fold = _MERGE_FOLD.format(COL="syms", L=_lit(l), R=_lit(r), M=_lit(merged))
        state = state.select("term", "tf", F.expr(fold).alias("syms"))
        if (step + 1) % _CHECKPOINT_EVERY == 0:
            state = materialize(state)
    return merges, state


def merge_table(spark, merges: list[tuple[int, str, str, str, int]]) -> DataFrame:
    """The learned rules as a DataFrame (step, left, right, merged,
    pair_freq) — the serving artifact a tokenizer loads."""
    return spark.createDataFrame(
        merges, "step long, left string, right string, merged string, pair_freq long"
    )


def apply_merges(
    segmented: DataFrame,
    merges: list[tuple[int, str, str, str, int]],
    syms_col: str = "syms",
) -> DataFrame:
    """Serve path: apply learned rules IN LEARNING ORDER to a (…, syms)
    DataFrame — the same JVM fold the trainer uses, so train/serve
    segmentation is bit-identical. Rules chain as successive projections
    (Catalyst pipelines them into one stage); lineage is cut every few
    rules so long rule lists stay O(N) planning."""
    out = segmented
    for step, (_i, l, r, merged, _f) in enumerate(merges):
        fold = _MERGE_FOLD.format(COL=_ident(syms_col), L=_lit(l), R=_lit(r), M=_lit(merged))
        out = out.withColumn(syms_col, F.expr(fold))
        if (step + 1) % _CHECKPOINT_EVERY == 0:
            out = materialize(out)
    return out


def encode_token_counts(
    docs: DataFrame,
    merges: list[tuple[int, str, str, str, int]],
) -> DataFrame:
    """(doc_id, n_chars_sym, n_subwords): per-document subword counts
    under the learned merges — the token-budget number a training run
    plans with. Counting happens on the VOCABULARY (segment each
    distinct term once, then join term-level subword counts back to the
    per-doc term stream) — the corpus stream is never re-segmented
    per occurrence."""
    toks = doc_tokens(docs)
    per_term = term_counts(toks)  # (doc_id, term, tf)
    vocab = per_term.select("term").distinct().select(
        "term", F.expr("split(term, '(?!^)(?=.)')").alias("syms")
    )
    seg = apply_merges(vocab, merges).select(
        "term",
        F.length("term").cast("long").alias("n_chars_term"),
        F.size("syms").cast("long").alias("n_sub_term"),
    )
    return (
        per_term.join(seg, "term")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("tf") * F.col("n_chars_term")).cast("long").alias("n_chars_sym"),
            F.sum(F.col("tf") * F.col("n_sub_term")).cast("long").alias("n_subwords"),
        )
    )
