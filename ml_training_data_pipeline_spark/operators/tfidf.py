"""TF-IDF document-feature matrix in long format (SURVEY.md §2.4, V1-V6).

The reference builds a sparse doc×term matrix with quanteda
(``02_build_models.R:161-180``: tokens(ngrams=1:3) → dfm → dfm_tfidf →
top-2000 reduction). This engine's scalable representation is the exploded
long format ``(doc_id, term, weight)`` — a shuffle-friendly, columnar,
100-TB-safe layout — plus helpers to assemble ``SparseVector`` columns for
MLlib when an estimator needs them (see operators/vectorize.py).

TF-IDF formula (stated once, mirrored exactly in the oracle SQL):

    tf(d, t)  = count of t in d's token array
    df(t)     = number of docs containing t at least once
    N         = number of docs with >= 1 token
    weight    = tf * ln(N / df)

(quanteda's default is log10 with no smoothing, MLlib's IDF is
ln((N+1)/(df+1)) — per SURVEY §2.4 V3 we replicate *semantics*, and define
our own constant explicitly rather than chase either library.)

Scale notes: one shuffle for the (doc,term) count, one for df(t); the
df join is a plain equi-join on ``term`` that AQE turns into a broadcast
when the vocabulary is small (top-2000 vocab ⇒ always broadcast). No
Python UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import ngrams_up_to, tokenize
from .materialize import materialize


# V4's vocabulary cap: reduce_dfm(top_n=2000)
VOCAB_SIZE = 2000


def doc_tokens(
    docs: DataFrame,
    text_col: str = "text",
    *,
    ngram_max: int = 1,
) -> DataFrame:
    """(doc_id, term) exploded token table. V1: ngram_max=3 reproduces the
    reference's quanteda tokens(ngrams=1:3) (02_build_models.R:162)."""
    base = tokenize(F.col(text_col))
    # explode(array(toks)) is a Generate barrier: it materializes the token
    # array ONCE per row as a real attribute. Without it, CollapseProject
    # inlines the tokenize subtree into every n-gram lambda and the
    # generated (whole-stage codegen) Java blows up super-linearly —
    # observed 270s vs 7s on the same data.
    tok_rows = docs.where(F.col(text_col).isNotNull()).select(
        "doc_id", F.explode(F.array(base)).alias("_toks")
    )
    grams = F.col("_toks") if ngram_max == 1 else ngrams_up_to(F.col("_toks"), ngram_max)
    return (
        tok_rows.where(F.size("_toks") > 0)
        .select("doc_id", F.explode(grams).alias("term"))
    )


def term_counts(tokens_long: DataFrame) -> DataFrame:
    """(doc_id, term, tf) — A7's count(document, word)
    (02_build_models.R:147-149). Partial aggregation (map-side combine)
    happens automatically for the count."""
    return tokens_long.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))


def corpus_size(docs: DataFrame, text_col: str = "text") -> int:
    """N — count of docs with ≥1 token. A scalar: one cheap count action
    on the source (at 100 TB this is a metadata-cheap scan), so the main
    plan stays a single lineage — otherwise Catalyst re-derives the
    counts subtree for the N aggregate and the df join (3× the explode
    work, no shared scan). "doc has ≥1 token" ⇔ "text contains ≥1 ASCII
    alnum char" (the tokenizer keeps exactly [a-z0-9] runs), so the count
    scans with a single rlike instead of full tokenization."""
    nonempty = docs.where(F.col(text_col).isNotNull())
    return nonempty.where(F.col(text_col).rlike("[a-zA-Z0-9]")).count()


def tfidf_long(
    docs: DataFrame,
    text_col: str = "text",
    *,
    ngram_max: int = 1,
) -> DataFrame:
    """(doc_id, term, tf, weight) — V2+V3, the dfm_tfidf equivalent
    (02_build_models.R:163-165). weight = tf * ln(N/df), rounded to 6
    decimals so Spark and the DuckDB oracle hash identically."""
    tokens = doc_tokens(docs, text_col, ngram_max=ngram_max)
    # counts has TWO consumers (the weight projection and the df
    # aggregate); lazy, the plan re-executes scan→tokenize→explode for
    # each. Round 7 measured the localCheckpoint fix-candidate as "a
    # wash" — but that measurement used the count() bench action, which
    # Catalyst prunes (round-14 find), so it never timed the second
    # tokenize pass at all. Re-measured under the honest noop action at
    # sf0.1 (warm, cache-cold): lazy 20.8 CPU-s vs checkpointed 10.4 —
    # the materialization HALVES the real cost, exactly the economics
    # the old comment predicted for 100 TB (corpus scan ≫ doc-term
    # shuffle materialization).
    counts = materialize(term_counts(tokens))
    n_docs = corpus_size(docs, text_col)
    # df(t) via groupBy + join, not a window over term: the groupBy gets
    # map-side partial aggregation (the shuffle carries one row per
    # (partition, term), not per posting), the dft table is vocabulary-
    # sized so AQE usually broadcasts it, and a boilerplate term that
    # appears in half the corpus hits AQE's skew-join splitting — a
    # term-partitioned window would funnel all of that term's rows
    # through one partition with no mitigation.
    dft = counts.groupBy("term").agg(F.count("*").alias("df"))
    return counts.join(dft, "term").select(
        "doc_id",
        "term",
        "tf",
        F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6).alias("weight"),
    )


def top_vocabulary(tfidf: DataFrame) -> DataFrame:
    """V4 — reduce_dfm(top_n=2000) (02_build_models.R:174-180): rank terms
    by total TF-IDF mass, keep the top ``VOCAB_SIZE``. Deterministic tie-break on term.
    Returns (term, total_weight, rank)."""
    totals = tfidf.groupBy("term").agg(F.round(F.sum("weight"), 6).alias("total_weight"))
    # orderBy().limit() compiles to TakeOrderedAndProject: every partition
    # keeps its local top-N and only N rows ever cross the network — unlike
    # a no-partition row_number window, which funnels the whole vocabulary
    # through one partition. rank is derived afterwards on the ≤VOCAB_SIZE-row
    # result; the constant partition key keeps that tiny window off
    # WindowExec's single-partition warning path (it IS one partition, but
    # of at most VOCAB_SIZE rows by construction).
    top = totals.orderBy(F.desc("total_weight"), F.asc("term")).limit(VOCAB_SIZE)
    w = Window.partitionBy(F.lit(0)).orderBy(F.desc("total_weight"), F.asc("term"))
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


def top_vocabulary_from_counts(counts: DataFrame, n_docs: int) -> DataFrame:
    """V4, single-pass form: total tf-idf mass per term computed directly
    from (doc_id, term, tf) — df(t) is count(*) and Σ_d tf·idf = idf·Σ_d tf
    since idf is constant per term, so ONE groupBy(term) replaces the
    per-cell weight materialization plus the df join (one shuffle saved;
    this is also the reference's unrounded colSums semantics,
    02_build_models.R:174-180, where the long form rounds per cell).
    Returns (term, total_weight, rank) like top_vocabulary."""
    totals = counts.groupBy("term").agg(
        F.round(
            F.sum("tf") * F.log(F.lit(float(n_docs)) / F.count("*")), 6
        ).alias("total_weight")
    )
    top = totals.orderBy(F.desc("total_weight"), F.asc("term")).limit(VOCAB_SIZE)
    w = Window.partitionBy(F.lit(0)).orderBy(F.desc("total_weight"), F.asc("term"))
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


def reduce_to_vocabulary(tfidf: DataFrame, vocab: DataFrame) -> DataFrame:
    """Project the long DFM onto a vocabulary (V4 second half / V7
    dfm_match, README.md:519). Broadcast join — vocab is small by
    construction."""
    return tfidf.join(F.broadcast(vocab.select("term")), "term").select(tfidf.columns)


def doc_top_terms(tfidf: DataFrame) -> DataFrame:
    """V6 — per-doc top-10 terms by TF-IDF (extract_summary,
    02_build_models.R:141-158; defined-but-dead in the reference, live
    here). Window top-k: the canonical ranking workload (T2/T3 family)."""
    w = Window.partitionBy("doc_id").orderBy(F.desc("weight"), F.asc("term"))
    return (
        tfidf.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 10)
        .select("doc_id", "term", "weight", "rank")
    )


def cluster_term_scores(
    tfidf: DataFrame, assignments: DataFrame, top_n: int = 30
) -> DataFrame:
    """T3/A3 — top-n terms per cluster by summed TF-IDF
    (extract_cluster_term_scores,
    02_build_models_with_auto_lables._optimised_clusters.R:557-597).

    assignments: (doc_id, cluster_id). The join shuffles on doc_id (or
    broadcasts the assignments when small); the sum gets map-side partial
    aggregation; the top-k is a window over cluster_id.
    Returns (cluster_id, term, score, rank).
    """
    # decimal-summed score (cur8's pattern): per-(doc,term) weights round
    # identically cross-engine at 6dp (v3's sf1-green row is the direct
    # evidence), but sum(double) over cluster-term groups that grow with
    # corpus size is accumulation-order-dependent in the last ulp — the
    # d12 sf1-probe class. Summing the 6dp-scaled integers keeps the
    # map-side partial aggregation AND makes the score (and hence the
    # rank order) bit-stable at any group size.
    scored = (
        tfidf.join(assignments.select("doc_id", "cluster_id"), "doc_id")
        .groupBy("cluster_id", "term")
        .agg(F.sum(F.round(F.col("weight") * 1000000).cast("long")).alias("w6"))
        .select(
            "cluster_id",
            "term",
            F.round(F.col("w6") / F.lit(1000000.0), 6).alias("score"),
        )
    )
    w = Window.partitionBy("cluster_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= top_n)
    )
