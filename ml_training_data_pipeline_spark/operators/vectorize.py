"""SparseVector assembly for MLlib estimators (SURVEY.md §1.1 abstraction 2).

The reference's quanteda dfm → dgCMatrix conversion
(``02_build_models.R:161-180``, ``04_cluster_refiner.R:26-30``) becomes a
fitted ``CountVectorizer → IDF`` pipeline producing a ``SparseVector``
column. The fitted models ARE the vocabulary contract: applying them to new
text is the reference's ``dfm_match`` (V7, ``README.md:519``).
"""

from __future__ import annotations

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.feature import IDF, CountVectorizer, CountVectorizerModel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import ALL_STOPWORDS, remove_stopwords, tokenize


def tokens_frame(
    docs: DataFrame,
    *,
    stopwords: tuple[str, ...] | None = ALL_STOPWORDS,
) -> DataFrame:
    """(doc_id, tokens) with empty docs dropped (P4,
    04_cluster_refiner.R:33-35)."""
    toks: Column = tokenize(F.col("text"))
    if stopwords:
        toks = remove_stopwords(toks, stopwords)
    return (
        docs.where(F.col("text").isNotNull())
        .select("doc_id", toks.alias("tokens"))
        .where(F.size("tokens") > 0)
    )


def fit_tfidf_vectorizer(tokens: DataFrame, vocab_size: int = 2000) -> PipelineModel:
    """V2+V3+V4 in MLlib form: CountVectorizer(vocabSize) → IDF. vocabSize
    caps the feature space exactly like reduce_dfm(top_n=2000)
    (02_build_models.R:174-180) — CountVectorizer keeps the top-N terms by
    document frequency. Returns the fitted PipelineModel (the vocabulary
    contract for serving, V7)."""
    cv = CountVectorizer(inputCol="tokens", outputCol="tf", vocabSize=vocab_size)
    idf = IDF(inputCol="tf", outputCol="features")
    return Pipeline(stages=[cv, idf]).fit(tokens)


def vectorize(tokens: DataFrame, model: PipelineModel) -> DataFrame:
    """Apply the fitted vocabulary to (new) documents — dfm_match (V7,
    README.md:517-520). Returns (doc_id, tokens, tf, features)."""
    return model.transform(tokens)


def vectorize_dfm(
    dfm_long: DataFrame, terms: list[str], doc_ids: DataFrame | None = None
) -> tuple[PipelineModel, DataFrame]:
    """Assemble (doc_id, tokens, tf, features) from a LONG-format DFM
    (doc_id, term, tf) and an EXPLICIT vocabulary — the reference's
    one-reduced-DFM-for-everything contract (02_build_models.R:174-190):
    cluster geometry and coherence/term scoring see the same term space,
    instead of CountVectorizer re-ranking by raw document frequency.

    The vocabulary is pinned via ``CountVectorizerModel.from_vocabulary``
    (out-of-vocab terms drop, exactly dfm_match); per-doc token arrays are
    reconstructed with one groupBy (term repeated tf times — arrays are
    bounded by doc length, not vocab size), and IDF is fitted on the
    resulting sparse tf. Everything stays JVM-side and sparse.

    ``doc_ids`` (a (doc_id) frame, typically the PRE-reduction doc
    universe) keeps documents with zero in-vocabulary terms as ZERO
    vectors — the reference's dfm_match keeps such rows, and dropping
    them would silently remove docs from the KMeans/phase-1 state. When
    omitted, only docs present in ``dfm_long`` are vectorized. Returns
    (fitted PipelineModel — the V7 serving contract — and the
    (doc_id, tf, features) vectors)."""
    cvm = CountVectorizerModel.from_vocabulary(list(terms), inputCol="tokens", outputCol="tf")
    toks = dfm_long.groupBy("doc_id").agg(
        F.flatten(
            F.collect_list(F.array_repeat(F.col("term"), F.col("tf").cast("int")))
        ).alias("tokens")
    )
    if doc_ids is not None:
        toks = (
            doc_ids.select("doc_id").distinct()
            .join(toks, "doc_id", "left")
            .withColumn("tokens", F.coalesce("tokens", F.array().cast("array<string>")))
        )
    # Cache the sparse-tf frame ONCE, projected to (doc_id, tf): the IDF
    # fit and every downstream consumer of the returned vectors (KMeans
    # persist, phase-1 tf_vectors) otherwise each re-execute the
    # token-reconstruction groupBy + CountVectorizer transform — two to
    # three full corpus passes for one (guide §5), and the reconstructed
    # token-array column (the widest in the frame) rode along into every
    # one of them (guide §2.3: project before materializing). cache(), not
    # materialize(): the cache is populated by the IDF fit's own
    # execution of the unchanged plan, preserving the partition layout
    # KMeans' seeded init samples from (a checkpoint re-plans the subtree
    # in isolation and measurably changed ep2's clustering).
    tf = cvm.transform(toks).select("doc_id", "tf").cache()
    idf = IDF(inputCol="tf", outputCol="features").fit(tf)
    return PipelineModel([cvm, idf]), idf.transform(tf)


def vocabulary(model: PipelineModel) -> list[str]:
    """term ↔ index contract, mirroring the reference's colnames
    (02_build_models.R:196-197)."""
    return list(model.stages[0].vocabulary)
