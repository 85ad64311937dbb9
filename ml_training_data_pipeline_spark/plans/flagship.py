"""Flagship end-to-end query (SURVEY.md §7 step 1, EP2 shape):

documents → clean/tokenize/stopwords → TF-IDF (CountVectorizer+IDF,
vocab 2000) → KMeans(k=15, seed=123) → top-5 terms per cluster by summed
long-format TF-IDF.

This is the reference's core question — "what are the top terms of each
document cluster" (02_build_models.R:161-225) — as one lazy Spark plan
plus two fits. Returns (cluster_id, term, score, rank).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..io.sources import load_table
from ..operators.cluster import fit_kmeans
from ..operators.tfidf import cluster_term_scores, tfidf_long
from ..operators.vectorize import fit_tfidf_vectorizer, tokens_frame, vectorize


def flagship_cluster_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tokens = tokens_frame(docs).cache()
    vec_model = fit_tfidf_vectorizer(tokens, vocab_size=2000)
    vectors = vectorize(tokens, vec_model)
    result = fit_kmeans(vectors)
    tfidf = tfidf_long(docs)
    return cluster_term_scores(tfidf, result.assignments, top_n=5)
