"""Cluster-analytics queries (SURVEY.md §2.5 A2/A3/A4/A5, §2.6 T3,
§2.7 J4, §2.8 M5/M7/M12) made oracle-checkable by using deterministic
cluster proxies — ``documents.lang`` for the text DFM, ``embeddings.label``
for vectors. The estimator-backed (KMeans/LDA) variants of the same
operators run in queries_ml.py with rows-only checks; the math here is the
math there.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io.sources import load_table
from ..operators.centroids import (
    centroid_cosine_pairs,
    explode_vectors,
    group_centroids,
    group_withinss,
    merge_components,
)
from ..operators.coherence import binary_doc_term, prob_coherence
from ..operators.tfidf import cluster_term_scores, tfidf_long
from .oracle_fragments import (
    RANKED_TERMS,
    cluster_scores_ctes,
    cluster_topterms_ctes,
    coherence_ctes,
)
from .registry import query

# embeddings in long format, double-cast — shared oracle fragment
_EXPL = """
    expl AS (
      SELECT label AS grp, vec_id AS vid, i.i AS idx,
             CAST(embedding[i.i + 1] AS DOUBLE) AS val
      FROM embeddings CROSS JOIN (SELECT unnest(range(64)) AS i) i
    )"""

_CENT = f"""
    {_EXPL},
    cent AS (SELECT grp, idx, avg(val) AS centroid FROM expl GROUP BY grp, idx)"""


# --- C1: top-k terms per cluster (T3/A3) --------------------------------------
# Reference: extract_cluster_term_scores top-n by summed TF-IDF
# (02_build_models_with_auto_lables._optimised_clusters.R:557-597).
@query(
    "c1_cluster_term_scores",
    oracle=f"""
    WITH {cluster_scores_ctes()}
    SELECT cluster_id, term, score, rank FROM ({RANKED_TERMS}
    ) WHERE rank <= 10
    """,
)
def c1_cluster_term_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    assignments = docs.select("doc_id", F.col("lang").alias("cluster_id"))
    return cluster_term_scores(tfidf_long(docs), assignments, top_n=10)


# --- C2: group-mean centroids (A2) ---------------------------------------------
# Reference: colMeans(tfidf[cluster_indices,]) (02_build_models.R:402-421).
@query(
    "c2_group_centroids",
    oracle=f"""
    WITH {_CENT}
    SELECT grp, idx, round(centroid, 6) AS centroid FROM cent
    """,
)
def c2_group_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    cents = group_centroids(explode_vectors(emb))
    return cents.select("grp", F.col("idx").cast("long").alias("idx"), F.round("centroid", 6).alias("centroid"))


# --- C3: within-cluster sum of squares (A4) -------------------------------------
# Reference: sum(rowSums((X_c - center)^2)) (02_build_models.R:437-444).
@query(
    "c3_group_withinss",
    oracle=f"""
    WITH {_CENT}
    SELECT e.grp, round(sum((e.val - c.centroid) * (e.val - c.centroid)), 6) AS withinss
    FROM expl e JOIN cent c ON e.grp = c.grp AND e.idx = c.idx
    GROUP BY e.grp
    """,
)
def c3_group_withinss(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    expl = explode_vectors(emb)
    return group_withinss(expl, group_centroids(expl))


# --- C4: pairwise centroid cosine (J4) ------------------------------------------
# Reference: nested loop over centroid pairs
# (02_build_models_with_auto_lables._optimised_clusters.R:861-875).
@query(
    "c4_centroid_cosine_pairs",
    oracle=f"""
    WITH {_CENT},
    dots AS (
      SELECT a.grp AS grp_a, b.grp AS grp_b, sum(a.centroid * b.centroid) AS dot
      FROM cent a JOIN cent b ON a.idx = b.idx AND a.grp < b.grp
      GROUP BY a.grp, b.grp
    ),
    norms AS (SELECT grp, sqrt(sum(centroid * centroid)) AS nrm FROM cent GROUP BY grp)
    SELECT d.grp_a, d.grp_b, round(d.dot / (na.nrm * nb.nrm), 6) AS cos_sim
    FROM dots d
    JOIN norms na ON d.grp_a = na.grp
    JOIN norms nb ON d.grp_b = nb.grp
    """,
)
def c4_centroid_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return centroid_cosine_pairs(group_centroids(explode_vectors(emb)))


# --- C5: threshold-merge map with transitive closure (M7 + J2) -------------------
# Reference: merge > 0.9 + one-pass fold (02_opt:861-879); we close
# transitively (recursive CTE on the oracle side, union-find on ours).
# Threshold 0.0 so the synthetic data actually produces merges to check.
@query(
    "c5_merge_components",
    oracle=f"""
    WITH RECURSIVE {_CENT},
    dots AS (
      SELECT a.grp AS grp_a, b.grp AS grp_b, sum(a.centroid * b.centroid) AS dot
      FROM cent a JOIN cent b ON a.idx = b.idx AND a.grp < b.grp
      GROUP BY a.grp, b.grp
    ),
    norms AS (SELECT grp, sqrt(sum(centroid * centroid)) AS nrm FROM cent GROUP BY grp),
    sims AS (
      SELECT d.grp_a, d.grp_b, round(d.dot / (na.nrm * nb.nrm), 6) AS cos_sim
      FROM dots d JOIN norms na ON d.grp_a = na.grp JOIN norms nb ON d.grp_b = nb.grp
    ),
    edges AS (
      SELECT grp_a AS src, grp_b AS dst FROM sims WHERE cos_sim > 0.0
      UNION ALL
      SELECT grp_b AS src, grp_a AS dst FROM sims WHERE cos_sim > 0.0
    ),
    nodes AS (SELECT DISTINCT grp FROM cent),
    walk(node, reach) AS (
      SELECT grp, grp FROM nodes
      UNION
      SELECT w.node, e.dst FROM walk w JOIN edges e ON w.reach = e.src
    )
    SELECT node AS grp, CAST(min(reach) AS INTEGER) AS new_grp
    FROM walk GROUP BY node
    """,
)
def c5_merge_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    cents = group_centroids(explode_vectors(emb))
    pairs = centroid_cosine_pairs(cents)
    # node universe from the centroids frame, not from pairs — a group with
    # disjoint support would otherwise fall out of the mapping (the oracle's
    # `nodes AS (SELECT DISTINCT grp FROM cent)` enumerates all groups).
    return merge_components(pairs, threshold=0.0, groups=cents)


def _lang_coherence(docs: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(tfidf, assignments, coherence) for the lang cluster proxy: the
    top-5 terms per cluster scored against the binary DFM."""
    tfidf = tfidf_long(docs)
    assignments = docs.select("doc_id", F.col("lang").alias("cluster_id"))
    topterms = cluster_term_scores(tfidf, assignments, top_n=5).select("cluster_id", "term", "rank")
    # binary DFM off the CHECKPOINTED tf-idf keys, not a second
    # tokenize+distinct pass: term_counts groups on exactly (doc_id,
    # term) over the same unigram/no-stopword token stream, so the key
    # set IS the binarized DFM (r16; halves the query's corpus passes)
    binary = binary_doc_term(tfidf.select("doc_id", "term"), assume_unique=True)
    n_docs = binary.select("doc_id").distinct().count()
    return tfidf, assignments, prob_coherence(binary, topterms, n_docs)


# --- C6: probabilistic coherence (M5/A5) ----------------------------------------
# Reference formula: 02_build_models.R:457-471; per-cluster mean
# (02_build_models.R:346-348). Cluster proxy = lang, topic = top-5 terms.
@query(
    "c6_prob_coherence",
    oracle=f"""
    WITH {cluster_topterms_ctes()},
    {coherence_ctes()}
    SELECT cluster_id,
           round(sum(CAST(round(score * 1000000) AS BIGINT))
                 / 1000000.0 / count(*), 6) AS coherence
    FROM scored_pairs GROUP BY cluster_id
    """,
)
def c6_prob_coherence(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _lang_coherence(load_table(spark, sf_dir, "documents"))[2]


# --- C7: QA summary (M12) --------------------------------------------------------
# Reference: summarise_cluster_coherence → (cluster, documents, coherence)
# sorted desc (02_build_models.R:790-856).
@query(
    "c7_quality_summary",
    oracle=f"""
    WITH {cluster_topterms_ctes()},
    sizes AS (SELECT cluster_id, count(DISTINCT doc_id) AS documents FROM assigned GROUP BY cluster_id),
    {coherence_ctes()},
    coh AS (SELECT cluster_id,
                   round(sum(CAST(round(score * 1000000) AS BIGINT))
                         / 1000000.0 / count(*), 6) AS coherence
            FROM scored_pairs GROUP BY cluster_id)
    SELECT s.cluster_id, s.documents, c.coherence
    FROM sizes s JOIN coh c ON s.cluster_id = c.cluster_id
    """,
)
def c7_quality_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    tfidf, assignments, coh = _lang_coherence(load_table(spark, sf_dir, "documents"))
    sizes = (
        tfidf.join(assignments, "doc_id")
        .groupBy("cluster_id")
        .agg(F.countDistinct("doc_id").alias("documents"))
    )
    return sizes.join(coh, "cluster_id")
