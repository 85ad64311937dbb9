"""Estimator-backed (🔶) queries: K-means fit/predict, LDA topics, the
coherence-gated refine pipeline. Deterministic seeds (kmeans 123, LDA 1234
— the reference's own, 02_build_models.R:185; 04_cluster_refiner.R:183);
no oracle SQL (driver records rows-only checks), invariants are asserted
in tests/test_refine.py.
"""

from __future__ import annotations

from functools import partial

from pyspark.ml.functions import array_to_vector
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io.sources import load_table, scratch_dir
from ..operators.cluster import ClusterResult, cluster_sizes, fit_kmeans
from ..operators.materialize import materialize
from ..operators.refine import RefineConfig, refine
from ..operators.tfidf import tfidf_long
from ..operators.vectorize import (
    fit_tfidf_vectorizer,
    tokens_frame,
    vectorize,
    vectorize_dfm,
)
from ..session import run_concurrently
from .registry import query


def _embedding_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        F.col("vec_id").alias("doc_id"),
        array_to_vector(F.col("embedding")).alias("features"),
    )


# --- M1: K-means fit → assignments ------------------------------------------
# Reference: apply_clustering(k=15, seed=123) (02_build_models.R:183-190);
# k=10 here to match the embeddings' generative label count.
@query("m1_kmeans_assignments")
def m1_kmeans_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = _embedding_vectors(spark, sf_dir)
    res = fit_kmeans(vecs, k=10, seed=123)
    return res.assignments.select("doc_id", F.col("cluster_id").cast("long").alias("cluster_id"))


# --- M1+A1: cluster sizes ------------------------------------------------------
@query("m2_kmeans_cluster_sizes")
def m2_kmeans_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = _embedding_vectors(spark, sf_dir)
    res = fit_kmeans(vecs, k=10, seed=123)
    return cluster_sizes(res.assignments)


# --- M2: serving-time predict (dfm_match + nearest centroid) --------------------
# Reference prediction recipe: README.md:510-520 — apply the FITTED
# vocabulary to new text, classify by nearest centroid.
@query("m3_kmeans_predict_new_docs")
def m3_kmeans_predict_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    train = tokens_frame(docs.where(F.col("doc_id") % 2 == 0))
    serve = tokens_frame(docs.where(F.col("doc_id") % 2 == 1))
    vec_model = fit_tfidf_vectorizer(train, vocab_size=500)
    res = fit_kmeans(vectorize(train, vec_model), k=5, seed=123)
    served = res.model.transform(vectorize(serve, vec_model))  # V7: fitted vocab on new docs
    return served.groupBy("cluster_id").agg(F.count("*").alias("n_docs"))


# --- M3: LDA topics with vocabulary terms ---------------------------------------
# Reference: FitLdaModel / topicmodels::LDA (02_build_models.R:335-343),
# seed 1234; top-7 terms per topic via describeTopics.
@query("m4_lda_topic_terms")
def m4_lda_topic_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.clustering import LDA
    from pyspark.ml.feature import CountVectorizer

    docs = load_table(spark, sf_dir, "documents")
    tokens = tokens_frame(docs)
    # CountVectorizer ALONE: LDA consumes raw term counts and the
    # vocabulary — the old fit_tfidf_vectorizer pipeline also fitted an
    # IDF model whose output column was immediately projected away, i.e.
    # one whole wasted corpus aggregation pass per build (guide §1.2
    # "don't compute things you throw away"). The CV fit, vocabulary and
    # tf column are bit-identical to the pipeline's stage-0 outputs.
    cv_model = CountVectorizer(
        inputCol="tokens", outputCol="tf", vocabSize=500, minDF=1.0
    ).fit(tokens)
    # cache: the EM optimizer walks the corpus every iteration — an
    # uncached tokenize/vectorize lineage would re-execute ~maxIter times
    # (measured 44s vs 2.4s at sf0.01)
    tf = cv_model.transform(tokens).select("doc_id", "tf").cache()
    lda = LDA(k=5, seed=1234, maxIter=20, featuresCol="tf", optimizer="em")
    model = lda.fit(tf)
    vocab = list(cv_model.vocabulary)
    vocab_df = tf.sparkSession.createDataFrame(
        list(enumerate(vocab)), schema="term_idx int, term string"
    )
    topics = model.describeTopics(7).select(
        "topic", F.posexplode(F.col("termIndices")).alias("rank0", "term_idx")
    )
    return (
        topics.join(F.broadcast(vocab_df), "term_idx")
        .select(
            F.col("topic").cast("long").alias("topic"),
            "term",
            (F.col("rank0") + 1).cast("long").alias("rank"),
        )
    )


# --- S5/S6: model persistence round-trip ------------------------------------------
# Reference: saveRDS(kmeans_model)/readRDS with dynamic filenames
# f(num_clusters, date) (02_build_models.R:770-772; 04_cluster_refiner.R:679-700,
# 729-731). Spark: KMeansModel.save + assignments/centroids as parquet; the
# reload path proves EP3's "operators work off persisted state" contract.
@query("s5_model_roundtrip")
def s5_model_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from pyspark.ml.clustering import KMeansModel

    from ..io.sources import write_parquet
    from ..operators.cluster import cluster_summary

    vecs = _embedding_vectors(spark, sf_dir)
    res = fit_kmeans(vecs, k=10, seed=123)
    k = res.model.getK()
    # S6 dynamic-name sink: path templated on model params (the reference
    # templates on num_clusters + date; date omitted — nondeterminism is
    # banned on the correctness path)
    base = scratch_dir(spark, f"kmeans_{k}clusters", sf_dir)
    res.model.write().overwrite().save(os.path.join(base, "model"))
    write_parquet(res.assignments, os.path.join(base, "assignments"))
    write_parquet(cluster_summary(res.features, res.assignments), os.path.join(base, "summary"))

    # reload everything and serve from persisted state (M2 on a loaded model)
    reloaded = KMeansModel.load(os.path.join(base, "model"))
    assignments = spark.read.parquet(os.path.join(base, "assignments"))
    summary = spark.read.parquet(os.path.join(base, "summary"))
    repredicted = reloaded.transform(vecs).select(
        "doc_id", F.col("cluster_id").alias("re_cluster_id")
    )
    # persisted assignment must equal the reloaded model's prediction
    return (
        assignments.join(repredicted, "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.count("*").alias("size"),
            F.sum(F.when(F.col("cluster_id") == F.col("re_cluster_id"), 0).otherwise(1)).alias("n_mismatch"),
        )
        .join(summary.select("cluster_id", F.round("withinss", 6).alias("withinss")), "cluster_id")
    )


# --- M6/M11: coherence-gated refine pipeline -------------------------------------
# Reference: optimize_clusters_with_coherence (02_opt:831-911). Initial
# KMeans k=6 on TF-IDF vectors, split threshold forces LDA splits on the
# synthetic corpus, merge 0.9, renumbered output summary.
@query("m5_refine_pipeline")
def m5_refine_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tokens = tokens_frame(docs)
    # tfidf_long eagerly materializes the doc-term counts at construction
    # and refine's n_docs count materializes the tfidf cache — both
    # independent of the vectorizer/kmeans fits, so the two run
    # concurrently and the counts back-fill the executors the fits leave
    # idle (guide §2.6). _build_tfidf touches NOTHING in the kmeans
    # features lineage (tfidf_long is its own scan + checkpoint), so the
    # seeded fit sees byte-identical input partitioning.
    def _build_tfidf() -> tuple[DataFrame, int]:
        t = tfidf_long(docs).cache()
        return t, t.select("doc_id").distinct().count()

    def _fit() -> tuple[DataFrame, ClusterResult]:
        vecs = vectorize(tokens, fit_tfidf_vectorizer(tokens, vocab_size=500))
        return vecs, fit_kmeans(vecs, k=6, seed=123)

    (tfidf, n_docs), (vecs, res) = run_concurrently(spark, _build_tfidf, _fit)
    refined = refine(
        vecs.select("doc_id", "tf"), tfidf, res.assignments, _phase1_cfg(), n_docs=n_docs
    )
    return refined.groupBy("cluster_id").agg(F.count("*").alias("size"))


def _phase1_cfg() -> RefineConfig:
    return RefineConfig(
        coherence_threshold=0.05,
        k_range=(2,),
        min_docs=10,
        merge_threshold=0.9,
        lda_search_iter=5,
        lda_final_iter=10,
        max_split_clusters=2,
    )


def phase1_summary(
    tf_vectors: DataFrame, tfidf: DataFrame, assignments: DataFrame, cfg: RefineConfig
) -> DataFrame:
    """The refine/relabel core of runPhase1Pipeline
    (04_cluster_refiner.R:726-774): coherence → conditional split/merge →
    re-extract terms → label → the (cluster_id, documents, coherence,
    label) summary (summarise_cluster_coherence, 02_build_models.R:842-851).
    Shared by ep3 (persisted-state inputs) and its in-memory parity test."""
    from ..functions.llm import label_prompt, llm_complete
    from ..operators.coherence import binary_doc_term, prob_coherence
    from ..operators.refine import cluster_coherence
    from ..operators.tfidf import cluster_term_scores

    # the long DFM feeds the gate coherence, the refine loop, the final
    # coherence, and term extraction — cache it once instead of re-running
    # the scan/tokenize lineage per consumer
    tfidf = tfidf.cache()
    n_docs = tfidf.select("doc_id").distinct().count()
    # ONE binarized DFM for the gate, the refine loop's split scoring and
    # the final coherence (each used to re-derive it: a full extra DFM
    # distinct+shuffle per consumer at 100 TB).
    # assume_unique: the long DFM is one row per (doc_id, term) already —
    # the distinct was a full extra shuffle for a no-op
    binary = binary_doc_term(
        tfidf.select("doc_id", "term"), assume_unique=True
    ).cache()
    # the reference refines only when any cluster is below threshold AND
    # break_clusters is set (04_cluster_refiner.R:741-752). Checkpoint the
    # k-row coherence frame so the split's candidate selection reuses the
    # gate's computation instead of re-running it. The gate's ranked
    # top-terms frame is checkpointed too (cluster_coherence inlined):
    # when no cluster refines it IS the final ranking up to a relabel.
    topterms0 = materialize(
        cluster_term_scores(tfidf, assignments, top_n=cfg.top_m)
        .select("cluster_id", "term", "rank")
    )
    coh0 = materialize(prob_coherence(binary, topterms0, n_docs))
    n_low = coh0.where(F.col("coherence") < cfg.coherence_threshold).count()
    if n_low > 0:
        refined = refine(tf_vectors, tfidf, assignments, cfg,
                         binary=binary, coherence=coh0, n_docs=n_docs)
        # final coherence and keyword extraction share ONE ranked
        # top-terms frame when their term counts coincide (they do for
        # _phase1_cfg: coherence's ranking is this exact top_n=5 call).
        topterms = materialize(cluster_term_scores(tfidf, refined, top_n=5))
        coh = (
            prob_coherence(binary, topterms.select("cluster_id", "term", "rank"), n_docs)
            if cfg.top_m == 5
            else cluster_coherence(tfidf, refined, n_docs, cfg.top_m, binary=binary)
        )
    else:
        # renumber-only path (guide §2.4/§5): dense-rank renumbering is an
        # order-preserving bijection on cluster ids, and per-cluster term
        # scores, ranks and coherence are relabel-invariant — so the final
        # frames are the GATE's frames relabeled, bit-identical to
        # recomputing them against renumber_clusters(assignments) (which
        # re-ran a full DFM join + the coherence self-join per summary).
        from pyspark.sql import Window

        w = Window.orderBy("cluster_id")
        ids = assignments.select("cluster_id").distinct().select(
            "cluster_id", F.dense_rank().over(w).alias("new_id")
        )
        refined = assignments.join(F.broadcast(ids), "cluster_id").select(
            "doc_id", F.col("new_id").alias("cluster_id")
        )
        topterms = (
            topterms0.join(F.broadcast(ids), "cluster_id")
            .select(F.col("new_id").alias("cluster_id"), "term", "rank")
            if cfg.top_m == 5
            else materialize(cluster_term_scores(tfidf, refined, top_n=5))
        )
        coh = coh0.join(F.broadcast(ids), "cluster_id").select(
            F.col("new_id").alias("cluster_id"), "coherence"
        )
    kw = topterms.groupBy("cluster_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rank", "term"))),
                lambda s: s.getField("term"),
            ),
            ", ",
        ).alias("keywords")
    )
    labels = kw.select("cluster_id", llm_complete(label_prompt(F.col("keywords"))).alias("label"))
    sizes = refined.groupBy("cluster_id").agg(F.count("*").alias("documents"))
    return (
        sizes.join(coh, "cluster_id", "left")
        .join(labels, "cluster_id", "left")
        .select(
            F.col("cluster_id").cast("long").alias("cluster_id"),
            "documents",
            F.round("coherence", 6).alias("coherence"),
            "label",
        )
        .orderBy(F.desc("coherence"), F.asc("cluster_id"))
    )


# --- EP2: the model-build entry point, top-to-bottom ------------------------------
# Reference: 02_build_models.R §3 flow — clean text → UDPipe POS keyword
# extraction (the DFM is built FROM the keyword text, 02:107-115,161-166)
# → n-gram TF-IDF → top-2000 vocabulary → K-means(seed 123) → coherence-
# gated adaptive split + cosine merge → labels → QA summary
# (02_build_models.R:842-851). One composite query per entry point: EP1=l1,
# EP2=this, EP3=ep3.
@query("ep2_build_models")
def ep2_build_models(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pos_keywords import extract_pos_keywords
    from ..operators.tfidf import reduce_to_vocabulary, top_vocabulary

    docs = load_table(spark, sf_dir, "documents")
    # V5: the reference feeds the POS-keyword text into the DFM build.
    # Materialize the keyword frame ONCE: tfidf_long traverses its input
    # twice (the doc-term-count checkpoint and corpus_size's N count),
    # and each traversal of a lazy kw lineage is a full mapInPandas POS
    # pass over the corpus — the most expensive primitive in this build
    # (measured sf0.1: ~5.4 s per pass; at 100 TB the model-inference
    # pass dominates everything else here). The checkpoint stores only
    # (doc_id, keywords) — compact — and both consumers read it.
    kw = materialize(extract_pos_keywords(docs))
    tfidf = tfidf_long(kw, text_col="keywords", ngram_max=3)
    vocab = top_vocabulary(tfidf)
    reduced = reduce_to_vocabulary(tfidf, vocab)
    # ONE vocabulary for everything (02:174-190): the KMeans/LDA vectors
    # are assembled from the SAME reduced DFM that feeds coherence and
    # term scoring — not a second CountVectorizer fit with its own
    # raw-frequency ranking. vocab is ≤2000 rows by construction
    # (driver-side list is the from_vocabulary contract, V7).
    terms = [r["term"] for r in vocab.select("term").orderBy("rank").collect()]
    # full PRE-reduction doc universe: docs whose every term fell outside
    # the top-2000 stay in the state as zero vectors (dfm_match keeps
    # such rows; dropping them would silently shrink the corpus).
    _, vecs = vectorize_dfm(
        reduced.select("doc_id", "term", "tf"), terms, doc_ids=tfidf.select("doc_id")
    )
    res = fit_kmeans(vecs, k=15, seed=123)  # M1: k=15, seed 123 (02:183-190)
    return phase1_summary(
        vecs.select("doc_id", "tf"), reduced, res.assignments, _phase1_cfg()
    )


# --- M13/EP3: phase-1 refine pipeline off PERSISTED state -------------------------
# Reference: runPhase1Pipeline (04_cluster_refiner.R:726-774) — readRDS
# kmeans + tfidf and read the dataset fresh, refine, relabel, save with
# dynamic names (04:679-700). Proves every refine operator works off
# reloaded parquet/model state, not only within one lineage.
@query("ep3_phase1_pipeline")
def ep3_phase1_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from pyspark.ml import PipelineModel
    from pyspark.ml.clustering import KMeansModel

    from ..io.sources import write_parquet

    docs = load_table(spark, sf_dir, "documents")
    tokens = tokens_frame(docs)
    base = scratch_dir(spark, "phase1", sf_dir)
    # tfidf_long eagerly materializes the doc-term counts at construction;
    # it shares nothing with the vectorizer/kmeans lineage, so build AND
    # persist it concurrently with the fits (guide §2.6 — the fits leave
    # executor tails idle that the counts shuffle back-fills).
    def _build_and_write_tfidf() -> None:
        write_parquet(tfidf_long(docs), os.path.join(base, "tfidf"))

    def _fit_and_persist() -> None:
        vec_model = fit_tfidf_vectorizer(tokens, vocab_size=500)
        res = fit_kmeans(vectorize(tokens, vec_model), k=6, seed=123)
        # persist the phase-0 artifacts (the saveRDS step, 02:770-772) —
        # the three persists are independent of each other, so they run
        # as concurrent jobs instead of serial driver calls (guide §2.6).
        run_concurrently(
            spark,
            lambda: res.model.write().overwrite().save(os.path.join(base, "kmeans")),
            lambda: vec_model.write().overwrite().save(os.path.join(base, "vectorizer")),
            lambda: write_parquet(res.assignments, os.path.join(base, "assignments")),
        )

    run_concurrently(spark, _build_and_write_tfidf, _fit_and_persist)

    # fresh lineage off persisted state ONLY (04:729-731): reload models +
    # tables; re-read the documents table like the reference re-reads the CSV
    kmeans_model = KMeansModel.load(os.path.join(base, "kmeans"))
    vec_reloaded = PipelineModel.load(os.path.join(base, "vectorizer"))
    assignments0 = spark.read.parquet(os.path.join(base, "assignments"))
    tfidf0 = spark.read.parquet(os.path.join(base, "tfidf"))
    tf_vectors = vectorize(
        tokens_frame(load_table(spark, sf_dir, "documents")), vec_reloaded
    ).select("doc_id", "tf")

    summary = phase1_summary(tf_vectors, tfidf0, assignments0, _phase1_cfg())

    # S6 dynamic-name sink: filename = f(num_clusters) (04:686-693; date
    # omitted — nondeterminism is banned on the correctness path)
    k = kmeans_model.getK()
    write_parquet(summary, os.path.join(base, f"summary_{k}clusters"))
    return summary


# --- M6b: supervised quality classifier (the missing estimator family) -------------
# The curation stack's learned path: train a logistic regression on
# interpretable per-doc features (punct ratio, stopword ratio, mean word
# length, token count) against the heuristic quality gate, then serve
# predictions — the standard bootstrap for replacing a hand-tuned gate
# with a model (labels start as the heuristic, later swap to human
# ratings; the features/pipeline stay). Deterministic: fixed seed,
# LBFGS, fixed feature order. Estimator-backed → rows-only driver check;
# separability invariant (labels are a threshold of these features, so
# train accuracy must be high) pinned in tests/test_round6b.py.
@query("m6_quality_classifier")
def m6_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    from ..functions import analysis

    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    # staged shared-tokenize feature build (one tokenize for all 5 cols)
    st = analysis.with_quality_ratios(docs.select("doc_id", "text"))
    feats = st.select(
        "doc_id",
        F.col("_qs_pr").alias("punct_ratio"),
        F.col("_qs_sw").alias("stopword_ratio"),
        F.col("_qs_mwl").alias("mean_word_len"),
        F.col("_qs_n_toks").cast("double").alias("n_tokens"),
        (
            analysis.quality_score_from_ratios(
                F.col("_qs_sw"), F.col("_qs_pr"), F.col("_qs_mwl")
            )
            >= 0.5
        ).cast("double").alias("label"),
    )
    assembled = VectorAssembler(
        inputCols=["punct_ratio", "stopword_ratio", "mean_word_len", "n_tokens"],
        outputCol="features",
    ).transform(feats)
    lr = LogisticRegression(maxIter=50, regParam=0.01, standardization=True)
    fitted = lr.fit(assembled)
    # serve from the PERSISTED artifact, not the in-memory fit: the
    # freshly-fitted model pins its training summary, which references
    # the SparkSession — and serializing that into the serving closure
    # breaks as soon as the session has ever registered an Observation
    # (ObservationManager is not serializable). Save→load drops the
    # summary, which is also the honest production shape: training and
    # serving never share an object graph.
    model_dir = scratch_dir(spark, "lrq", sf_dir)
    fitted.write().overwrite().save(model_dir)
    from pyspark.ml.classification import LogisticRegressionModel

    model = LogisticRegressionModel.load(model_dir)
    pred = model.transform(assembled)
    return (
        pred.groupBy(
            F.col("label").cast("long").alias("label"),
            F.col("prediction").cast("long").alias("prediction"),
        )
        .agg(F.count("*").alias("n_docs"))
    )


# --- M7: K-means model selection (elbow report) ------------------------------------
# 🔶 rows-only: the model-selection sweep the reference does by eye
# (k=15 chosen in 02_build_models.R:183-190) as a query — total
# within-cluster SS for k ∈ {2, 5, 10, 20}, the elbow curve that picks
# k. Each fit is an independent MLlib job over the SAME cached feature
# frame (one corpus scan, four fits — at scale the fits are the cost,
# so the sweep parallelizes by k across FAIR-pool jobs like refine's
# big-candidate stage). Deterministic:
# fixed seed per k, so rows-only still reruns identically. Invariant
# pinned in tests/test_round6c.py: withinss is non-increasing in k.
@query("m7_kmeans_elbow")
def m7_kmeans_elbow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cluster import fit_kmeans, withinss

    vecs = _embedding_vectors(spark, sf_dir).cache()

    def fit_one(k: int) -> tuple[int, float]:
        """One k's fit + elbow point, submitted from its own driver
        thread so the four independent MLlib jobs overlap instead of
        serializing (guide §2.6 — the same FAIR-pool shape as refine's
        big-candidate fits; each fit is seeded, so the parallel sweep is
        bit-identical to the old serial loop). Measured sf0.1:
        7.6 s serial → ~4 s overlapped."""
        res = fit_kmeans(vecs, k=k, seed=123)
        cdf = spark.createDataFrame(
            [
                (i, j, float(x))
                for i, c in enumerate(res.model.clusterCenters())
                for j, x in enumerate(c)
            ],
            "cluster_id int, idx int, weight double",
        )
        wss = withinss(vecs, res.assignments, cdf)
        total = wss.agg(F.sum("withinss").alias("t")).collect()[0]["t"]
        return (k, float(total))

    rows = run_concurrently(spark, *[partial(fit_one, k) for k in (2, 5, 10, 20)])
    vecs.unpersist()
    return spark.createDataFrame(rows, "k long, total_withinss double").select(
        "k", F.round("total_withinss", 4).alias("total_withinss")
    )


def _ari_from_contingency(cells: list[tuple[int, int, int]]) -> float:
    """Adjusted Rand Index from a (label_a, label_b, n) contingency list
    — pure driver math over a ≤ k² table (bounded collect, job control
    flow, not data movement)."""
    from collections import defaultdict

    def c2(n: int) -> float:
        return n * (n - 1) / 2.0

    a_tot: dict[int, int] = defaultdict(int)
    b_tot: dict[int, int] = defaultdict(int)
    n = 0
    sum_ij = 0.0
    for ca, cb, cnt in cells:
        a_tot[ca] += cnt
        b_tot[cb] += cnt
        n += cnt
        sum_ij += c2(cnt)
    sum_a = sum(c2(v) for v in a_tot.values())
    sum_b = sum(c2(v) for v in b_tot.values())
    expected = sum_a * sum_b / c2(n) if n > 1 else 0.0
    max_index = (sum_a + sum_b) / 2.0
    denom = max_index - expected
    return 1.0 if denom == 0 else (sum_ij - expected) / denom


# --- M8: clustering stability audit (bootstrap agreement) --------------------------
# 🔶 rows-only: the model-trust question m7's elbow doesn't answer — is
# the clustering STABLE, or an artifact of the sample? Two K-means fits
# on deterministic overlapping two-thirds subsamples (different seeds,
# different data), agreement measured as the Adjusted Rand Index over
# the shared third. ARI ≈ 1 → structure is real; ARI ≈ 0 → the "clusters"
# are noise and everything downstream (refine, labeling, stratified
# mixing) inherits that. The contingency table is ≤ k² cells (bounded
# collect); invariants pinned in tests/test_round6c.py, including the
# identical-fit ARI == 1 calibration case. Measured here: ARI ≈ 0.02 —
# k-means partitions of these near-isotropic synthetic embeddings are
# NOT stable across subsamples (consistent with n11's isotropy finding),
# exactly the verdict this audit exists to deliver before anyone ships
# cluster-derived labels from such a space.
@query("m8_cluster_stability")
def m8_cluster_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cluster import fit_kmeans

    vecs = _embedding_vectors(spark, sf_dir).cache()
    half_a = vecs.where(F.col("doc_id") % 3 != 0)
    half_b = vecs.where(F.col("doc_id") % 3 != 1)
    res_a = fit_kmeans(half_a, k=10, seed=123)
    res_b = fit_kmeans(half_b, k=10, seed=456)
    a = res_a.assignments.select("doc_id", F.col("cluster_id").alias("ca"))
    b = res_b.assignments.select("doc_id", F.col("cluster_id").alias("cb"))
    overlap = a.join(b, "doc_id").where(F.col("doc_id") % 3 == 2)
    cells = [
        (int(r["ca"]), int(r["cb"]), int(r["n"]))
        for r in overlap.groupBy("ca", "cb").agg(F.count("*").alias("n")).collect()
    ]
    vecs.unpersist()
    n_overlap = sum(c[2] for c in cells)
    ari = _ari_from_contingency(cells) if cells else 0.0
    return spark.createDataFrame(
        [(n_overlap, round(ari, 6))], "n_overlap long, ari double"
    )


# --- M9: classifier decision-threshold sweep ----------------------------------------
# 🔶 rows-only: the audit pattern over m6 — precision/recall at cutoffs
# 0.3/0.5/0.7 on the positive-class probability, the curve a deployment
# picks its operating point from. Two deliberate differences from m6
# keep the curve informative on THIS corpus: the label threshold sits
# at the quality-score median (0.7 — at m6's 0.5 every document is
# positive and every cutoff scores a vacuous 1.0), and the model is the
# DEGRADED two-feature one (punct_ratio, n_tokens only) so the
# classifier is genuinely imperfect. Predicted-positive count
# and recall are nonincreasing in the cutoff — pinned in
# tests/test_round7.py.
@query("m9_classifier_threshold_sweep")
def m9_classifier_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.functions import vector_to_array

    from ..functions import analysis

    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    st = analysis.with_quality_ratios(docs.select("doc_id", "text"))
    feats = st.select(
        "doc_id",
        F.col("_qs_pr").alias("punct_ratio"),
        F.col("_qs_n_toks").cast("double").alias("n_tokens"),
        (
            analysis.quality_score_from_ratios(
                F.col("_qs_sw"), F.col("_qs_pr"), F.col("_qs_mwl")
            )
            >= 0.7
        ).cast("double").alias("label"),
    )
    assembled = VectorAssembler(
        inputCols=["punct_ratio", "n_tokens"],
        outputCol="features",
    ).transform(feats)
    lr = LogisticRegression(maxIter=50, regParam=0.01, standardization=True)
    # save -> load before serving, same reason as m6 above: the fresh
    # fit's training summary pins the SparkSession, which stops being
    # serializable once any Observation has been registered.
    from pyspark.ml.classification import LogisticRegressionModel

    model_dir = scratch_dir(spark, "lrq_sweep", sf_dir)
    lr.fit(assembled).write().overwrite().save(model_dir)
    scored = materialize(
        LogisticRegressionModel.load(model_dir)
        .transform(assembled)
        .select("label", vector_to_array("probability").getItem(1).alias("p1"))
    )  # one fit+score, three cutoff passes
    rows = None
    for cutoff in (0.3, 0.5, 0.7):
        pred = (F.col("p1") >= cutoff).cast("long")
        row = scored.agg(
            F.lit(cutoff).alias("cutoff"),
            F.sum(pred).cast("long").alias("n_pred_pos"),
            F.round(
                F.sum(F.when((pred == 1) & (F.col("label") == 1.0), 1).otherwise(0))
                / F.greatest(F.sum(pred), F.lit(1)).cast("double"),
                6,
            ).alias("precision"),
            F.round(
                F.sum(F.when((pred == 1) & (F.col("label") == 1.0), 1).otherwise(0))
                / F.greatest(
                    F.sum(F.when(F.col("label") == 1.0, 1).otherwise(0)), F.lit(1)
                ).cast("double"),
                6,
            ).alias("recall"),
        )
        rows = row if rows is None else rows.unionAll(row)
    return rows


# --- M10: deterministic Lloyd K-means — the m-family's ORACLE-BACKED row ----
# m1/m2/m3 ride Spark ML's k-means (parallel init, partition-order-sensitive
# reductions), so the driver can only rows-only-check them. This query runs
# Lloyd's algorithm under a determinism recipe that makes the assignment
# table EXACTLY reproducible in DuckDB SQL, turning "iterative ML is not
# oracle-checkable" into a triple-green row (reference parity:
# 02_build_models.R:183-190 fits kmeans on the same embedding family):
#   * embeddings are quantized to integers (floor(x*1000)) — cluster sums
#     become exact integer arithmetic, immune to accumulation order;
#   * centers are sum/n in IEEE double — both engines divide the same
#     exactly-representable integers, so centers are bit-identical;
#   * per-center distances fold (x-c)^2 left-to-right over the dims
#     (Spark zip_with+aggregate; DuckDB list_zip+list_reduce) — the same
#     sequence of IEEE ops on the same bits gives bit-identical distances,
#     so argmin (ties broken by cluster_id) matches exactly;
#   * an emptied cluster keeps its previous center on both sides.
# Scale shape: one fact scan per iteration; the k x d centers travel to the
# executors as literals (a broadcast in cluster form); the per-cluster sums
# are map-side-combinable longs; the only driver transfer is k rows per
# iteration (job control, same class as the BPE merge loop). Iterations are
# a fixed constant, so the 100 TB cost is ITERS linear passes.
_LLOYD_K = 8
_LLOYD_ITERS = 3
_LLOYD_DIMS = 64  # the oracle is generated for the testdata's 64-dim vectors
_LLOYD_Q = 1000


def _lloyd_oracle() -> str:
    from .oracle_fragments import lloyd_ctes

    ctes = lloyd_ctes(_LLOYD_DIMS, _LLOYD_K, _LLOYD_ITERS, _LLOYD_Q)
    return f"WITH {ctes}\nSELECT vec_id, cluster_id FROM a{_LLOYD_ITERS}"


@query("m10_lloyd_deterministic", oracle=_lloyd_oracle())
def m10_lloyd_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cluster import lloyd_deterministic

    emb = load_table(spark, sf_dir, "embeddings")
    return lloyd_deterministic(emb, k=_LLOYD_K, iters=_LLOYD_ITERS, quant=_LLOYD_Q)


# --- M11: Lloyd elbow with EXACT integer inertia (oracle-backed) -------------
# m7's elbow rides Spark ML k-means (rows-only by design); m11 makes the
# model-selection sweep itself oracle-checkable. For k in (2, 4, 8) it runs
# the deterministic Lloyd trainer (2 iterations, shared quantized corpus)
# and reports per-cluster within-cluster scatter as an EXACT INTEGER:
#   inertia_num(c) = sum over members of sum_dims (q_i * n_c - s_c,i)^2
# i.e. the within-SS about the cluster's own mean, scaled by n_c^2 — all
# integer arithmetic (q quantized long, s exact long sums), so there is NO
# float anywhere in the output and the k-sweep hash-matches DuckDB exactly
# (Spark sums in decimal(38,0), DuckDB in HUGEINT; both print plain
# digits). True WSS = inertia_num / n_members^2 in quantized units — the
# downstream elbow analysis divides AFTER the engines are compared.
# Scale shape: per k, one assign pass + one combinable sums aggregate
# (k x dims longs to the driver, job control) + one broadcast join back
# for the scatter fold — 3 x ITERS linear passes, no shuffle beyond the
# k-group aggregates.
_M11_KS = (2, 4, 8)
_M11_ITERS = 2


def _m11_oracle() -> str:
    from .oracle_fragments import lloyd_ctes, lloyd_input_ctes

    dims = _LLOYD_DIMS
    parts = [lloyd_input_ctes(_LLOYD_Q)]
    selects = []
    for k in _M11_KS:
        p = f"k{k}_"
        parts.append(
            lloyd_ctes(dims, k, _M11_ITERS, _LLOYD_Q, prefix=p, emit_input=False)
        )
        sums_cols = ", ".join(f"sum(q[{i + 1}]) AS s{i}" for i in range(dims))
        term = " + ".join(
            f"(q[{i + 1}] * n - s{i}) * (q[{i + 1}] * n - s{i})" for i in range(dims)
        )
        parts.append(
            f"""{p}sums AS (
  SELECT cluster_id, count(*) AS n, {sums_cols}
  FROM qd JOIN {p}a{_M11_ITERS} USING (vec_id) GROUP BY cluster_id
),
{p}inertia AS (
  SELECT cluster_id, n, SUM({term}) AS inertia_num
  FROM qd JOIN {p}a{_M11_ITERS} USING (vec_id) JOIN {p}sums USING (cluster_id)
  GROUP BY cluster_id, n
)"""
        )
        selects.append(
            f"SELECT CAST({k} AS BIGINT) AS k, cluster_id,"
            f" CAST(n AS BIGINT) AS n_members,"
            # HUGEINT -> pandas crosses the bridge as float64, silently
            # double-rounding above 2^53 (sf1 inertia ~5.6e20); VARCHAR
            # keeps the integer byte-exact on both sides
            f" CAST(inertia_num AS VARCHAR) AS inertia_num FROM {p}inertia"
        )
    return "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


@query("m11_lloyd_elbow_exact", oracle=_m11_oracle())
def m11_lloyd_elbow_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cluster import lloyd_quantized, quantize_vectors

    emb = load_table(spark, sf_dir, "embeddings")
    # quantize + materialize the corpus ONCE and share it across the
    # k-sweep (r15 ADVICE) — matches the oracle's single shared qd/qe
    # input (emit_input=False per k), one corpus scan instead of three
    qframe = quantize_vectors(emb, quant=_LLOYD_Q)

    def fit_one(k: int) -> DataFrame:
        """One k's fit + exact-integer inertia frame, submitted from its
        own driver thread (guide §2.6, the m7 shape): each fit is a chain
        of per-iteration k-row collects over the SHARED quantized
        checkpoint, fully deterministic given (q, k), so the overlapped
        sweep is bit-identical to the old serial loop — the driver-side
        job latency of three chains just stops serializing. Measured
        sf0.1: 6.8 s serial → ~3.4 s overlapped."""
        assign, centers, _ = lloyd_quantized(
            emb, k=k, iters=_M11_ITERS, quant=_LLOYD_Q, prequantized=qframe
        )
        dims = len(centers[0])
        sums = (
            assign.groupBy("cluster_id")
            .agg(
                F.count("*").alias("n"),
                *[F.sum(F.element_at("q", i + 1)).alias(f"s{i}") for i in range(dims)],
            )
            .select(
                "cluster_id",
                "n",
                F.array(*[F.col(f"s{i}") for i in range(dims)]).alias("s"),
            )
        )
        # decimal-accumulated scatter fold — see scatter_row_num for the
        # overflow bound (r15 ADVICE: the old long fold threw under ANSI
        # once a cluster held ~3e5 members)
        from ..operators.cluster import scatter_row_num

        per_row = assign.join(F.broadcast(sums), "cluster_id").select(
            "cluster_id",
            "n",
            scatter_row_num("q", "s", "n").alias("row_num"),
        )
        inertia = per_row.groupBy("cluster_id", "n").agg(
            F.sum(F.col("row_num").cast("decimal(38,0)"))
            .cast("string")  # exact digits; see the oracle's VARCHAR note
            .alias("inertia_num")
        )
        # materialize inside the thread so every fit's jobs (including
        # the inertia aggregation) actually overlap; the frame is k rows
        return materialize(inertia.select(
            F.lit(k).cast("long").alias("k"),
            "cluster_id",
            F.col("n").cast("long").alias("n_members"),
            "inertia_num",
        ))

    parts = run_concurrently(spark, *[partial(fit_one, k) for k in _M11_KS])
    out = parts[0]
    for res in parts[1:]:
        out = out.unionAll(res)
    return out
