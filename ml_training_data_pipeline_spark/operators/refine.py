"""Cluster refinement (SURVEY.md §2.8 M3/M4/M6/M7/M11, §2.7 J2):
coherence-gated adaptive LDA splitting, renumbering, and
centroid-similarity merging — the reference's
``optimize_clusters_with_coherence`` pipeline
(``02_build_models_with_auto_lables._optimised_clusters.R:831-911``;
``split_clusters_with_lda_adaptive`` at ``02_build_models.R:487-564``)
re-expressed as pure DataFrame state transitions.

State is never mutated: each step maps
``assignments(doc_id, cluster_id)`` → new assignments. The driver-side
loop over split candidates is inherent (the reference's too); each
candidate's LDA fit is an MLlib job over only that cluster's rows.
Candidate sets are small by construction (guards P6: ≥ min_docs, low
coherence) so the loop is bounded; everything inside stays distributed.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from functools import partial

import numpy as np
import pandas as pd
from pyspark.ml.clustering import LDA
from pyspark.ml.functions import vector_to_array
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import run_concurrently
from .centroids import centroid_cosine_pairs, merge_components
from .coherence import binary_doc_term, prob_coherence
from .materialize import materialize
from .tfidf import cluster_term_scores


@dataclass
class RefineConfig:
    """Defaults mirror the reference's optimized pipeline
    (02_build_models_with_auto_lables._optimised_clusters.R:905-911):
    threshold 0.05, k_range 2:6, merge 0.9, min 10 docs, top 30 terms;
    LDA iters 200 search / 500 final (02_build_models.R:520,550)."""

    coherence_threshold: float = 0.05
    k_range: tuple[int, ...] = (2, 3, 4, 5, 6)
    min_docs: int = 10
    merge_threshold: float = 0.9
    top_m: int = 5
    seed: int = 1234
    lda_search_iter: int = 20
    lda_final_iter: int = 50
    max_rounds: int = 1
    # scale guard beyond the reference: bound the per-round split fan-out
    # (lowest-coherence clusters first); None = split every candidate.
    max_split_clusters: int | None = None
    # size cutover (SURVEY §4 item 2 / §7 risks): clusters at or below
    # this many docs fit locally inside applyInPandas (all candidates in
    # parallel on executors); larger ones fall back to distributed MLlib
    # LDA jobs, which are serial per cluster but shard internally. The
    # local fit densifies the cluster's sub-DTM: 5000 docs × ~2000 terms
    # × 8B ≈ 80 MB per group — safely inside an executor's task memory;
    # raise only with a correspondingly larger executor heap.
    local_fit_max_docs: int = 5000


def renumber_clusters(assignments: DataFrame) -> DataFrame:
    """J2 — renumber_clusters (02_build_models.R:380-389): compact ids to
    1..K by dense_rank over the old id (order-preserving, deterministic)."""
    w = Window.orderBy("cluster_id")
    ids = assignments.select("cluster_id").distinct().select(
        "cluster_id", F.dense_rank().over(w).alias("new_id")
    )
    return (
        assignments.join(F.broadcast(ids), "cluster_id")
        .select("doc_id", F.col("new_id").alias("cluster_id"))
    )


def cluster_coherence(
    tfidf: DataFrame,
    assignments: DataFrame,
    n_docs: int,
    top_m: int = 5,
    binary: DataFrame | None = None,
) -> DataFrame:
    """A5 — per-cluster mean probabilistic coherence over the cluster's
    top-M terms (02_build_models.R:346-348,837-838).
    Returns (cluster_id, coherence). Pass a cached ``binary`` when calling
    in a loop — rebuilding it re-runs the whole tokenize lineage."""
    topterms = cluster_term_scores(tfidf, assignments, top_n=top_m).select(
        "cluster_id", "term", "rank"
    )
    if binary is None:
        # the long DFM is unique per (doc_id, term) by construction
        # (term_counts groups on that key) — skip the distinct shuffle
        binary = binary_doc_term(tfidf.select("doc_id", "term"), assume_unique=True)
    return prob_coherence(binary, topterms, n_docs)


def lda_topic_assignments(tf_vectors: DataFrame, k: int, seed: int, max_iter: int) -> DataFrame:
    """M3+M4+A8 — fit LDA(k) on a (doc_id, tf) count-vector frame and
    return (doc_id, topic) by argmax of the topic distribution
    (apply(theta, 1, which.max), 02_build_models.R:363)."""
    lda = LDA(k=k, seed=seed, maxIter=max_iter, featuresCol="tf", optimizer="em")
    model = lda.fit(tf_vectors)
    dist = model.transform(tf_vectors).select(
        "doc_id", vector_to_array(F.col("topicDistribution")).alias("theta")
    )
    # argmax with lowest-index tie-break (R which.max semantics)
    return dist.select(
        "doc_id",
        (F.expr("array_position(theta, array_max(theta))") - 1).cast("int").alias("topic"),
    )


def _probe_seed(seed: int, cluster_id: int, k: int) -> int:
    """Deterministic per-(cluster, k) seed for the probe/final fits."""
    return (seed * 1_000_003 + int(cluster_id) * 101 + k) % (2**31 - 1)


def _gibbs_topics(X: np.ndarray, k: int, seed: int, iters: int) -> tuple[np.ndarray, np.ndarray]:
    """Seeded collapsed-Gibbs LDA over a small dense doc-term count
    matrix — a true LDA twin (per-doc topic MIXTURES, matching the
    reference's FitLdaModel, 02_build_models.R:520; the former
    multinomial-mixture EM here assigned one topic per doc, so split
    decisions could differ on mixed-topic clusters). Token-level topic
    assignments are resampled from the collapsed conditional
    p(z=t) ∝ (n_dk+α)(n_kw+β)/(n_k+βW) with α=0.1, β=0.01; theta/phi are
    the smoothed count estimates after ``iters`` sweeps. Deterministic per
    seed, and the one local topic fit: every small-cluster split runs it,
    so a split never depends on which packages an executor image has."""
    rng = np.random.default_rng(seed)
    n, d = X.shape
    alpha, beta = 0.1, 0.01
    Xi = np.rint(np.asarray(X)).astype(np.int64)
    docs_idx, terms_idx = np.nonzero(Xi)
    reps = Xi[docs_idx, terms_idx]
    tok_doc = np.repeat(docs_idx, reps)
    tok_term = np.repeat(terms_idx, reps)
    n_tok = len(tok_doc)
    z = rng.integers(0, k, size=n_tok)
    # The sampler's inner loop runs n_tok*iters times over k-sized count
    # slices; on arrays of width k<=6 every numpy call is dispatch
    # overhead (~25us/token measured), so the counts live as plain
    # Python floats and the conditional is scalar arithmetic
    # (~2us/token). Bit-identical to the former numpy form: same IEEE
    # doubles, same operation order ((n_dk+a)*(n_kw+b)/(n_k+b*d)
    # elementwise, sequential cumsum, searchsorted-left), and the rng
    # stream is consumed by the same draws in the same order.
    ndk = [[0.0] * k for _ in range(n)]
    nkw = [[0.0] * d for _ in range(k)]
    nk = [0.0] * k
    tok_doc_l = tok_doc.tolist()
    tok_term_l = tok_term.tolist()
    z_l = z.tolist()
    for t in range(n_tok):
        ndk[tok_doc_l[t]][z_l[t]] += 1.0
        nkw[z_l[t]][tok_term_l[t]] += 1.0
        nk[z_l[t]] += 1.0
    beta_d = beta * d
    k_range = range(k)
    for _ in range(max(1, iters)):
        u = rng.random(n_tok).tolist()
        for t in range(n_tok):
            di, w, zt = tok_doc_l[t], tok_term_l[t], z_l[t]
            row = ndk[di]
            row[zt] -= 1.0
            nkw[zt][w] -= 1.0
            nk[zt] -= 1.0
            cum = 0.0
            cp = []
            for j in k_range:
                cum += (row[j] + alpha) * (nkw[j][w] + beta) / (nk[j] + beta_d)
                cp.append(cum)
            v = u[t] * cum
            for zt in k_range:  # first j with cp[j] >= v (searchsorted-left)
                if cp[zt] >= v:
                    break
            z_l[t] = zt
            row[zt] += 1.0
            nkw[zt][w] += 1.0
            nk[zt] += 1.0
    ndk_np = np.array(ndk, dtype=np.float64).reshape(n, k)
    nkw_np = np.array(nkw, dtype=np.float64).reshape(k, d)
    theta = ndk_np + alpha
    theta /= theta.sum(axis=1, keepdims=True)
    phi = nkw_np + beta
    phi /= phi.sum(axis=1, keepdims=True)
    return theta, phi


def _local_prob_coherence(
    binary: np.ndarray, phi: np.ndarray, terms: np.ndarray, top_m: int
) -> float:
    """Numpy twin of operators/coherence.prob_coherence on the cluster's
    OWN sub-DTM: D(w) and N are cluster-local (02_build_models.R:543-547
    scores CalcProbCoherence(phi, cluster_data) — not the full corpus).
    Mean over topics, NaN-skipped (mean(..., na.rm=TRUE))."""
    n = binary.shape[0]
    topic_means = []
    for t in range(phi.shape[0]):
        row = phi[t]
        order = sorted(range(len(terms)), key=lambda i: (-row[i], terms[i]))[:top_m]
        cols = binary[:, order]
        dfs = cols.sum(axis=0).astype(float)
        pair_scores = []
        m = len(order)
        for i in range(m):
            if dfs[i] == 0:
                continue
            for j in range(i + 1, m):
                d_ij = float(np.sum(cols[:, i] & cols[:, j]))
                pair_scores.append(d_ij / dfs[i] - dfs[j] / n)
        if pair_scores:
            topic_means.append(float(np.mean(pair_scores)))
    return float(np.mean(topic_means)) if topic_means else float("nan")


def _make_group_splitter(cfg: RefineConfig):
    """applyInPandas group function: one candidate cluster per group, the
    whole adaptive-k search + gate + final fit runs locally on the
    executor (SURVEY §2.9 grouped fitting / §4 item 2; the reference's
    per-cluster loop body, 02_build_models.R:499-560). Emits
    (doc_id, cluster_id): original id when the cluster is coherent or
    unsplittable, minted ids (base_id + topic rank) when split."""
    k_range, top_m = tuple(cfg.k_range), cfg.top_m
    threshold, seed = cfg.coherence_threshold, cfg.seed
    search_iter, final_iter, min_docs = cfg.lda_search_iter, cfg.lda_final_iter, cfg.min_docs

    def split_group(pdf: pd.DataFrame) -> pd.DataFrame:
        cid = int(pdf["cluster_id"].iloc[0])
        base = int(pdf["base_id"].iloc[0])
        docs = np.sort(pdf["doc_id"].unique())
        terms = np.sort(pdf["term"].unique())
        unchanged = pd.DataFrame({"doc_id": docs, "cluster_id": np.full(len(docs), cid)})
        n, d = len(docs), len(terms)
        # reference guards: nrow < min_docs or ncol < 5 → skip
        # (02_build_models.R:504-507)
        ks = [k for k in k_range if k < n]
        if n < min_docs or d < 5 or not ks:
            return unchanged
        di = {v: i for i, v in enumerate(docs)}
        ti = {v: i for i, v in enumerate(terms)}
        X = np.zeros((n, d))
        X[pdf["doc_id"].map(di), pdf["term"].map(ti)] = pdf["tf"].astype(float)
        binary = X > 0
        best_k, best_score = None, -math.inf
        for k in ks:
            _, phi = _gibbs_topics(X, k, _probe_seed(seed, cid, k), search_iter)
            score = _local_prob_coherence(binary, phi, terms, top_m)
            if not math.isnan(score) and score > best_score:
                best_k, best_score = k, score
        if best_k is None:
            return unchanged
        # coherent-cluster gate: best probe coherence ≥ threshold → the
        # cluster stays whole (02_build_models.R:543-547)
        if best_score >= threshold:
            return unchanged
        theta, _ = _gibbs_topics(X, best_k, _probe_seed(seed, cid, best_k), final_iter)
        topics = theta.argmax(axis=1)  # which.max: first-max tie-break
        rank = {t: i for i, t in enumerate(sorted(set(int(t) for t in topics)))}
        return pd.DataFrame(
            {"doc_id": docs, "cluster_id": [base + rank[int(t)] for t in topics]}
        )

    return split_group


def split_low_coherence_clusters(
    tf_vectors: DataFrame,
    tfidf: DataFrame,
    assignments: DataFrame,
    n_docs: int,
    cfg: RefineConfig,
    binary: DataFrame | None = None,
    coherence: DataFrame | None = None,
) -> tuple[DataFrame, list[int]]:
    """M6 — split_clusters_with_lda_adaptive (02_build_models.R:487-564):
    candidate clusters (coherence < threshold, ≥ min_docs — the refiner's
    work-pruning gate, 04_cluster_refiner.R:330-349) each search
    k ∈ k_range for the best mean topic coherence on their OWN sub-DTM
    (cheap-probe iters); a cluster whose best probe coherence clears the
    threshold stays whole (02_build_models.R:543-547); the rest refit at
    the winning k (final iters) and mint new cluster ids above the
    current max (A9).

    Execution: candidates at or below ``cfg.local_fit_max_docs`` docs run
    IN PARALLEL as one ``groupBy(cluster_id).applyInPandas`` stage —
    every per-cluster fit is an executor-local numpy job, no
    driver-blocking chain. Larger candidates (rare by construction) fall
    back to distributed MLlib LDA jobs submitted CONCURRENTLY from driver
    threads (``session.run_concurrently``, FAIR pools). One anti-join ∪
    union applies all minted assignments at once. Returns
    (new_assignments, split_cluster_ids) — ids whose docs actually moved.

    ``binary``/``coherence``: caller-supplied precomputed frames (the
    binarized DFM, and this exact assignments' cluster coherence) so the
    phase-1 gate and the split share one computation instead of
    re-running the DFM distinct + coherence joins (a full extra DFM pass
    each at 100 TB). A caller-supplied binary is left persisted (caller
    owns its lifecycle)."""
    own_binary = binary is None
    if binary is None:
        binary = binary_doc_term(
            tfidf.select("doc_id", "term"), assume_unique=True
        ).cache()
    coh = (
        coherence
        if coherence is not None
        else cluster_coherence(tfidf, assignments, n_docs, cfg.top_m, binary=binary)
    )
    sizes = assignments.groupBy("cluster_id").agg(F.count("*").alias("size"))
    # cluster-count-sized collect (documented exception): the candidate
    # list drives job structure, not data movement. ONE collect of the
    # k-row (cluster, size, coherence) frame yields both the candidate
    # list and max_id — the old separate assignments.agg(max) job was a
    # second full pass over the assignment table per split round. LEFT
    # join from sizes: a cluster with a single top term produces no
    # coherence pair (hence no coh row) and is correctly no candidate,
    # but its id must still bound the minted-id block.
    all_rows = sizes.join(coh, "cluster_id", "left").collect()
    max_id = max(int(r["cluster_id"]) for r in all_rows)
    cands = sorted(
        (
            (float(r["coherence"]), int(r["cluster_id"]), int(r["size"]))
            for r in all_rows
            if r["coherence"] is not None
            and r["coherence"] < cfg.coherence_threshold
            and r["size"] >= cfg.min_docs
        ),
    )
    if cfg.max_split_clusters is not None:
        cands = cands[: cfg.max_split_clusters]
    cand_sizes = {c: s for _, c, s in cands}
    if not cand_sizes:
        if own_binary:
            binary.unpersist()
        return assignments, []
    assignments = assignments.select(
        "doc_id", F.col("cluster_id").cast("long").alias("cluster_id")
    )
    max_k = max(cfg.k_range)
    small = sorted(c for c, s in cand_sizes.items() if s <= cfg.local_fit_max_docs)
    big = sorted(c for c in cand_sizes if c not in set(small))
    out = assignments
    spark = assignments.sparkSession

    if small:
        # deterministic non-overlapping id blocks: candidate i gets
        # [max_id + 1 + i*max_k, ... + max_k) — renumber compacts later.
        bases = spark.createDataFrame(
            [(c, max_id + 1 + i * max_k) for i, c in enumerate(small)],
            schema="cluster_id long, base_id long",
        )
        member_counts = (
            tfidf.select("doc_id", "term", "tf")
            .join(assignments, "doc_id")
            .join(F.broadcast(bases), "cluster_id")
        )
        grouped = member_counts.groupBy("cluster_id").applyInPandas(
            _make_group_splitter(cfg), schema="doc_id long, cluster_id long"
        )
        # materialize ONCE (guide §5): grouped feeds both the anti-join and
        # the union leg below. Left lazy, each consumer re-executes the
        # whole FlatMapGroupsInPandas — i.e. every candidate's probe +
        # final LDA fit ran TWICE per split round (ReuseExchange only
        # dedupes the shuffle BELOW the Python node, not the node itself;
        # measured r17 at sf0.1: m5's split stage 4.5 s → 2.9 s).
        grouped = materialize(grouped)
        out = out.join(grouped.select("doc_id"), "doc_id", "left_anti").unionByName(grouped)

    def fit_big_candidate(cid: int, base_id: int) -> DataFrame | None:
        """Probe + final MLlib LDA for ONE oversized candidate. Runs on a
        worker thread: each action here is an independent Spark job, so
        candidates overlap instead of serializing on the driver (the
        reference's loop is serial, 02_build_models.R:487-564 — at 100×
        many >local_fit_max_docs low-coherence clusters would make that
        the refine wall-clock)."""
        members = assignments.where(F.col("cluster_id") == cid).select("doc_id")
        sub = tf_vectors.join(members, "doc_id").cache()
        try:
            n_sub = sub.count()
            if n_sub < cfg.min_docs:
                return None
            ks = [k for k in cfg.k_range if k < n_sub]
            # cluster-local probe scoring: D(w)/N from the cluster's own
            # sub-DTM (02_build_models.R:543-547)
            local_binary = binary.join(members, "doc_id").cache()
            best_k, best_score = None, float("-inf")
            for k in ks:
                probe = lda_topic_assignments(sub, k, _probe_seed(cfg.seed, cid, k), cfg.lda_search_iter)
                probe_assign = probe.select("doc_id", F.col("topic").alias("cluster_id"))
                probe_coh = cluster_coherence(
                    tfidf.join(members, "doc_id"), probe_assign, n_sub, cfg.top_m,
                    binary=local_binary,
                )
                score_row = probe_coh.agg(F.avg("coherence")).first()
                score = score_row[0] if score_row and score_row[0] is not None else float("-inf")
                if score > best_score:
                    best_k, best_score = k, score
            local_binary.unpersist()
            if best_k is None or best_score >= cfg.coherence_threshold:
                return None
            final = lda_topic_assignments(sub, best_k, _probe_seed(cfg.seed, cid, best_k), cfg.lda_final_iter)
            # argmax materialized inside the thread so unpersist is safe;
            # result is candidate-sized (doc_id, cluster_id) rows.
            return materialize(final.select(
                "doc_id", (F.lit(base_id) + F.col("topic")).cast("long").alias("cluster_id")
            ))
        finally:
            sub.unpersist()

    if big:
        # deterministic id blocks continue past the small candidates';
        # ids are provisional either way — renumber compacts after.
        big_bases = [
            (cid, max_id + 1 + (len(small) + i) * max_k) for i, cid in enumerate(big)
        ]
        minted_parts = run_concurrently(
            spark, *[partial(fit_big_candidate, cid, base) for cid, base in big_bases]
        )
        minted_parts = [m for m in minted_parts if m is not None]
        if minted_parts:
            all_minted = minted_parts[0]
            for m in minted_parts[1:]:
                all_minted = all_minted.unionByName(m)
            out = out.join(all_minted.select("doc_id"), "doc_id", "left_anti").unionByName(all_minted)

    # materialize once (refine() re-checkpoints after renumber), then
    # derive which candidates actually split from the minted-id blocks:
    # a candidate's docs either ALL keep their original id or ALL land in
    # its deterministic block [max_id+1+i*max_k, +max_k), so "docs moved"
    # ⟺ "an id from the block is present". ONE distinct over the k-ish
    # cluster ids replaces the old full-width old⋈new join + distinct
    # (guide §2.4 — the join was a per-round shuffle of the whole
    # assignment table at 100 TB).
    out = materialize(out)
    block_owner = list(small) + list(big)  # block i ↔ candidate order
    new_ids = [int(r["cluster_id"]) for r in out.select("cluster_id").distinct().collect()]
    split_ids = sorted(
        {block_owner[(x - max_id - 1) // max_k] for x in new_ids if x > max_id}
    )
    if own_binary:
        binary.unpersist()
    return out, split_ids


def merge_similar_clusters(
    tfidf: DataFrame, assignments: DataFrame, threshold: float
) -> DataFrame:
    """M7 — centroid-cosine merge (02_opt:861-879) on the long-format
    term centroids: mean TF-IDF per (cluster, term), pairwise cosine,
    transitive merge above threshold, relabel via broadcast map (J1)."""
    expl = (
        tfidf.join(assignments, "doc_id")
        .select(F.col("cluster_id").alias("grp"), F.col("doc_id").alias("vid"),
                F.col("term").alias("idx"), F.col("weight").alias("val"))
    )
    sizes = assignments.groupBy("cluster_id").agg(F.count("*").alias("n"))
    # colMeans over the cluster INCLUDING implicit zeros: sum/size, not avg
    sums = expl.groupBy("grp", "idx").agg(F.sum("val").alias("s"))
    cents = (
        sums.join(sizes.select(F.col("cluster_id").alias("grp"), "n"), "grp")
        .select("grp", "idx", (F.col("s") / F.col("n")).alias("centroid"))
    )
    # materialize once (guide §5): cents is referenced three+ times
    # downstream (both legs of the cosine self-join, the norms aggregate,
    # and merge_components' group-universe collect) — left lazy, each
    # reference re-runs the full tfidf⋈assignments aggregation (a full
    # corpus pass per reference at 100 TB). The frame is k×vocab rows.
    cents = materialize(cents)
    pairs = centroid_cosine_pairs(cents)
    mapping = merge_components(pairs, threshold, groups=cents)
    return (
        assignments.join(
            F.broadcast(mapping.select(F.col("grp").alias("cluster_id"), "new_grp")),
            "cluster_id",
            "left",
        )
        .select("doc_id", F.coalesce("new_grp", "cluster_id").alias("cluster_id"))
    )


def refine(
    tf_vectors: DataFrame,
    tfidf: DataFrame,
    assignments: DataFrame,
    cfg: RefineConfig | None = None,
    *,
    binary: DataFrame | None = None,
    coherence: DataFrame | None = None,
    n_docs: int | None = None,
) -> DataFrame:
    """M11 — optimize_clusters_with_coherence (02_opt:831-911):
    split low-coherence clusters → renumber → merge similar → renumber.
    Each round cuts lineage via materialize() (the reference's
    eager materialization, kept deliberately: iterative loops otherwise
    accumulate unbounded plan depth).

    ``binary``/``coherence``/``n_docs``: optional precomputed inputs
    (see split_low_coherence_clusters) so a caller that already ran the
    phase-1 coherence gate (phase1_summary) shares those frames instead
    of re-deriving them. ``coherence`` must be the INPUT assignments'
    coherence — it is only used for the first round's split."""
    cfg = cfg or RefineConfig()
    tfidf = tfidf.cache()
    tf_vectors = tf_vectors.cache()
    if n_docs is None:
        n_docs = tfidf.select("doc_id").distinct().count()
    out = assignments
    for rnd in range(cfg.max_rounds):
        out, split_ids = split_low_coherence_clusters(
            tf_vectors, tfidf, out, n_docs, cfg,
            binary=binary, coherence=coherence if rnd == 0 else None,
        )
        # checkpoint BEFORE merge: the split output carries LDA-transform
        # lineage that merge's aggregations would otherwise re-execute per
        # downstream job.
        out = materialize(renumber_clusters(out))
        out = merge_similar_clusters(tfidf, out, cfg.merge_threshold)
        out = materialize(renumber_clusters(out))
        if not split_ids:
            break
    return out
