"""Similarity-search queries over the embeddings table (64-dim float
vectors). Cosine values are cross-engine exact: double-cast arrays,
index-order dot product (Spark ``aggregate(zip_with(...))`` ≡ DuckDB
``list_inner_product`` on DOUBLE[]), rounded to 6.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io.sources import load_table
from ..operators.cluster import center_dist_structs, lloyd_quantized
from ..operators.dedup import connected_components
from ..operators.materialize import materialize
from ..operators.similarity import (
    as_double,
    brute_force_topk,
    cosine,
    dot,
    embedding_near_dups,
    ivf_assignments,
    ivf_probe_scored_all,
    ivf_topk,
    ivfpq_index,
    ivfpq_topk,
    label_prototypes,
    lsh_topk,
    multi_table_candidates,
    multi_table_candidates_long,
    multi_table_lsh_topk,
    norm,
    pq_adc_scores,
    pq_codebooks,
    prototype_classify,
    query_cell_ranks,
    rank_topk,
    recall_audit,
    score_pairs,
    srp_buckets,
    with_norm,
)
from ..session import run_concurrently
from .oracle_fragments import closure_ctes, cos_sql, exact_topk_cte, lloyd_ctes, lloyd_dist
from .queries_ml import _LLOYD_DIMS  # one documented 64, not two
from .registry import query

# Fixed SRP hyperplanes (seeded, 4 planes × 64 dims) — inlined as literals
# on both engines so bucket ids agree exactly.
_rng = random.Random(42)
SRP_PLANES: list[list[float]] = [
    [_rng.uniform(-1.0, 1.0) for _ in range(64)] for _ in range(4)
]


def _plane_sql(p: list[float]) -> str:
    return "[" + ", ".join(repr(x) for x in p) + "]"


_BUCKET_SQL = " + ".join(
    f"(CASE WHEN list_inner_product(ve, {_plane_sql(p)}) > 0 THEN {1 << i} ELSE 0 END)"
    for i, p in enumerate(SRP_PLANES)
)

_V = "v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings)"


# --- N1: brute-force cosine top-k ---------------------------------------------
# Queries = vec_id < 10 probe batch; exact top-5 over the whole corpus.
@query(
    "n1_ann_brute_topk",
    oracle=f"""
    WITH {_V},
    q AS (SELECT vec_id AS query_id, ve AS qve FROM v WHERE vec_id < 10),
    scored AS (
      SELECT q.query_id, v.vec_id AS neighbor_id,
             {cos_sql("v.ve", "q.qve")} AS cos_sim
      FROM v CROSS JOIN q WHERE v.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
      SELECT query_id, neighbor_id, cos_sim,
             row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)
def n1_ann_brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return brute_force_topk(emb, emb.where(F.col("vec_id") < 10))


# --- N2: signed-random-projection buckets ---------------------------------------
@query(
    "n2_srp_buckets",
    oracle=f"""
    WITH {_V}
    SELECT vec_id, CAST({_BUCKET_SQL} AS BIGINT) AS bucket FROM v
    """,
)
def n2_srp_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return srp_buckets(emb, SRP_PLANES).select("vec_id", "bucket")


# --- N3: LSH-bucketed ANN top-k --------------------------------------------------
@query(
    "n3_ann_lsh_topk",
    oracle=f"""
    WITH {_V},
    bv AS (SELECT vec_id, ve, CAST({_BUCKET_SQL} AS BIGINT) AS bucket FROM v),
    q AS (SELECT vec_id AS query_id, ve AS qve, bucket FROM bv WHERE vec_id < 10),
    scored AS (
      SELECT q.query_id, bv.vec_id AS neighbor_id,
             {cos_sql("bv.ve", "q.qve")} AS cos_sim
      FROM bv JOIN q ON bv.bucket = q.bucket
      WHERE bv.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
      SELECT query_id, neighbor_id, cos_sim,
             row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)
def n3_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_topk(emb, emb.where(F.col("vec_id") < 10), SRP_PLANES)


# --- N4: embedding near-duplicates (blocked pairwise cosine) ---------------------
@query(
    "n4_embedding_near_dups",
    oracle=f"""
    WITH {_V}
    SELECT vec_a, vec_b, cos_sim FROM (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             {cos_sql("a.ve", "b.ve")} AS cos_sim
      FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
    ) WHERE cos_sim >= 0.35
    """,
)
def n4_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_near_dups(emb, threshold=0.35)


# --- N5: IVF ANN top-k (coarse-quantizer inverted file) --------------------------
# The second scale path SURVEY names beside SRP-LSH: KMeans cells as the
# inverted file, nprobe nearest cells probed per query, exact cosine only
# within them. Estimator-backed (cell centers aren't SQL-expressible) →
# rows-only driver check; recall/exactness invariants live in
# tests/test_similarity_ivf.py (nprobe=nlist ≡ brute force). Serves on
# the DEFAULT nprobe — n15's measured recall-0.88 knee (nprobe=8), so
# the serving path embodies the sweep's answer rather than a guess.
@query("n5_ann_ivf_topk")
def n5_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(emb, emb.where(F.col("vec_id") < 10), nlist=16)


# --- N6: embedding near-dup GROUPS (closure over n4's pair graph) ----------------
# The semantic-dedup survivor step: cosine near-dup pairs → transitive
# components → canonical representative (min vec_id). Same
# smallest-label-propagation operator as d10; the recursive-CTE oracle
# checks the closure, so together n4+n6 oracle-verify the whole
# embedding-dedup path end-to-end.
@query(
    "n6_embedding_dedup_groups",
    oracle=f"""
    WITH RECURSIVE {_V},
    pairs AS (
      SELECT vec_a, vec_b FROM (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               {cos_sql("a.ve", "b.ve")} AS cos_sim
        FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
      ) WHERE cos_sim >= 0.35
    ),
    {closure_ctes("vec_a", "vec_b")}
    SELECT node AS doc_id, min(label) AS component_id
    FROM reach GROUP BY node
    """,
)
def n6_embedding_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = embedding_near_dups(emb, threshold=0.35)
    return connected_components(pairs, a_col="vec_a", b_col="vec_b")


# --- N7: class-prototype confusion matrix ------------------------------------------
# Embedding-space health check for labeled corpora: mean embedding per
# label (prototype), nearest-prototype classification of every vector,
# and the label × predicted confusion matrix with mean winning cosine.
# How separable the label space is — read before trusting label-blocked
# dedup (n4) or stratified mixing on those labels. Scale shape: element
# means via ONE posexplode shuffle (map-side partial avg), prototypes
# broadcast (#classes rows), argmax over #classes per vec; the raw-cos
# argmax is stable cross-engine because class prototypes are well
# separated relative to float error (~1e-15).
@query(
    "n7_prototype_confusion",
    oracle=f"""
    WITH {_V},
    cell AS (
      SELECT label, unnest(ve) AS val, generate_subscripts(ve, 1) AS pos FROM v
    ),
    proto AS (SELECT label AS plabel, pos, avg(val) AS m FROM cell GROUP BY 1, 2),
    pl AS (SELECT plabel, list(m ORDER BY pos) AS proto FROM proto GROUP BY plabel),
    scored AS (
      SELECT v.vec_id, v.label, p.plabel,
             list_inner_product(v.ve, p.proto)
               / (sqrt(list_inner_product(v.ve, v.ve))
                  * sqrt(list_inner_product(p.proto, p.proto))) AS cos
      FROM v CROSS JOIN pl p
    ),
    pred AS (
      SELECT vec_id, label, plabel, cos,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY cos DESC, plabel) AS rk
      FROM scored
    )
    SELECT label, plabel AS predicted_label, count(*) AS n_vecs,
           round(avg(cos), 6) AS avg_cos
    FROM pred WHERE rk = 1 GROUP BY 1, 2
    """,
)
def n7_prototype_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    pred = prototype_classify(emb, label_prototypes(emb))
    return pred.groupBy("label", "predicted_label").agg(
        F.count("*").alias("n_vecs"), F.round(F.avg("cos"), 6).alias("avg_cos")
    )


# --- N8: prototype silhouette (label-space quality score) --------------------------
# The scalar companion to n7's confusion matrix: cosine-distance
# silhouette against class prototypes — a(v) = 1 − cos(v, own proto),
# b(v) = min over other labels of (1 − cos), s = (b − a)/max(a, b) —
# averaged per label. Prototype-based (not pairwise) silhouette is the
# form that scales: #classes cosines per vector via the same broadcast,
# no O(n²) distance matrix. Low per-label silhouette = that label's
# region overlaps others → don't block dedup or stratify mixes on it.
@query(
    "n8_prototype_silhouette",
    oracle=f"""
    WITH {_V},
    cell AS (
      SELECT label, unnest(ve) AS val, generate_subscripts(ve, 1) AS pos FROM v
    ),
    proto AS (SELECT label AS plabel, pos, avg(val) AS m FROM cell GROUP BY 1, 2),
    pl AS (SELECT plabel, list(m ORDER BY pos) AS proto FROM proto GROUP BY plabel),
    scored AS (
      SELECT v.vec_id, v.label, p.plabel,
             list_inner_product(v.ve, p.proto)
               / (sqrt(list_inner_product(v.ve, v.ve))
                  * sqrt(list_inner_product(p.proto, p.proto))) AS cos
      FROM v CROSS JOIN pl p
    ),
    per AS (
      SELECT vec_id, label,
             max(CASE WHEN plabel = label THEN cos END) AS own_cos,
             max(CASE WHEN plabel <> label THEN cos END) AS best_other_cos
      FROM scored GROUP BY vec_id, label
    ),
    sil AS (
      SELECT label,
             CASE WHEN greatest(1 - own_cos, 1 - best_other_cos) > 0
                  THEN (own_cos - best_other_cos)
                       / greatest(1 - own_cos, 1 - best_other_cos)
                  ELSE 0.0 END AS s
      FROM per
    )
    SELECT label, count(*) AS n_vecs, round(avg(s), 6) AS mean_silhouette
    FROM sil GROUP BY label
    """,
)
def n8_prototype_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    pl = label_prototypes(emb).select(
        F.col("label").alias("plabel"), F.col("proto")
    )
    scored = emb.crossJoin(F.broadcast(pl)).withColumn(
        "cos", cosine(F.col("embedding"), F.col("proto"))
    )
    per = scored.groupBy("vec_id", "label").agg(
        F.max(F.when(F.col("plabel") == F.col("label"), F.col("cos"))).alias("own_cos"),
        F.max(F.when(F.col("plabel") != F.col("label"), F.col("cos"))).alias(
            "best_other_cos"
        ),
    )
    denom = F.greatest(1 - F.col("own_cos"), 1 - F.col("best_other_cos"))
    s = F.when(
        denom > 0, (F.col("own_cos") - F.col("best_other_cos")) / denom
    ).otherwise(F.lit(0.0))
    return (
        per.select("label", s.alias("s"))
        .groupBy("label")
        .agg(F.count("*").alias("n_vecs"), F.round(F.avg("s"), 6).alias("mean_silhouette"))
    )


# --- N9: embedding-norm outlier gate -----------------------------------------------
# Embedding-pipeline health: vectors whose L2 norm sits far from the
# population (|z| > 3) are degenerate — failed encoder batches, zero
# vectors, fp overflow — and poison cosine math downstream. Same
# two-pass shape as w8: population stats broadcast back over one scan
# pair, no per-label window.
@query(
    "n9_norm_outliers",
    oracle=f"""
    WITH {_V},
    n AS (SELECT vec_id, label, sqrt(list_inner_product(ve, ve)) AS nrm FROM v),
    stats AS (SELECT avg(nrm) AS mu, stddev_samp(nrm) AS sd FROM n)
    SELECT label,
           count(*) AS n_vecs,
           CAST(sum(CASE WHEN abs(nrm - s.mu) > 3 * s.sd THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers,
           round(min(nrm), 6) AS min_norm,
           round(max(nrm), 6) AS max_norm
    FROM n CROSS JOIN stats s
    GROUP BY label
    """,
)
def n9_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.select("vec_id", "label", norm(F.col("embedding")).alias("nrm"))
    stats = n.agg(
        F.avg("nrm").alias("mu"), F.stddev_samp("nrm").alias("sd")
    )
    return (
        n.crossJoin(F.broadcast(stats))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum(
                F.when(F.abs(F.col("nrm") - F.col("mu")) > 3 * F.col("sd"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
            F.round(F.min("nrm"), 6).alias("min_norm"),
            F.round(F.max("nrm"), 6).alias("max_norm"),
        )
    )


# --- N10: int8 scalar quantization of embeddings -----------------------------------
# The storage/serving compression step every 100-TB embedding store runs:
# per-vector max-abs scalar quantization to int8 (scale = 127/max|x|,
# q_i = round(x_i * scale)), plus the quality audit — per-label mean
# reconstruction MSE and worst-vector MSE — that decides whether int8 is
# safe for the downstream ANN index (4× smaller, memory-bandwidth-bound
# scans go 4× faster). Pure JVM array algebra: transform + aggregate on
# double-cast arrays, one narrow map + one groupBy — no Python, no
# shuffle beyond the final label rollup. Cross-engine exact: both sides
# fold the squared error left-to-right in index order on doubles, and
# round(x*scale) is half-up on positives/half-down on negatives in both
# engines' double math.
@query(
    "n10_int8_quantization",
    oracle=f"""
    WITH {_V},
    m AS (
      SELECT vec_id, label, ve,
             list_max(list_transform(ve, x -> abs(x))) AS max_abs
      FROM v
    ),
    e AS (
      SELECT vec_id, label, max_abs,
             CASE WHEN max_abs = 0 THEN 0.0 ELSE
               list_aggregate(
                 list_transform(ve, x -> pow(x - round(x * 127.0 / max_abs) * max_abs / 127.0, 2)),
                 'sum') / len(ve)
             END AS mse
      FROM m
    )
    SELECT label,
           count(*) AS n_vecs,
           round(sum(CAST(round(mse * 1e12) AS BIGINT))
                 / 1000000.0 / count(*), 6) AS mean_mse_ppm,
           round(max(mse) * 1e6, 6) AS max_mse_ppm,
           round(sum(CAST(round(max_abs * 1000000) AS BIGINT))
                 / 1000000.0 / count(*), 6) AS mean_scale_denom
    FROM e
    GROUP BY label
    """,
)
def n10_int8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    ve = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    m = emb.select(
        "vec_id",
        "label",
        ve.alias("ve"),
        F.array_max(F.transform(ve, F.abs)).alias("max_abs"),
    )
    # dequantized error per element: x - round(x*127/max_abs)*max_abs/127
    sq_err = F.transform(
        F.col("ve"),
        lambda x: F.pow(
            x - F.round(x * 127.0 / F.col("max_abs")) * F.col("max_abs") / 127.0, F.lit(2)
        ),
    )
    e = m.select(
        "label",
        "max_abs",
        F.when(F.col("max_abs") == 0, F.lit(0.0))
        .otherwise(
            F.aggregate(sq_err, F.lit(0.0), lambda acc, x: acc + x) / F.size("ve")
        )
        .alias("mse"),
    )
    # decimal-summed means (cur8's pattern): per-row mse and max_abs are
    # pure row expressions (identical doubles cross-engine), but
    # avg(double) over ~2000-row label groups is accumulation-order-
    # dependent in the last ulp — the d12 sf1-probe class. Scaling to
    # integers (1e12 for mse: the ppm column's 6 decimals) makes the
    # partial sums exact; max is order-independent and stays raw.
    return (
        e.groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum(F.round(F.col("mse") * 1e12).cast("long")).alias("m12"),
            F.round(F.max("mse") * 1e6, 6).alias("max_mse_ppm"),
            F.sum(F.round(F.col("max_abs") * 1000000).cast("long")).alias("a6"),
        )
        .select(
            "label",
            "n_vecs",
            F.round(F.col("m12") / F.lit(1000000.0) / F.col("n_vecs"), 6).alias(
                "mean_mse_ppm"
            ),
            "max_mse_ppm",
            F.round(F.col("a6") / F.lit(1000000.0) / F.col("n_vecs"), 6).alias(
                "mean_scale_denom"
            ),
        )
    )


# --- N11: SRP-LSH recall audit (ANN vs exact ground truth) -------------------------
# Completes the estimator-audit trilogy (v8: Count-Min, d16: MinHash):
# per probe query, recall@5 of the SRP-bucketed ANN (n3's pipeline)
# against the brute-force ground truth (n1's) — the number that decides
# whether 4 hyperplanes is enough before anyone trusts the bucketed path
# at scale. Both pipelines are deterministic (fixed seeded planes, total
# tie-break order), so the recall itself is oracle-checkable — an audit,
# not a benchmark anecdote. The join is per-(query, neighbor) on two
# ≤ k·|probes| result sets — negligible beside either pipeline's own
# work. And the audit EARNS its keep: on this corpus it measures
# recall@5 ≈ 0.06 — a single 4-plane table over near-isotropic 64-dim
# vectors prunes 15/16 of the corpus and pays for it in recall, which is
# precisely why the IVF path (n5) carries an explicit nprobe recall knob
# and why multi-table / multi-probe SRP is the production configuration.
# A pipeline that ships the n3 single-table config without running this
# audit first is the failure mode this query exists to prevent.
@query(
    "n11_ann_recall_audit",
    oracle=f"""
    WITH {_V},
    q AS (SELECT vec_id AS query_id, ve AS qve FROM v WHERE vec_id < 10),
    {exact_topk_cte()},
    bv AS (SELECT vec_id, ve, CAST({_BUCKET_SQL} AS BIGINT) AS bucket FROM v),
    qb AS (SELECT vec_id AS query_id, ve AS qve, bucket FROM bv WHERE vec_id < 10),
    approx AS (
      SELECT query_id, neighbor_id FROM (
        SELECT qb.query_id, bv.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY qb.query_id
                 ORDER BY {cos_sql("bv.ve", "qb.qve")} DESC,
                   bv.vec_id ASC) AS rank
        FROM bv JOIN qb ON bv.bucket = qb.bucket WHERE bv.vec_id <> qb.query_id
      ) WHERE rank <= 5
    )
    SELECT e.query_id,
           count(*) AS n_exact,
           CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
           round(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6) AS recall_at_5
    FROM exact e
    LEFT JOIN approx a ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
    GROUP BY e.query_id
    """,
)
def n11_ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") < 10)
    exact = brute_force_topk(emb, probes).select("query_id", "neighbor_id")
    return recall_audit(exact, lsh_topk(emb, probes, SRP_PLANES))


# fixed multi-table SRP hyperplanes: 4 tables × 4 planes × 64 dims,
# seeded separately from SRP_PLANES so tables are independent.
_mt_rng = random.Random(1234)
MT_PLANE_TABLES: list[list[list[float]]] = [
    [[_mt_rng.uniform(-1.0, 1.0) for _ in range(64)] for _ in range(4)]
    for _ in range(4)
]


def _mt_bucket_sql(planes: list[list[float]]) -> str:
    return " + ".join(
        f"(CASE WHEN list_inner_product(ve, {_plane_sql(p)}) > 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )


# --- N12: multi-table SRP-LSH ANN + recall audit -----------------------------------
# The production answer to n11's finding (single-table recall@5 ≈ 0.06):
# T=4 independent hash tables, candidate set = union of the query's
# bucket across tables, one exact scoring pass over the deduped union.
# Probe cost ~4× a single table; measured recall@5 = 0.38 on this corpus
# — 6× n11's single-table recall for 4× the probes. The audit pair
# (n11, n12) quantifies the recall-per-probe-cost curve directly; on
# near-isotropic synthetic vectors full recall genuinely needs
# IVF-nprobe (n5) or more/wider tables, while real clustered embeddings
# buy far more per table. Same audit shape as n11, end-to-end
# oracle-checked.
@query(
    "n12_ann_multitable_recall",
    oracle=f"""
    WITH {_V},
    q AS (SELECT vec_id AS query_id, ve AS qve FROM v WHERE vec_id < 10),
    {exact_topk_cte()},
    vb AS (
{" UNION ALL ".join(
    "SELECT vec_id, ve, %d AS tbl, CAST(%s AS BIGINT) AS bucket FROM v" % (t, _mt_bucket_sql(planes))
    for t, planes in enumerate(MT_PLANE_TABLES))}
    ),
    qb AS (SELECT vec_id AS query_id, ve AS qve, tbl, bucket FROM vb WHERE vec_id < 10),
    cand AS (
      SELECT DISTINCT qb.query_id, vb.vec_id AS neighbor_id
      FROM vb JOIN qb ON vb.tbl = qb.tbl AND vb.bucket = qb.bucket
      WHERE vb.vec_id <> qb.query_id
    ),
    approx AS (
      SELECT query_id, neighbor_id FROM (
        SELECT c.query_id, c.neighbor_id,
               row_number() OVER (
                 PARTITION BY c.query_id
                 ORDER BY {cos_sql("nv.ve", "qv.ve")} DESC,
                   c.neighbor_id ASC) AS rank
        FROM cand c
        JOIN v nv ON nv.vec_id = c.neighbor_id
        JOIN v qv ON qv.vec_id = c.query_id
      ) WHERE rank <= 5
    )
    SELECT e.query_id,
           count(*) AS n_exact,
           CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
           round(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6) AS recall_at_5
    FROM exact e
    LEFT JOIN approx a ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
    GROUP BY e.query_id
    """,
)
def n12_ann_multitable_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") < 10)
    exact = brute_force_topk(emb, probes).select("query_id", "neighbor_id")
    return recall_audit(exact, multi_table_lsh_topk(emb, probes, MT_PLANE_TABLES))


# fixed sweep hyperplanes: 16 tables × 4 planes × 64 dims, seeded apart
# from SRP_PLANES / MT_PLANE_TABLES. Configs T=1..16 are PREFIXES of
# this one list, so the measured curve varies only the table count.
_sw_rng = random.Random(987)
SWEEP_PLANE_TABLES: list[list[list[float]]] = [
    [[_sw_rng.uniform(-1.0, 1.0) for _ in range(64)] for _ in range(4)]
    for _ in range(16)
]

_SWEEP_TS = (1, 2, 4, 8, 16)


def _sweep_ctes(T: int) -> str:
    tables = SWEEP_PLANE_TABLES[:T]
    vb = " UNION ALL ".join(
        "SELECT vec_id, ve, %d AS tbl, CAST(%s AS BIGINT) AS bucket FROM v"
        % (t, _mt_bucket_sql(planes))
        for t, planes in enumerate(tables)
    )
    return f"""
    vb{T} AS ({vb}),
    qb{T} AS (SELECT vec_id AS query_id, ve AS qve, tbl, bucket FROM vb{T} WHERE vec_id < 10),
    cand{T} AS (
      SELECT DISTINCT b.query_id, a.vec_id AS neighbor_id
      FROM vb{T} a JOIN qb{T} b ON a.tbl = b.tbl AND a.bucket = b.bucket
      WHERE a.vec_id <> b.query_id
    ),
    approx{T} AS (
      SELECT query_id, neighbor_id FROM (
        SELECT c.query_id, c.neighbor_id,
               row_number() OVER (
                 PARTITION BY c.query_id
                 ORDER BY {cos_sql("nv.ve", "qv.ve")} DESC,
                   c.neighbor_id ASC) AS rank
        FROM cand{T} c
        JOIN v nv ON nv.vec_id = c.neighbor_id
        JOIN v qv ON qv.vec_id = c.query_id
      ) WHERE rank <= 5
    ),
    row{T} AS (
      SELECT CAST({T} AS BIGINT) AS n_tables,
             (SELECT round(count(*) / CAST((SELECT count(*) FROM q) AS DOUBLE), 6) FROM cand{T})
               AS avg_candidates,
             round(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                   / CAST(count(*) AS DOUBLE), 6) AS mean_recall_at_5
      FROM exact e
      LEFT JOIN approx{T} a ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
    )"""


# --- N13: ANN table-count sweep (recall-per-probe-cost curve) ----------------------
# The deployment-decision audit n11/n12 motivated: ONE query reports the
# whole knob curve — recall@5 AND candidate volume (probe cost) for
# T=1,2,4,8,16 SRP tables, each config a prefix of one fixed table
# list (so the curve varies only T). Measured at sf0.01 (1000 vectors,
# 10 probes): recall 0.06 → 0.16 → 0.38 → 0.72 → 0.90 with avg scored
# candidates 31.5 → 58.7 → 112.2 → 198.2 → 313.1. The deployable
# conclusion (README "ANN configuration"): T=16 × 4-bit tables is the
# first config past recall ≥ 0.8 on this near-isotropic synthetic
# space, at the honest price of scoring ~31% of the corpus — the
# per-table yield SRP gets when embeddings have no cluster structure.
# Real clustered embeddings buy far more recall per table (re-run the
# sweep, let the curve pick T); when candidate fractions this high are
# unacceptable, IVF-nprobe (n5) scans a tunable fraction of coherent
# partitions instead.
@query(
    "n13_ann_table_sweep",
    oracle=f"""
    WITH {_V},
    q AS (SELECT vec_id AS query_id, ve AS qve FROM v WHERE vec_id < 10),
    {exact_topk_cte()},
    {",".join(_sweep_ctes(T) for T in _SWEEP_TS)}
    {" UNION ALL ".join(f"SELECT * FROM row{T}" for T in _SWEEP_TS)}
    """,
)
def n13_ann_table_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") < 10)
    # ground truth is shared by every sweep branch — materialize once
    # (50 rows) instead of re-scoring the corpus per config
    exact = materialize(
        brute_force_topk(emb, probes)
        .select("query_id", "neighbor_id")
    )
    n_q = probes.agg(F.count("*").alias("nq"))
    # configs are PREFIXES of one fixed table list, so hash the corpus
    # ONCE for all max(T) tables and tag candidates by table index:
    # config T's candidate set is tbl < T, deduped. Without this the
    # sweep hashes the corpus Σ(T)=31 table-widths twice over (the
    # candidate count and the scorer each rebuilt the tables). Scores
    # don't depend on T either, so cosine runs ONCE over the T=max
    # superset; each config just rank-filters its subset. Both
    # materialized tables are probe-volume-sized (queries × bucket
    # mates), never corpus-sized.
    cand_long = materialize(multi_table_candidates_long(
        emb, probes, SWEEP_PLANE_TABLES[: max(_SWEEP_TS)]
    ))
    scored_all = materialize(score_pairs(
        emb, probes, cand_long.select("query_id", "neighbor_id").distinct()
    ))
    rows = None
    for T in _SWEEP_TS:
        cands = (
            cand_long.where(F.col("tbl") < T).select("query_id", "neighbor_id").distinct()
        )
        approx = rank_topk(cands.join(F.broadcast(scored_all), ["query_id", "neighbor_id"]))
        recall = recall_audit(exact, approx, by=(), name="mean_recall_at_5")
        # singleton-stats broadcast crossJoins (1×1 rows — job structure)
        avg_c = (
            cands.agg(F.count("*").alias("nc"))
            .crossJoin(F.broadcast(n_q))
            .select(F.round(F.col("nc") / F.col("nq").cast("double"), 6).alias("avg_candidates"))
        )
        row = recall.crossJoin(F.broadcast(avg_c)).select(
            F.lit(T).cast("long").alias("n_tables"), "avg_candidates", "mean_recall_at_5"
        )
        rows = row if rows is None else rows.unionAll(row)
    return rows


# --- N14: nearest-neighbor confidence margin ---------------------------------------
# Retrieval-quality audit on top of the exact top-k: per query, the gap
# between the best and the k-th cosine (a tiny margin means the
# neighborhood is ambiguous — rerank or widen k before trusting it
# downstream). Pure conditional aggregation over n1's ranked output; no
# extra scan or shuffle beyond the top-k itself.
@query(
    "n14_ann_margin",
    oracle=f"""
    WITH {_V},
    q AS (SELECT vec_id AS query_id, ve AS qve FROM v WHERE vec_id < 10),
    ranked AS (
      SELECT q.query_id,
             {cos_sql("v.ve", "q.qve")} AS cos_sim,
             row_number() OVER (
               PARTITION BY q.query_id
               ORDER BY {cos_sql("v.ve", "q.qve")} DESC,
                 v.vec_id ASC) AS rank
      FROM v CROSS JOIN q WHERE v.vec_id <> q.query_id
    )
    SELECT query_id,
           round(max(CASE WHEN rank = 1 THEN cos_sim END), 6) AS top1_sim,
           round(max(CASE WHEN rank = 5 THEN cos_sim END), 6) AS top5_sim,
           round(max(CASE WHEN rank = 1 THEN cos_sim END)
                 - max(CASE WHEN rank = 5 THEN cos_sim END), 6) AS margin
    FROM ranked WHERE rank <= 5
    GROUP BY query_id
    """,
)
def n14_ann_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") < 10)
    topk = brute_force_topk(emb, probes)
    return topk.groupBy("query_id").agg(
        F.round(F.max(F.when(F.col("rank") == 1, F.col("cos_sim"))), 6).alias("top1_sim"),
        F.round(F.max(F.when(F.col("rank") == 5, F.col("cos_sim"))), 6).alias("top5_sim"),
        F.round(
            F.max(F.when(F.col("rank") == 1, F.col("cos_sim")))
            - F.max(F.when(F.col("rank") == 5, F.col("cos_sim"))),
            6,
        ).alias("margin"),
    )


# --- N15: IVF nprobe sweep (the n13 curve for the other index) ---------------------
# Completes the ANN configuration story: recall@5 per nprobe ∈
# {1,2,4,8,16} over ONE prebuilt 16-cell IVF index (the KMeans build is
# paid once — ivf_probe_topk takes the index as an artifact, the
# production serving shape). nprobe=nlist degenerates to exact brute
# force, so the curve must END at recall 1.0 — pinned in
# tests/test_round7.py along with monotonicity. Estimator-backed
# (KMeans cells aren't SQL-expressible) → rows-only driver check, like
# n5.
@query("n15_ivf_nprobe_sweep")
def n15_ivf_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") < 10)

    # exact ground truth ‖ index build (guide §2.6) — shared by all five
    # probe branches; independent of the KMeans fit, so it back-fills the
    # executors the fit's iteration tail leaves idle
    def _exact() -> DataFrame:
        return materialize(
            brute_force_topk(emb, probes).select("query_id", "neighbor_id")
        )

    def _index() -> tuple[list[list[float]], DataFrame]:
        centers, assigned = ivf_assignments(emb, nlist=16)
        return centers, materialize(assigned)  # one index build, five probe passes

    exact, (centers, assigned) = run_concurrently(spark, _exact, _index)
    # scores don't depend on nprobe and the full-probe branch scores the
    # whole corpus anyway — score ONCE tagged by probe rank p; each
    # config is p <= nprobe (the n13 score-once discipline). Probe-batch
    # × corpus sized, the same volume the nprobe=16 branch produced.
    scored_all = materialize(ivf_probe_scored_all(centers, assigned, emb, probes))
    rows = None
    for nprobe in (1, 2, 4, 8, 16):
        approx = rank_topk(scored_all.where(F.col("p") <= nprobe).drop("p"))
        row = recall_audit(exact, approx, by=(), name="mean_recall_at_5").select(
            F.lit(nprobe).cast("long").alias("nprobe"), "mean_recall_at_5"
        )
        rows = row if rows is None else rows.unionAll(row)
    return rows


# --- N16: hard-negative mining (contrastive training pairs) ------------------------
# The retrieval-training data prep step (DPR/E5-style): for each anchor
# (a hash sample — every training example in practice), the top-k MOST
# similar neighbors that are NOT near-duplicates — similar enough to be
# hard, distinct enough to be true negatives. The dup gate reuses the
# corpus's established near-dup threshold (cos >= 0.35, n4/n6), applied
# to the ROUNDED cosine on both engines so the boundary cannot flip
# cross-engine; filter-then-rank, so excluded near-dups free slots for
# the next-hardest candidates (the property a post-rank filter would
# lose). Brute scoring here is the exact audit baseline; at 100 TB the
# candidate stage swaps to IVF (n5/n15's machinery) with this same
# filter + rank_topk on top, and n11's recall audit quantifies the swap.
@query(
    "n16_hard_negatives",
    oracle=f"""
    WITH {_V},
    q AS (SELECT vec_id AS anchor_id, ve AS qve FROM v WHERE vec_id % 100 = 0),
    scored AS (
      SELECT q.anchor_id, v.vec_id AS negative_id,
             {cos_sql("v.ve", "q.qve")} AS cos_sim
      FROM v CROSS JOIN q WHERE v.vec_id <> q.anchor_id
    )
    SELECT anchor_id, negative_id, cos_sim, rank FROM (
      SELECT anchor_id, negative_id, cos_sim,
             row_number() OVER (PARTITION BY anchor_id ORDER BY cos_sim DESC, negative_id ASC) AS rank
      FROM scored WHERE cos_sim < 0.35
    ) WHERE rank <= 5
    """,
)
def n16_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    v = with_norm(emb)
    q = with_norm(emb.where(F.col("vec_id") % 100 == 0)).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("vec").alias("qvec"),
        F.col("nrm").alias("qnrm"),
    )
    scored = (
        v.crossJoin(F.broadcast(q))  # anchors are a small hash sample
        .where(F.col("vec_id") != F.col("anchor_id"))
        .select(
            "anchor_id",
            F.col("vec_id").alias("negative_id"),
            F.round(
                dot(F.col("vec"), F.col("qvec")) / (F.col("nrm") * F.col("qnrm")), 6
            ).alias("cos_sim"),
        )
    )
    hard = scored.where(F.col("cos_sim") < 0.35)
    return (
        rank_topk(
            hard.select(
                F.col("anchor_id").alias("query_id"), F.col("negative_id").alias("neighbor_id"), "cos_sim"
            ),
        )
        .select(
            F.col("query_id").alias("anchor_id"),
            F.col("neighbor_id").alias("negative_id"),
            "cos_sim",
            "rank",
        )
    )


# --- CUR11: semantic survivor selection (SemDeDup-style representative) ------------
# cur2 keeps the highest-QUALITY member of each near-dup component;
# cur11 is its embedding-space twin: within each of n6's components,
# keep the most CENTRAL member — the medoid by exact integer edge-weight
# degree (sum of round(cos·1e6) over incident near-dup edges, tie → min
# vec_id). Degree-weighted centrality instead of cosine-to-mean-centroid
# is deliberate: pairwise cosines are rounded to 6dp and identical
# cross-engine, so the argmax is EXACT integer arithmetic, whereas a
# float centroid's aggregation order can flip a near-tie between
# engines (the n7 separation argument doesn't hold INSIDE a near-dup
# component, where members are near-equidistant by construction).
# One pairs build feeds edges, closure, and scores.
@query(
    "cur11_semantic_survivors",
    oracle=f"""
    WITH RECURSIVE {_V},
    pairs AS (
      SELECT vec_a, vec_b, cos_sim FROM (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               {cos_sql("a.ve", "b.ve")} AS cos_sim
        FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
      ) WHERE cos_sim >= 0.35
    ),
    {closure_ctes("vec_a", "vec_b")},
    comp AS (SELECT node AS vec_id, min(label) AS component_id FROM reach GROUP BY node),
    inc AS (
      SELECT vec_a AS vec_id, CAST(round(cos_sim * 1e6) AS BIGINT) AS w FROM pairs
      UNION ALL
      SELECT vec_b, CAST(round(cos_sim * 1e6) AS BIGINT) FROM pairs
    ),
    score AS (
      SELECT c.component_id, i.vec_id, CAST(sum(i.w) AS BIGINT) AS s
      FROM inc i JOIN comp c USING (vec_id)
      GROUP BY 1, 2
    )
    SELECT component_id, n_members, keep_vec_id, keep_score FROM (
      SELECT component_id,
             count(*) OVER (PARTITION BY component_id) AS n_members,
             vec_id AS keep_vec_id,
             round(s / 1e6, 6) AS keep_score,
             row_number() OVER (PARTITION BY component_id ORDER BY s DESC, vec_id ASC) AS rn
      FROM score
    ) WHERE rn = 1
    """,
)
def cur11_semantic_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # pairs has three consumers (closure, both score directions) — tiny
    # (verified near-dups only), materialize once
    pairs = materialize(embedding_near_dups(emb, threshold=0.35))
    comp = connected_components(pairs, a_col="vec_a", b_col="vec_b").select(
        F.col("doc_id").alias("vec_id"), "component_id"
    )
    w_int = F.round(F.col("cos_sim") * 1e6).cast("long")
    inc = pairs.select(F.col("vec_a").alias("vec_id"), w_int.alias("w")).unionAll(
        pairs.select(F.col("vec_b").alias("vec_id"), w_int.alias("w"))
    )
    score = (
        inc.join(comp, "vec_id")
        .groupBy("component_id", "vec_id")
        .agg(F.sum("w").cast("long").alias("s"))
    )
    # combinable keeper argmax — d25's (s, -vec_id)-max struct, NOT a
    # component-partitioned window (VERDICT r15 #3): integer s is exact,
    # lexicographic max ≡ the oracle's ORDER BY s DESC, vec_id ASC, and
    # the two windows + rn filter collapse to ONE map-side-combinable
    # groupBy with no hot-key funnel on a giant component.
    best = F.max(F.struct(F.col("s").alias("s"), (-F.col("vec_id")).alias("nid")))
    return score.groupBy("component_id").agg(
        F.count("*").alias("n_members"),
        (-best.getField("nid")).cast("long").alias("keep_vec_id"),
        F.round(best.getField("s") / 1e6, 6).alias("keep_score"),
    )


# --- N17: ANN-backed hard-negative mining audit -------------------------------------
# n16's exact crossJoin scoring is the right ORACLE baseline for
# contrastive hard negatives, but the 100 TB serving path generates
# candidates with the ANN machinery and applies the same
# dup-gate-then-rank on top. n17 runs that deployable pipeline —
# multi-table SRP-LSH candidates (n12's production config, T=4 tables ×
# 4 planes), exact cosine on survivors, cos < 0.35 dup gate, top-5 —
# and audits it against n16's exact set: per-anchor overlap@5, the
# d16/n11 estimator-audit pattern. The whole audit is SQL-checkable
# because BOTH sets are deterministic (fixed hyperplane literals on
# both engines, rounded cosines, total-order tie-breaks). Deployable
# config (README): MT_PLANE_TABLES candidates + 0.35 gate + rank@5;
# candidate probe cost ≈ T × bucket share of corpus per anchor, never
# anchor × corpus.
@query(
    "n17_ann_hard_negatives",
    oracle=f"""
    WITH {_V},
    q AS (SELECT vec_id AS anchor_id, ve AS qve FROM v WHERE vec_id % 100 = 0),
    escored AS (
      SELECT q.anchor_id, v.vec_id AS negative_id,
             {cos_sql("v.ve", "q.qve")} AS cos_sim
      FROM v CROSS JOIN q WHERE v.vec_id <> q.anchor_id
    ),
    exact AS (
      SELECT anchor_id, negative_id FROM (
        SELECT anchor_id, negative_id,
               row_number() OVER (PARTITION BY anchor_id ORDER BY cos_sim DESC, negative_id ASC) AS rank
        FROM escored WHERE cos_sim < 0.35
      ) WHERE rank <= 5
    ),
    vb AS (
{" UNION ALL ".join(
    "SELECT vec_id, ve, %d AS tbl, CAST(%s AS BIGINT) AS bucket FROM v" % (t, _mt_bucket_sql(planes))
    for t, planes in enumerate(MT_PLANE_TABLES))}
    ),
    qb AS (SELECT vec_id AS anchor_id, tbl, bucket FROM vb WHERE vec_id % 100 = 0),
    cand AS (
      SELECT DISTINCT qb.anchor_id, vb.vec_id AS negative_id
      FROM vb JOIN qb ON vb.tbl = qb.tbl AND vb.bucket = qb.bucket
      WHERE vb.vec_id <> qb.anchor_id
    ),
    ascored AS (
      SELECT c.anchor_id, c.negative_id,
             {cos_sql("nv.ve", "qv.qve")} AS cos_sim
      FROM cand c
      JOIN v nv ON nv.vec_id = c.negative_id
      JOIN q qv ON qv.anchor_id = c.anchor_id
    ),
    approx AS (
      SELECT anchor_id, negative_id FROM (
        SELECT anchor_id, negative_id,
               row_number() OVER (PARTITION BY anchor_id ORDER BY cos_sim DESC, negative_id ASC) AS rank
        FROM ascored WHERE cos_sim < 0.35
      ) WHERE rank <= 5
    )
    SELECT e.anchor_id,
           count(*) AS n_exact,
           CAST(sum(CASE WHEN a.negative_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
           round(sum(CASE WHEN a.negative_id IS NOT NULL THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 6) AS overlap_at_5
    FROM exact e
    LEFT JOIN approx a ON e.anchor_id = a.anchor_id AND e.negative_id = a.negative_id
    GROUP BY e.anchor_id
    """,
)
def n17_ann_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    anchors = emb.where(F.col("vec_id") % 100 == 0)
    exact = n16_hard_negatives(spark, sf_dir).select("anchor_id", "negative_id")
    # the deployable path: LSH candidates, exact cosine on survivors only,
    # SAME gate + rank as the exact pipeline (filter-then-rank, so pruned
    # near-dups free slots exactly as in n16)
    cands = multi_table_candidates(emb, anchors, MT_PLANE_TABLES)
    scored = score_pairs(emb, anchors, cands)
    approx = rank_topk(scored.where(F.col("cos_sim") < 0.35)).select(
        F.col("query_id").alias("anchor_id"), F.col("neighbor_id").alias("negative_id")
    )
    return recall_audit(
        exact,
        approx,
        by=("anchor_id",),
        keys=("anchor_id", "negative_id"),
        name="overlap_at_5",
    )


# --- N18: product-quantization ADC recall + distortion audit ------------------------
# The compression tier beyond n10's int8 (8×): PQ stores m·log2(ksub)
# bits per 64-dim vector — the layout that lets a 100 TB embedding
# corpus serve ANN from memory. Estimator-audit discipline
# (v8/d16/n11/n15): the PQ-ADC top-5 is measured against n1-style
# exact cosine ground truth per query — recall@5 — and the score
# fidelity is measured directly as the mean |approx_cos − exact_cos|
# over each query's true top-5 (the distortion recall alone hides: a
# ranking can survive scores that drifted). Config = m=16 × ksub=16
# (8 bytes/vec, 32×), the measured knee of the byte-budget sweep on
# this space at sf0.01: 4 B (m8·k16) recall 0.28 → 8 B (m16·k16) 0.46
# → 12 B (m16·k64) 0.62 → 8 B (m8·k256) 0.66 — richer codebooks over
# coarser subspaces beat more subspaces at equal bytes, but ksub=256
# needs a corpus ≫ codebook (not true of the smallest fixture), so the
# shipped default is the scale-safe 8-byte config and the sweep is the
# recorded evidence for raising ksub at deployment. Rows-only (two
# KMeans layers inside; DuckDB cannot restate fitted codebooks);
# determinism + bounds pinned in tests/test_round10b.py. Scale shape:
# the index build is m small fits over one cached projection; serving
# touches only the codes and a broadcast Q·m·ksub lookup table —
# additions, no corpus-side float math.
@query("n18_pq_adc_audit")
def n18_pq_adc_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") < 10)
    exact = brute_force_topk(emb, probes).select(
        "query_id", "neighbor_id", "cos_sim"
    )
    books, encoded = pq_codebooks(emb, m=16, ksub=16, seed=123)
    scored = materialize(pq_adc_scores(books, encoded, probes))  # 2 consumers
    return recall_audit(
        exact.join(scored, ["query_id", "neighbor_id"], "left"),
        rank_topk(scored, score_col="approx_cos"),
        F.round(F.avg(F.abs(F.col("approx_cos") - F.col("cos_sim"))), 6).alias(
            "mean_cos_err"
        ),
    )


# --- N19: IVF-PQ — the production index layout, audited -----------------------------
# The tier the similarity family was building toward: n5's inverted-file
# pruning (scan nprobe/nlist of the corpus) composed with n18's
# product-quantized scoring (no corpus floats at probe time), with PQ
# fitted on RESIDUALS (vec − cell center) — the FAISS IVFPQ layout that
# serves billion-vector corpora from memory. The audit measures, per
# query, recall@5 vs exact brute force AND the candidate count the
# inverted file actually scanned (the cost face). Measured at sf0.01,
# same 8-byte budget as n18: the losses COMPOSE — n15's IVF ceiling at
# nprobe=8 (0.88) × flat-PQ score quality (0.46) predicts ≈0.40, and
# 0.38 is what IVF-PQ measures, scanning 57–77% of the corpus (cells
# are skewed on this space). The residual-variance win FAISS sees on
# clustered real embeddings does NOT materialize on this near-uniform
# synthetic space — which is precisely what an estimator audit is for:
# n19 is the query a deployment reruns on ITS embeddings before
# trusting the layout, with nlist√N-scaling and nprobe as the recall
# lever. Fully deterministic (seeded coarse + subspace fits); rows-only
# (two fitted KMeans layers); bounds and pruning invariants in
# tests/test_round10b.py.
@query("n19_ivfpq_audit")
def n19_ivfpq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") < 10)
    # the exact ground truth is independent of the IVF-PQ index build —
    # compute it while the build's fit/encode chain runs (guide §2.6);
    # both sides are deterministic, so overlap is result-free
    exact, (centers, books, cellmap, encoded) = run_concurrently(
        spark,
        lambda: materialize(
            brute_force_topk(emb, probes).select("query_id", "neighbor_id")
        ),
        lambda: ivfpq_index(emb),
    )
    cellmap = materialize(cellmap)  # 2 consumers: scoring + cost count
    encoded = materialize(encoded)
    approx = ivfpq_topk(centers, books, cellmap, encoded, probes)
    # the cost face: how many corpus vectors each query's probed cells hold

    probed = (
        query_cell_ranks(centers, probes)
        .where(F.col("p") <= 8)
        .select("query_id", "cell")
    )
    cell_sizes = cellmap.groupBy("cell").agg(F.count("*").alias("n_in_cell"))
    # the scorer never scores a query against itself (vec_id != query_id
    # inside ivfpq_topk), so the cost face must not count the query's own
    # row either: subtract 1 whenever the query's OWN cell is among its
    # probed cells (ADVICE r10: the old count was off by one per query)
    self_probed = probed.join(
        cellmap.select(F.col("vec_id").alias("query_id"), "cell"),
        ["query_id", "cell"],
    ).groupBy("query_id").agg(F.count("*").alias("n_self"))
    cost = (
        probed.join(F.broadcast(cell_sizes), "cell")
        .groupBy("query_id")
        .agg(F.sum("n_in_cell").alias("n_all"))
        .join(self_probed, "query_id", "left")
        .select(
            "query_id",
            (F.col("n_all") - F.coalesce(F.col("n_self"), F.lit(0)))
            .cast("long")
            .alias("n_candidates"),
        )
    )
    return recall_audit(exact, approx).join(cost, "query_id")


# --- N20: embedding-space health audit ----------------------------------------------
# The pre-flight every ANN tier (n1-n19) silently assumes: cosine
# serving is meaningless if the embedding space is degenerate. Per
# label: (a) mean per-vector L2 norm — proves the normalization
# contract an IP-as-cosine index depends on (1.0 here; a drifted
# encoder shows up as != 1 before any recall number moves); (b) the
# label-centroid norm — mean of unit vectors has norm in [0, 1], 1 =
# the label collapsed to a point, ~0 = no intra-label coherence at all
# (the signal cur11's medoid selection and c-family centroids feed on);
# (c) cosine of the label centroid to the GLOBAL centroid — the
# anisotropy/hubness proxy (Ethayarajh 2019): centroids crowding one
# cone means cosine contrast is compressed and every LSH/IVF audit
# above will under-perform its theory. Exact and fully relational: ONE
# posexplode to (label, dim) partial sums (|labels|×d rows — tiny at
# any corpus size), the global centroid rolled up FROM those sums (no
# second corpus scan), per-row norms map-side. 100 TB shape: two
# shuffles, both keyed on domains independent of corpus row count.
@query(
    "n20_embedding_health",
    oracle="""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    nrm AS (SELECT label, sqrt(list_sum([x*x for x in v])) AS nrm FROM e),
    pl AS (SELECT label, count(*) AS n_vecs, avg(nrm) AS m_nrm FROM nrm GROUP BY label),
    dims AS (
      SELECT label, i, v[i] AS x FROM e, unnest(range(1, len(v) + 1)) AS t(i)
    ),
    lab AS (SELECT label, i, sum(x) AS sx, count(*) AS cnt FROM dims GROUP BY label, i),
    gc AS (SELECT i, sum(sx) / sum(cnt) AS g FROM lab GROUP BY i),
    geo AS (
      SELECT l.label,
             sqrt(sum((l.sx / l.cnt) * (l.sx / l.cnt))) AS c_nrm,
             sum((l.sx / l.cnt) * g.g) AS cg,
             sqrt(sum(g.g * g.g)) AS g_nrm
      FROM lab l JOIN gc g USING (i) GROUP BY l.label
    )
    SELECT p.label,
           p.n_vecs,
           round(p.m_nrm, 6) AS mean_norm,
           round(geo.c_nrm, 6) AS centroid_norm,
           round(geo.cg / (geo.c_nrm * geo.g_nrm), 6) AS cos_to_global
    FROM pl p JOIN geo USING (label)
    """,
)
def n20_embedding_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "label", as_double(F.col("embedding")).alias("v")
    )
    # ONE corpus scan: the per-row norm rides the posexplode (each vector
    # contributes exactly one row per dim, so avg(nrm) within any (label,
    # dim) group IS the label's mean norm, and cnt IS its vector count);
    # the global centroid is a rollup OF the (label, dim) partial sums —
    # never a second pass over the vectors
    lab = materialize(
        emb.select("label", norm(F.col("v")).alias("nrm"), F.posexplode("v").alias("i", "x"))
        .groupBy("label", "i")
        .agg(
            F.sum("x").alias("sx"),
            F.count("*").alias("cnt"),
            F.avg("nrm").alias("mn"),
        )
    )  # consumers: label stats, label centroids, global rollup
    per_label = lab.groupBy("label").agg(
        F.max("cnt").cast("long").alias("n_vecs"),
        F.avg("mn").alias("m_nrm"),  # identical across dims; d=2^k so exact
    )
    glob = lab.groupBy("i").agg((F.sum("sx") / F.sum("cnt")).alias("g"))
    geo = (
        lab.select("label", "i", (F.col("sx") / F.col("cnt")).alias("c"))
        .join(glob, "i")
        .groupBy("label")
        .agg(
            F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("c_nrm"),
            F.sum(F.col("c") * F.col("g")).alias("cg"),
            F.sqrt(F.sum(F.col("g") * F.col("g"))).alias("g_nrm"),
        )
    )
    return per_label.join(geo, "label").select(
        "label",
        "n_vecs",
        F.round("m_nrm", 6).alias("mean_norm"),
        F.round("c_nrm", 6).alias("centroid_norm"),
        F.round(F.col("cg") / (F.col("c_nrm") * F.col("g_nrm")), 6).alias(
            "cos_to_global"
        ),
    )


# --- N21: multi-probe SRP — recall lift at one extra bucket, measured ----------------
# n11 measured the single-table, single-probe SRP config honestly (~0.3
# recall@5); n13's fix was MORE TABLES (T=16 → 0.8+), which multiplies
# index storage T×. Multi-probe is the cheaper production lever (FAISS/
# ANN-benchmarks practice): probe the query's home bucket AND the bucket
# reached by flipping the query's LEAST-CONFIDENT hash bit — the plane
# with the smallest |⟨q, plane⟩| margin, i.e. the bit most likely to be
# wrong — trading ~2× probe cost (still a vanishing corpus fraction) for
# recall, with ZERO extra index storage. Per query: candidate counts and
# recall@5 for single vs multi probe, side by side — the table that
# justifies (or kills) the config. Deterministic: the weakest plane is
# an argmin over bit-identical doubles with a fixed tie order, and the
# flipped bucket is integer XOR; everything else is n3/n11 algebra.
@query(
    "n21_srp_multiprobe_recall",
    oracle=f"""
    WITH {_V},
    q0 AS (
      SELECT vec_id AS query_id, ve AS qve, CAST({_BUCKET_SQL} AS BIGINT) AS qbucket,
             abs(list_inner_product(ve, {_plane_sql(SRP_PLANES[0])})) AS m0,
             abs(list_inner_product(ve, {_plane_sql(SRP_PLANES[1])})) AS m1,
             abs(list_inner_product(ve, {_plane_sql(SRP_PLANES[2])})) AS m2,
             abs(list_inner_product(ve, {_plane_sql(SRP_PLANES[3])})) AS m3
      FROM v WHERE vec_id < 10
    ),
    q AS (
      SELECT query_id, qve, qbucket,
             CASE WHEN m0 <= m1 AND m0 <= m2 AND m0 <= m3 THEN 0
                  WHEN m1 <= m2 AND m1 <= m3 THEN 1
                  WHEN m2 <= m3 THEN 2 ELSE 3 END AS wplane
      FROM q0
    ),
    probes AS (
      SELECT query_id, qve, qbucket AS bucket, 1 AS probe FROM q
      UNION ALL
      SELECT query_id, qve, CAST(xor(qbucket, 1 << wplane) AS BIGINT), 2 FROM q
    ),
    bv AS (SELECT vec_id, ve, CAST({_BUCKET_SQL} AS BIGINT) AS bucket FROM v),
    cand AS (
      SELECT p.query_id, bv.vec_id AS neighbor_id, p.probe,
             {cos_sql("bv.ve", "p.qve")} AS cos_sim
      FROM probes p JOIN bv ON bv.bucket = p.bucket
      WHERE bv.vec_id <> p.query_id
    ),
    {exact_topk_cte("q0")},
    multi AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, neighbor_id ASC) AS r
        FROM cand
      ) WHERE r <= 5
    ),
    single AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, neighbor_id ASC) AS r
        FROM cand WHERE probe = 1
      ) WHERE r <= 5
    ),
    counts AS (
      SELECT query_id,
             CAST(sum(CASE WHEN probe = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_cand_single,
             count(*) AS n_cand_multi
      FROM cand GROUP BY query_id
    ),
    hits AS (
      SELECT e.query_id, count(*) AS n_exact,
             CAST(sum(CASE WHEN s.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hit_single,
             CAST(sum(CASE WHEN m.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hit_multi
      FROM exact e
      LEFT JOIN single s ON s.query_id = e.query_id AND s.neighbor_id = e.neighbor_id
      LEFT JOIN multi m ON m.query_id = e.query_id AND m.neighbor_id = e.neighbor_id
      GROUP BY e.query_id
    )
    SELECT h.query_id, h.n_exact,
           CAST(coalesce(c.n_cand_single, 0) AS BIGINT) AS n_cand_single,
           CAST(coalesce(c.n_cand_multi, 0) AS BIGINT) AS n_cand_multi,
           h.n_hit_single, h.n_hit_multi,
           round(h.n_hit_single / CAST(h.n_exact AS DOUBLE), 6) AS recall_single,
           round(h.n_hit_multi / CAST(h.n_exact AS DOUBLE), 6) AS recall_multi
    FROM hits h LEFT JOIN counts c USING (query_id)
    """,
)
def n21_srp_multiprobe_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    b = materialize(
        srp_buckets(emb, SRP_PLANES)
        .join(with_norm(emb).select("vec_id", "nrm"), "vec_id")
    )  # corpus index: 2 consumers (probe join ×2 rows)
    qsrc = emb.where(F.col("vec_id") < 10)
    margins = [
        F.abs(dot(F.col("vec"), F.array(*[F.lit(float(x)) for x in p]))).alias(f"m{i}")
        for i, p in enumerate(SRP_PLANES)
    ]
    q0 = (
        srp_buckets(qsrc, SRP_PLANES)
        .join(with_norm(qsrc).select("vec_id", "nrm"), "vec_id")
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("vec").alias("qvec"),
            F.col("nrm").alias("qnrm"),
            F.col("bucket").alias("qbucket"),
            *margins,
        )
    )
    # least-confident plane: argmin |margin|, tie broken toward the
    # smallest index — the SAME comparison chain as the oracle's CASE
    wplane = (
        F.when(
            (F.col("m0") <= F.col("m1"))
            & (F.col("m0") <= F.col("m2"))
            & (F.col("m0") <= F.col("m3")),
            0,
        )
        .when((F.col("m1") <= F.col("m2")) & (F.col("m1") <= F.col("m3")), 1)
        .when(F.col("m2") <= F.col("m3"), 2)
        .otherwise(3)
    )
    q = q0.select("query_id", "qvec", "qnrm", "qbucket", wplane.alias("wplane"))
    probes = q.select(
        "query_id", "qvec", "qnrm", F.col("qbucket").alias("bucket"), F.lit(1).alias("probe")
    ).unionByName(
        q.select(
            "query_id",
            "qvec",
            "qnrm",
            F.expr("qbucket ^ shiftleft(1, wplane)").cast("long").alias("bucket"),
            F.lit(2).alias("probe"),
        )
    )
    cand = materialize(
        probes.join(b, "bucket")  # a corpus row lives in exactly ONE bucket
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "probe",
            F.round(
                dot(F.col("vec"), F.col("qvec")) / (F.col("nrm") * F.col("qnrm")), 6
            ).alias("cos_sim"),
        )
    )  # 3 consumers: counts + single top-5 + multi top-5
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    multi = (
        cand.withColumn("r", F.row_number().over(w)).where(F.col("r") <= 5)
        .select("query_id", F.col("neighbor_id").alias("m_neighbor"))
    )
    single = (
        cand.where(F.col("probe") == 1)
        .withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= 5)
        .select("query_id", F.col("neighbor_id").alias("s_neighbor"))
    )
    counts = cand.groupBy("query_id").agg(
        F.sum(F.when(F.col("probe") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_cand_single"),
        F.count("*").cast("long").alias("n_cand_multi"),
    )
    exact = brute_force_topk(emb, qsrc).select("query_id", "neighbor_id")
    hits = (
        exact.join(
            single,
            (single.query_id == exact.query_id)
            & (F.col("s_neighbor") == exact.neighbor_id),
            "left",
        )
        .drop(single.query_id)
        .join(
            multi,
            (multi.query_id == exact.query_id)
            & (F.col("m_neighbor") == exact.neighbor_id),
            "left",
        )
        .drop(multi.query_id)
        .groupBy(exact.query_id)
        .agg(
            F.count("*").alias("n_exact"),
            F.sum(F.when(F.col("s_neighbor").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_hit_single"),
            F.sum(F.when(F.col("m_neighbor").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_hit_multi"),
        )
    )
    return hits.join(counts, "query_id", "left").select(
        "query_id",
        "n_exact",
        F.coalesce("n_cand_single", F.lit(0)).cast("long").alias("n_cand_single"),
        F.coalesce("n_cand_multi", F.lit(0)).cast("long").alias("n_cand_multi"),
        "n_hit_single",
        "n_hit_multi",
        F.round(F.col("n_hit_single") / F.col("n_exact").cast("double"), 6).alias(
            "recall_single"
        ),
        F.round(F.col("n_hit_multi") / F.col("n_exact").cast("double"), 6).alias(
            "recall_multi"
        ),
    )


# --- N22: multi-probe budget sweep — the probe-count production lever, measured ------
# n21 measured ONE extra probe (home + weakest-bit flip); production
# multi-probe (Lv et al., VLDB'07; FAISS nprobe) picks a probe BUDGET.
# This is the d20/cur17/cur18 knob-sweep discipline applied to that
# budget: the SAME index, probe sequences of 1, 2 and 4 buckets — home,
# then flip the least-confident bit, then the second-least-confident,
# then both — one aggregate row per budget with candidate cost and
# recall@5 side by side. Probe sets are NESTED by construction, so
# recall is monotone in the budget (pinned in pytest). Deterministic:
# the probe order is an array_sort over (|margin|, plane-index) structs
# — bit-identical doubles on both engines (n21 precedent), index
# tie-break — and each corpus vector lives in exactly one bucket so no
# candidate dedup is needed. Reference anchor: the ANN serving path is
# the engine's own extension (BASELINE.json north star); measured knob
# audits are its contract.
@query(
    "n22_srp_probe_budget_sweep",
    oracle=f"""
    WITH {_V},
    q0 AS (
      SELECT vec_id AS query_id, ve AS qve, CAST({_BUCKET_SQL} AS BIGINT) AS qbucket,
             list_sort([
               [abs(list_inner_product(ve, {_plane_sql(SRP_PLANES[0])})), 0.0],
               [abs(list_inner_product(ve, {_plane_sql(SRP_PLANES[1])})), 1.0],
               [abs(list_inner_product(ve, {_plane_sql(SRP_PLANES[2])})), 2.0],
               [abs(list_inner_product(ve, {_plane_sql(SRP_PLANES[3])})), 3.0]
             ]) AS ms
      FROM v WHERE vec_id < 10
    ),
    q AS (
      SELECT query_id, qve, qbucket,
             CAST(ms[1][2] AS BIGINT) AS w1, CAST(ms[2][2] AS BIGINT) AS w2
      FROM q0
    ),
    probes AS (
      SELECT query_id, qve, qbucket AS bucket, 1 AS probe_rank FROM q
      UNION ALL
      SELECT query_id, qve, CAST(xor(qbucket, 1 << w1) AS BIGINT), 2 FROM q
      UNION ALL
      SELECT query_id, qve, CAST(xor(qbucket, 1 << w2) AS BIGINT), 3 FROM q
      UNION ALL
      SELECT query_id, qve,
             CAST(xor(qbucket, (1 << w1) | (1 << w2)) AS BIGINT), 4 FROM q
    ),
    bv AS (SELECT vec_id, ve, CAST({_BUCKET_SQL} AS BIGINT) AS bucket FROM v),
    cand AS (
      SELECT p.query_id, bv.vec_id AS neighbor_id, p.probe_rank,
             {cos_sql("bv.ve", "p.qve")} AS cos_sim
      FROM probes p JOIN bv ON bv.bucket = p.bucket
      WHERE bv.vec_id <> p.query_id
    ),
    bud AS (SELECT unnest([1, 2, 4]) AS probe_budget),
    expl AS (
      SELECT c.*, b.probe_budget
      FROM cand c JOIN bud b ON b.probe_budget >= c.probe_rank
    ),
    top5 AS (
      SELECT probe_budget, query_id, neighbor_id FROM (
        SELECT probe_budget, query_id, neighbor_id,
               row_number() OVER (PARTITION BY probe_budget, query_id
                                  ORDER BY cos_sim DESC, neighbor_id ASC) AS r
        FROM expl
      ) WHERE r <= 5
    ),
    {exact_topk_cte("q0")},
    exb AS (SELECT e.query_id, e.neighbor_id, b.probe_budget FROM exact e CROSS JOIN bud b),
    hits AS (
      SELECT x.probe_budget,
             count(DISTINCT x.query_id) AS n_queries,
             count(*) AS n_exact_total,
             CAST(sum(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hit_total
      FROM exb x LEFT JOIN top5 t
        ON t.probe_budget = x.probe_budget AND t.query_id = x.query_id
       AND t.neighbor_id = x.neighbor_id
      GROUP BY x.probe_budget
    ),
    cc AS (
      SELECT probe_budget, CAST(count(*) AS BIGINT) AS n_cand_total
      FROM expl GROUP BY probe_budget
    )
    SELECT CAST(h.probe_budget AS BIGINT) AS probe_budget,
           h.n_queries,
           CAST(coalesce(cc.n_cand_total, 0) AS BIGINT) AS n_cand_total,
           round(coalesce(cc.n_cand_total, 0) / h.n_queries, 6) AS mean_cand,
           h.n_exact_total, h.n_hit_total,
           round(h.n_hit_total / CAST(h.n_exact_total AS DOUBLE), 6) AS recall_at5
    FROM hits h LEFT JOIN cc ON cc.probe_budget = h.probe_budget
    """,
)
def n22_srp_probe_budget_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    b = materialize(
        srp_buckets(emb, SRP_PLANES)
        .join(with_norm(emb).select("vec_id", "nrm"), "vec_id")
    )  # corpus index: probed once per probe_rank row
    qsrc = emb.where(F.col("vec_id") < 10)
    margins = [
        F.abs(dot(F.col("vec"), F.array(*[F.lit(float(x)) for x in p]))).alias(f"m{i}")
        for i, p in enumerate(SRP_PLANES)
    ]
    # probe order: ascending (|margin|, plane-index) — array_sort on
    # structs is lexicographic by field order, the exact comparison the
    # oracle's list_sort([[margin, index], ...]) performs
    ms = F.array_sort(
        F.array(
            *[
                F.struct(F.col(f"m{i}").alias("m"), F.lit(i).alias("i"))
                for i in range(4)
            ]
        )
    )
    q = (
        srp_buckets(qsrc, SRP_PLANES)
        .join(with_norm(qsrc).select("vec_id", "nrm"), "vec_id")
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("vec").alias("qvec"),
            F.col("nrm").alias("qnrm"),
            F.col("bucket").alias("qbucket"),
            *margins,
        )
        .select(
            "query_id",
            "qvec",
            "qnrm",
            "qbucket",
            ms[0]["i"].alias("w1"),
            ms[1]["i"].alias("w2"),
        )
    )

    def probe(bucket_expr, rank: int) -> DataFrame:
        return q.select(
            "query_id",
            "qvec",
            "qnrm",
            bucket_expr.cast("long").alias("bucket"),
            F.lit(rank).alias("probe_rank"),
        )

    flip1 = F.expr("qbucket ^ shiftleft(1, w1)")
    flip2 = F.expr("qbucket ^ shiftleft(1, w2)")
    flip12 = F.expr("qbucket ^ (shiftleft(1, w1) | shiftleft(1, w2))")
    probes = (
        probe(F.col("qbucket"), 1)
        .unionByName(probe(flip1, 2))
        .unionByName(probe(flip2, 3))
        .unionByName(probe(flip12, 4))
    )
    cand = materialize(
        probes.join(b, "bucket")  # a corpus row lives in exactly ONE bucket
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "probe_rank",
            F.round(
                dot(F.col("vec"), F.col("qvec")) / (F.col("nrm") * F.col("qnrm")), 6
            ).alias("cos_sim"),
        )
    )  # consumers: per-budget top-5 + candidate counts
    budgets = F.array(F.lit(1), F.lit(2), F.lit(4))
    # nested budgets: a rank-r candidate belongs to every budget >= r
    expl = cand.select(
        "query_id",
        "neighbor_id",
        "cos_sim",
        F.explode(F.filter(budgets, lambda x: x >= F.col("probe_rank"))).alias(
            "probe_budget"
        ),
    )
    w = Window.partitionBy("probe_budget", "query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    top5 = (
        expl.withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= 5)
        .select("probe_budget", "query_id", F.col("neighbor_id").alias("t_neighbor"))
    )
    exact = brute_force_topk(emb, qsrc).select("query_id", "neighbor_id")
    bud = spark.range(1).select(F.explode(budgets).alias("probe_budget"))
    exb = exact.crossJoin(F.broadcast(bud))  # 3-row budget frame
    hits = (
        exb.join(
            top5,
            (top5.probe_budget == exb.probe_budget)
            & (top5.query_id == exb.query_id)
            & (F.col("t_neighbor") == exb.neighbor_id),
            "left",
        )
        .drop(top5.probe_budget)
        .drop(top5.query_id)
        .groupBy("probe_budget")
        .agg(
            F.countDistinct(exb.query_id).cast("long").alias("n_queries"),
            F.count("*").cast("long").alias("n_exact_total"),
            F.sum(F.when(F.col("t_neighbor").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_hit_total"),
        )
    )
    cc = expl.groupBy("probe_budget").agg(
        F.count("*").cast("long").alias("n_cand_total")
    )
    # LEFT join + coalesce: a budget with zero candidates still emits its row
    nct = F.coalesce(F.col("n_cand_total"), F.lit(0)).cast("long")
    return hits.join(cc, "probe_budget", "left").select(
        F.col("probe_budget").cast("long").alias("probe_budget"),
        "n_queries",
        nct.alias("n_cand_total"),
        F.round(nct / F.col("n_queries"), 6).alias("mean_cand"),
        "n_exact_total",
        "n_hit_total",
        F.round(F.col("n_hit_total") / F.col("n_exact_total").cast("double"), 6).alias(
            "recall_at5"
        ),
    )


# --- N23: deterministic IVF top-k — the ANN family's ORACLE-BACKED row -------
# n5/n15/n18/n19 train their coarse quantizer with Spark ML k-means, so the
# driver can only rows-only-check them. n23 builds the SAME IVF shape on
# m10's deterministic Lloyd centroids, making the whole probe pipeline —
# cell ranking, candidate scoping, exact in-cell top-k — reproducible in
# DuckDB SQL: every distance is the left-to-right (x−c)² fold on
# bit-identical inputs (quantized ints / exact int_sum/n centers), so cell
# choices and neighbor ranks match exactly (ties break on id). Query set:
# vec_id % 97 == 0 (deterministic, ~1% of vectors). nprobe=2, top-3.
# Scale shape: the probe-cells frame (Q×nprobe rows) BROADCASTS into the
# assignment table — the k-valued cluster_id join key never rides a
# shuffle, so cell skew can't funnel; candidate distance work is the IVF
# contract Q·nprobe·(N/k), the quantity the nprobe/budget sweeps (n21/n22)
# measure.
_N23_K = 8
_N23_ITERS = 3
_N23_Q = 1000
_N23_NPROBE = 2
_N23_TOPK = 3


def _n23_oracle() -> str:
    ctes = lloyd_ctes(_LLOYD_DIMS, _N23_K, _N23_ITERS, _N23_Q)
    cell_d = lloyd_dist("qv.qd", "c.c")
    cand_d = lloyd_dist("qd", "nd")
    return f"""WITH {ctes},
qv AS (SELECT vec_id AS query_id, d AS qd FROM qd WHERE vec_id % 97 = 0),
cellrank AS (
  SELECT query_id, qd, cluster_id FROM (
    SELECT qv.query_id, qv.qd, c.cluster_id,
           row_number() OVER (PARTITION BY qv.query_id
                              ORDER BY {cell_d}, c.cluster_id) AS rn
    FROM qv CROSS JOIN c{_N23_ITERS - 1} c
  ) WHERE rn <= {_N23_NPROBE}
),
cand AS (
  SELECT cr.query_id, cr.qd, a.vec_id AS neighbor_id, v.d AS nd
  FROM cellrank cr
  JOIN a{_N23_ITERS} a USING (cluster_id)
  JOIN qd v ON v.vec_id = a.vec_id
  WHERE a.vec_id <> cr.query_id
)
SELECT query_id, rank, neighbor_id, dist FROM (
  SELECT query_id, neighbor_id, {cand_d} AS dist,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY {cand_d}, neighbor_id) AS rank
  FROM cand
) WHERE rank <= {_N23_TOPK}"""


@query("n23_deterministic_ivf_topk", oracle=_n23_oracle())
def n23_deterministic_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    assign, centers, q = lloyd_quantized(emb, k=_N23_K, iters=_N23_ITERS, quant=_N23_Q)

    queries = q.where(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("d").alias("qd")
    )
    # the trainer's own struct machinery — the recipe's IEEE fold stays
    # single-sourced in operators/cluster.py
    cell_structs = center_dist_structs("qd", centers)
    probe = (
        queries.select(
            "query_id",
            "qd",
            F.explode(F.slice(F.array_sort(cell_structs), 1, _N23_NPROBE)).alias("c"),
        )
        .select("query_id", "qd", F.col("c.cluster_id").alias("probe_cid"))
    )
    cand_dist = F.aggregate(
        F.zip_with("d", "qd", lambda x, c: (x - c) * (x - c)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    cands = (
        assign.select("vec_id", "d", "cluster_id")
        .join(F.broadcast(probe), F.col("cluster_id") == F.col("probe_cid"))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cand_dist.alias("dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("dist", "neighbor_id")
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _N23_TOPK)
        .select("query_id", F.col("rank").cast("long").alias("rank"), "neighbor_id", "dist")
    )
