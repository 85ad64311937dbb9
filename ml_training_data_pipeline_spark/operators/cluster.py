"""K-means clustering operators (SURVEY.md §2.8 M1/M2, §2.5 A1/A2/A4).

The reference's kmeans-object-with-mutable-fields
(``02_build_models.R:775-787``) becomes two authoritative DataFrames:

    assignments(doc_id, cluster_id)           — one row per doc
    centroids(cluster_id, term, weight) long  — SQL-checkable coordinates
    cluster_summary(cluster_id, size, withinss)

All derived, never mutated in place; refine steps produce new tables.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.ml.clustering import KMeans, KMeansModel
from pyspark.ml.functions import vector_to_array
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .materialize import materialize


@dataclass
class ClusterResult:
    model: KMeansModel
    assignments: DataFrame  # (doc_id, cluster_id)
    features: DataFrame     # (doc_id, features) — input vectors, for recompute


def fit_kmeans(
    features: DataFrame,
    k: int = 15,
    seed: int = 123,
) -> ClusterResult:
    """M1 — apply_clustering(features, k=15) with seed 123
    (02_build_models.R:183-190)."""
    # Persist the feature frame across the iterative fit AND the serving
    # transform (guide §5: reuse + expensive recompute). Without this,
    # MLlib caches its internal instances RDD for the Lloyd iterations
    # but model.transform() re-executes the whole upstream plan (scan →
    # vectorize — at 100 TB a second full corpus pass; measured r16 at
    # sf0.1: m2 re-paid the scan+exchange twice). MLlib skips its own
    # duplicate caching when the input's storageLevel is already set.
    from pyspark import StorageLevel

    features = features.persist(StorageLevel.MEMORY_AND_DISK)
    km = KMeans(k=k, seed=seed, featuresCol="features", predictionCol="cluster_id")
    model = km.fit(features)
    assigned = model.transform(features).select("doc_id", "cluster_id")
    return ClusterResult(model=model, assignments=assigned, features=features.select("doc_id", "features"))


def predict(model: KMeansModel, features: DataFrame) -> DataFrame:
    """M2 — nearest-centroid serving classification
    (stats::predict(kmeans_model), README.md:517-520)."""
    return model.transform(features)


def cluster_sizes(assignments: DataFrame) -> DataFrame:
    """A1 — table(new_clusters) (02_build_models.R:432-433)."""
    return assignments.groupBy("cluster_id").agg(F.count("*").alias("size"))


def centroids_long(features: DataFrame, assignments: DataFrame) -> DataFrame:
    """A2 — colMeans per cluster (02_build_models.R:402-421) in long
    format (cluster_id, idx, weight). posexplode of the dense form +
    partial-aggregated mean; single-doc clusters fall out naturally (mean
    of one row), unlike the reference's special case."""
    arr = features.select("doc_id", vector_to_array(F.col("features")).alias("arr"))
    exploded = arr.join(assignments, "doc_id").select(
        "cluster_id", F.posexplode("arr").alias("idx", "val")
    )
    return exploded.groupBy("cluster_id", "idx").agg(F.avg("val").alias("weight"))


def withinss(features: DataFrame, assignments: DataFrame, centroids: DataFrame) -> DataFrame:
    """A4 — within-cluster sum of squares (02_build_models.R:437-444):
    sum over docs of squared distance to their centroid, per cluster.
    Long-format element-wise join keeps it shuffle-bounded at any scale."""
    arr = (
        features.select("doc_id", vector_to_array(F.col("features")).alias("arr"))
        .join(assignments, "doc_id")
        .select("doc_id", "cluster_id", F.posexplode("arr").alias("idx", "val"))
    )
    joined = arr.join(centroids, ["cluster_id", "idx"])
    return (
        joined.groupBy("cluster_id")
        .agg(F.sum((F.col("val") - F.col("weight")) ** 2).alias("withinss"))
    )


def cluster_summary(features: DataFrame, assignments: DataFrame) -> DataFrame:
    """The kmeans-object summary fields as a table:
    (cluster_id, size, withinss)."""
    cents = centroids_long(features, assignments)
    return cluster_sizes(assignments).join(
        withinss(features, assignments, cents), "cluster_id", "left"
    )


def dist_to_center(vec_col: str, center: "list[float]"):
    """Squared-L2 to one center as the LEFT-TO-RIGHT IEEE fold — the
    M10/N23 determinism recipe's load-bearing expression, single-sourced
    here for the trainer and every IVF-style consumer (its DuckDB twin
    is oracle_fragments.lloyd_dist)."""
    return F.aggregate(
        F.zip_with(
            vec_col,
            F.array(*[F.lit(v) for v in center]),
            lambda x, c: (x - c) * (x - c),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def center_dist_structs(vec_col: str, centers: "dict[int, list[float]]"):
    """array<struct<dist, cluster_id>> over all centers — array_min of it
    is the recipe's argmin (ties to the lower cluster_id, matching the
    oracle's ORDER BY dist, cluster_id); array_sort + slice gives an
    IVF probe's nprobe nearest cells."""
    return F.array(
        *[
            F.struct(
                dist_to_center(vec_col, centers[j]).alias("dist"),
                F.lit(j).cast("int").alias("cluster_id"),
            )
            for j in sorted(centers)
        ]
    )


def scatter_row_num(q_col: str, s_col: str, n_col: str):
    """Exact-integer within-cluster scatter numerator for ONE member row
    (m11): sum_dims (q_i*n - s_i)^2 with q_i the member's quantized
    coordinates, s_i the cluster's exact coordinate sums, n the cluster
    size. The DIFFERENCE fits long to astronomical n (overflow needs
    n >~ 10^16 at |q|~10^3), but its SQUARE is quadratic in n — at
    |q|~600 / 64 dims the fold exceeds Long.MAX once a cluster holds
    ~3e5 members and ANSI Spark throws where DuckDB's HUGEINT stays
    exact (r15 ADVICE). So: diff in long, square and accumulate in
    decimal(38,0) — exact integer digits either way, overflow pushed to
    ~10^38."""
    return F.aggregate(
        F.zip_with(
            q_col,
            s_col,
            lambda x, s: (x * F.col(n_col) - s).cast("decimal(19,0)")
            * (x * F.col(n_col) - s).cast("decimal(19,0)"),
        ),
        F.lit(0).cast("decimal(38,0)"),
        lambda acc, v: acc + v,
    )


def quantize_vectors(
    vectors: DataFrame,
    quant: int = 1000,
) -> DataFrame:
    """The (vec_id, q, d) quantized-corpus frame the Lloyd determinism
    recipe runs on, materialized ONCE — the third return slot of
    ``lloyd_quantized`` and the ``prequantized`` input a k-sweep (m11)
    shares across every k (and across concurrently-submitted fits)."""
    q = vectors.select(
        "vec_id",
        F.transform(
            F.col("embedding"), lambda x: F.floor(x.cast("double") * quant)
        ).alias("q"),
    ).withColumn("d", F.transform("q", lambda x: x.cast("double")))
    return materialize(q)  # consumed by every iteration's assign + sums pass


def lloyd_quantized(
    vectors: DataFrame,
    k: int,
    iters: int,
    quant: int = 1000,
    prequantized: "DataFrame | None" = None,
) -> "tuple[DataFrame, dict[int, list[float]], DataFrame]":
    """Lloyd's k-means under a cross-engine determinism recipe (M10/N23).

    Returns ``(assignments, final_centers, quantized_frame)`` — the
    assignment frame carries (vec_id, q, d, cluster_id); centers are the
    k x dims doubles iteration ``iters`` was computed against.

    Unlike ``fit_kmeans`` (Spark ML: parallel init, partition-order-
    sensitive float reductions — only rows-only checkable), this variant
    is EXACTLY reproducible, including in DuckDB SQL:

    - inputs quantized to integers (``floor(x * quant)``) so cluster sums
      are exact integer arithmetic, order-independent;
    - centers are ``int_sum / n`` in IEEE double — both engines divide the
      same exactly-representable integers, giving bit-identical centers
      (sums must stay below 2^53: |x|*quant*n_rows bounds it, fine for
      unit-scale embeddings up to ~10^9 rows per cluster at quant=1000);
    - distances fold ``(x-c)^2`` left-to-right over dims via
      ``zip_with`` + ``aggregate`` — the same IEEE op sequence on the
      same bits on any engine;
    - argmin ties break on cluster_id; an emptied cluster keeps its
      previous center.

    Init: the ``k`` lowest ``vec_id`` rows. Scale shape: one scan per
    iteration, centers ship as k x d literals (broadcast-equivalent),
    per-cluster sums are map-side-combinable longs; driver transfer is
    k rows per iteration (job control).

    ``prequantized``: a (vec_id, q, d) frame from a prior call's third
    return slot — a k-sweep (m11) quantizes/materializes the corpus ONCE
    and shares it across every k, matching the oracle's one shared qd/qe
    input shape (r15 ADVICE); when given, ``vectors`` is ignored.
    """
    if prequantized is not None:
        q = prequantized
    else:
        q = quantize_vectors(vectors, quant)

    if iters < 1:
        raise ValueError(f"lloyd_deterministic: iters={iters}, need >= 1")
    init = q.orderBy("vec_id").limit(k).select("d").collect()
    if len(init) < k:
        raise ValueError(f"lloyd_deterministic: k={k} but only {len(init)} rows")
    centers: dict[int, list[float]] = {j: list(r["d"]) for j, r in enumerate(init)}
    dims = len(centers[0])

    assign = None
    for t in range(1, iters + 1):
        structs = center_dist_structs("d", centers)
        assign = q.select(
            "vec_id", "q", "d", F.array_min(structs)["cluster_id"].alias("cluster_id")
        )
        if t < iters:
            rows = (
                assign.groupBy("cluster_id")
                .agg(
                    F.count("*").alias("n"),
                    *[
                        F.sum(F.element_at("q", i + 1)).alias(f"s{i}")
                        for i in range(dims)
                    ],
                )
                .collect()  # k rows x d sums — job control, not data movement
            )
            centers = {
                **centers,
                **{
                    r["cluster_id"]: [r[f"s{i}"] / r["n"] for i in range(dims)]
                    for r in rows
                },
            }
    return assign, centers, q


def lloyd_deterministic(
    vectors: DataFrame,
    k: int,
    iters: int,
    quant: int = 1000,
) -> DataFrame:
    """The M10 assignment table — see ``lloyd_quantized`` for the full
    (assignments, final centers, quantized frame) return that IVF-style
    consumers (n23) build on."""
    assign, _, _ = lloyd_quantized(vectors, k, iters, quant)
    return assign.select("vec_id", "cluster_id")
