"""Array-column centroid algebra (SURVEY.md §2.5 A2/A4, §2.7 J4, §2.8 M7):
group-mean vectors, within-group sum of squares, pairwise centroid cosine,
and threshold-merge with transitive closure.

The reference mutates a kmeans object's ``centers``/``withinss`` fields in
place (``02_build_models.R:402-450``); here every statistic is a DataFrame
derived from (id, array) + (id, group) inputs. Long format (group, idx,
val) keeps each aggregation a single partial-aggregated shuffle at any
dimensionality, and makes every op SQL-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def explode_vectors(df: DataFrame) -> DataFrame:
    """(group, id, idx, val) — double-cast long format of an array column."""
    return df.select(
        F.col("label").alias("grp"),
        F.col("vec_id").alias("vid"),
        F.posexplode(F.col("embedding")).alias("idx", "_v"),
    ).select("grp", "vid", "idx", F.col("_v").cast("double").alias("val"))


def group_centroids(exploded: DataFrame) -> DataFrame:
    """A2 — colMeans per group (02_build_models.R:402-421):
    (grp, idx, centroid). Single-doc groups fall out of avg naturally
    (the reference special-cases them, 04_cluster_refiner.R:249-285)."""
    return exploded.groupBy("grp", "idx").agg(F.avg("val").alias("centroid"))


def group_withinss(exploded: DataFrame, centroids: DataFrame) -> DataFrame:
    """A4 — within-group sum of squares (02_build_models.R:437-444):
    (grp, withinss)."""
    return (
        exploded.join(centroids, ["grp", "idx"])
        .groupBy("grp")
        .agg(F.round(F.sum((F.col("val") - F.col("centroid")) * (F.col("val") - F.col("centroid"))), 6).alias("withinss"))
    )


def centroid_cosine_pairs(centroids: DataFrame) -> DataFrame:
    """J4 — all-pairs centroid cosine (the reference's nested R loop,
    02_build_models_with_auto_lables._optimised_clusters.R:861-879) as a
    long-format self-join on idx: (grp_a, grp_b, cos_sim). k groups ⇒
    k² pairs of d-element dot products via one shuffle on idx."""
    a = centroids.select(F.col("grp").alias("ga"), "idx", F.col("centroid").alias("ca"))
    b = centroids.select(F.col("grp").alias("gb"), "idx", F.col("centroid").alias("cb"))
    dots = (
        a.join(b, "idx")
        .where(F.col("ga") < F.col("gb"))
        .groupBy("ga", "gb")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("dot"))
    )
    norms = centroids.groupBy("grp").agg(F.sqrt(F.sum(F.col("centroid") * F.col("centroid"))).alias("nrm"))
    return (
        dots.join(norms.select(F.col("grp").alias("ga"), F.col("nrm").alias("na")), "ga")
        .join(norms.select(F.col("grp").alias("gb"), F.col("nrm").alias("nb")), "gb")
        .select(
            F.col("ga").alias("grp_a"),
            F.col("gb").alias("grp_b"),
            F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6).alias("cos_sim"),
        )
    )


def merge_components(
    pairs: DataFrame, threshold: float, groups: DataFrame | None = None
) -> DataFrame:
    """M7's merge map with proper transitive closure: groups whose cosine
    exceeds ``threshold`` merge; every group maps to the minimum id of its
    connected component (the reference's one-pass fold at
    02_build_models_with_auto_lables._optimised_clusters.R:868-877
    approximates this; we do it exactly).

    ``groups`` is the authoritative group universe (one ``grp`` column) —
    pass the centroids/assignments frame's group list. A group sharing no
    nonzero index with any other produces no cosine pair at all, so
    deriving nodes from ``pairs`` alone would silently drop it from the
    mapping; with ``groups`` it correctly maps to itself. Falls back to
    pair-derived nodes when omitted (legacy behavior, only safe on dense
    data).

    k is small (cluster count), so closure runs driver-side over the
    collected edge list — documented exception to the no-collect rule.
    Returns (grp, new_grp).
    """
    edges = [
        (r["grp_a"], r["grp_b"])
        for r in pairs.where(F.col("cos_sim") > threshold).select("grp_a", "grp_b").collect()
    ]
    if groups is not None:
        nodes = {r["grp"] for r in groups.select("grp").distinct().collect()}
    else:
        nodes = {r["grp"] for df in (pairs.select(F.col("grp_a").alias("grp")), pairs.select(F.col("grp_b").alias("grp"))) for r in df.distinct().collect()}
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            lo, hi = (ru, rv) if str(ru) <= str(rv) else (rv, ru)
            parent[hi] = lo
    # path-compress to component minimum
    comp: dict = {}
    for n in nodes:
        r = find(n)
        comp.setdefault(r, []).append(n)
    mapping = []
    for r, members in comp.items():
        m = min(members)
        for n in members:
            mapping.append((n, m))
    spark = pairs.sparkSession
    return spark.createDataFrame(mapping, schema="grp int, new_grp int") if all(
        isinstance(m[0], int) for m in mapping
    ) else spark.createDataFrame(mapping, schema="grp string, new_grp string")
