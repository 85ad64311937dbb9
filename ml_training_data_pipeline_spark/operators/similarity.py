"""Similarity search over embedding columns (BASELINE.json scale
extensions): brute-force cosine top-k as the exact baseline, an
LSH-bucketed variant as the sub-quadratic scale path, and embedding
near-duplicate detection.

Pair scoring (dot/norm/cosine/sqdist) is built-in column algebra —
``zip_with``/``aggregate`` folds on double-cast arrays (JVM-side, no
Python). Element order of the fold is index order, which DuckDB's
``list_inner_product`` matches, so cosine values are cross-engine exact
(then rounded to 6). SRP bucket hashing is the one Arrow-vectorized
kernel (``srp_bucket_array``): its projection is corpus × T·P plane
dots — Catalyst higher-order functions never codegen (each lambda binds
fresh LambdaVariables and runs interpreted), and that projection was
the measured CPU wall of the ANN family (n13's 16-table corpus hashing:
6.7 s warm at sf0.1 as a column fold vs 0.45 s batched — guide §4.2).
An A/B that moved the PAIR scorers to Arrow kernels too was reverted:
candidate-bounded frames across many small stages pay more in Python
round-trips than the interpreted fold costs (n15 5.9→11.3 s,
n19 8.9→10.8 s, n1 0.70→1.08 s), so the boundary crossing is reserved
for the corpus-scale hashing projection where it wins 15×.

Scale path: brute-force top-k is O(Q·N) — right when Q is small (a probe
batch) or N fits a broadcast. The signed-random-projection LSH variant
buckets vectors by sign pattern; queries only join their own bucket.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from .materialize import materialize

# neighbors every top-k serving path returns per query
TOP_K = 5
# IVF coarse-quantizer seed, and the cells a query probes by default
IVF_SEED = 123
NPROBE = 8
# IVF-PQ residual codebooks: 16 subspaces
IVFPQ_M = 16
# Lloyd iterations per PQ subspace fit
_LLOYD_ITERS = 20


def as_double(arr: Column) -> Column:
    """The array column with every element cast to double."""
    return F.transform(arr, lambda x: x.cast("double"))


def _mat(s: pd.Series) -> "np.ndarray":
    """(n, d) float64 matrix from an Arrow list column batch. float32 →
    float64 widening is exact, so values equal the JVM's cast("double")."""
    if len(s) == 0:
        return np.empty((0, 0), dtype=np.float64)
    return np.stack(s.to_numpy()).astype(np.float64, copy=False)


def sqdist(a: Column, b: Column) -> Column:
    """Σ (aᵢ−bᵢ)², double math, index-order fold (cross-engine exact).

    Kept as the JVM higher-order fold, NOT an Arrow kernel: the pair/
    probe frames it scores are candidate-bounded (IVF probes, PQ encode
    groups, sweep branches), and an A/B at sf0.1 measured the Arrow twin
    SLOWER on every consumer (n15 5.9→11.3 s, n19 8.9→10.8 s) — the
    per-stage Python round-trips outweigh the interpreted-fold cost at
    those volumes. The corpus-scale projection that DID win (SRP bucket
    hashing) lives in srp_bucket_array below."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ, double math, index-order fold (cross-engine exact).
    JVM fold on purpose — see sqdist's note (measured: the Arrow twin
    regressed every candidate-bounded scorer; n1 0.70→1.08 s)."""
    return F.aggregate(
        F.zip_with(as_double(a), as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def srp_bucket_array(vec: Column, plane_tables: list[list[list[float]]]) -> Column:
    """array<long> of SRP bucket ids, one per hash table: bit i of table
    t is sign(⟨v, plane_tables[t][i]⟩ > 0). All T×P plane dots run in one
    Arrow batch kernel (planes baked into the closure as a (d, T·P)
    matrix — never shipped per row); the per-dimension accumulation is
    sequential, so every sign — and hence every bucket — is bit-identical
    to the per-plane column fold and to the oracle's list_inner_product."""
    flat = [p for planes in plane_tables for p in planes]
    P = np.array(flat, dtype=np.float64).T  # (dims, total_planes)
    sizes = [len(planes) for planes in plane_tables]

    @F.pandas_udf(ArrayType(LongType()))
    def bucket_arr(vecs: pd.Series) -> pd.Series:
        # empty-batch early return: _mat's (0, 0) fallback would break the
        # (n, d) × (d, T·P) broadcast below when total_planes > 1 (r16
        # ADVICE). Non-empty batches require non-null fixed-width vectors —
        # np.stack raises on a null, which is the contract (every caller
        # hashes a corpus embedding column that is non-null by schema).
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        V = _mat(vecs)
        n = V.shape[0]
        S = np.zeros((n, P.shape[1]), dtype=np.float64)
        for i in range(P.shape[0]):  # sequential over dims: IEEE fold order
            S += V[:, i : i + 1] * P[i : i + 1, :]
        bits = S > 0
        out = np.zeros((n, len(sizes)), dtype=np.int64)
        off = 0
        for t, sz in enumerate(sizes):
            for i in range(sz):
                out[:, t] += bits[:, off + i].astype(np.int64) << i
            off += sz
        return pd.Series(list(out))

    return bucket_arr(vec)


def with_norm(vectors: DataFrame) -> DataFrame:
    """Precompute norms once — every pairwise op reuses them instead of
    recomputing O(pairs) norms."""
    return vectors.select(
        "vec_id",
        F.col("embedding").alias("vec"),
        norm(F.col("embedding")).alias("nrm"),
    )


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
) -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query set against the
    corpus, window-rank per query. Returns
    (query_id, neighbor_id, cos_sim, rank); self-matches excluded."""
    v = with_norm(vectors)
    q = with_norm(queries).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec"), F.col("nrm").alias("qnrm")
    )
    scored = (
        v.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                dot(F.col("vec"), F.col("qvec")) / (F.col("nrm") * F.col("qnrm")),
                6,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).where(F.col("rank") <= TOP_K)


def srp_buckets(
    vectors: DataFrame,
    planes: list[list[float]],
) -> DataFrame:
    """Signed-random-projection bucket id per vector: bit i = sign of
    ⟨v, plane_i⟩. ``planes`` are fixed (seeded) hyperplanes baked into
    the batch kernel — deterministic, broadcast-free."""
    out = vectors.select("vec_id", F.col("embedding").alias("vec"))
    return out.withColumn(
        "bucket", F.element_at(srp_bucket_array(F.col("vec"), [planes]), 1)
    )


def lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    planes: list[list[float]],
) -> DataFrame:
    """ANN top-k: candidates restricted to the query's SRP bucket, then
    exact cosine rank within the bucket (recall < 1 by design; the
    oracle states the identical bucketed semantics, so it stays checkable)."""
    v = srp_buckets(vectors, planes)
    vn = with_norm(vectors)
    v = v.join(vn.select("vec_id", "nrm"), "vec_id")
    q = srp_buckets(queries, planes).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec"), "bucket"
    )
    qn = with_norm(queries).select(F.col("vec_id").alias("query_id"), F.col("nrm").alias("qnrm"))
    q = q.join(qn, "query_id")
    scored = (
        v.join(F.broadcast(q), "bucket")
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                dot(F.col("vec"), F.col("qvec")) / (F.col("nrm") * F.col("qnrm")),
                6,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).where(F.col("rank") <= TOP_K)


def ivf_assignments(
    vectors: DataFrame,
    nlist: int = 16,
) -> tuple[list[list[float]], DataFrame]:
    """IVF index build (the classic inverted-file ANN layout): a coarse
    KMeans quantizer partitions the corpus into ``nlist`` cells. Index
    construction is a distributed fit + transform; the cell id becomes
    the join/shuffle key for probing. Returns (cell centers, assigned
    frame (vec_id, vec, cell))."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = vectors.select(
        "vec_id", as_double(F.col("embedding")).alias("vec")
    ).withColumn("features", array_to_vector(F.col("vec")))
    model = KMeans(k=nlist, seed=IVF_SEED, featuresCol="features", predictionCol="cell").fit(feats)
    assigned = model.transform(feats).select(
        "vec_id", "vec", F.col("cell").cast("int").alias("cell")
    )
    return [list(map(float, c)) for c in model.clusterCenters()], assigned


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    nlist: int = 16,
    nprobe: int = NPROBE,
) -> DataFrame:
    """IVF ANN top-k (SURVEY's scale path beside SRP-LSH): each query
    probes its ``nprobe`` nearest cells and ranks exact cosine only
    within them — candidate volume is nprobe/nlist of the corpus, and
    the probe is an equi-join on cell (sub-quadratic, shuffle-bounded).
    ``nprobe == nlist`` degenerates to exact brute force (the recall
    knob is explicit). The default ``NPROBE`` is the measured knee of
    n15's sweep on the synthetic space (recall@5 = 0.88 probing half
    the cells; 16 reaches 1.00) — the serving default embodies the
    audit's answer. Returns (query_id, neighbor_id, cos_sim, rank)."""
    centers, assigned = ivf_assignments(vectors, nlist)
    return ivf_probe_topk(centers, assigned, vectors, queries, nprobe=nprobe)


def ivf_probe_topk(
    centers: list[list[float]],
    assigned: DataFrame,
    vectors: DataFrame,
    queries: DataFrame,
    nprobe: int = NPROBE,
) -> DataFrame:
    """The probe stage of IVF ANN, taking a PRE-BUILT index (centers +
    cell assignments) — so a sweep over nprobe (n15) pays the KMeans
    build once, which is also the production serving shape: the index is
    an artifact, probes are queries."""
    probes = (
        query_cell_ranks(centers, queries)
        .where(F.col("p") <= nprobe)
        .drop("p")
    )
    return rank_topk(_ivf_score_probes(assigned, vectors, probes))


def query_cell_ranks(
    centers: list[list[float]],
    queries: DataFrame,
) -> DataFrame:
    """(query_id, qvec, qnrm, cell, p) — every IVF cell ranked by
    distance per query (p=1 is the nearest cell). Q × nlist rows, tiny.
    A config's probe set is ``p <= nprobe``, so an nprobe sweep can rank
    once and filter per config."""
    spark = queries.sparkSession
    centers_df = spark.createDataFrame(
        list(enumerate(centers)), schema="cell int, center array<double>"
    )
    q = with_norm(queries).select(
        F.col("vec_id").alias("query_id"), as_double(F.col("vec")).alias("qvec"),
        F.col("nrm").alias("qnrm"),
    )
    qd = q.crossJoin(F.broadcast(centers_df)).select(
        "query_id", "qvec", "qnrm", "cell",
        sqdist(F.col("qvec"), F.col("center")).alias("dist2"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.asc("dist2"), F.asc("cell"))
    return qd.withColumn("p", F.row_number().over(wq)).select(
        "query_id", "qvec", "qnrm", "cell", "p"
    )


def _ivf_score_probes(
    assigned: DataFrame,
    vectors: DataFrame,
    probes: DataFrame,
) -> DataFrame:
    """Exact cosine of every corpus vector in a probed cell — keeps any
    extra probe columns (e.g. the sweep's probe rank ``p``)."""
    vn = assigned.join(with_norm(vectors).select("vec_id", "nrm"), "vec_id")
    extra = [c for c in probes.columns if c not in ("query_id", "qvec", "qnrm", "cell")]
    return (
        vn.join(F.broadcast(probes), "cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(dot(F.col("vec"), F.col("qvec")) / (F.col("nrm") * F.col("qnrm")), 6).alias("cos_sim"),
            *extra,
        )
    )


def ivf_probe_scored_all(
    centers: list[list[float]],
    assigned: DataFrame,
    vectors: DataFrame,
    queries: DataFrame,
) -> DataFrame:
    """(query_id, neighbor_id, cos_sim, p) over ALL cells — the sweep
    form (n15): cosine is scored once for the full-probe superset and a
    config nprobe's scored candidate set is exactly ``p <= nprobe``
    (scores don't depend on nprobe). The full-probe branch of the sweep
    computes this anyway; tagging by probe rank lets every other branch
    reuse it."""
    probes = query_cell_ranks(centers, queries)
    return _ivf_score_probes(assigned, vectors, probes)


def embedding_near_dups(
    vectors: DataFrame,
    threshold: float = 0.95,
) -> DataFrame:
    """(vec_a, vec_b, cos_sim ≥ threshold) within blocking groups.
    Blocking (here the label column; in production an SRP bucket or
    cluster id) keeps the self-join sub-quadratic."""
    v = vectors.select(
        "vec_id", F.col("embedding").alias("vec"), F.col("label").alias("block")
    )
    n = with_norm(vectors).select("vec_id", "nrm")
    v = v.join(n, "vec_id")
    a = v.select(F.col("vec_id").alias("vec_a"), F.col("vec").alias("va"), F.col("nrm").alias("na"), "block")
    b = v.select(F.col("vec_id").alias("vec_b"), F.col("vec").alias("vb"), F.col("nrm").alias("nb"), "block")
    return (
        a.join(b, "block")
        .where(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            F.round(
                dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")),
                6,
            ).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
    )


def label_prototypes(
    vectors: DataFrame,
) -> DataFrame:
    """(label, proto) — the mean embedding per label. Element means
    aggregate via posexplode → groupBy(label, pos) — n·dim rows through
    ONE map-side-combinable shuffle — then re-assemble in-row
    (array_sort over (pos, m) structs), so no per-group collect of raw
    vectors ever happens; partial aggregation bounds the shuffle at any
    corpus size."""
    cell = vectors.select(
        "label", F.posexplode("embedding").alias("pos", "v")
    )
    proto_long = cell.groupBy("label", "pos").agg(
        F.avg(F.col("v").cast("double")).alias("m")
    )
    return proto_long.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
        ).alias("proto")
    )


def prototype_classify(
    vectors: DataFrame,
    prototypes: DataFrame,
) -> DataFrame:
    """(vec_id, label, predicted_label, cos) — nearest-prototype (max
    cosine) assignment. The prototype table is one row per class, so the
    scoring join is a broadcast; the argmax is a per-vec window over
    #classes rows. This is the serving half of M2's KMeans-predict,
    restated for labeled embeddings."""
    from pyspark.sql import Window

    pl = prototypes.select(
        F.col("label").alias("predicted_label"), F.col("proto")
    )
    scored = vectors.crossJoin(F.broadcast(pl)).withColumn(
        "cos", cosine(F.col("embedding"), F.col("proto"))
    )
    rk = Window.partitionBy("vec_id").orderBy(
        F.desc("cos"), F.asc("predicted_label")
    )
    return (
        scored.withColumn("rk", F.row_number().over(rk))
        .where(F.col("rk") == 1)
        .select("vec_id", "label", "predicted_label", "cos")
    )


def multi_table_candidates_long(
    vectors: DataFrame,
    queries: DataFrame,
    plane_tables: list[list[list[float]]],
) -> DataFrame:
    """(query_id, neighbor_id, tbl) ANN candidate pairs PER TABLE from T
    independent SRP hash tables — the sweep-friendly long form: because
    a pair joins in table t iff it co-buckets in t, a prefix-T config's
    candidate set is exactly ``.where(tbl < T).distinct()``, so a
    table-count sweep (n13) hashes the corpus ONCE for all tables
    instead of once per config. Layout: buckets go LONG-format
    (vec_id, tbl, bucket) via one posexplode over the batch kernel's
    per-table bucket array; the candidate join key is (tbl, bucket) —
    still an equi-join, T× the postings, nothing quadratic."""

    def buckets_long(df: DataFrame, out_id: str) -> DataFrame:
        base = df.select(F.col("vec_id").alias(out_id), F.col("embedding").alias("vec"))
        return base.select(
            out_id,
            "vec",
            F.posexplode(srp_bucket_array(F.col("vec"), plane_tables)).alias(
                "tbl", "bucket"
            ),
        )

    vb = buckets_long(vectors, "neighbor_id").select("neighbor_id", "tbl", "bucket")
    qb = buckets_long(queries, "query_id").select("query_id", "tbl", "bucket")
    return (
        vb.join(F.broadcast(qb), ["tbl", "bucket"])
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "tbl")
    )


def multi_table_candidates(
    vectors: DataFrame,
    queries: DataFrame,
    plane_tables: list[list[list[float]]],
) -> DataFrame:
    """Distinct (query_id, neighbor_id) ANN candidate pairs from T
    independent SRP hash tables — the probe-cost surface of multi-table
    LSH, exposed so audits (n13's table sweep) can report candidate
    volume alongside recall. Pairs are deduped per (query, neighbor), so
    a downstream scorer touches each survivor exactly once however many
    tables agreed on it."""
    return (
        multi_table_candidates_long(vectors, queries, plane_tables)
        .select("query_id", "neighbor_id")
        .distinct()
    )


def score_pairs(
    vectors: DataFrame,
    queries: DataFrame,
    pairs: DataFrame,
) -> DataFrame:
    """Exact cosine for a pre-built (query_id, neighbor_id) pair set —
    the shared scoring stage of every candidate-generation strategy.
    One corpus join, queries broadcast. Returns
    (query_id, neighbor_id, cos_sim)."""
    vn = with_norm(vectors).select(
        F.col("vec_id").alias("neighbor_id"), F.col("vec").alias("nvec"), F.col("nrm")
    )
    qn = with_norm(queries).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec"), F.col("nrm").alias("qnrm")
    )
    return (
        pairs.join(vn, "neighbor_id")
        .join(F.broadcast(qn), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("nvec"), F.col("qvec")) / (F.col("nrm") * F.col("qnrm")),
                6,
            ).alias("cos_sim"),
        )
    )


def rank_topk(scored: DataFrame, score_col: str = "cos_sim") -> DataFrame:
    """Per-query rank filter over (query_id, neighbor_id, <score_col>) —
    the ONE ranking idiom (desc score, asc neighbor_id tie-break) shared
    by every exact and approximate serving path, so a tie-break or
    k-semantics change can never drift between copies."""
    w = Window.partitionBy("query_id").orderBy(
        F.desc(score_col), F.asc("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).where(
        F.col("rank") <= TOP_K
    )


def multi_table_lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    plane_tables: list[list[list[float]]],
) -> DataFrame:
    """Multi-table SRP-LSH ANN — the production fix for the single-table
    recall collapse n11 measures: T independent hash tables, candidate
    set = UNION of the query's bucket in each table
    (``multi_table_candidates``), scored once. Probe cost grows
    ~linearly in T while recall compounds (each table is an independent
    chance to co-bucket a true neighbor)."""
    cands = multi_table_candidates(vectors, queries, plane_tables)
    return rank_topk(score_pairs(vectors, queries, cands))


def _make_codebook_fitter(ksub: int, seed: int):
    """The per-subspace Lloyd's fit behind ``pq_codebooks``, exposed as a
    factory so determinism is unit-testable: rows are sorted by vec_id
    before any sampling or mean (so partitioning/arrival order cannot
    change the result), inits draw from RandomState(seed + subspace),
    argmin ties break to the lowest code, and empty clusters re-seed
    from the same RandomState in fixed loop order."""
    import numpy as np
    import pandas as pd

    def fit(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("vec_id")
        X = np.stack(pdf["s"].to_numpy())
        j = int(pdf["j"].iloc[0])
        rng = np.random.RandomState(seed + j)
        n = len(X)
        k = min(ksub, n)
        centers = X[rng.choice(n, size=k, replace=False)].copy()
        for _ in range(_LLOYD_ITERS):
            dists = ((X[:, None, :] - centers[None, :, :]) ** 2).sum(axis=-1)
            assign = dists.argmin(axis=1)
            for c in range(k):
                mask = assign == c
                centers[c] = X[mask].mean(axis=0) if mask.any() else X[rng.randint(n)]
        return pd.DataFrame(
            {
                "j": j,
                "code": range(k),
                "cvec": [[float(x) for x in c] for c in centers],
            }
        )

    return fit


def pq_codebooks(
    vectors: DataFrame,
    m: int = 8,
    ksub: int = 16,
    seed: int = 123,
    vec_col: str = "embedding",
    train_n: int = 65536,
) -> tuple[list[list[list[float]]], DataFrame]:
    """Product-quantization index build: split each d-dim vector into
    ``m`` contiguous subvectors and fit an independent ``ksub``-centroid
    codebook per subspace. A vector's code is its m nearest-centroid
    ids: m·log2(ksub) bits (16×4 = 8 bytes at the n18 config) standing
    in for d floats — the compression that lets a 100 TB embedding
    corpus serve ANN from memory, one tier beyond n10's int8 (8×)
    scalar quantization. Execution is SURVEY §4's many-small-fits
    strategy: ONE slice-explode shuffle groups the corpus by subspace,
    then all m Lloyd's fits run concurrently inside a single
    applyInPandas pass (deterministic per-subspace seeds; 16 sequential
    MLlib fits measured ~8× slower on the same data). The fit trains on
    a BOUNDED deterministic sample of ``train_n`` vectors — the
    smallest-``xxhash64(vec_id)`` prefix, so partitioning and arrival
    order cannot change the selection — because applyInPandas
    materializes a whole group in one task: ksub=16 needs thousands of
    training points, not the corpus, and an unbounded fit group would
    hold 1/m of all corpus floats in a single executor's pandas frame
    at 100 TB (the standard FAISS practice: train on a sample, encode
    everything). Encoding is relational over ALL rows: nearest code per
    (vector, subspace) via a broadcast codebook join +
    min(struct(dist, code)) — no per-model transform round trips.
    Returns (codebooks[j][code] -> centroid,
    encoded (vec_id, j, code) long frame)."""
    base = vectors.select(
        "vec_id", as_double(F.col(vec_col)).alias("vec")
    )
    d = base.select(F.size("vec")).first()[0]  # bounded scalar: one row
    assert d % m == 0, f"dim {d} not divisible by m={m}"
    sub = d // m
    # one long frame, two consumers (fit + encode). NOT checkpointed:
    # the posexplode is a narrow map over the scan (no shuffle), so
    # letting each consumer recompute it costs one extra scan — whereas
    # materializing it would write corpus×d doubles (the full slice
    # expansion) to executor disk, exactly the thing that cannot exist
    # at 100 TB. Only the train_n-BOUNDED fit input is pinned below.
    slices = base.select(
        "vec_id",
        F.posexplode(
            F.array(*[F.slice("vec", j * sub + 1, sub) for j in range(m)])
        ).alias("j", "s"),
    )
    # bounded training sample: smallest-hash prefix of ids (TakeOrdered on
    # a narrow projection — deterministic, partitioning-invariant, and a
    # no-op whenever the corpus fits inside train_n, as every fixture does)
    train_ids = (
        base.select("vec_id")
        .orderBy(F.xxhash64("vec_id"), "vec_id")
        .limit(train_n)
    )
    # ≤ train_n·m rows regardless of corpus size — safe to materialize,
    # and pinning it keeps the fit input stable across the fit/collect
    fit_slices = materialize(slices.join(
        F.broadcast(train_ids), "vec_id", "left_semi"
    ))
    book_df = materialize(
        fit_slices.groupBy("j")
        .applyInPandas(
            _make_codebook_fitter(ksub, seed), "j int, code int, cvec array<double>"
        )
    )  # consumers: the collect below + the encode join
    rows = book_df.collect()  # bounded: m × ksub codebook rows
    by_j: dict[int, dict[int, list[float]]] = {}
    for r in rows:
        by_j.setdefault(r.j, {})[r.code] = list(r.cvec)
    books = [[by_j[j][c] for c in sorted(by_j[j])] for j in sorted(by_j)]
    sq = sqdist(F.col("s"), F.col("cvec"))
    encoded = (
        slices.join(F.broadcast(book_df), "j")
        .select("vec_id", "j", "code", sq.alias("dist"))
        .groupBy("vec_id", "j")
        .agg(F.min(F.struct("dist", "code")).alias("best"))
        .select("vec_id", "j", F.col("best.code").alias("code"))
    )
    return books, encoded


def pq_adc_scores(
    books: list[list[list[float]]],
    encoded: DataFrame,
    queries: DataFrame,
) -> DataFrame:
    """Asymmetric-distance (ADC) scoring off a PRE-BUILT PQ index: the
    query stays full-precision, the corpus is codes. The classic ADC
    lookup table is built RELATIONALLY — per (query, subspace, code) the
    partial inner product ⟨q_j, c_{j,code}⟩ (Q·m·ksub rows, tiny,
    broadcast) — then scoring is pure ADDITION: each corpus code row
    joins its LUT entry and a groupBy(query, vec) sums m partials. No
    full-precision corpus vector is ever touched at probe time (the
    entire point of PQ); the corpus-side norm is likewise reconstructed
    from per-(j,code) centroid norms so the ranking metric is
    approximate COSINE, matching the exact baseline it is audited
    against. Returns (query_id, neighbor_id, approx_cos)."""
    lut = _pq_query_lut(books, queries)
    return (
        encoded.join(F.broadcast(lut), ["j", "code"])
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(
            F.round(
                F.sum("pdot") / (F.sqrt(F.sum("cnorm2")) * F.first("qnrm")), 6
            ).alias("approx_cos")
        )
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "approx_cos")
    )


def _pq_query_lut(
    books: list[list[list[float]]],
    queries: DataFrame,
) -> DataFrame:
    """The ADC lookup table: per (query, subspace, code), the partial
    inner product ⟨q_j, c_{j,code}⟩ plus the codeword's squared norm —
    Q·m·ksub rows, the only place query floats meet codebook floats.
    Shared by flat-PQ scoring (pq_adc_scores) and IVF-PQ probing
    (ivfpq_topk, whose queries are residual-shifted per probed cell are
    NOT needed for inner product: ⟨q, c_cell + r⟩ splits into
    ⟨q, c_cell⟩ + ⟨q, r⟩, so the residual LUT uses the raw query)."""
    spark = queries.sparkSession
    m = len(books)
    ksub = len(books[0])
    sub = len(books[0][0])
    book_rows = [
        (j, c, books[j][c], float(sum(x * x for x in books[j][c])))
        for j in range(m)
        for c in range(ksub)
    ]
    book_df = spark.createDataFrame(
        book_rows, "j int, code int, cvec array<double>, cnorm2 double"
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"), as_double(F.col("embedding")).alias("qvec")
    ).select(
        "query_id",
        norm(F.col("qvec")).alias("qnrm"),
        F.posexplode(
            F.array(*[F.slice("qvec", j * sub + 1, sub) for j in range(m)])
        ).alias("j", "qslice"),
    )
    return q.join(F.broadcast(book_df), "j").select(
        "query_id",
        "qnrm",
        "j",
        "code",
        "cnorm2",
        dot(F.col("qslice"), F.col("cvec")).alias("pdot"),
    )


def ivfpq_index(
    vectors: DataFrame,
) -> tuple[list[list[float]], list[list[list[float]]], DataFrame, DataFrame]:
    """The FAISS-style IVF-PQ index build: a coarse KMeans quantizer
    assigns each vector to one of 16 cells, then PQ codebooks are
    fitted on the RESIDUALS (vec − cell center) — residuals concentrate
    around zero with far less variance than raw vectors, so the same
    byte budget quantizes them with less distortion (the reason IVF-PQ
    beats flat PQ at equal bytes, which n19 measures rather than
    asserts). One codebook set is shared across cells (the standard
    layout — per-cell codebooks would be nlist× the training and LUT
    cost). Returns (cell centers, residual codebooks,
    cellmap (vec_id, cell), encoded (vec_id, j, code))."""
    centers, assigned = ivf_assignments(vectors)
    spark = vectors.sparkSession
    centers_df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(centers)], "cell int, center array<double>"
    )
    residuals = assigned.join(F.broadcast(centers_df), "cell").select(
        "vec_id",
        "cell",
        F.zip_with("vec", "center", lambda x, y: x - y).alias("rvec"),
    )
    books, encoded = pq_codebooks(
        residuals, m=IVFPQ_M, seed=IVF_SEED + 1000, vec_col="rvec"
    )
    return centers, books, assigned.select("vec_id", "cell"), encoded


def ivfpq_topk(
    centers: list[list[float]],
    books: list[list[list[float]]],
    cellmap: DataFrame,
    encoded: DataFrame,
    queries: DataFrame,
) -> DataFrame:
    """IVF-PQ ADC top-k off a PRE-BUILT index: each query probes its
    ``NPROBE`` nearest cells and scores ONLY their members, from codes —
    the inverted-file pruning of n5 composed with the no-float-corpus
    scoring of n18, i.e. the production 100 TB serving shape. The inner
    product splits exactly: ⟨q, c_cell + r_v⟩ = ⟨q, c_cell⟩ (Q×nprobe
    tiny join) + ⟨q, r_v⟩ (the residual LUT); the corpus-side norm is
    reconstructed as ‖c_cell‖² + Σ_j(2⟨c_cell,j, r̂_j⟩ + ‖r̂_j‖²) where
    the cell×codebook cross terms are precomputed driver-side
    (nlist·m·ksub rows, broadcast) — so ranking is approximate cosine,
    comparable to every other tier's audit. Returns
    (query_id, neighbor_id, approx_cos, rank)."""
    spark = queries.sparkSession
    m = len(books)
    ksub = len(books[0])
    sub = len(books[0][0])
    # per-cell squared norms and cell×(j,code) cross terms — tiny, exact,
    # deterministic (pure python double math over fitted constants)
    cell_rows = [(i, float(sum(x * x for x in c))) for i, c in enumerate(centers)]
    cell_df = spark.createDataFrame(cell_rows, "cell int, cellnorm2 double")
    cross_rows = [
        (
            i,
            j,
            c,
            float(
                sum(
                    centers[i][j * sub + t] * books[j][c][t] for t in range(sub)
                )
            ),
        )
        for i in range(len(centers))
        for j in range(m)
        for c in range(ksub)
    ]
    cross_df = spark.createDataFrame(cross_rows, "cell int, j int, code int, cdot double")
    probes = (
        query_cell_ranks(centers, queries)
        .where(F.col("p") <= NPROBE)
        .select("query_id", "qvec", "cell")
    )
    # ⟨q, c_cell⟩ per (query, probed cell): Q×nprobe rows
    centers_df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(centers)], "cell int, center array<double>"
    )
    qc = probes.join(F.broadcast(centers_df), "cell").select(
        "query_id", "cell", dot(F.col("qvec"), F.col("center")).alias("qcdot")
    )
    lut = _pq_query_lut(books, queries)
    cand = (
        cellmap.join(F.broadcast(qc), "cell")  # inverted-file pruning
        .join(encoded, "vec_id")
        .join(F.broadcast(lut), ["query_id", "j", "code"])
        .join(F.broadcast(cross_df), ["cell", "j", "code"])
        .join(F.broadcast(cell_df), "cell")
        .where(F.col("vec_id") != F.col("query_id"))
    )
    scored = (
        cand.groupBy("query_id", "vec_id")
        .agg(
            F.round(
                (F.first("qcdot") + F.sum("pdot"))
                / (
                    F.sqrt(
                        F.first("cellnorm2")
                        + F.sum(F.lit(2.0) * F.col("cdot") + F.col("cnorm2"))
                    )
                    * F.first("qnrm")
                ),
                6,
            ).alias("approx_cos")
        )
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "approx_cos")
    )
    return rank_topk(scored, score_col="approx_cos")


def recall_audit(
    exact: DataFrame,
    approx: DataFrame,
    *extra: Column,
    by: tuple[str, ...] = ("query_id",),
    keys: tuple[str, str] = ("query_id", "neighbor_id"),
    name: str = "recall_at_5",
) -> DataFrame:
    """Recall of an approximate top-k against the exact one. ``exact``
    and ``approx`` both carry the ``keys`` (query, item) columns; every
    exact row is looked up in ``approx``, and per ``by`` group (``()`` for
    one row) the result holds n_exact, n_hit, ``name`` = n_hit / n_exact
    rounded to 6, then the ``extra`` aggregates over the looked-up exact
    rows. The join is per (query, item) on two k·|queries|-sized sets."""
    q, item = keys
    hits = approx.select(F.col(q).alias(f"a_{q}"), F.col(item).alias(f"a_{item}"))
    found = F.when(F.col(f"a_{item}").isNotNull(), 1).otherwise(0)
    return (
        exact.join(
            hits,
            (F.col(q) == F.col(f"a_{q}")) & (F.col(item) == F.col(f"a_{item}")),
            "left",
        )
        .groupBy(*by)
        .agg(
            F.count("*").alias("n_exact"),
            F.sum(found).cast("long").alias("n_hit"),
            F.round(F.sum(found) / F.count("*").cast("double"), 6).alias(name),
            *extra,
        )
    )
