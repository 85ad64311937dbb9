"""Deduplication queries (BASELINE.json scale extensions) — exact,
MinHash+LSH, SimHash, n-gram Jaccard. Every stage of each pipeline is
oracle-checkable because the hash is the engine-portable
``('0x'||substr(md5(x),1,15))::BIGINT`` ≡ ``conv(substr(md5(x),1,15),16,10)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.analysis import (
    fingerprint,
    fingerprint_pair,
    quality_score_from_ratios,
    token_count,
    with_fingerprint_pair,
    with_quality_ratios,
    with_quality_score,
)
from ..functions.text import ngrams, tokenize
from ..io.sources import load_table
from ..operators.dedup import (
    cascade_ledger,
    connected_components,
    cross_source_exposure,
    doc_shingles,
    duplicated_windows,
    exact_dup_groups,
    exact_then_near,
    jaccard_pairs,
    lsh_admission_rejects,
    lsh_bands_from_wide,
    lsh_candidate_pairs,
    md5_long,
    minhash_dedup,
    minhash_signatures,
    minhash_wide,
    representative_near_pairs,
    shingle_df_audit,
    simhash,
    simhash_banded_near_dups,
    simhash_near_dups,
    span_removed_positions,
    span_scrub_removals,
    span_window_stream,
)
from ..operators.materialize import materialize
from ..operators.waterfill import capped_mixture, waterfill
from .oracle_fragments import (
    FPS_CTE,
    H60,
    JACCARD_CTES,
    NEAR_PAIRS_CTE,
    REP_TOKS,
    SPAN_WIDTH,
    WATERFILL_CTES,
    bands_ctes,
    candidates_ctes,
    capped_mixture_ctes,
    cascade_ctes,
    cascade_ledger_sql,
    closure_ctes,
    exposure_ctes,
    materialized_ctes,
    minhash_ctes,
    quality_cte,
    shingles_ctes,
    span_scrub_ctes,
    stopword_list_sql,
    toks_cte,
    waterfill_select,
)
from .registry import ORACLE_SQL, query

# --- D1: exact duplicate groups ----------------------------------------------
@query(
    "d1_exact_dup_groups",
    oracle=f"""
    WITH {toks_cte()},
    fps AS (SELECT doc_id, md5(coalesce(array_to_string(toks, ' '), '')) AS fp FROM toks)
    SELECT fp, count(*) AS n_docs, min(doc_id) AS keep_doc_id
    FROM fps GROUP BY fp
    """,
)
def d1_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dup_groups(load_table(spark, sf_dir, "documents"))


# --- D2: MinHash signatures -----------------------------------------------------
@query(
    "d2_minhash_signatures",
    oracle=f"""
    WITH {toks_cte()}, {minhash_ctes()}
    SELECT doc_id, seed, min_hash FROM mh
    """,
)
def d2_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return minhash_signatures(doc_shingles(docs), num_hashes=8)


# --- D3: LSH candidate pairs ----------------------------------------------------
@query(
    "d3_lsh_candidate_pairs",
    oracle=f"""
    WITH {toks_cte()}, {candidates_ctes()}
    SELECT doc_a, doc_b FROM cands
    """,
)
def d3_lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # fused path: band signatures project straight off the wide minhash
    # row (no re-aggregation); output identical to lsh_bands∘minhash_signatures
    return lsh_candidate_pairs(lsh_bands_from_wide(minhash_wide(doc_shingles(docs), 8), 2))


# --- D4: full MinHash-LSH dedup (verified Jaccard) -------------------------------
@query(
    "d4_minhash_dedup",
    oracle=f"""
    WITH {toks_cte()}, {candidates_ctes()},
    {JACCARD_CTES}
    SELECT j.doc_a, j.doc_b, j.jaccard
    FROM jac j JOIN cands c ON j.doc_a = c.doc_a AND j.doc_b = c.doc_b
    WHERE j.jaccard >= 0.5
    """,
)
def d4_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return minhash_dedup(docs, threshold=0.5).select(
        "doc_a", "doc_b", "jaccard"
    )


# --- D5: SimHash signatures ------------------------------------------------------
@query(
    "d5_simhash",
    oracle=f"""
    WITH {toks_cte()},
    tok AS (SELECT doc_id, unnest(toks) AS term FROM toks WHERE len(toks) > 0),
    counts AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
    th AS (SELECT term, {H60.format(x="term")} AS h
           FROM (SELECT DISTINCT term FROM counts)),
    bitsum AS (
      SELECT c.doc_id, b.b,
             sum(CASE WHEN (t.h >> b.b) & 1 = 1 THEN c.tf ELSE -c.tf END) AS s
      FROM counts c JOIN th t USING (term)
      CROSS JOIN (SELECT unnest(range(0, 16)) AS b) b
      GROUP BY c.doc_id, b.b
    )
    SELECT doc_id,
           CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
    FROM bitsum GROUP BY doc_id
    """,
)
def d5_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash(load_table(spark, sf_dir, "documents"), bits=16)


# --- D6: SimHash near-dup pairs ---------------------------------------------------
@query(
    "d6_simhash_near_dups",
    oracle=f"""
    WITH {toks_cte()},
    tok AS (SELECT doc_id, unnest(toks) AS term FROM toks WHERE len(toks) > 0),
    counts AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
    th AS (SELECT term, {H60.format(x="term")} AS h
           FROM (SELECT DISTINCT term FROM counts)),
    bitsum AS (
      SELECT c.doc_id, b.b,
             sum(CASE WHEN (t.h >> b.b) & 1 = 1 THEN c.tf ELSE -c.tf END) AS s
      FROM counts c JOIN th t USING (term)
      CROSS JOIN (SELECT unnest(range(0, 16)) AS b) b
      GROUP BY c.doc_id, b.b
    ),
    sig AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
      FROM bitsum GROUP BY doc_id
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM sig a JOIN sig b
      ON (a.simhash >> 8) = (b.simhash >> 8) AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def d6_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    sim = simhash(load_table(spark, sf_dir, "documents"), bits=16)
    return simhash_near_dups(sim)


# --- D9: multi-band SimHash near-dups (the 100-TB path) ----------------------------
# 60-bit signature, 4 bands of 15 bits. bands > max_hamming makes the
# banded candidate set COMPLETE, so the oracle is the straight all-pairs
# hamming filter — the driver's hash-match proves the recall guarantee,
# not just self-consistency with the same bucketing.
@query(
    "d9_simhash_banded_near_dups",
    oracle=f"""
    WITH {toks_cte()},
    tok AS (SELECT doc_id, unnest(toks) AS term FROM toks WHERE len(toks) > 0),
    counts AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
    th AS (SELECT term, {H60.format(x="term")} AS h
           FROM (SELECT DISTINCT term FROM counts)),
    bitsum AS (
      SELECT c.doc_id, b.b,
             sum(CASE WHEN (t.h >> b.b) & 1 = 1 THEN c.tf ELSE -c.tf END) AS s
      FROM counts c JOIN th t USING (term)
      CROSS JOIN (SELECT unnest(range(0, 60)) AS b) b
      GROUP BY c.doc_id, b.b
    ),
    sig AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
      FROM bitsum GROUP BY doc_id
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def d9_simhash_banded_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    sim = simhash(load_table(spark, sf_dir, "documents"), bits=60)
    return simhash_banded_near_dups(sim)


# --- D10: near-dup connected components (dedup groups, not pairs) ------------------
# The closure step a real dedup job needs: pairwise near-dups → transitive
# GROUPS with a canonical survivor (min doc_id). Spark side is iterative
# smallest-label propagation (operators/dedup.connected_components); the
# oracle states the same fixpoint as a recursive CTE, so the driver
# hash-match checks the closure itself, not the iteration schedule.
@query(
    "d10_neardup_components",
    oracle=f"""
    WITH RECURSIVE {toks_cte()}, {candidates_ctes()},
    {JACCARD_CTES},
    {NEAR_PAIRS_CTE},
    {closure_ctes()}
    SELECT node AS doc_id, min(label) AS component_id
    FROM reach GROUP BY node
    """,
)
def d10_neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return connected_components(minhash_dedup(docs, threshold=0.5))


# --- D7: n-gram Jaccard all-pairs (threshold) --------------------------------------
@query(
    "d7_jaccard_pairs",
    oracle=f"""
    WITH {toks_cte()}, {shingles_ctes()},
    {JACCARD_CTES}
    SELECT doc_a, doc_b, jaccard FROM jac WHERE jaccard >= 0.2
    """,
)
def d7_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return jaccard_pairs(doc_shingles(docs), threshold=0.2)


# --- D8: Jaccard with a posting-list (shingle-df) cap -------------------------------
# The 100-TB skew guard in action: boilerplate shingles shared by > 20 docs
# are dropped BEFORE the inverted-index self-join, bounding every posting
# list. Per-doc sizes are recomputed on the capped shingle set on both
# sides, so the (approximate-by-design) jaccard values agree exactly.
@query(
    "d8_jaccard_capped",
    oracle=f"""
    WITH {toks_cte()}, {shingles_ctes()},
    capped AS (
      SELECT doc_id, shingle FROM (
        SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS df
        FROM sh
      ) WHERE df <= 20
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM capped GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    jac AS (
      SELECT i.doc_a, i.doc_b,
             round(CAST(i.inter AS DOUBLE) / (sa.n + sb.n - i.inter), 6) AS jaccard
      FROM inter i
      JOIN sizes sa ON i.doc_a = sa.doc_id
      JOIN sizes sb ON i.doc_b = sb.doc_id
    )
    SELECT doc_a, doc_b, jaccard FROM jac WHERE jaccard >= 0.2
    """,
)
def d8_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return jaccard_pairs(doc_shingles(docs), threshold=0.2, max_shingle_df=20)


# --- CUR2: survivor selection per near-dup component ------------------------------
# The curation decision the closure exists FOR: every doc lands in a
# component (singletons are their own), and each component keeps its
# HIGHEST-QUALITY member (tie → lowest doc_id) — the modern survivor
# policy (keep best, not first). Composes d10's transitive closure with
# x2's quality formula in one oracle-checked plan: one window over
# component_id on top of the component join.
@query(
    "cur2_component_survivors",
    oracle=f"""
    WITH RECURSIVE {toks_cte()}, {candidates_ctes()},
    {JACCARD_CTES},
    {NEAR_PAIRS_CTE},
    {closure_ctes()},
    comp AS (SELECT node AS doc_id, min(label) AS component_id FROM reach GROUP BY node),
    q AS (
      SELECT t.doc_id,
        round(
          least(CASE WHEN len(t.toks) > 0 THEN CAST(len(list_filter(t.toks, x -> list_contains({stopword_list_sql()}, x))) AS DOUBLE) / len(t.toks) ELSE 0.0 END * 4, 1.0) * 0.4
          + (1.0 - least(CASE WHEN length(d.text) > 0 THEN CAST(length(d.text) - length(regexp_replace(d.text, '[^\\s\x0ba-zA-Z0-9]', '', 'g')) AS DOUBLE) / length(d.text) ELSE 0.0 END * 5, 1.0)) * 0.3
          + (CASE WHEN len(t.toks) > 0 AND CAST(list_sum(list_transform(t.toks, x -> length(x))) AS DOUBLE) / len(t.toks) BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END) * 0.3,
        6) AS q
      FROM toks t JOIN documents d USING (doc_id)
    ),
    membered AS (
      SELECT q.doc_id, COALESCE(c.component_id, q.doc_id) AS component_id, q.q
      FROM q LEFT JOIN comp c USING (doc_id)
    )
    SELECT component_id,
           count(*) AS n_members,
           (array_agg(doc_id ORDER BY q DESC, doc_id ASC))[1] AS survivor_doc_id,
           round(max(q), 6) AS best_quality
    FROM membered GROUP BY component_id
    """,
)
def cur2_component_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    comp = connected_components(minhash_dedup(docs, threshold=0.5))
    scored = with_quality_score(
        docs.where(F.col("text").isNotNull()).select("doc_id", "text"), "q"
    ).select("doc_id", "q")
    membered = scored.join(comp, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("component_id"), F.col("doc_id")).alias("component_id"),
        "q",
    )
    # combinable survivor argmax — d25's (q, -doc_id)-max struct, NOT a
    # component-partitioned window (VERDICT r15 #3): lexicographic max ≡
    # the oracle's ORDER BY q DESC, doc_id ASC, map-side-combinable, and
    # a pathological giant component (templated spam surviving the
    # near-dup threshold) can't funnel through one hot-key window task.
    # Bonus: the window + groupBy + back-join collapses to ONE groupBy.
    best = F.max(F.struct(F.col("q").alias("q"), (-F.col("doc_id")).alias("nid")))
    return membered.groupBy("component_id").agg(
        F.count("*").alias("n_members"),
        (-best.getField("nid")).cast("long").alias("survivor_doc_id"),
        F.round(F.max("q"), 6).alias("best_quality"),
    )


# --- CUR3: benchmark decontamination (train/eval n-gram overlap) -------------------
# The pre-training hygiene step every large-scale pipeline runs: drop (or
# here, REPORT) training documents that share any word-3-shingle with a
# held-out benchmark/eval set, so test answers can't leak into training
# data. The eval set is a deterministic slice (doc_id % 97 = 0 — standing
# in for a real benchmark table). Scale shape: the benchmark shingle set
# is SMALL by construction (eval suites are thousands of docs, not
# billions), so at 100 TB this is a broadcast semi-join against the
# training-corpus shingle stream — no corpus-sized shuffle; the per-doc
# overlap count aggregates map-side on doc_id. Note: because the eval
# slice is carved out of the SAME documents table (doc_id % 97), this
# plan reads that table twice — once (filter-pruned, ~1% tokenized) to
# build the broadcast set, once for the training stream; a real
# deployment's separate eval table restores the single-corpus-scan shape.
@query(
    "cur3_decontaminate",
    oracle=f"""
    WITH {toks_cte()}, {shingles_ctes()},
    eval_sh AS (
      SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0
    )
    SELECT s.doc_id, count(*) AS n_shared_shingles
    FROM sh s JOIN eval_sh e USING (shingle)
    WHERE s.doc_id % 97 <> 0
    GROUP BY s.doc_id
    """,
)
def cur3_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sh = doc_shingles(docs)
    is_eval = F.col("doc_id") % 97 == 0
    eval_sh = sh.where(is_eval).select("shingle").distinct()
    # sh is distinct (doc_id, shingle), so count(*) after the inner join
    # IS the number of distinct shared shingles per training doc.
    return (
        sh.where(~is_eval)
        .join(F.broadcast(eval_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared_shingles"))
    )


# --- CUR4: incremental dedup of a new batch against the existing corpus ------------
# Production dedup is INCREMENTAL: each ingest batch dedups (a) against
# the already-curated corpus's fingerprint index, then (b) within
# itself — nobody re-clusters 100 TB per day. The "existing corpus" is a
# deterministic slice (doc_id % 10 < 8), the rest is the incoming batch.
# Scale shape: stage (a) is an equi-anti-join on the fingerprint — at
# 100 TB the corpus index is a bucketed-by-fp table, so the anti-join is
# shuffle-free on the index side; stage (b) is the usual min-doc_id
# survivor groupBy over the (small) batch only.
@query(
    "cur4_incremental_dedup",
    oracle=f"""
    WITH {toks_cte()},
    fps AS (
      SELECT doc_id, md5(coalesce(array_to_string(toks, ' '), '')) AS fp FROM toks
    ),
    corpus AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 10 < 8),
    batch AS (SELECT doc_id, fp FROM fps WHERE doc_id % 10 >= 8),
    fresh AS (
      SELECT b.doc_id, b.fp FROM batch b
      WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.fp = b.fp)
    )
    SELECT doc_id, fp FROM fresh
    WHERE doc_id = (SELECT min(f2.doc_id) FROM fresh f2 WHERE f2.fp = fresh.fp)
    """,
)
def cur4_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    fps = docs.select("doc_id", fingerprint(F.col("text")).alias("fp"))
    corpus_fps = fps.where(F.col("doc_id") % 10 < 8).select("fp").distinct()
    batch = fps.where(F.col("doc_id") % 10 >= 8)
    fresh = batch.join(corpus_fps, "fp", "left_anti")
    w = Window.partitionBy("fp")
    return (
        fresh.withColumn("keep_id", F.min("doc_id").over(w))
        .where(F.col("doc_id") == F.col("keep_id"))
        .select("doc_id", "fp")
    )


# --- CUR5: passage-level exact dedup report ----------------------------------------
# Sub-document dedup: boilerplate (headers, license blurbs, navigation)
# repeats ACROSS documents that are not whole-doc duplicates, so
# curation hashes fixed-stride passages (8-token chunks here) and flags
# each doc's fraction of passages seen elsewhere. Plan shape: passages
# are built as an in-row `transform(sequence(...))` + `array_distinct`
# PROJECTION (no distinct shuffle), materialized ONCE (two consumers,
# the d4 pattern), then the cross-doc counts come from a
# map-side-combinable groupBy JOINED back — NOT a window partitioned by
# passage, which would funnel every posting of a hot boilerplate passage
# (the very thing this query detects) into one task at 100 TB. The join
# is an equi-join on passage, so AQE skew-splitting covers the hot keys
# the aggregate already tamed.
@query(
    "cur5_passage_dedup",
    oracle=f"""
    WITH {toks_cte()},
    p AS (
      SELECT doc_id,
             unnest(list_distinct(
               [('0x'||substr(md5(array_to_string(toks[(i*8+1):(i*8+8)], ' ')),1,15))::BIGINT
                for i in range(0, len(toks) // 8)]
             )) AS passage
      FROM toks WHERE len(toks) >= 8
    ),
    c AS (
      SELECT doc_id, passage,
             count(*) OVER (PARTITION BY passage) AS n_docs_with
      FROM p
    )
    SELECT doc_id,
           count(*) AS n_passages,
           CAST(sum(CASE WHEN n_docs_with > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_passages,
           round(CAST(sum(CASE WHEN n_docs_with > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS dup_frac
    FROM c GROUP BY doc_id
    """,
)
def cur5_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    toks = docs.select("doc_id", tokenize(F.col("text")).alias("toks")).where(
        F.size("toks") >= 8
    )
    # passages ride the shuffle as 60-bit md5 longs, not 8-token strings
    # (the d15 discipline: 8-byte keys, identical hashing both engines).
    passages = materialize(toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "array_distinct(transform(sequence(0, (size(toks) div 8) - 1),"
                " i -> conv(substr(md5(concat_ws(' ', slice(toks, i*8+1, 8))), 1, 15), 16, 10)))"
            ).cast("array<long>")
        ).alias("passage"),
    ))
    per_passage = passages.groupBy("passage").agg(
        F.count("*").alias("n_docs_with")
    )
    counted = passages.join(per_passage, "passage")
    agg = counted.groupBy("doc_id").agg(
        F.count("*").alias("n_passages"),
        F.sum(F.when(F.col("n_docs_with") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_dup_passages"),
    )
    return agg.select(
        "doc_id",
        "n_passages",
        "n_dup_passages",
        F.round(F.col("n_dup_passages").cast("double") / F.col("n_passages"), 6).alias(
            "dup_frac"
        ),
    )


# --- D11: shingle-containment near-dups (asymmetric overlap) -----------------------
# Jaccard misses the short-doc-inside-long-doc case (a quoted or
# concatenated document): the union is dominated by the long side, so
# the score stays low. Containment — inter / min(|A|, |B|) — is the
# standard asymmetric complement; curation drops (or links) pairs where
# one side is essentially a subset of the other. Same inverted-index
# self-join machinery as d7/d8, same posting-list cap skew guard; only
# the final scoring expression differs.
@query(
    "d11_containment_pairs",
    oracle=f"""
    WITH {toks_cte()}, {shingles_ctes()},
    capped AS (
      SELECT doc_id, shingle FROM (
        SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS df
        FROM sh
      ) WHERE df <= 20
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM capped GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    cont AS (
      SELECT i.doc_a, i.doc_b,
             round(CAST(i.inter AS DOUBLE) / least(sa.n, sb.n), 6) AS containment
      FROM inter i
      JOIN sizes sa ON i.doc_a = sa.doc_id
      JOIN sizes sb ON i.doc_b = sb.doc_id
    )
    SELECT doc_a, doc_b, containment FROM cont WHERE containment >= 0.6
    """,
)
def d11_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return jaccard_pairs(
        doc_shingles(docs), threshold=0.6, max_shingle_df=20, metric="containment"
    )


# --- D12: cross-source duplication matrix ------------------------------------------
# Mix-design intelligence the pair list already paid for: which SOURCES
# duplicate each other (syndication, mirrors, scraper overlap). MinHash
# near-dup pairs (d4's full LSH+verify pipeline) join each side to its
# source — two broadcast lookups against the doc→source projection —
# and roll up to an (source_a ≤ source_b) matrix with pair counts and
# mean jaccard. Downweight or dedup-across the source pairs that light
# up before setting MIX1/MIX2 rates.
@query(
    "d12_cross_source_dups",
    oracle=f"""
    WITH {toks_cte()}, {candidates_ctes()},
    {JACCARD_CTES},
    pairs AS (
      SELECT j.doc_a, j.doc_b, j.jaccard
      FROM jac j JOIN cands c ON j.doc_a = c.doc_a AND j.doc_b = c.doc_b
      WHERE j.jaccard >= 0.5
    ),
    tagged AS (
      SELECT least(da.source, db.source) AS source_a,
             greatest(da.source, db.source) AS source_b,
             p.jaccard
      FROM pairs p
      JOIN documents da ON p.doc_a = da.doc_id
      JOIN documents db ON p.doc_b = db.doc_id
    )
    SELECT source_a, source_b,
           count(*) AS n_dup_pairs,
           round(sum(CAST(round(jaccard * 1000000) AS BIGINT))
                 / 1000000.0 / count(*), 6) AS mean_jaccard
    FROM tagged GROUP BY 1, 2
    """,
)
def d12_cross_source_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_dedup(docs, threshold=0.5)
    src = docs.select("doc_id", "source")
    sa = src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa"))
    sb = src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb"))
    tagged = pairs.join(sa, "doc_a").join(sb, "doc_b")
    return (
        tagged.select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
            "jaccard",
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count("*").alias("n_dup_pairs"),
            # decimal-summed mean (cur8's pattern): avg(double) over
            # 200+ pairs is accumulation-order-dependent in the last
            # ulp, and the round-15 sf1 probe caught 9/162 rows landing
            # one 6th-decimal step from DuckDB's. The 6dp-scaled
            # per-pair value is integer-exact, so parallel partial sums
            # bit-match the oracle at any group size.
            F.sum(F.round(F.col("jaccard") * 1000000).cast("long")).alias("j6"),
        )
        .select(
            "source_a",
            "source_b",
            "n_dup_pairs",
            F.round(F.col("j6") / F.lit(1000000.0) / F.col("n_dup_pairs"), 6).alias(
                "mean_jaccard"
            ),
        )
    )


# --- CUR6: passage-level scrub (the transform cur5 reports on) ---------------------
# CCNet-style sub-document dedup as an actual TRANSFORM: drop every
# 8-token passage that also appears in an earlier doc (first-doc-wins;
# intra-doc repeats are x9's domain and are kept), stitch the survivors
# back in order with the <8-token tail, and fingerprint the scrubbed
# text. Plan shape: positions come from one posexplode projection;
# cross-doc stats are a map-side-combinable groupBy (distinct-doc count
# + min doc) joined back — no passage-partitioned window (hot
# boilerplate funnel, see cur5) — and the reassembly is one
# sort_array(collect_list) per doc plus a join back to the token table
# for the tail. The md5 match against the oracle proves byte-exact
# reassembly, not just counts.
@query(
    "cur6_passage_scrub",
    oracle=f"""
    WITH {toks_cte()},
    t8 AS (
      SELECT doc_id, toks, len(toks) AS L, len(toks) // 8 AS np
      FROM toks WHERE len(toks) >= 8
    ),
    occ AS (
      SELECT doc_id, idx,
             array_to_string(toks[(idx*8+1):(idx*8+8)], ' ') AS passage
      FROM (SELECT doc_id, toks, unnest(range(0, np)) AS idx FROM t8)
    ),
    pp AS (
      SELECT passage, count(DISTINCT doc_id) AS nd, min(doc_id) AS keep_doc
      FROM occ GROUP BY passage
    ),
    kept AS (
      SELECT o.doc_id, o.idx, o.passage
      FROM occ o JOIN pp USING (passage)
      WHERE pp.nd = 1 OR o.doc_id = pp.keep_doc
    ),
    re AS (
      SELECT doc_id, string_agg(passage, ' ' ORDER BY idx) AS kept_text,
             count(*) AS n_kept
      FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(t.np AS BIGINT) AS n_passages,
           CAST(coalesce(re.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(t.np - coalesce(re.n_kept, 0) AS BIGINT) AS n_dropped,
           md5(concat_ws(' ', NULLIF(coalesce(re.kept_text, ''), ''),
                         NULLIF(array_to_string(t.toks[(t.np*8+1):t.L], ' '), '')))
             AS scrubbed_fp
    FROM t8 t LEFT JOIN re USING (doc_id)
    """,
)
def cur6_passage_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    t8 = materialize(
        docs.select("doc_id", tokenize(F.col("text")).alias("toks"))
        .where(F.size("toks") >= 8)
        .select(
            "doc_id",
            "toks",
            F.size("toks").alias("L"),
            F.expr("size(toks) div 8").alias("np"),
        )
    )
    occ = t8.select(
        "doc_id",
        F.posexplode(
            F.expr(
                "transform(sequence(0, np - 1),"
                " i -> concat_ws(' ', slice(toks, i*8+1, 8)))"
            )
        ).alias("idx", "passage"),
    )
    pp = occ.groupBy("passage").agg(
        F.countDistinct("doc_id").alias("nd"), F.min("doc_id").alias("keep_doc")
    )
    kept = (
        occ.join(pp, "passage")
        .where((F.col("nd") == 1) | (F.col("doc_id") == F.col("keep_doc")))
        .select("doc_id", "idx", "passage")
    )
    re = kept.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "passage"))),
                lambda s: s["passage"],
            ),
        ).alias("kept_text"),
        F.count("*").alias("n_kept"),
    )
    tail = F.concat_ws(" ", F.expr("slice(toks, np*8 + 1, L - np*8)"))
    return (
        t8.join(re, "doc_id", "left")
        .select(
            "doc_id",
            F.col("np").cast("long").alias("n_passages"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            (F.col("np") - F.coalesce("n_kept", F.lit(0)))
            .cast("long")
            .alias("n_dropped"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.nullif(F.coalesce("kept_text", F.lit("")), F.lit("")),
                    F.nullif(tail, F.lit("")),
                )
            ).alias("scrubbed_fp"),
        )
    )


# --- D14: per-source exact-duplicate rate ------------------------------------------
# d12 maps duplication ACROSS sources; d14 scores each source's own
# hygiene — the fraction of its docs that are exact duplicates of an
# earlier doc (fingerprint survivorship, global first-doc-wins). High
# dup_rate → the source re-crawls or mirrors itself; weight it down
# before the near-dup passes even run. One fingerprint window + one
# source rollup.
@query(
    "d14_source_dup_rates",
    oracle=f"""
    WITH {toks_cte()},
    fps AS (
      SELECT t.doc_id, d.source, md5(coalesce(array_to_string(t.toks, ' '), '')) AS fp
      FROM toks t JOIN documents d USING (doc_id)
    ),
    marked AS (
      SELECT doc_id, source,
             (doc_id <> min(doc_id) OVER (PARTITION BY fp)) AS is_dup
      FROM fps
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
           round(CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS dup_rate
    FROM marked GROUP BY source
    """,
)
def d14_source_dup_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    fps = docs.select("doc_id", "source", fingerprint(F.col("text")).alias("fp"))
    marked = fps.withColumn(
        "is_dup", F.col("doc_id") != F.min("doc_id").over(Window.partitionBy("fp"))
    )
    return marked.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("is_dup"), 1).otherwise(0)).cast("long").alias("n_dups"),
        F.round(
            F.sum(F.when(F.col("is_dup"), 1).otherwise(0)).cast("double")
            / F.count("*"),
            6,
        ).alias("dup_rate"),
    )


# --- D15: overlapping duplicate-span detection (any-alignment) ---------------------
# The exact-substring dedup signal of Lee et al. 2022 ("Deduplicating
# Training Data Makes Language Models Better"), at window grain: cur5's
# fixed-stride passages MISS a duplicated span whose alignment shifts by
# < 8 tokens between the two documents; sliding the 8-token window at
# STRIDE 1 catches a shared span at ANY alignment. Same scale discipline
# as cur5 — windows are an in-row projection (transform(sequence) +
# array_distinct, no shuffle to build), the cross-doc count is one
# map-side-combinable groupBy(window) joined back on the window key
# (never a per-window window-function funnel), and the stride-1 stream
# is O(corpus tokens) rows — the same order as the unigram explode every
# TF-IDF pass already ships.
@query(
    "d15_duplicate_spans",
    oracle=f"""
    WITH {toks_cte()},
    p AS (
      SELECT doc_id,
             unnest(list_distinct(
               [('0x'||substr(md5(array_to_string(toks[(i+1):(i+8)], ' ')),1,15))::BIGINT
                for i in range(0, len(toks) - 7)]
             )) AS win
      FROM toks WHERE len(toks) >= 8
    ),
    c AS (
      SELECT doc_id, win,
             count(*) OVER (PARTITION BY win) AS n_docs_with
      FROM p
    )
    SELECT doc_id,
           count(*) AS n_windows,
           CAST(sum(CASE WHEN n_docs_with > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_windows,
           round(CAST(sum(CASE WHEN n_docs_with > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS dup_span_frac
    FROM c GROUP BY doc_id
    """,
)
def d15_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    toks = docs.select("doc_id", tokenize(F.col("text")).alias("toks")).where(
        F.size("toks") >= 8
    )
    # windows ship as 60-bit md5 longs, not 8-token strings: the shuffle
    # key drops from ~50 bytes to 8 per posting (the md5 itself is
    # codegen'd JVM work before the exchange), and the per-doc distinct
    # runs on the hashed form. Both engines hash identically (the md5
    # bridge), so results agree exactly even in the astronomically-
    # unlikely collision case.
    wins = materialize(toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "array_distinct(transform(sequence(0, size(toks) - 8),"
                " i -> conv(substr(md5(concat_ws(' ', slice(toks, i+1, 8))), 1, 15), 16, 10)))"
            ).cast("array<long>")
        ).alias("win"),
    ))
    per_win = wins.groupBy("win").agg(F.count("*").alias("n_docs_with"))
    counted = wins.join(per_win, "win")
    agg = counted.groupBy("doc_id").agg(
        F.count("*").alias("n_windows"),
        F.sum(F.when(F.col("n_docs_with") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_dup_windows"),
    )
    return agg.select(
        "doc_id",
        "n_windows",
        "n_dup_windows",
        F.round(
            F.col("n_dup_windows").cast("double") / F.col("n_windows"), 6
        ).alias("dup_span_frac"),
    )


# --- D16: MinHash estimator calibration audit --------------------------------------
# The audit that justifies trusting d4's pipeline at 100 TB: for every
# LSH candidate pair, the MinHash ESTIMATE of Jaccard (matching
# signature components / 8) side-by-side with the EXACT Jaccard, plus
# the absolute error. This is the v8 pattern applied to MinHash — the
# sketch's statistical contract surfaced as a checkable query instead of
# trusted on faith. One shingle materialization feeds all three
# consumers (signatures, candidate scoping, exact verification — the d4
# discipline); the estimate needs no new shuffle beyond
# the signature aggregate d4 already pays.
@query(
    "d16_minhash_estimate_audit",
    oracle=f"""
    WITH {toks_cte()}, {candidates_ctes()},
    {JACCARD_CTES},
    est AS (
      SELECT ma.doc_id AS doc_a, mb.doc_id AS doc_b,
             sum(CASE WHEN ma.min_hash = mb.min_hash THEN 1 ELSE 0 END) / 8.0
               AS est_jaccard
      FROM mh ma
      JOIN mh mb ON ma.seed = mb.seed AND ma.doc_id < mb.doc_id
      JOIN cands c ON c.doc_a = ma.doc_id AND c.doc_b = mb.doc_id
      GROUP BY 1, 2
    )
    SELECT e.doc_a, e.doc_b,
           round(e.est_jaccard, 6) AS est_jaccard,
           j.jaccard,
           round(abs(e.est_jaccard - j.jaccard), 6) AS abs_err
    FROM est e JOIN jac j ON e.doc_a = j.doc_a AND e.doc_b = j.doc_b
    """,
)
def d16_minhash_estimate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sh = materialize(doc_shingles(docs))
    wide = minhash_wide(sh, num_hashes=8)
    cands = lsh_candidate_pairs(lsh_bands_from_wide(wide, rows_per_band=2))
    exact = jaccard_pairs(sh, candidates=cands)
    # estimate via two equi-joins of the WIDE signature onto the pair
    # list (each candidate pair fetches both 8-column signature rows and
    # compares in-row) — never a seed-keyed signature self-join, which is
    # all-docs × all-docs per seed at scale.
    wa = wide.select(
        F.col("doc_id").alias("doc_a"), *[F.col(f"m{i}").alias(f"a{i}") for i in range(8)]
    )
    wb = wide.select(
        F.col("doc_id").alias("doc_b"), *[F.col(f"m{i}").alias(f"b{i}") for i in range(8)]
    )
    matches = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("int") for i in range(8)
    )
    est = (
        cands.join(wa, "doc_a")
        .join(wb, "doc_b")
        .select("doc_a", "doc_b", (matches / 8.0).alias("est_jaccard"))
    )
    return est.join(exact, ["doc_a", "doc_b"]).select(
        "doc_a",
        "doc_b",
        F.round(F.col("est_jaccard"), 6).alias("est_jaccard"),
        "jaccard",
        F.round(F.abs(F.col("est_jaccard") - F.col("jaccard")), 6).alias("abs_err"),
    )


# --- D17: LSH candidate precision at thresholds -------------------------------------
# The companion to d16's estimator calibration: of the pairs LSH
# actually surfaces, what fraction clears each Jaccard bar? Low
# precision at the target threshold means the banding config wastes
# verification work (the 100-TB cost center); the sweep shows where the
# candidate mass sits. Candidates and exact Jaccard come from the SAME
# verified pipeline as d4 (threshold=0 keeps every candidate with ≥1
# shared shingle); the threshold fan-out is a 4× explode on the tiny
# verified-pair table, nothing corpus-sized.
@query(
    "d17_lsh_precision",
    oracle=f"""
    WITH {toks_cte()}, {candidates_ctes()},
    {JACCARD_CTES},
    verified AS (
      SELECT j.jaccard
      FROM jac j JOIN cands c ON j.doc_a = c.doc_a AND j.doc_b = c.doc_b
    ),
    thr AS (SELECT unnest([0.3, 0.5, 0.7, 0.9]) AS threshold)
    SELECT t.threshold,
           count(*) AS n_candidates,
           count(*) FILTER (WHERE v.jaccard >= t.threshold) AS n_pass,
           round(count(*) FILTER (WHERE v.jaccard >= t.threshold)
                 / CAST(count(*) AS DOUBLE), 6) AS precision
    FROM verified v CROSS JOIN thr t
    GROUP BY t.threshold
    """,
)
def d17_lsh_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_dedup(docs, threshold=0.0)
    fan = pairs.select(
        "jaccard",
        F.explode(F.array(*[F.lit(t) for t in (0.3, 0.5, 0.7, 0.9)])).alias("threshold"),
    )
    return fan.groupBy("threshold").agg(
        F.count("*").alias("n_candidates"),
        F.sum(F.when(F.col("jaccard") >= F.col("threshold"), 1).otherwise(0)).alias("n_pass"),
        F.round(
            F.sum(F.when(F.col("jaccard") >= F.col("threshold"), 1).otherwise(0))
            / F.count("*").cast("double"),
            6,
        ).alias("precision"),
    )


# --- X26: cross-language duplicate leakage ------------------------------------------
# d12's matrix rotated onto the LANGUAGE axis, at two grains: whole-doc
# fingerprints (exact content under different lang labels — mislabeled
# metadata / copy-through; an honest ZERO on a clean corpus) and x24's
# 5-token template prefixes (shared boilerplate crossing language
# labels — the leak that actually shows up in practice). One
# fingerprint groupBy per grain, lang-pair expansion bounded by
# langs-per-fingerprint; real translation dups need embedding
# similarity (n4's path).
@query(
    "x26_crosslang_dups",
    oracle=f"""
    WITH {toks_cte()},
    keyed AS (
      SELECT 'document' AS grain, t.doc_id, d.lang,
             md5(coalesce(array_to_string(t.toks, ' '), '')) AS fp
      FROM toks t JOIN documents d USING (doc_id)
      UNION ALL
      SELECT 'template5', t.doc_id, d.lang,
             md5(array_to_string(list_slice(t.toks, 1, 5), ' '))
      FROM toks t JOIN documents d USING (doc_id)
      WHERE len(t.toks) >= 5
    ),
    per AS (SELECT DISTINCT grain, fp, lang FROM keyed)
    SELECT a.grain, a.lang AS lang_a, b.lang AS lang_b, count(*) AS n_shared_fps
    FROM per a JOIN per b ON a.grain = b.grain AND a.fp = b.fp AND a.lang < b.lang
    GROUP BY a.grain, a.lang, b.lang
    """,
)
def x26_crosslang_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    # ONE tokenize pass feeds both grains (fingerprint is md5 over the
    # same token array the template prefix slices)
    toks = docs.select("lang", tokenize(F.col("text")).alias("toks"))
    doc_grain = toks.select(
        F.lit("document").alias("grain"),
        "lang",
        F.md5(F.array_join("toks", " ")).alias("fp"),
    )
    tmpl_grain = toks.where(F.size("toks") >= 5).select(
        F.lit("template5").alias("grain"),
        "lang",
        F.md5(F.array_join(F.slice("toks", 1, 5), " ")).alias("fp"),
    )
    per = doc_grain.unionAll(tmpl_grain).distinct()
    a = per.select("grain", "fp", F.col("lang").alias("lang_a"))
    b = per.select("grain", "fp", F.col("lang").alias("lang_b"))
    return (
        a.join(b, ["grain", "fp"])
        .where(F.col("lang_a") < F.col("lang_b"))
        .groupBy("grain", "lang_a", "lang_b")
        .agg(F.count("*").alias("n_shared_fps"))
    )


# --- X27: effective token mass after dedup ------------------------------------------
# The training-data accounting number: raw token mass vs the mass that
# SURVIVES exact dedup (d1's min-doc-id policy), per source — "10 B raw
# tokens" routinely shrinks to far less effective data, and mixing
# weights (mix3) computed on raw counts overweight duplicate-heavy
# sources. One fingerprint groupBy + a survivor semi-join against the
# per-doc token counts; all integer arithmetic until the final ratio.
@query(
    "x27_effective_tokens",
    oracle=f"""
    WITH {toks_cte()},
    tc AS (
      SELECT t.doc_id, d.source, len(t.toks) AS n_toks,
             md5(coalesce(array_to_string(t.toks, ' '), '')) AS fp
      FROM toks t JOIN documents d USING (doc_id)
    ),
    keep AS (SELECT min(doc_id) AS doc_id FROM tc GROUP BY fp)
    SELECT source,
           CAST(sum(n_toks) AS BIGINT) AS raw_tokens,
           CAST(sum(CASE WHEN doc_id IN (SELECT doc_id FROM keep)
                         THEN n_toks ELSE 0 END) AS BIGINT) AS effective_tokens,
           round(sum(CASE WHEN doc_id IN (SELECT doc_id FROM keep)
                          THEN n_toks ELSE 0 END) / CAST(sum(n_toks) AS DOUBLE), 6)
             AS effective_ratio
    FROM tc GROUP BY source
    """,
)
def x27_effective_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    # THREE consumers (survivor keys, survivor join, raw totals) — the
    # d4 discipline: materialize the doc-level projection once instead
    # of re-tokenizing the corpus per consumer.
    tc = materialize(docs.select(
        "doc_id",
        "source",
        token_count(F.col("text")).alias("n_toks"),
        fingerprint(F.col("text")).alias("fp"),
    ))
    keep = tc.groupBy("fp").agg(F.min("doc_id").alias("doc_id")).select("doc_id")
    surv = tc.join(keep, "doc_id", "left_semi").select(
        F.col("doc_id").alias("s_doc_id"), F.col("n_toks").alias("s_toks"),
        F.col("source").alias("s_source"),
    )
    raw = tc.groupBy("source").agg(F.sum("n_toks").cast("long").alias("raw_tokens"))
    eff = surv.groupBy(F.col("s_source").alias("source")).agg(
        F.sum("s_toks").cast("long").alias("effective_tokens")
    )
    # LEFT join: a source whose every document duplicates a lower-doc_id
    # doc from another source has zero survivors but must still appear
    # with effective_tokens=0, as the oracle's conditional sum does
    # (ADVICE r7 — an inner join drops it on duplicate-heavy data).
    return raw.join(eff, "source", "left").select(
        "source",
        "raw_tokens",
        F.coalesce(F.col("effective_tokens"), F.lit(0).cast("long")).alias(
            "effective_tokens"
        ),
        F.round(
            F.coalesce(F.col("effective_tokens"), F.lit(0))
            / F.col("raw_tokens").cast("double"),
            6,
        ).alias("effective_ratio"),
    )


# --- D18: duplicate-component size histogram ----------------------------------------
# The shape of duplication, not just its mass: how many near-dup groups
# have 2 docs vs 5 vs 50? A corpus whose dup mass sits in a few giant
# components (template spam) needs different policy than one with many
# pairs (mirrors). Two tiny aggregates on top of d10's closure; the
# oracle re-derives the closure with the same recursive CTE, so the
# histogram is hash-checked end-to-end.
@query(
    "d18_component_size_histogram",
    oracle=f"""
    WITH RECURSIVE {toks_cte()}, {candidates_ctes()},
    {JACCARD_CTES},
    {NEAR_PAIRS_CTE},
    {closure_ctes()},
    comp AS (SELECT node, min(label) AS component_id FROM reach GROUP BY node),
    csizes AS (SELECT component_id, count(*) AS size FROM comp GROUP BY component_id)
    SELECT size, count(*) AS n_components,
           CAST(size * count(*) AS BIGINT) AS n_docs
    FROM csizes GROUP BY size
    """,
)
def d18_component_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    comp = connected_components(minhash_dedup(docs, threshold=0.5))
    sizes = comp.groupBy("component_id").agg(F.count("*").alias("size"))
    return sizes.groupBy("size").agg(
        F.count("*").alias("n_components"),
        (F.col("size") * F.count("*")).cast("long").alias("n_docs"),
    )


# --- CUR8: dedup × quality interaction audit ----------------------------------------
# The policy-interaction number curation reviews ask for: WHAT does
# near-dup dedup remove, by quality band? If duplicates concentrate in
# the low-quality band, dedup is doing double duty and the quality
# gate's marginal value shrinks; if they're uniform, the two filters
# are independent and both earn their cost. Removal status is d10's
# closure under the min-doc_id survivor policy (minhash-LSH pairs at
# Jaccard >= 0.5 — the same recursive-CTE oracle as d18, so the closure
# is hash-checked end-to-end); bands use the x2/cur1 composite quality
# score (shared CTE, so this audit can never drift from the gate it
# audits). Mean quality is decimal-summed (the 6dp-rounded score × 1e6
# is integer-valued) so parallel partial sums bit-match the oracle.
@query(
    "cur8_dedup_quality_interaction",
    oracle=f"""
    WITH RECURSIVE {toks_cte()}, {candidates_ctes()},
    {JACCARD_CTES},
    {NEAR_PAIRS_CTE},
    {closure_ctes()},
    removed AS (
      SELECT node AS doc_id FROM reach GROUP BY node HAVING node <> min(label)
    ),
    {quality_cte()},
    labeled AS (
      SELECT q.quality_score,
             CASE WHEN q.doc_id IN (SELECT doc_id FROM removed)
                  THEN 'removed' ELSE 'kept' END AS status,
             CASE WHEN q.quality_score < 0.5 THEN 'low'
                  WHEN q.quality_score < 0.75 THEN 'mid'
                  ELSE 'high' END AS band
      FROM qual q
    )
    SELECT band, status, count(*) AS n_docs,
      round(count(*) / CAST(sum(count(*)) OVER (PARTITION BY band) AS DOUBLE), 6)
        AS share_of_band,
      round(sum(CAST(round(quality_score * 1000000) AS BIGINT))
            / 1000000.0 / count(*), 6) AS mean_quality
    FROM labeled GROUP BY band, status
    """,
)
def cur8_dedup_quality_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    comp = connected_components(minhash_dedup(docs, threshold=0.5))
    removed = comp.where(F.col("doc_id") != F.col("component_id")).select(
        "doc_id", F.lit(1).alias("rm")
    )
    # removed is component-members-only — usually small, but its size is
    # DATA-DEPENDENT (a template-spam corpus can near-dup 30% of its
    # docs), so no forced broadcast: AQE picks broadcast when the
    # runtime size allows and falls back to a shuffle join when not
    labeled = (
        with_quality_score(docs.select("doc_id", "text"), "q").select("doc_id", "q")
        .join(removed, "doc_id", "left")
        .select(
            F.when(F.col("rm").isNotNull(), "removed").otherwise("kept").alias(
                "status"
            ),
            F.when(F.col("q") < 0.5, "low")
            .when(F.col("q") < 0.75, "mid")
            .otherwise("high")
            .alias("band"),
            "q",
        )
    )
    cell = labeled.groupBy("band", "status").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.round(F.col("q") * 1000000).cast("long")).alias("q6"),
    )
    wb = Window.partitionBy("band")
    return cell.select(
        "band",
        "status",
        "n_docs",
        F.round(
            F.col("n_docs") / F.sum("n_docs").over(wb).cast("double"), 6
        ).alias("share_of_band"),
        F.round(F.col("q6") / F.lit(1000000.0) / F.col("n_docs"), 6).alias(
            "mean_quality"
        ),
    )


# --- CUR9: train→eval split contamination audit --------------------------------------
# cur3 decontaminates against an EXTERNAL benchmark; cur9 audits the
# pipeline's own mix4 hash-range splits for INTERNAL leakage — eval docs
# sharing word-3-shingles with the train split (near-dup docs that
# landed on opposite sides of the hash boundary inflate eval scores
# exactly like benchmark contamination). Split assignment is mix4's
# pure md5 projection, so no join is needed to label shingles; the
# leaked-shingle check is one equi-join of the (small) eval shingle set
# against the distinct train shingles. Reported per eval split over
# docs with >=1 shingle (>=3 tokens).
@query(
    "cur9_split_leakage",
    oracle=f"""
    WITH {toks_cte()}, {shingles_ctes()},
    lab AS (
      SELECT doc_id, shingle,
             CASE WHEN ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT % 100 < 90 THEN 'train'
                  WHEN ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT % 100 < 95 THEN 'val'
                  ELSE 'test' END AS split
      FROM sh
    ),
    train_sh AS (SELECT DISTINCT shingle FROM lab WHERE split = 'train'),
    ev AS (
      SELECT l.split, l.doc_id, l.shingle,
             CASE WHEN l.shingle IN (SELECT shingle FROM train_sh) THEN 1 ELSE 0 END AS hit
      FROM lab l WHERE l.split <> 'train'
    )
    SELECT split,
           count(DISTINCT doc_id) AS n_docs,
           count(DISTINCT CASE WHEN hit = 1 THEN doc_id END) AS n_contaminated_docs,
           round(count(DISTINCT CASE WHEN hit = 1 THEN doc_id END)
                 / CAST(count(DISTINCT doc_id) AS DOUBLE), 6) AS doc_leak_rate,
           count(*) AS n_shingles,
           CAST(sum(hit) AS BIGINT) AS n_leaked_shingles,
           round(sum(hit) / CAST(count(*) AS DOUBLE), 6) AS shingle_leak_rate
    FROM ev GROUP BY split
    """,
)
def cur9_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    sh = doc_shingles(docs)
    bucket = F.pmod(md5_long(F.col("doc_id").cast("string")), F.lit(100))
    lab = sh.select(
        "doc_id",
        "shingle",
        F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test").alias(
            "split"
        ),
    )
    train_sh = (
        lab.where(F.col("split") == "train")
        .select("shingle")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    ev = lab.where(F.col("split") != "train").join(train_sh, "shingle", "left")
    return ev.groupBy("split").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.countDistinct(F.when(F.col("hit") == 1, F.col("doc_id"))).alias(
            "n_contaminated_docs"
        ),
        F.round(
            F.countDistinct(F.when(F.col("hit") == 1, F.col("doc_id")))
            / F.countDistinct("doc_id").cast("double"),
            6,
        ).alias("doc_leak_rate"),
        F.count("*").alias("n_shingles"),
        F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("n_leaked_shingles"),
        F.round(
            F.sum(F.coalesce("hit", F.lit(0))) / F.count("*").cast("double"), 6
        ).alias("shingle_leak_rate"),
    )


# --- CUR10: incremental near-dup admission (new batch vs existing corpus) ----------
# The near-dup analogue of cur4's exact-fingerprint incremental dedup and
# the batch twin of st10's ingest gate: a NEW crawl batch (odd doc_ids —
# standing in for s14's snapshot diff) is admitted only where it is not a
# near-duplicate (verified Jaccard >= 0.5) of the EXISTING corpus (even
# doc_ids). Scale shape is the whole point: candidates come from an LSH
# band join between the batch's band table and the corpus's band table —
# never a batch × corpus pair enumeration — and exact verification is
# candidate-scoped through the same jaccard_pairs path d4 uses, so the
# incremental pass costs O(batch shingles + matched band buckets), not
# O(corpus²). Shingles/bands build ONCE over both halves (one tokenize),
# split by parity afterwards. Reference tie-in: the reference dedups only
# WITHIN a load (01_extract_features.R distinct step); per-crawl
# admission against the standing corpus is the 100 TB extension.
@query(
    "cur10_incremental_neardup",
    oracle=f"""
    WITH {toks_cte()}, {bands_ctes()},
    xc AS (
      SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a,
                      greatest(a.doc_id, b.doc_id) AS doc_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
      WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
    ),
    {JACCARD_CTES},
    rejected AS (
      SELECT DISTINCT CASE WHEN j.doc_a % 2 = 1 THEN j.doc_a ELSE j.doc_b END AS new_doc
      FROM jac j JOIN xc ON j.doc_a = xc.doc_a AND j.doc_b = xc.doc_b
      WHERE j.jaccard >= 0.5
    ),
    newdocs AS (
      SELECT doc_id, source FROM documents
      WHERE text IS NOT NULL AND doc_id % 2 = 1
    )
    SELECT n.source,
           count(*) AS n_new,
           count(r.new_doc) AS n_rejected,
           count(*) - count(r.new_doc) AS n_admitted,
           round(count(r.new_doc) / CAST(count(*) AS DOUBLE), 6) AS rejection_rate
    FROM newdocs n LEFT JOIN rejected r ON r.new_doc = n.doc_id
    GROUP BY n.source
    """,
)
def cur10_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    is_new = F.col("doc_id") % 2 == 1
    # one tokenize/shingle/band build over BOTH halves, split by parity
    # afterwards (three consumers — the d4 checkpoint discipline)
    sh = materialize(doc_shingles(docs))
    bands = lsh_bands_from_wide(minhash_wide(sh, num_hashes=8), rows_per_band=2)
    nb = bands.where(is_new).select(
        F.col("doc_id").alias("delta_doc"), "band", "band_sig"
    )
    cb = bands.where(~is_new).select(
        F.col("doc_id").alias("corpus_doc"), "band", "band_sig"
    )
    # the shared admission pipeline (cur10/st13/cur12): band equi-join
    # candidates, candidate-scoped Jaccard >= 0.5, delta side recovered
    # by membership
    rejected = lsh_admission_rejects(nb, cb, sh).select(
        F.col("delta_doc").alias("new_doc")
    )
    newdocs = docs.where(is_new).select("doc_id", "source")
    # rejected is tiny (verified near-dups only) — AQE broadcasts it
    return (
        newdocs.join(rejected, newdocs.doc_id == rejected.new_doc, "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_new"),
            F.count("new_doc").alias("n_rejected"),
            (F.count("*") - F.count("new_doc")).alias("n_admitted"),
            F.round(F.count("new_doc") / F.count("*").cast("double"), 6).alias(
                "rejection_rate"
            ),
        )
    )


# --- D19: shingle document-frequency audit (what the skew guard costs) -------------
# The measurement behind d8's max_shingle_df=20 posting-list cap: the df
# histogram of the shingle inverted index, each df's posting mass, and
# which rows the cap drops. At 100 TB the capped mass IS the boilerplate
# (navigation chrome, license headers) whose posting lists would
# otherwise quadratically dominate the pair join; this audit makes the
# cap a measured decision instead of folklore — if the dropped share
# creeps toward the near-dup signal, the cap is too low; if it is ~0 the
# cap is free insurance. Histogram is bounded by the distinct-df domain
# (≤ max posting-list length), nothing corpus-sized after the df groupBy.
@query(
    "d19_shingle_df_audit",
    oracle=f"""
    WITH {toks_cte()}, {shingles_ctes()},
    df AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
    hist AS (
      SELECT df, count(*) AS n_shingles, CAST(df * count(*) AS BIGINT) AS n_postings
      FROM df GROUP BY df
    ),
    tot AS (SELECT CAST(sum(n_postings) AS BIGINT) AS total FROM hist)
    SELECT h.df, h.n_shingles, h.n_postings,
           CASE WHEN h.df > 20 THEN 1 ELSE 0 END AS dropped_by_cap,
           round(h.n_postings / CAST(t.total AS DOUBLE), 6) AS posting_share
    FROM hist h CROSS JOIN tot t
    """,
)
def d19_shingle_df_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    return shingle_df_audit(doc_shingles(docs))


# --- CUR12: snapshot-versioned near-dup admission ----------------------------------
# Closes the loop between the versioning family (s13/s14) and the
# admission family (cur10/st13): a new corpus VERSION arrives (snapshot
# B = snapshot A with doc_id % 7 == 0 docs newly added and even-id docs
# re-edited — ' v2 v2 v2' appended), the s14-style key-partitioned diff
# classifies every doc by comparing EXACT FINGERPRINTS (added / changed
# / unchanged), and ONLY the delta (added+changed) rides cur10's LSH
# admission join against the unchanged standing corpus. Incremental
# cost ∝ |delta| bands + matched buckets — a version bump that touches
# 1% of a 100 TB corpus near-dup-checks 1%, never the corpus against
# itself; at scale both snapshots are bucketed on doc_id (s9) so the
# diff join is shuffle-free. One shingle/band build over the whole
# snapshot (three consumers), split by diff status afterwards — the
# cur10 checkpoint discipline. The oracle derives the same statuses
# arithmetically (appending tokens always changes the canonical
# fingerprint) and restates the admission join verbatim.
@query(
    "cur12_versioned_admission",
    oracle=f"""
    WITH snap AS (
      SELECT doc_id, source,
             CASE WHEN doc_id % 7 = 0 THEN 'added'
                  WHEN doc_id % 2 = 0 THEN 'changed'
                  ELSE 'unchanged' END AS status,
             CASE WHEN doc_id % 7 <> 0 AND doc_id % 2 = 0
                  THEN text || ' v2 v2 v2' ELSE text END AS text
      FROM documents WHERE text IS NOT NULL
    ),
    {toks_cte(table="snap")},
    {bands_ctes()},
    xc AS (
      SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a,
                      greatest(a.doc_id, b.doc_id) AS doc_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
      JOIN snap sa ON sa.doc_id = a.doc_id
      JOIN snap sb ON sb.doc_id = b.doc_id
      WHERE sa.status <> 'unchanged' AND sb.status = 'unchanged'
    ),
    {JACCARD_CTES},
    rejected AS (
      SELECT DISTINCT CASE WHEN sa.status <> 'unchanged' THEN j.doc_a ELSE j.doc_b END AS delta_doc
      FROM jac j
      JOIN xc ON j.doc_a = xc.doc_a AND j.doc_b = xc.doc_b
      JOIN snap sa ON sa.doc_id = j.doc_a
      WHERE j.jaccard >= 0.5
    ),
    delta AS (SELECT doc_id, status FROM snap WHERE status <> 'unchanged')
    SELECT d.status,
           count(*) AS n_docs,
           count(r.delta_doc) AS n_rejected,
           count(*) - count(r.delta_doc) AS n_admitted,
           round(count(r.delta_doc) / CAST(count(*) AS DOUBLE), 6) AS rejection_rate
    FROM delta d LEFT JOIN rejected r ON r.delta_doc = d.doc_id
    GROUP BY d.status
    """,
)
def cur12_versioned_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    # snapshot A (old version): doc_id % 7 == 0 docs don't exist yet
    old = docs.where(F.col("doc_id") % 7 != 0).select(
        "doc_id", fingerprint_pair(F.col("text")).alias("fp_a")
    )
    # snapshot B (arriving version): everything, pre-existing even-id
    # docs re-edited (a doc new in B has no prior version to edit)
    new = docs.select(
        "doc_id",
        "source",
        F.when(
            (F.col("doc_id") % 2 == 0) & (F.col("doc_id") % 7 != 0),
            F.concat(F.col("text"), F.lit(" v2 v2 v2")),
        ).otherwise(F.col("text")).alias("text"),
    )
    # the s14 diff, on exact fingerprints: the KEY-partitioned join that
    # classifies the delta (removed docs never enter admission)
    snap = materialize(
        new.withColumn("fp_b", fingerprint_pair(F.col("text")))
        .join(old, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            "text",
            F.when(F.col("fp_a").isNull(), "added")
            .when(F.col("fp_a") != F.col("fp_b"), "changed")
            .otherwise("unchanged")
            .alias("status"),
        )
    )  # consumers: shingle build, delta report
    sh = materialize(doc_shingles(snap))
    bands = lsh_bands_from_wide(minhash_wide(sh, num_hashes=8), rows_per_band=2)
    stat = snap.select("doc_id", "status")
    b = bands.join(stat, "doc_id")
    db = b.where(F.col("status") != "unchanged").select(
        F.col("doc_id").alias("delta_doc"), "band", "band_sig"
    )
    ub = b.where(F.col("status") == "unchanged").select(
        F.col("doc_id").alias("corpus_doc"), "band", "band_sig"
    )
    # the shared admission pipeline (cur10/st13/cur12): delta bands ×
    # standing bands on the bucket key, candidate-scoped verification,
    # delta side recovered by membership
    rejected = lsh_admission_rejects(db, ub, sh)
    delta = snap.where(F.col("status") != "unchanged").select("doc_id", "status")
    return (
        delta.join(rejected, delta.doc_id == rejected.delta_doc, "left")
        .groupBy("status")
        .agg(
            F.count("*").alias("n_docs"),
            F.count("delta_doc").alias("n_rejected"),
            (F.count("*") - F.count("delta_doc")).alias("n_admitted"),
            F.round(F.count("delta_doc") / F.count("*").cast("double"), 6).alias(
                "rejection_rate"
            ),
        )
    )


# --- CUR13: decontamination-aggressiveness sweep ------------------------------------
# The knob curve behind cur3: HOW aggressively to decontaminate is a
# policy choice — drop a training doc when it shares >= K distinct
# shingles with the eval set — and this query reports, for each
# candidate K, how many docs and how much character mass the policy
# costs (the n13/cur7/d19 sweep-audit discipline: measure the knob,
# don't fold-lore it). The per-doc overlap count is computed ONCE
# (cur3's broadcast join against the distinct eval-shingle set); the
# five configs derive from it by a literal threshold explode over the
# already-aggregated per-doc row — 5× a corpus-count of tiny rows into
# one partial-aggregated groupBy, zero re-scoring. Docs with no
# shingles at all (< 3 tokens) stay in the denominator via the left
# join: a policy's drop RATE is over the whole training set.
@query(
    "cur13_decontamination_sweep",
    oracle=f"""
    WITH {toks_cte()}, {shingles_ctes()},
    ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
    ov AS (
      SELECT s.doc_id, count(*) AS n_shared
      FROM sh s JOIN ev USING (shingle)
      WHERE s.doc_id % 97 <> 0
      GROUP BY s.doc_id
    ),
    train AS (
      SELECT d.doc_id, d.n_chars, coalesce(o.n_shared, 0) AS n_shared
      FROM documents d LEFT JOIN ov o USING (doc_id)
      WHERE d.text IS NOT NULL AND d.doc_id % 97 <> 0
    ),
    thr AS (SELECT unnest([1, 2, 4, 8, 16]) AS min_shared)
    SELECT CAST(t.min_shared AS BIGINT) AS min_shared,
           count(*) AS n_train,
           CAST(sum(CASE WHEN n_shared >= t.min_shared THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dropped,
           CAST(sum(CASE WHEN n_shared >= t.min_shared THEN n_chars ELSE 0 END) AS BIGINT)
             AS dropped_chars,
           round(sum(CASE WHEN n_shared >= t.min_shared THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 6) AS drop_rate
    FROM train CROSS JOIN thr t
    GROUP BY t.min_shared
    """,
)
def cur13_decontamination_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    is_eval = F.col("doc_id") % 97 == 0
    sh = doc_shingles(docs)
    eval_sh = sh.where(is_eval).select("shingle").distinct()
    ov = (
        sh.where(~is_eval)
        .join(F.broadcast(eval_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
    )
    train = (
        docs.where(~is_eval)
        .select("doc_id", "n_chars")
        .join(ov, "doc_id", "left")
        .select(
            "n_chars", F.coalesce("n_shared", F.lit(0)).alias("n_shared")
        )
    )
    t = train.select(
        "n_chars",
        "n_shared",
        F.explode(F.array(*[F.lit(k) for k in (1, 2, 4, 8, 16)])).alias("min_shared"),
    )
    dropped = F.col("n_shared") >= F.col("min_shared")
    return t.groupBy(F.col("min_shared").cast("long").alias("min_shared")).agg(
        F.count("*").alias("n_train"),
        F.sum(F.when(dropped, 1).otherwise(0)).cast("long").alias("n_dropped"),
        F.sum(F.when(dropped, F.col("n_chars")).otherwise(0))
        .cast("long")
        .alias("dropped_chars"),
        F.round(
            F.sum(F.when(dropped, 1).otherwise(0)) / F.count("*").cast("double"), 6
        ).alias("drop_rate"),
    )


# --- CUR14: Bloom-filter decontamination screen + false-positive audit --------------
# cur3's broadcast-set decontamination ships the eval shingle SET to
# every executor; at a 100 TB probe volume the cheaper artifact is a
# Bloom BITSET — K=3 md5-derived positions over M=8192 bits. One-sided
# error is the contract under audit: every exact-contaminated doc must
# be bloom-flagged (a shared shingle's bits are set by construction —
# no false negatives), and the per-source excess n_bloom_flagged −
# n_exact_flagged is the collateral a lossy screen would discard — the
# v8/d16/n11 estimator-audit discipline, measured instead of assumed.
# Sizing rule the config encodes: at ~80 probes/doc, doc-level fp ≈
# 80·fill^K, so M ≈ 30×|eval shingles| with K=3 keeps it in the
# few-percent range — exactly where the sf0.01 fixture lands (~270 eval
# shingles → 9% fill → a handful of false-pos docs). A real eval set is
# a FIXED benchmark suite, so M is sized once; the %97 testdata slice
# grows with sf, so larger fixtures deliberately show the saturation
# failure mode the audit exists to catch. Scale shape: the bitset is
# ≤ M rows broadcast into K LEFT SEMI probes on the train shingle
# stream (at deployment: a literal bitmask in a closure — same plan,
# fewer rows); exact ground truth rides cur3's broadcast join;
# everything aggregates map-side on doc_id then source. Positions reuse
# the minhash_wide seed-hash bridge (md5_long(i||':'||shingle)), so
# both engines compute bit-identical filters.
@query(
    "cur14_bloom_decontamination",
    oracle=f"""
    WITH {toks_cte()}, {shingles_ctes()},
    ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
    bits AS (
      SELECT DISTINCT {H60.format(x="k.i::VARCHAR || ':' || ev.shingle::VARCHAR")} % 8192 AS bit
      FROM ev CROSS JOIN (SELECT unnest([0, 1, 2]) AS i) k
    ),
    nb AS (SELECT count(*) AS bits_set FROM bits),
    train AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 97 <> 0),
    probe AS (
      SELECT doc_id,
             {H60.format(x="'0:' || shingle::VARCHAR")} % 8192 AS b0,
             {H60.format(x="'1:' || shingle::VARCHAR")} % 8192 AS b1,
             {H60.format(x="'2:' || shingle::VARCHAR")} % 8192 AS b2
      FROM train
    ),
    bloom_docs AS (
      SELECT DISTINCT doc_id FROM probe
      WHERE b0 IN (SELECT bit FROM bits) AND b1 IN (SELECT bit FROM bits)
        AND b2 IN (SELECT bit FROM bits)
    ),
    exact_docs AS (SELECT DISTINCT t.doc_id FROM train t JOIN ev USING (shingle)),
    base AS (
      SELECT d.source,
             CASE WHEN b.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_bloom,
             CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_exact
      FROM documents d
      LEFT JOIN bloom_docs b USING (doc_id)
      LEFT JOIN exact_docs e USING (doc_id)
      WHERE d.text IS NOT NULL AND d.doc_id % 97 <> 0
    )
    SELECT base.source,
           count(*) AS n_train_docs,
           CAST(sum(is_bloom) AS BIGINT) AS n_bloom_flagged,
           CAST(sum(is_exact) AS BIGINT) AS n_exact_flagged,
           CAST(sum(is_bloom) - sum(is_exact) AS BIGINT) AS n_false_pos,
           CASE WHEN count(*) - sum(is_exact) = 0 THEN NULL
                ELSE round((sum(is_bloom) - sum(is_exact))
                           / CAST(count(*) - sum(is_exact) AS DOUBLE), 6)
           END AS fp_doc_rate,
           CAST(any_value(nb.bits_set) AS BIGINT) AS bits_set
    FROM base CROSS JOIN nb
    GROUP BY base.source
    """,
)
def cur14_bloom_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    M, K = 8192, 3

    def pos(i: int) -> F.Column:
        return (
            md5_long(F.concat(F.lit(f"{i}:"), F.col("shingle").cast("string"))) % M
        ).alias(f"b{i}")

    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    is_eval = F.col("doc_id") % 97 == 0
    # one shingle build, three consumers (eval bits, exact truth, train probes)
    sh = materialize(doc_shingles(docs))
    eval_sh = sh.where(is_eval).select("shingle").distinct()
    bits = (
        sh.where(is_eval)
        .select(F.explode(F.array(*[pos(i) for i in range(K)])).alias("bit"))
        .distinct()
    )
    nb = bits.agg(F.count("*").cast("long").alias("bits_set"))
    train = sh.where(~is_eval)
    probe = train.select("doc_id", *[pos(i) for i in range(K)])
    for i in range(K):  # one broadcast LEFT SEMI per hash function
        probe = probe.join(
            F.broadcast(bits.select(F.col("bit").alias(f"b{i}"))), f"b{i}", "left_semi"
        )
    bloom_docs = probe.select("doc_id").distinct().withColumn("is_bloom", F.lit(1))
    exact_docs = (
        train.join(F.broadcast(eval_sh), "shingle")
        .select("doc_id")
        .distinct()
        .withColumn("is_exact", F.lit(1))
    )
    base = (
        docs.where(~is_eval)
        .select("doc_id", "source")
        .join(bloom_docs, "doc_id", "left")
        .join(exact_docs, "doc_id", "left")
        .select(
            "source",
            F.coalesce("is_bloom", F.lit(0)).alias("is_bloom"),
            F.coalesce("is_exact", F.lit(0)).alias("is_exact"),
        )
    )
    return (
        base.groupBy("source")
        .agg(
            F.count("*").alias("n_train_docs"),
            F.sum("is_bloom").cast("long").alias("n_bloom_flagged"),
            F.sum("is_exact").cast("long").alias("n_exact_flagged"),
            (F.sum("is_bloom") - F.sum("is_exact")).cast("long").alias("n_false_pos"),
            # NULL when a source has no non-exact train docs left (there
            # is nothing a false positive could discard). The sf1 probe
            # caught this: on the 10x replica corpus one source's train
            # slice is 100% exact-contaminated, the denominator hits 0,
            # and ANSI Spark throws DIVIDE_BY_ZERO where DuckDB yields
            # NULL — so the NULL case is now explicit on BOTH sides.
            F.when(
                (F.count("*") - F.sum("is_exact")) == 0, F.lit(None).cast("double")
            )
            .otherwise(
                F.round(
                    (F.sum("is_bloom") - F.sum("is_exact"))
                    / (F.count("*") - F.sum("is_exact")).cast("double"),
                    6,
                )
            )
            .alias("fp_doc_rate"),
        )
        .crossJoin(F.broadcast(nb))  # singleton fill-level row
    )


def _band_config_cte(r: int) -> str:
    """bands/candidates CTE pair for one (rows_per_band = r) config over
    the shared 8-hash signature — the d3 SQL parameterized on r."""
    sig = H60.format(x="string_agg(min_hash::VARCHAR, ',' ORDER BY seed)")
    return f"""
    bands_{r} AS (
      SELECT doc_id, CAST(floor(seed / {r}.0) AS INT) AS band,
             {sig} AS band_sig
      FROM mh GROUP BY doc_id, CAST(floor(seed / {r}.0) AS INT)
    ),
    cand_{r} AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands_{r} a JOIN bands_{r} b ON a.band = b.band AND a.band_sig = b.band_sig
      WHERE a.doc_id < b.doc_id
    )"""


def _band_config_stats_cte(r: int) -> str:
    """One-pass stats for one band config — candidate count and truth
    hits from a SINGLE left join (truth is unique per pair), mirroring
    the Spark side. The original form recomputed the candidate join in
    five scalar subqueries per config; at sf1's replica corpus the
    r=1 config emits 8.4M candidate pairs and the repeated joins pushed
    the oracle past 10 minutes (the sf1 probe recorded the fallout)."""
    return f"""
    stats_{r} AS (
      SELECT count(*) AS nc,
             CAST(sum(CASE WHEN t.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS nh
      FROM cand_{r} c LEFT JOIN truth t
        ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
    )"""


def _band_config_select(r: int) -> str:
    b = 8 // r
    return f"""
    SELECT {b} AS bands, {r} AS rows_per_band,
           s.nc AS n_candidates, nt.n AS n_true, s.nh AS n_hit,
           round(s.nh / CAST(s.nc AS DOUBLE), 6) AS precision_,
           round(s.nh / CAST(nt.n AS DOUBLE), 6) AS recall
    FROM stats_{r} s CROSS JOIN nt
    """


# --- D20: LSH band-configuration sweep (the S-curve, measured) ----------------------
# d3/d4 serve at (bands=4, rows_per_band=2) — this query measures WHY,
# the d19/n13/n15 knob-audit discipline applied to LSH's central
# parameter. Over the SAME 8-hash signature, three band layouts —
# (8,1), (4,2), (2,4) — trade candidate volume against recall along the
# S-curve P(candidate) = 1 − (1 − J^r)^b: more, shorter bands catch
# lower-Jaccard pairs (recall↑, precision↓ — more verification cost);
# fewer, longer bands prune harder. Ground truth = the full
# inverted-index Jaccard join at threshold 0.5 (d7's machinery).
# Per config: candidate count, hits, precision (the verification-cost
# face d17 profiles) and recall (the miss face). One signature build,
# one truth build, three cheap band projections — at 100 TB the sweep
# costs three extra groupBy's over an 8-column frame, which is why a
# deployment can afford to MEASURE its config instead of trusting the
# formula's independence assumptions (shingle hashes are not
# independent; the measured curve is the real one).
@query(
    "d20_lsh_band_sweep",
    # materialize(): DuckDB 1.0 inlines each shared CTE into every
    # consumer — here truth feeds nt + three UNION ALL stats branches
    # and mh feeds three band projections, so at sf1 the inlined plan
    # re-ran the 113M-row intersection aggregate per branch and spilled
    # >80 GB of temp (filled the disk, 772 s, killed). Materialized, the
    # same query finishes in 160 s with zero spill. See
    # oracle_fragments.materialized_ctes for the measurements.
    oracle=materialized_ctes(
        f"""
    WITH {toks_cte()}, {minhash_ctes()},
    {JACCARD_CTES},
    truth AS (SELECT doc_a, doc_b FROM jac WHERE jaccard >= 0.5),
    nt AS (SELECT count(*) AS n FROM truth),
    {",".join(_band_config_cte(r) for r in (1, 2, 4))},
    {",".join(_band_config_stats_cte(r) for r in (1, 2, 4))}
    {" UNION ALL ".join(_band_config_select(r) for r in (1, 2, 4))}
    """,
        "toks", "sh", "mh", "truth",
        "cand_1", "cand_2", "cand_4",
        "jac", "inter", "sizes",
    ),
)
def d20_lsh_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sh = materialize(doc_shingles(docs))  # signature + truth share it
    wide = materialize(minhash_wide(sh, num_hashes=8))  # 3 band projections
    truth = materialize(
        jaccard_pairs(sh, threshold=0.5)
        .select("doc_a", "doc_b")
    )  # joined by all 3 configs
    n_true = truth.count()
    parts = []
    for r in (1, 2, 4):
        # ONE pass per config: candidate count and truth hits come from a
        # single left join with a truth marker (truth is unique per pair),
        # not a semi-join agg PLUS a separate count() — the expensive
        # candidate self-join must execute once, not twice.
        cands = lsh_candidate_pairs(lsh_bands_from_wide(wide, rows_per_band=r))
        stats = cands.join(
            truth.withColumn("_t", F.lit(1)), ["doc_a", "doc_b"], "left"
        ).agg(
            F.count("*").cast("long").alias("n_candidates"),
            F.sum(F.coalesce(F.col("_t"), F.lit(0))).cast("long").alias("n_hit"),
        )
        parts.append(
            stats.select(
                F.lit(8 // r).cast("int").alias("bands"),
                F.lit(r).cast("int").alias("rows_per_band"),
                F.col("n_candidates"),
                F.lit(n_true).cast("long").alias("n_true"),
                F.col("n_hit"),
                F.round(
                    F.col("n_hit") / F.col("n_candidates").cast("double"), 6
                ).alias("precision_"),
                F.round(F.col("n_hit") / F.lit(float(n_true)), 6).alias("recall"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


# --- CUR15: decontamination impact on the mixture ----------------------------------
# cur3 flags, cur13 sweeps the knob — cur15 answers the question the
# mixture owner asks AFTER the policy is chosen (K = 2 here, the
# mid-sweep setting): what does dropping the flagged docs do to the
# SOURCE MIXTURE? Contamination is never uniform across sources, so
# decontamination silently reweights the corpus; this report shows each
# source's doc/token loss and its mixture share before vs after — the
# shift ep9's roadmap must be recomputed against. Two corpus scans
# (shingle stream + token counts), the tfidf_long/d4 measured trade:
# checkpointing corpus text costs what the re-scan costs locally and
# flips only at deployment scale. Flagging rides cur3's broadcast
# eval-shingle join; everything after is per-source arithmetic.
@query(
    "cur15_decontamination_impact",
    oracle=f"""
    WITH {toks_cte()}, {shingles_ctes()},
    ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
    flagged AS (
      SELECT s.doc_id FROM sh s JOIN ev USING (shingle)
      WHERE s.doc_id % 97 <> 0
      GROUP BY s.doc_id HAVING count(*) >= 2
    ),
    counted AS (
      SELECT d.doc_id, d.source, len(t.toks) AS n_tokens,
             CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_flagged
      FROM toks t JOIN documents d USING (doc_id)
      LEFT JOIN flagged f ON f.doc_id = d.doc_id
      WHERE d.doc_id % 97 <> 0
    ),
    per_src AS (
      SELECT source,
             count(*) AS docs_before,
             CAST(count(*) - sum(is_flagged) AS BIGINT) AS docs_after,
             CAST(sum(n_tokens) AS BIGINT) AS toks_before,
             CAST(sum(CASE WHEN is_flagged = 0 THEN n_tokens ELSE 0 END) AS BIGINT) AS toks_after
      FROM counted GROUP BY source
    ),
    tot AS (
      SELECT CAST(sum(toks_before) AS DOUBLE) AS tb, CAST(sum(toks_after) AS DOUBLE) AS ta
      FROM per_src
    )
    SELECT p.source, p.docs_before, p.docs_after, p.toks_before, p.toks_after,
           round(1.0 - p.toks_after / CAST(p.toks_before AS DOUBLE), 6) AS token_loss_frac,
           round(p.toks_before / t.tb, 6) AS share_before,
           CASE WHEN t.ta = 0 THEN NULL
                ELSE round(p.toks_after / t.ta, 6) END AS share_after,
           CASE WHEN t.ta = 0 THEN NULL
                ELSE round(p.toks_after / t.ta - p.toks_before / t.tb, 6)
           END AS share_shift
    FROM per_src p CROSS JOIN tot t
    """,
)
def cur15_decontamination_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    is_eval = F.col("doc_id") % 97 == 0
    sh = doc_shingles(docs)
    eval_sh = sh.where(is_eval).select("shingle").distinct()
    flagged = (
        sh.where(~is_eval)
        .join(F.broadcast(eval_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= 2)
        .select("doc_id")
        .withColumn("is_flagged", F.lit(1))
    )
    counted = (
        docs.where(~is_eval)
        .select("doc_id", "source", token_count(F.col("text")).cast("long").alias("n_tokens"))
        .join(flagged, "doc_id", "left")
        .select(
            "source", "n_tokens", F.coalesce("is_flagged", F.lit(0)).alias("is_flagged")
        )
    )
    keep_toks = F.when(F.col("is_flagged") == 0, F.col("n_tokens")).otherwise(0)
    per_src = counted.groupBy("source").agg(
        F.count("*").alias("docs_before"),
        (F.count("*") - F.sum("is_flagged")).cast("long").alias("docs_after"),
        F.sum("n_tokens").cast("long").alias("toks_before"),
        F.sum(keep_toks).cast("long").alias("toks_after"),
    )
    tot = per_src.agg(
        F.sum("toks_before").cast("double").alias("tb"),
        F.sum("toks_after").cast("double").alias("ta"),
    )
    return per_src.crossJoin(F.broadcast(tot)).select(  # singleton totals row
        "source",
        "docs_before",
        "docs_after",
        "toks_before",
        "toks_after",
        F.round(1.0 - F.col("toks_after") / F.col("toks_before").cast("double"), 6).alias(
            "token_loss_frac"
        ),
        F.round(F.col("toks_before") / F.col("tb"), 6).alias("share_before"),
        # NULL when decontamination removed EVERYTHING (ta = 0): the
        # post-screen share is undefined over an empty corpus. The sf1
        # probe caught this crashing — on the 10x replica corpus every
        # train doc shares >= 2 shingles with the %97 eval slice, the
        # global toks_after total hits 0, and ANSI Spark throws
        # DIVIDE_BY_ZERO where DuckDB yields NULL. Explicit both sides.
        F.when(F.col("ta") == 0, F.lit(None).cast("double"))
        .otherwise(F.round(F.col("toks_after") / F.col("ta"), 6))
        .alias("share_after"),
        # signed-zero audit (round-12, after ep9's post-mortem): this
        # a−b is SAFE — ta/tb are exact integer sums cast to double and
        # each quotient is ONE division of deterministic values, so both
        # engines compute bit-identical operands and therefore the
        # bit-identical difference (a zero here carries the SAME sign on
        # both sides — unlike old ep9, where a float-sum normalizer gave
        # each engine a different last-ulp quotient and ±0.0 split).
        F.when(F.col("ta") == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round(
                F.col("toks_after") / F.col("ta") - F.col("toks_before") / F.col("tb"),
                6,
            )
        )
        .alias("share_shift"),
    )


# --- CUR16: train/test split leakage via near-duplicates ----------------------------
# The eval-integrity audit every serious pipeline runs BEFORE trusting a
# benchmark number: cur3/cur13/cur14 decontaminate against an external
# eval set, but a pipeline that carves its OWN held-out split from the
# corpus leaks through near-duplicates — a test doc whose near-twin
# stayed in train is partially memorized, and the benchmark silently
# inflates (Lee et al., "Deduplicating Training Data Makes Language
# Models Better"). cur9 already screens the conservative face (ANY
# shared shingle with train); this query measures the face a benchmark
# owner subtracts: NEAR-DUPLICATE leakage at the dedup serving config.
# Split = doc_id % 10 (a stand-in for the real split key); leakage
# detection is the SAME shared admission pipeline as
# cur10/st13/cur12 — test-side bands probe the train-side band index on
# the (band, band_sig) equi-join, candidate-scoped Jaccard >= 0.5 —
# so the leakage definition can never diverge from the dedup serving
# config. Reported per source (leakage is never uniform): leaked doc
# count AND leaked token share of the test split — the number a
# benchmark owner must subtract before reading an eval delta. Scale
# shape: one shingle/band build over the whole corpus, split by key
# afterwards; the only test×train contact is the banded equi-join.
@query(
    "cur16_neardup_split_leakage",
    oracle=f"""
    WITH {toks_cte()}, {bands_ctes()},
    xc AS (
      SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a,
                      greatest(a.doc_id, b.doc_id) AS doc_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
      WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
    ),
    {JACCARD_CTES},
    leaked AS (
      SELECT DISTINCT CASE WHEN j.doc_a % 10 = 0 THEN j.doc_a ELSE j.doc_b END AS doc_id
      FROM jac j JOIN xc ON j.doc_a = xc.doc_a AND j.doc_b = xc.doc_b
      WHERE j.jaccard >= 0.5
    ),
    test AS (
      SELECT d.doc_id, d.source, len(t.toks) AS ntok
      FROM toks t JOIN documents d USING (doc_id)
      WHERE d.doc_id % 10 = 0
    )
    SELECT s.source,
           count(*) AS n_test,
           count(l.doc_id) AS n_leaked,
           round(count(l.doc_id) / CAST(count(*) AS DOUBLE), 6) AS leak_rate,
           CAST(sum(s.ntok) AS BIGINT) AS test_tokens,
           CAST(coalesce(sum(CASE WHEN l.doc_id IS NOT NULL THEN s.ntok END), 0) AS BIGINT)
             AS leaked_tokens,
           round(coalesce(sum(CASE WHEN l.doc_id IS NOT NULL THEN s.ntok END), 0)
                 / CAST(sum(s.ntok) AS DOUBLE), 6) AS leaked_token_share
    FROM test s LEFT JOIN leaked l ON l.doc_id = s.doc_id
    GROUP BY s.source
    """,
)
def cur16_neardup_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    is_test = F.col("doc_id") % 10 == 0
    # one shingle/band build over BOTH splits (the cur10 checkpoint
    # discipline), split by the holdout key afterwards; bands is itself
    # checkpointed because the admission pipeline reads each side twice
    # (same-id screen + band equi-join) — without it the minhash groupBy
    # re-executes per consumer
    sh = materialize(doc_shingles(docs))
    bands = materialize(lsh_bands_from_wide(
        minhash_wide(sh, num_hashes=8), rows_per_band=2
    ))
    tb = bands.where(is_test).select(
        F.col("doc_id").alias("delta_doc"), "band", "band_sig"
    )
    rb = bands.where(~is_test).select(
        F.col("doc_id").alias("corpus_doc"), "band", "band_sig"
    )
    leaked = lsh_admission_rejects(tb, rb, sh).select(
        F.col("delta_doc").alias("doc_id"), F.lit(1).alias("_l")
    )
    test = docs.where(is_test).select(
        "doc_id", "source", token_count(F.col("text")).alias("ntok")
    )
    leaked_tok = F.when(F.col("_l").isNotNull(), F.col("ntok"))
    return (
        test.join(leaked, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_test"),
            F.count("_l").cast("long").alias("n_leaked"),
            F.round(F.count("_l") / F.count("*").cast("double"), 6).alias("leak_rate"),
            F.sum("ntok").cast("long").alias("test_tokens"),
            F.coalesce(F.sum(leaked_tok), F.lit(0)).cast("long").alias("leaked_tokens"),
            F.round(
                F.coalesce(F.sum(leaked_tok), F.lit(0))
                / F.sum("ntok").cast("double"),
                6,
            ).alias("leaked_token_share"),
        )
    )


# --- EP10: the release roadmap (leakage gate → decontamination → mixture plan) ------
# The composite a dataset release actually publishes, chaining the three
# audits that were previously separate answers: (1) cur16's near-dup
# split-leakage gate — train docs that are near-twins (same admission
# config as cur10/st13/cur12: 8-hash MinHash, 2-row bands, candidate-
# scoped Jaccard >= 0.5) of the held-out test split (doc_id % 10 == 0)
# are DROPPED, because a twin left in train silently inflates the
# benchmark; (2) cur15's decontamination screen — train docs sharing
# >= 2 shingles with the external eval slice (doc_id % 97 == 0, itself
# excluded from both splits) are DROPPED; (3) ep9's integer-exact epoch
# roadmap over the SURVIVING per-source token mass — weight toward a
# uniform token target, clamped at 4 epochs, every float ONE division
# of exact BIGINTs (+0.0 by construction; see ep9's contract note in
# queries_text.py). Sources whose every doc is dropped leave the
# roadmap (uniform target over the sources that can still contribute);
# a surviving source with zero tokens yields NULL weight/epochs on both
# engines (0/0). Scale shape: one shingle/band build over the corpus
# (checkpointed, three consumers); test×train contact ONLY via the
# banded equi-join; eval contact via one broadcast semi-join; the
# roadmap is |sources|-sized algebra after one aggregate.
@query(
    "ep10_release_roadmap",
    oracle=f"""
    WITH {toks_cte()}, {bands_ctes()},
    ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
    contaminated AS (
      SELECT s.doc_id FROM sh s JOIN ev USING (shingle)
      WHERE s.doc_id % 10 <> 0 AND s.doc_id % 97 <> 0
      GROUP BY s.doc_id HAVING count(*) >= 2
    ),
    xc AS (
      SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a,
                      greatest(a.doc_id, b.doc_id) AS doc_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
      WHERE a.doc_id % 10 <> 0 AND a.doc_id % 97 <> 0
        AND b.doc_id % 10 = 0 AND b.doc_id % 97 <> 0
    ),
    {JACCARD_CTES},
    leaked AS (
      SELECT DISTINCT CASE WHEN j.doc_a % 10 <> 0 THEN j.doc_a ELSE j.doc_b END AS doc_id
      FROM jac j JOIN xc ON j.doc_a = xc.doc_a AND j.doc_b = xc.doc_b
      WHERE j.jaccard >= 0.5
    ),
    train AS (
      SELECT d.doc_id, d.source, len(t.toks) AS ntok,
             CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_cont,
             CASE WHEN l.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_leak
      FROM toks t JOIN documents d USING (doc_id)
      LEFT JOIN contaminated c ON c.doc_id = d.doc_id
      LEFT JOIN leaked l ON l.doc_id = d.doc_id
      WHERE d.doc_id % 10 <> 0 AND d.doc_id % 97 <> 0
    ),
    per_src AS (
      SELECT source, count(*) AS n_train_docs,
             CAST(sum(is_cont) AS BIGINT) AS n_contaminated,
             CAST(sum(is_leak) AS BIGINT) AS n_leak_twins,
             CAST(sum(CASE WHEN is_cont = 0 AND is_leak = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_survivors,
             CAST(sum(CASE WHEN is_cont = 0 AND is_leak = 0 THEN ntok ELSE 0 END) AS BIGINT)
               AS n_tokens
      FROM train GROUP BY source
      HAVING sum(CASE WHEN is_cont = 0 AND is_leak = 0 THEN 1 ELSE 0 END) > 0
    ),
    {capped_mixture_ctes(4)}
    SELECT w.source, w.n_train_docs, w.n_contaminated, w.n_leak_twins,
           w.n_survivors, w.n_tokens,
           round(w.cap / (w.n_src * w.n_tokens), 6) AS weight,
           CAST(w.cap // (w.n_src * w.n_tokens) AS BIGINT) AS full_epochs,
           round(w.cap / z.zc, 6) AS achieved_share,
           round((z.zc - w.n_src * w.cap) / (w.n_src * z.zc), 6) AS shortfall
    FROM w CROSS JOIN z
    """,
)
def ep10_release_roadmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    is_test = F.col("doc_id") % 10 == 0
    is_eval = F.col("doc_id") % 97 == 0
    is_train = ~is_test & ~is_eval
    # one shingle build, three consumers (eval gate, bands, Jaccard verify)
    sh = materialize(doc_shingles(docs))
    eval_sh = sh.where(is_eval).select("shingle").distinct()
    contaminated = (
        sh.where(is_train)
        .join(F.broadcast(eval_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= 2)
        .select("doc_id", F.lit(1).alias("_c"))
    )
    bands = materialize(lsh_bands_from_wide(
        minhash_wide(sh, num_hashes=8), rows_per_band=2
    ))  # two sides read it (train delta + test corpus)
    train_b = bands.where(is_train).select(
        F.col("doc_id").alias("delta_doc"), "band", "band_sig"
    )
    test_b = bands.where(is_test & ~is_eval).select(
        F.col("doc_id").alias("corpus_doc"), "band", "band_sig"
    )
    leaked = lsh_admission_rejects(train_b, test_b, sh).select(
        F.col("delta_doc").alias("doc_id"), F.lit(1).alias("_l")
    )
    survives = F.col("_c").isNull() & F.col("_l").isNull()
    per_src = materialize(
        docs.where(is_train)
        .select(
            "doc_id", "source", token_count(F.col("text")).cast("long").alias("ntok")
        )
        .join(contaminated, "doc_id", "left")
        .join(leaked, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_train_docs"),
            F.count("_c").cast("long").alias("n_contaminated"),
            F.count("_l").cast("long").alias("n_leak_twins"),
            F.sum(F.when(survives, 1).otherwise(0)).cast("long").alias("n_survivors"),
            F.coalesce(F.sum(F.when(survives, F.col("ntok"))), F.lit(0))
            .cast("long")
            .alias("n_tokens"),
        )
        .where(F.col("n_survivors") > 0)
    )  # |sources| rows; totals/weights/normalizer reuse it
    den = F.col("n_src") * F.col("n_tokens")
    return capped_mixture(per_src, epochs=4).select(
        "source",
        "n_train_docs",
        "n_contaminated",
        "n_leak_twins",
        "n_survivors",
        "n_tokens",
        F.round(F.col("cap") / den, 6).alias("weight"),
        F.expr("cap div (n_src * n_tokens)").cast("long").alias("full_epochs"),
        F.round(F.col("cap") / F.col("zc"), 6).alias("achieved_share"),
        F.round(
            (F.col("zc") - F.col("n_src") * F.col("cap"))
            / (F.col("n_src") * F.col("zc")),
            6,
        ).alias("shortfall"),
    )


# --- CUR17: Bloom bitset sizing sweep (the M knob, measured) -------------------------
# cur14 audits ONE Bloom configuration (M=8192, K=3); this is the d20
# discipline applied to the bitset knob: the SAME screen at
# M ∈ {2048, 8192, 32768} against the same exact ground truth, so the
# sizing rule (doc-fp ≈ probes·fill^K ⇒ M ≈ 30×|eval shingles|) is
# measured rather than asserted — undersized M saturates (fill → 1,
# every train doc flagged), oversized M buys nothing. One output row
# per M: fill level, flagged/exact/false-positive doc counts, fp rate.
# Every hash is computed ONCE per (i, shingle) — the three Ms differ
# only in the mod — and each float is one division of exact integers.
# Scale shape: the three bitsets stay broadcast-sized (≤ ΣM = 43k bit
# rows); the probe stream is the train shingle stream × 3 configs, all
# map-side until the per-(m, doc) distinct.
@query(
    "cur17_bloom_sizing_sweep",
    oracle=f"""
    WITH {toks_cte()}, {shingles_ctes()},
    ms AS (SELECT unnest([2048, 8192, 32768]) AS m),
    ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
    evh AS (
      SELECT DISTINCT {H60.format(x="k.i::VARCHAR || ':' || ev.shingle::VARCHAR")} AS hv
      FROM ev CROSS JOIN (SELECT unnest([0, 1, 2]) AS i) k
    ),
    bits AS (SELECT DISTINCT ms.m, evh.hv % ms.m AS bit FROM evh CROSS JOIN ms),
    nb AS (SELECT m, count(*) AS bits_set FROM bits GROUP BY m),
    train AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 97 <> 0),
    probe AS (
      SELECT t.doc_id, ms.m,
             {H60.format(x="'0:' || t.shingle::VARCHAR")} % ms.m AS b0,
             {H60.format(x="'1:' || t.shingle::VARCHAR")} % ms.m AS b1,
             {H60.format(x="'2:' || t.shingle::VARCHAR")} % ms.m AS b2
      FROM train t CROSS JOIN ms
    ),
    bloom AS (
      SELECT p.m, count(DISTINCT p.doc_id) AS n_bloom_flagged
      FROM probe p
      WHERE EXISTS (SELECT 1 FROM bits b WHERE b.m = p.m AND b.bit = p.b0)
        AND EXISTS (SELECT 1 FROM bits b WHERE b.m = p.m AND b.bit = p.b1)
        AND EXISTS (SELECT 1 FROM bits b WHERE b.m = p.m AND b.bit = p.b2)
      GROUP BY p.m
    ),
    ex AS (
      SELECT count(DISTINCT t.doc_id) AS n_exact_flagged
      FROM train t JOIN ev USING (shingle)
    ),
    tot AS (
      SELECT count(*) AS n_train_docs FROM documents
      WHERE text IS NOT NULL AND doc_id % 97 <> 0
    )
    SELECT CAST(nb.m AS BIGINT) AS m_bits,
           CAST(nb.bits_set AS BIGINT) AS bits_set,
           round(nb.bits_set / nb.m, 6) AS fill_rate,
           tot.n_train_docs,
           CAST(coalesce(bl.n_bloom_flagged, 0) AS BIGINT) AS n_bloom_flagged,
           CAST(ex.n_exact_flagged AS BIGINT) AS n_exact_flagged,
           CAST(coalesce(bl.n_bloom_flagged, 0) - ex.n_exact_flagged AS BIGINT)
             AS n_false_pos,
           CASE WHEN tot.n_train_docs - ex.n_exact_flagged = 0 THEN NULL
                ELSE round((coalesce(bl.n_bloom_flagged, 0) - ex.n_exact_flagged)
                           / (tot.n_train_docs - ex.n_exact_flagged), 6)
           END AS fp_doc_rate
    FROM nb LEFT JOIN bloom bl USING (m) CROSS JOIN ex CROSS JOIN tot
    """,
)
def cur17_bloom_sizing_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    MS, K = (2048, 8192, 32768), 3

    def h(i: int) -> F.Column:
        return md5_long(
            F.concat(F.lit(f"{i}:"), F.col("shingle").cast("string"))
        ).alias(f"h{i}")

    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    is_eval = F.col("doc_id") % 97 == 0
    m_col = F.explode(F.array(*[F.lit(m) for m in MS])).alias("m")
    # one shingle build, hashes computed ONCE; three consumers
    # (bitsets, probes, exact truth)
    sh = materialize(doc_shingles(docs))
    eval_sh = sh.where(is_eval).select("shingle").distinct()
    bits = materialize(
        sh.where(is_eval)
        .select(F.explode(F.array(*[h(i) for i in range(K)])).alias("hv"))
        .distinct()
        .select("hv", m_col)
        .select("m", F.pmod(F.col("hv"), F.col("m")).alias("bit"))
        .distinct()
    )  # ≤ ΣM rows; K probe joins + the fill count read it
    nb = bits.groupBy("m").agg(F.count("*").cast("long").alias("bits_set"))
    probe = sh.where(~is_eval).select("doc_id", *[h(i) for i in range(K)]).select(
        "doc_id", "h0", "h1", "h2", m_col
    )
    for i in range(K):  # one broadcast LEFT SEMI per hash function
        probe = probe.withColumn(f"b{i}", F.pmod(F.col(f"h{i}"), F.col("m"))).join(
            F.broadcast(bits.select("m", F.col("bit").alias(f"b{i}"))),
            ["m", f"b{i}"],
            "left_semi",
        )
    bloom = probe.groupBy("m").agg(
        F.countDistinct("doc_id").cast("long").alias("n_bloom_flagged")
    )
    ex = (
        sh.where(~is_eval)
        .join(F.broadcast(eval_sh), "shingle")
        .agg(F.countDistinct("doc_id").cast("long").alias("n_exact_flagged"))
    )
    tot = docs.where(~is_eval).agg(F.count("*").alias("n_train_docs"))
    # LEFT join: a bitset config that flags zero train docs must still emit
    # its sweep row (n_bloom_flagged = 0), not silently vanish from the table
    nbf = F.coalesce(F.col("n_bloom_flagged"), F.lit(0)).cast("long")
    return (
        nb.join(bloom, "m", "left")
        .crossJoin(F.broadcast(ex))  # singleton truth row
        .crossJoin(F.broadcast(tot))  # singleton corpus-size row
        .select(
            F.col("m").cast("long").alias("m_bits"),
            "bits_set",
            F.round(F.col("bits_set") / F.col("m"), 6).alias("fill_rate"),
            "n_train_docs",
            nbf.alias("n_bloom_flagged"),
            "n_exact_flagged",
            (nbf - F.col("n_exact_flagged")).cast("long").alias("n_false_pos"),
            # NULL when every train doc is exact-contaminated (nothing a
            # false positive could discard) — cur14's hazard at corpus
            # grain; the sf1 replica corpus hits it and ANSI Spark throws
            # DIVIDE_BY_ZERO where DuckDB yields NULL, so the NULL case
            # is explicit on BOTH sides.
            F.when(
                (F.col("n_train_docs") - F.col("n_exact_flagged")) == 0,
                F.lit(None).cast("double"),
            )
            .otherwise(
                F.round(
                    (nbf - F.col("n_exact_flagged"))
                    / (F.col("n_train_docs") - F.col("n_exact_flagged")),
                    6,
                )
            )
            .alias("fp_doc_rate"),
        )
    )


# --- CUR18: n-gram-width decontamination sweep (the overlap-n knob) ------------------
# cur13/cur14/cur15 decontaminate on word-3-shingles; production
# decontamination picks a WIDER window (the GPT-3 appendix used 13-gram
# overlap; Llama-family reports 8-10) because short n flags idiom-level
# false positives while long n misses paraphrases. This is the d20/cur17
# discipline applied to that knob: the SAME screen (≥1 shared shingle
# with the eval slice, doc_id % 97 == 0) at n ∈ {5, 9, 13} against one
# corpus, reporting per n what the gate would cost — docs dropped and
# token mass lost. ONE tokenize pass generates all three widths (a
# posexplode over the three gram arrays, tagged by width), the eval
# shingle sets stay broadcast-sized, and every float is one division of
# exact integer sums. Monotone by construction: wider n ⇒ fewer flags
# (a shared 13-gram contains shared 5-grams) — pinned in pytest.
@query(
    "cur18_ngram_decontamination_sweep",
    oracle=f"""
    WITH {{toks}},
    shn AS (
      SELECT DISTINCT s.n, s.doc_id, {H60.format(x="s.g")} AS shingle FROM (
        SELECT doc_id, 5 AS n,
               unnest([array_to_string(toks[i:i+4], ' ') for i in range(1, len(toks) - 3)]) AS g
        FROM toks WHERE len(toks) >= 5
        UNION ALL
        SELECT doc_id, 9 AS n,
               unnest([array_to_string(toks[i:i+8], ' ') for i in range(1, len(toks) - 7)]) AS g
        FROM toks WHERE len(toks) >= 9
        UNION ALL
        SELECT doc_id, 13 AS n,
               unnest([array_to_string(toks[i:i+12], ' ') for i in range(1, len(toks) - 11)]) AS g
        FROM toks WHERE len(toks) >= 13
      ) s
    ),
    ev AS (SELECT DISTINCT n, shingle FROM shn WHERE doc_id % 97 = 0),
    flagged AS (
      SELECT DISTINCT s.n, s.doc_id
      FROM shn s JOIN ev ON ev.n = s.n AND ev.shingle = s.shingle
      WHERE s.doc_id % 97 <> 0
    ),
    train AS (SELECT doc_id, len(toks) AS ntok FROM toks WHERE doc_id % 97 <> 0),
    expanded AS (
      SELECT t.doc_id, t.ntok, ns.n
      FROM train t CROSS JOIN (SELECT unnest([5, 9, 13]) AS n) ns
    )
    SELECT CAST(e.n AS BIGINT) AS ngram_n,
           count(*) AS n_train_docs,
           count(f.doc_id) AS n_dropped,
           round(count(f.doc_id) / CAST(count(*) AS DOUBLE), 6) AS drop_rate,
           CAST(coalesce(sum(CASE WHEN f.doc_id IS NOT NULL THEN e.ntok END), 0) AS BIGINT)
             AS dropped_tokens,
           round(coalesce(sum(CASE WHEN f.doc_id IS NOT NULL THEN e.ntok END), 0)
                 / CAST(sum(e.ntok) AS DOUBLE), 6) AS token_loss_frac
    FROM expanded e LEFT JOIN flagged f ON f.n = e.n AND f.doc_id = e.doc_id
    GROUP BY e.n
    """.replace("{toks}", toks_cte()),
)
def cur18_ngram_decontamination_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    NS = (5, 9, 13)
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    is_eval = F.col("doc_id") % 97 == 0
    # Generate barrier before the gram lambdas (the doc_shingles codegen
    # guard), then ONE projection emits all three widths tagged by n
    tok_rows = docs.select(
        "doc_id", F.explode(F.array(tokenize(F.col("text")))).alias("_toks")
    )
    sh = materialize(
        tok_rows.select(
            "doc_id",
            F.posexplode(
                F.array(*[ngrams(F.col("_toks"), n) for n in NS])
            ).alias("p", "grams"),
        )
        .select(
            "doc_id",
            F.element_at(F.array(*[F.lit(n) for n in NS]), F.col("p") + 1).alias("n"),
            F.explode("grams").alias("g"),
        )
        .select("doc_id", "n", md5_long(F.col("g")).alias("shingle"))
        .distinct()
    )  # consumers: eval sets + train probe
    ev = sh.where(is_eval).select("n", "shingle").distinct()
    flagged = (
        sh.where(~is_eval)
        .join(F.broadcast(ev), ["n", "shingle"], "left_semi")
        .select("n", "doc_id")
        .distinct()
        .withColumn("_f", F.lit(1))
    )
    train = docs.where(~is_eval).select(
        "doc_id", token_count(F.col("text")).cast("long").alias("ntok")
    )
    expanded = train.select(
        "doc_id", "ntok", F.explode(F.array(*[F.lit(n) for n in NS])).alias("n")
    )
    dropped_tok = F.when(F.col("_f").isNotNull(), F.col("ntok"))
    return (
        expanded.join(flagged, ["n", "doc_id"], "left")
        .groupBy(F.col("n").cast("long").alias("ngram_n"))
        .agg(
            F.count("*").cast("long").alias("n_train_docs"),
            F.count("_f").cast("long").alias("n_dropped"),
            F.round(F.count("_f") / F.count("*").cast("double"), 6).alias("drop_rate"),
            F.coalesce(F.sum(dropped_tok), F.lit(0))
            .cast("long")
            .alias("dropped_tokens"),
            F.round(
                F.coalesce(F.sum(dropped_tok), F.lit(0)) / F.sum("ntok").cast("double"),
                6,
            ).alias("token_loss_frac"),
        )
    )


# --- D21: Jaccard verification-threshold sweep (the dedup aggressiveness knob) -------
# d20 sweeps the LSH BAND configuration (candidate generation); this
# sweeps the other half of the dedup operating point — the verification
# threshold — over ONE fixed candidate set (d3/d4's serving config:
# 8 hashes, 2-row bands). Per t ∈ {0.5, 0.7, 0.9}: pairs surviving
# verification, docs a keep-smallest pair policy would drop, and the
# corpus-level drop rate — the table a corpus owner reads to pick how
# aggressive dedup should be before committing a 100 TB pass. The
# expensive parts run ONCE (candidate join + candidate-scoped Jaccard,
# both checkpointed); the sweep itself is three filters over the tiny
# verified-pair frame. Thresholding happens on the round(·, 6) value on
# both engines (the jaccard_pairs contract), so boundary pairs cannot
# split across engines.
@query(
    "d21_jaccard_threshold_sweep",
    # materialize(): same CTE-inlining hazard d20 hit at sf1 (cands is
    # referenced by cj AND nc; sh three times through JACCARD_CTES) — see
    # oracle_fragments.materialized_ctes.
    oracle=materialized_ctes(
        f"""
    WITH {toks_cte()}, {candidates_ctes()},
    {JACCARD_CTES},
    cj AS (
      SELECT j.doc_a, j.doc_b, j.jaccard
      FROM jac j JOIN cands c ON c.doc_a = j.doc_a AND c.doc_b = j.doc_b
    ),
    ts AS (SELECT unnest([0.5::DOUBLE, 0.7::DOUBLE, 0.9::DOUBLE]) AS threshold),
    per AS (
      SELECT t.threshold,
             count(*) AS n_verified_pairs,
             count(DISTINCT cj.doc_b) AS n_docs_flagged
      FROM ts t JOIN cj ON cj.jaccard >= t.threshold
      GROUP BY t.threshold
    ),
    nc AS (SELECT count(*) AS n_candidate_pairs FROM cands),
    nd AS (SELECT count(*) AS n_docs FROM documents WHERE text IS NOT NULL)
    SELECT t.threshold,
           CAST(nc.n_candidate_pairs AS BIGINT) AS n_candidate_pairs,
           CAST(coalesce(p.n_verified_pairs, 0) AS BIGINT) AS n_verified_pairs,
           CAST(coalesce(p.n_docs_flagged, 0) AS BIGINT) AS n_docs_flagged,
           round(coalesce(p.n_docs_flagged, 0) / CAST(nd.n_docs AS DOUBLE), 6)
             AS flag_rate
    FROM ts t LEFT JOIN per p ON p.threshold = t.threshold
    CROSS JOIN nc CROSS JOIN nd
    """,
        "toks", "sh", "mh", "bands", "cands", "jac", "inter", "sizes", "cj",
    ),
)
def d21_jaccard_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    TS = (0.5, 0.7, 0.9)
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    sh = materialize(doc_shingles(docs))  # consumers: bands + verify
    cands = materialize(lsh_candidate_pairs(
        lsh_bands_from_wide(minhash_wide(sh, num_hashes=8), rows_per_band=2)
    ))  # consumers: verification scope + the count face
    # ONE candidate-scoped verification; three thresholds filter it
    jac = materialize(jaccard_pairs(sh, candidates=cands))
    n_cand = cands.agg(F.count("*").cast("long").alias("n_candidate_pairs"))
    n_docs = docs.agg(F.count("*").cast("long").alias("n_docs"))
    ts = spark.range(1).select(
        F.explode(F.array(*[F.lit(float(x)) for x in TS])).alias("threshold")
    )
    per = (
        ts.join(jac, F.col("jaccard") >= F.col("threshold"))  # 3-row side broadcasts
        .groupBy("threshold")
        .agg(
            F.count("*").cast("long").alias("n_verified_pairs"),
            F.countDistinct("doc_b").cast("long").alias("n_docs_flagged"),
        )
    )
    return (
        ts.join(per, "threshold", "left")  # keep a row even when a t drops nothing
        .crossJoin(F.broadcast(n_cand))  # singleton count row
        .crossJoin(F.broadcast(n_docs))  # singleton corpus-size row
        .select(
            "threshold",
            "n_candidate_pairs",
            F.coalesce("n_verified_pairs", F.lit(0))
            .cast("long")
            .alias("n_verified_pairs"),
            F.coalesce("n_docs_flagged", F.lit(0)).cast("long").alias("n_docs_flagged"),
            F.round(
                F.coalesce("n_docs_flagged", F.lit(0)) / F.col("n_docs").cast("double"),
                6,
            ).alias("flag_rate"),
        )
    )


# --- D22: maximal exact-substring duplicate spans (Lee et al. §4's exact grain) ------
# d15 flags stride-1 duplicated 8-token WINDOWS; the grain the d-family
# did not cover is Lee et al. 2022's exact-substring path: the MAXIMAL
# duplicated token span — how LONG the shared runs actually are and how
# much of each document they cover. The classic implementation is a
# corpus suffix array; the Spark-first equivalent rides what d15 already
# ships: a maximal duplicated span of length L >= 8 appears as exactly
# L-7 CONSECUTIVE duplicated stride-1 windows, so covered-token islands
# (gaps-and-islands over the union of each duplicated window's 8 token
# positions) reconstruct the maximal spans without any suffix sort.
# Per doc: span count, longest span, total duplicated tokens, fraction.
# Scale shape: the position stream is O(corpus tokens) with 8-byte md5
# window keys (the d15 shuffle discipline), cross-doc support is one
# combinable groupBy(win) off a (doc, win) distinct, the coverage
# explode is a bounded 8x of DUPLICATED windows only, and every window
# function partitions by doc_id — per-doc data, never a value-keyed
# global sort. No all-pairs contact anywhere.
@query(
    "d22_exact_substring_spans",
    oracle=f"""
    WITH {toks_cte()},
    p0 AS (
      SELECT doc_id, toks, unnest(range(0, len(toks) - 7)) AS pos
      FROM toks WHERE len(toks) >= 8
    ),
    p AS (
      SELECT doc_id, pos,
             {H60.format(x="array_to_string(toks[(pos+1):(pos+8)], ' ')")} AS win
      FROM p0
    ),
    dw AS (
      SELECT win FROM (SELECT DISTINCT doc_id, win FROM p)
      GROUP BY win HAVING count(*) > 1
    ),
    cov AS (
      SELECT DISTINCT doc_id, tok FROM (
        SELECT p.doc_id, unnest(range(p.pos, p.pos + 8)) AS tok
        FROM p JOIN dw USING (win)
      )
    ),
    isl AS (
      SELECT doc_id,
             tok - row_number() OVER (PARTITION BY doc_id ORDER BY tok) AS grp
      FROM cov
    ),
    sp AS (SELECT doc_id, count(*) AS len FROM isl GROUP BY doc_id, grp),
    per AS (
      SELECT doc_id, count(*) AS n_spans,
             max(len) AS max_span_tokens,
             CAST(sum(len) AS BIGINT) AS dup_tokens
      FROM sp GROUP BY doc_id
    ),
    base AS (SELECT doc_id, len(toks) AS n_tokens FROM toks WHERE len(toks) >= 8)
    SELECT b.doc_id,
           CAST(b.n_tokens AS BIGINT) AS n_tokens,
           CAST(coalesce(per.n_spans, 0) AS BIGINT) AS n_spans,
           CAST(coalesce(per.max_span_tokens, 0) AS BIGINT) AS max_span_tokens,
           CAST(coalesce(per.dup_tokens, 0) AS BIGINT) AS dup_tokens,
           round(coalesce(per.dup_tokens, 0) / b.n_tokens, 6) AS dup_token_frac
    FROM base b LEFT JOIN per USING (doc_id)
    """,
)
def d22_exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    toks = docs.select("doc_id", tokenize(F.col("text")).alias("toks")).where(
        F.size("toks") >= 8
    )
    base = toks.select("doc_id", F.size("toks").cast("long").alias("n_tokens"))
    # positions KEPT (unlike d15's per-doc distinct): the island algebra
    # needs every alignment; windows still ship as 60-bit md5 longs
    p = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(toks) - 8), i -> struct(i AS pos,"
                " CAST(conv(substr(md5(concat_ws(' ', slice(toks, i+1, 8))), 1, 15),"
                " 16, 10) AS LONG) AS win))"
            )
        ).alias("w"),
    ).select("doc_id", F.col("w.pos").alias("pos"), F.col("w.win").alias("win"))
    p = materialize(p)  # 2 consumers: cross-doc support + the span probe
    dw = (
        p.select("doc_id", "win")
        .distinct()
        .groupBy("win")
        .agg(F.count("*").alias("nd"))
        .where(F.col("nd") > 1)
        .select("win")
    )
    cov = (
        p.join(dw, "win", "left_semi")
        .select("doc_id", F.explode(F.sequence(F.col("pos"), F.col("pos") + 7)).alias("tok"))
        .distinct()
    )
    grp = F.col("tok") - F.row_number().over(
        Window.partitionBy("doc_id").orderBy("tok")
    )
    sp = (
        cov.select("doc_id", "tok", grp.alias("grp"))
        .groupBy("doc_id", "grp")
        .agg(F.count("*").alias("len"))
    )
    per = sp.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_spans"),
        F.max("len").cast("long").alias("max_span_tokens"),
        F.sum("len").cast("long").alias("dup_tokens"),
    )
    dtok = F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("long")
    return base.join(per, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce(F.col("n_spans"), F.lit(0)).cast("long").alias("n_spans"),
        F.coalesce(F.col("max_span_tokens"), F.lit(0))
        .cast("long")
        .alias("max_span_tokens"),
        dtok.alias("dup_tokens"),
        F.round(dtok / F.col("n_tokens"), 6).alias("dup_token_frac"),
    )


# --- D23: exact-first dedup cascade (the production ordering, measured) --------------
# The sf1 insurance probe (SURVEY §6, round 13) caught d4's cost face:
# on a duplication-heavy 10x corpus (verbatim-replicated docs — the
# realistic web-scale shape) d4's CPU grew 50.6x for 10x data, because
# identical docs share every band signature and LSH pair enumeration is
# quadratic IN THE CLUSTER SIZE. Production pipelines (CCNet, RefinedWeb,
# Lee et al.) therefore run the cascade: exact-dedup FIRST (hash groups,
# one representative each), then MinHash-LSH near-dup over the
# representatives only — exact-dup clusters collapse to one node before
# any pair is enumerated, restoring linear scaling while finding the
# same near-dup structure. Per source: the full drop ledger of both
# stages. Survivor policy is deterministic everywhere: exact groups keep
# min(doc_id); a representative is near-dropped iff a verified pair
# (jaccard >= 0.5) links it to a SMALLER representative.
@query(
    "d23_dedup_cascade",
    oracle=f"""
    WITH {toks_cte()},
    {cascade_ctes()},
    cls AS (SELECT f.doc_id, f.source, g.rep FROM fps f JOIN grp g USING (fp))
    SELECT {cascade_ledger_sql('n.rep')}
    FROM cls c LEFT JOIN near n ON n.rep = c.doc_id
    GROUP BY c.source
    """,
)
def d23_dedup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    cls, near = exact_then_near(docs)
    return cascade_ledger(cls.join(near, cls.doc_id == near.near_rep, "left"), "near_rep")


# --- EP13: cascade-then-budget release roadmap --------------------------------------
# The realistic release sequence the round-13 additions compose: run the
# exact-first dedup cascade (d23 — the only viable ordering at 100 TB,
# per SCALE_PROBE_r13), then split the training budget over the
# SURVIVING per-source token mass with mix9's integer-exact 4-epoch
# water-filling. ep10 gated on leakage/contamination; this is the other
# release face — dedup changes the mixture (a source whose docs were
# mostly copies loses cap headroom), and the roadmap must be computed
# AFTER the drop, not before. One shingle/band build (the d23 plan),
# one tokenize pass over survivors, then |sources|-sized algebra; every
# float is one division of two BIGINTs (the ep9 contract, with mix9's
# zero-token epochs guard).
@query(
    "ep13_dedup_budget_roadmap",
    oracle=f"""
    WITH {toks_cte()},
    {cascade_ctes()},
    survivors AS (
      SELECT f.doc_id, f.source
      FROM fps f JOIN grp g USING (fp)
      WHERE f.doc_id = g.rep
        AND NOT EXISTS (SELECT 1 FROM near n WHERE n.rep = f.doc_id)
    ),
    per_src AS (
      SELECT s.source,
             count(*) AS n_survivors,
             CAST(sum(len(t.toks)) AS BIGINT) AS n_tokens,
             CAST(4 * sum(len(t.toks)) AS BIGINT) AS cap_tokens
      FROM survivors s JOIN toks t USING (doc_id)
      GROUP BY s.source
    ),
    {WATERFILL_CTES}
    {waterfill_select('m.source', 'm.n_survivors')}
    """,
)
def ep13_dedup_budget_roadmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    cls, near = exact_then_near(docs)
    survivors = (
        cls.where(F.col("doc_id") == F.col("rep"))
        .join(near, F.col("doc_id") == F.col("near_rep"), "left_anti")
        .select("doc_id", "source")
    )
    per_src = materialize(
        survivors.join(docs.select("doc_id", "text"), "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_survivors"),
            F.sum(token_count(F.col("text"))).cast("long").alias("n_tokens"),
            (F.lit(4) * F.sum(token_count(F.col("text"))))
            .cast("long")
            .alias("cap_tokens"),
        )
    )  # |sources| rows; totals + window + level reuse it
    return waterfill(per_src)


# --- D24: exact-substring span SCRUB (the transform d22's report feeds) --------------
# d22 REPORTS the maximal duplicated token spans; Lee et al. 2022 §4
# actually REMOVE them from the corpus. d24 is that removal, under
# cur6's proven byte-exact reassembly discipline at the span (stride-1
# 8-token window) grain: a window duplicated across >1 doc keeps its
# FIRST occurrence (keep_doc = min doc_id over docs containing it) and
# every token it covers is dropped from every OTHER doc; surviving
# tokens reassemble in original order and the md5 of the reassembled
# text is matched against the oracle — the fingerprint proves the scrub
# byte-exactly, not just the counts (the ledger: per doc, tokens
# removed/kept + fraction). Scale shape: the same O(corpus tokens)
# position stream as d22 with 60-bit md5 window keys, cross-doc support
# is one combinable groupBy(win) carrying (count, min doc), the removal
# explode is bounded to duplicated NON-KEEPER windows only, and
# reassembly is one per-doc sorted-positions aggregate joined back to
# the token table — per-doc data, never a value-keyed global sort. The
# in-doc filter is O(L·R) per doc (R = removed positions), bounded by
# document length — web docs are KBs, so this never owns the job.
@query(
    "d24_span_scrub",
    oracle=f"""
    WITH {toks_cte()},
    {span_scrub_ctes()},
    tokpos AS (
      SELECT doc_id, pos AS tpos, toks[pos + 1] AS tok_str
      FROM (SELECT doc_id, toks, unnest(range(0, L)) AS pos FROM t8)
    ),
    re AS (
      SELECT t.doc_id, string_agg(t.tok_str, ' ' ORDER BY t.tpos) AS kept_text
      FROM tokpos t
      WHERE NOT EXISTS (
        SELECT 1 FROM rem r WHERE r.doc_id = t.doc_id AND r.tok = t.tpos
      )
      GROUP BY t.doc_id
    )
    SELECT t.doc_id,
           CAST(t.L AS BIGINT) AS n_tokens,
           CAST(coalesce(rc.n_removed, 0) AS BIGINT) AS tokens_removed,
           CAST(t.L - coalesce(rc.n_removed, 0) AS BIGINT) AS tokens_kept,
           round(coalesce(rc.n_removed, 0) / t.L, 6) AS removed_frac,
           md5(coalesce(re.kept_text, '')) AS scrubbed_fp
    FROM t8 t LEFT JOIN re USING (doc_id) LEFT JOIN rc USING (doc_id)
    """,
)
def d24_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    t8 = materialize(
        docs.select("doc_id", tokenize(F.col("text")).alias("toks"))
        .where(F.size("toks") >= SPAN_WIDTH)
    )  # 2 consumers: the window stream + reassembly
    # d22's position stream → duplicated-window inventory → removed
    # positions: the shared pipeline (operators/dedup.span_scrub_removals),
    # factored once so the scrub semantics cannot diverge across
    # d24/ep14/st17 (r14 ADVICE)
    rem = span_scrub_removals(t8)
    rm = rem.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("tok")).alias("rm"),
        F.count("*").cast("long").alias("n_removed"),
    )
    nrem = F.coalesce("n_removed", F.lit(0)).cast("long")
    # ordered byte-exact reassembly: drop removed positions, keep the rest
    # in original order (rm is per-doc and bounded by doc length)
    kept_arr = F.expr("filter(toks, (x, i) -> rm IS NULL OR NOT array_contains(rm, i))")
    return (
        t8.join(rm, "doc_id", "left")
        .select(
            "doc_id",
            F.size("toks").cast("long").alias("n_tokens"),
            nrem.alias("tokens_removed"),
            (F.size("toks") - nrem).cast("long").alias("tokens_kept"),
            F.round(nrem / F.size("toks"), 6).alias("removed_frac"),
            F.md5(F.concat_ws(" ", kept_arr)).alias("scrubbed_fp"),
        )
    )


# --- EP14: scrub-then-budget release roadmap (d24 ∘ mix9) ----------------------------
# ep13 re-budgets after the cascade DROPS whole documents; d24's span
# scrub is the other way dedup changes the mixture — it SHRINKS
# documents in place (Lee et al. remove the duplicated spans, they
# don't drop the doc), so a source whose docs are stitched from shared
# boilerplate loses token mass without losing a single doc, and the
# 4-epoch caps must be computed on the POST-SCRUB mass or the roadmap
# over-allocates exactly the duplicated bytes the scrub removed. Per
# source: the before/removed/after token ledger, then mix9's
# integer-exact water-fill over the surviving mass. Docs under 8 tokens
# carry no window and pass through unscrubbed — the budget runs over
# the WHOLE corpus, not d24's >= 8-token report universe. Scale shape:
# d24's O(corpus tokens) position stream (counts only — no reassembly
# join here), one combinable per-source aggregate, then |sources|-sized
# water-fill algebra; every float is one division of two BIGINTs.
@query(
    "ep14_scrub_budget_roadmap",
    oracle=f"""
    WITH {toks_cte()},
    {span_scrub_ctes()},
    base AS (
      SELECT t.doc_id, d.source, len(t.toks) AS L
      FROM toks t JOIN documents d USING (doc_id)
    ),
    per_src AS (
      SELECT b.source,
             count(*) AS n_docs,
             CAST(sum(b.L) AS BIGINT) AS tokens_before,
             CAST(sum(coalesce(rc.n_removed, 0)) AS BIGINT) AS tokens_removed,
             CAST(sum(b.L - coalesce(rc.n_removed, 0)) AS BIGINT) AS n_tokens,
             CAST(4 * sum(b.L - coalesce(rc.n_removed, 0)) AS BIGINT) AS cap_tokens
      FROM base b LEFT JOIN rc ON rc.doc_id = b.doc_id
      GROUP BY b.source
    ),
    {WATERFILL_CTES}
    {waterfill_select(
        'm.source', 'm.n_docs', 'm.tokens_before', 'm.tokens_removed',
        'round(CASE WHEN m.tokens_before = 0 THEN 0.0'
        ' ELSE m.tokens_removed / m.tokens_before END, 6) AS removed_frac',
    )}
    """,
)
def ep14_scrub_budget_roadmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    toks = materialize(docs.select(
        "doc_id", "source", tokenize(F.col("text")).alias("toks")
    ))  # 2 consumers: the window stream + the corpus mass
    t8 = toks.where(F.size("toks") >= SPAN_WIDTH)
    # d24's removal pipeline, counts only — no reassembly join here
    rc = span_scrub_removals(t8).groupBy("doc_id").agg(
        F.count("*").alias("n_removed")
    )
    nrem = F.coalesce("n_removed", F.lit(0))
    per_src = materialize(
        toks.join(rc, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.size("toks")).cast("long").alias("tokens_before"),
            F.sum(nrem).cast("long").alias("tokens_removed"),
            F.sum(F.size("toks") - nrem).cast("long").alias("n_tokens"),
            (F.lit(4) * F.sum(F.size("toks") - nrem)).cast("long").alias("cap_tokens"),
        )
        .select(
            "source",
            "n_docs",
            "tokens_before",
            "tokens_removed",
            F.round(
                F.when(F.col("tokens_before") == 0, F.lit(0.0)).otherwise(
                    F.col("tokens_removed") / F.col("tokens_before")
                ),
                6,
            ).alias("removed_frac"),
            "n_tokens",
            "cap_tokens",
        )
    )  # |sources| rows; totals + window + level reuse it
    return waterfill(per_src)


# --- D25: cascade with the QUALITY survivor policy (d23 ∘ cur2) ----------------------
# d23 keeps min(doc_id) everywhere — canonical, but not what production
# does: CCNet-style pipelines keep the BEST COPY. d25 wires d23's
# exact-first cascade through cur2's survivor policy AT BOTH STAGES.
# Stage 1 matters more than it looks: the exact fingerprint is the
# canonical TOKEN stream (punctuation/case/whitespace-insensitive), but
# quality_score's punct_ratio reads the RAW text — so an exact group
# routinely contains a punctuation-noisy copy and a clean copy of the
# same token stream (verbatim-after-normalization re-posts, the most
# common duplicate class), and min(doc_id) would keep whichever arrived
# first. Each exact group therefore keeps its quality-argmax member
# (tie-break min doc_id). Stage 2: verified near-dup pairs among the
# representatives are closed into connected components (cur2's grouping
# — pair (a,b) + (b,c) must collapse to ONE survivor even when (a,c)
# was never emitted) and each component keeps its quality-argmax member
# (same tie-break). Per source: the full two-stage drop ledger plus the
# best surviving quality. Group sizes are policy-independent, so the
# GLOBAL exact-drop count still closes against d23 (pinned); per-source
# attribution may shift when a group spans sources and the best copy
# lives elsewhere. Scale shape: d23's (one shingle/band build over
# representatives only, candidate-scoped verification) plus cur2's
# O(log diameter) label propagation over the verified-pair graph —
# components are near-dup clusters, tiny by construction after the
# exact stage collapsed the verbatim mass; the argmax at BOTH stages is
# one combinable groupBy carrying a (q, -doc_id)-max struct (r15: stage
# 2 dropped its component-partitioned window so no pathological giant
# component rides a hot-key window funnel).
@query(
    "d25_cascade_quality_survivors",
    oracle=f"""
    WITH RECURSIVE {toks_cte()},
    {quality_cte()},
    {FPS_CTE},
    fq AS (
      SELECT f.doc_id, f.source, f.fp, q.quality_score AS q
      FROM fps f JOIN qual q ON q.doc_id = f.doc_id
    ),
    grp AS (
      SELECT fp, (array_agg(doc_id ORDER BY q DESC, doc_id ASC))[1] AS rep
      FROM fq GROUP BY fp
    ),
    cls AS (
      SELECT f.doc_id, f.source, g.rep, f.q
      FROM fq f JOIN grp g USING (fp)
    ),
    {candidates_ctes(REP_TOKS)},
    {JACCARD_CTES},
    {NEAR_PAIRS_CTE},
    {closure_ctes()},
    comp AS (SELECT node AS doc_id, min(label) AS component_id FROM reach GROUP BY node),
    membered AS (
      SELECT c.doc_id, coalesce(cp.component_id, c.doc_id) AS component_id, c.q
      FROM cls c LEFT JOIN comp cp ON cp.doc_id = c.doc_id
      WHERE c.doc_id = c.rep
    ),
    surv AS (
      SELECT component_id,
             (array_agg(doc_id ORDER BY q DESC, doc_id ASC))[1] AS survivor
      FROM membered GROUP BY component_id
    ),
    nd AS (
      SELECT m.doc_id FROM membered m JOIN surv s USING (component_id)
      WHERE m.doc_id <> s.survivor
    )
    SELECT {cascade_ledger_sql('n.doc_id')},
           round(max(CASE WHEN c.doc_id = c.rep AND n.doc_id IS NULL
                          THEN c.q END), 6) AS best_survivor_quality
    FROM cls c LEFT JOIN nd n ON n.doc_id = c.doc_id
    GROUP BY c.source
    """,
)
def d25_cascade_quality_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    # stage 1: d23's exact groups, but each keeps its QUALITY-argmax
    # member (the fingerprint is token-normalized while punct_ratio reads
    # raw text, so a group can hold a noisy and a clean copy of the same
    # token stream — min doc_id would keep whichever arrived first).
    # Staged shared-tokenize path: ONE tokenize feeds both the quality
    # stats and the fingerprint (the inline forms carried ~7 copies; r16).
    st = with_quality_ratios(docs.select("doc_id", "source", "text"), keep_tokens=True)
    st = with_fingerprint_pair(st, "fp", "_qs_toks")
    scored = materialize(st.select(
        "doc_id",
        "source",
        quality_score_from_ratios(F.col("_qs_sw"), F.col("_qs_pr"), F.col("_qs_mwl")).alias("q"),
        "fp",
    ))  # 2 consumers: group build + per-doc classification
    # combinable argmax: lexicographic max of (q, -doc_id) ≡ the oracle's
    # ORDER BY q DESC, doc_id ASC — one map-side-combinable groupBy, no
    # fp-partitioned window
    grp = (
        scored.groupBy("fp")
        .agg(
            F.max(
                F.struct(F.col("q").alias("q"), (-F.col("doc_id")).alias("nid"))
            ).alias("best")
        )
        .select("fp", (-F.col("best.nid")).cast("long").alias("rep"))
    )
    cls = scored.join(grp, "fp").select("doc_id", "source", "q", "rep")
    # stage 2: verified near-dup pairs among representatives, closed into
    # components; each component keeps its quality-argmax member
    comp = connected_components(representative_near_pairs(docs, grp))
    membered = (
        cls.where(F.col("doc_id") == F.col("rep"))
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component_id", "doc_id").alias("component_id"),
            "q",
        )
    )
    # the same combinable (q, -doc_id)-max struct as stage 1 — NOT a
    # component-partitioned window: components are tiny after the exact
    # stage, but a pathological giant near-dup component (templated spam
    # surviving exact dedup) must not ride a hot-key window funnel
    # (VERDICT r14). The survivor table is component-sized, so the
    # back-join broadcasts.
    surv = (
        membered.groupBy("component_id")
        .agg(
            F.max(
                F.struct(F.col("q").alias("q"), (-F.col("doc_id")).alias("nid"))
            ).alias("best")
        )
        .select("component_id", (-F.col("best.nid")).cast("long").alias("survivor"))
    )
    near_dropped = (
        membered.join(surv, "component_id")
        .where(F.col("doc_id") != F.col("survivor"))
        .select(F.col("doc_id").alias("nd"))
    )
    is_survivor = (F.col("doc_id") == F.col("rep")) & F.col("nd").isNull()
    return cascade_ledger(
        cls.join(near_dropped, cls.doc_id == near_dropped.nd, "left"),
        "nd",
        F.round(F.max(F.when(is_survivor, F.col("q"))), 6).alias("best_survivor_quality"),
    )


# --- D26: cross-source boilerplate CONTAGION matrix ----------------------------------
# d22/d24 report and remove duplicated spans; neither says WHERE the
# boilerplate comes from. For a mixture owner the actionable question is
# which source PAIRS share duplicated windows (a template farm syndicating
# into two crawls, a wiki mirrored into a subcorpus) — that decides
# whether to drop a source, not just scrub its docs. Per unordered source
# pair (src_a < src_b): the count of DISTINCT 8-token windows present in
# at least one doc of each side, each side's distinct-window vocabulary
# size, and the shared fraction of each. Scale shape: ONE O(corpus
# tokens) position stream with `source` carried through the projection
# (span_window_stream(keep=...) — joining source back onto the stream
# would shuffle the whole stream on doc_id), one combinable
# groupBy(win).collect_set(source) whose map-side partials dedupe
# per-source repeats (the set is bounded by |sources|, a taxonomy of
# tens–hundreds, NOT corpus-sized), pair expansion bounded by
# pairs(|srcs(win)|) ≤ S²/2 only for universal boilerplate, and a
# broadcast of the |sources|-row totals. A million-source taxonomy
# (per-domain) would make the universal-window face quadratic in S —
# at that grain this report should run on a coarsened taxonomy, which
# is what a mixture owner allocates over anyway.
@query(
    "d26_boilerplate_contagion",
    oracle=f"""
    WITH {toks_cte()},
    {span_scrub_ctes()},
    sw AS (
      SELECT DISTINCT d.source, p.win
      FROM p JOIN documents d USING (doc_id)
    ),
    tot AS (SELECT source, count(*) AS n_windows FROM sw GROUP BY source),
    pr AS (
      SELECT a.source AS src_a, b.source AS src_b,
             count(*) AS shared_windows
      FROM sw a JOIN sw b ON a.win = b.win AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT pr.src_a, pr.src_b,
           CAST(pr.shared_windows AS BIGINT) AS shared_windows,
           CAST(ta.n_windows AS BIGINT) AS windows_a,
           CAST(tb.n_windows AS BIGINT) AS windows_b,
           round(pr.shared_windows / ta.n_windows, 6) AS share_a,
           round(pr.shared_windows / tb.n_windows, 6) AS share_b
    FROM pr
    JOIN tot ta ON ta.source = pr.src_a
    JOIN tot tb ON tb.source = pr.src_b
    """,
)
def d26_boilerplate_contagion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    t8 = docs.select(
        "doc_id", "source", tokenize(F.col("text")).alias("toks")
    ).where(F.size("toks") >= SPAN_WIDTH)
    # (win, sorted sources) — collect_set's map-side partials absorb all
    # per-source repeats before the shuffle; sort_array fixes the pair
    # orientation (src_a < src_b) to match the oracle's a.source < b.source
    per_win = materialize(  # 2 consumers: per-source totals + pair expansion
        span_window_stream(t8, keep=("source",))
        .groupBy("win")
        .agg(F.sort_array(F.collect_set("source")).alias("srcs"))
    )
    tot = per_win.select(F.explode("srcs").alias("source")).groupBy("source").agg(
        F.count("*").cast("long").alias("n_windows")
    )
    pair = F.expr(
        "flatten(transform(srcs, (a, i) ->"
        " transform(slice(srcs, i + 2, size(srcs)),"
        " b -> struct(a AS src_a, b AS src_b))))"
    )
    pairs = (
        per_win.where(F.size("srcs") > 1)
        .select(F.explode(pair).alias("p"))
        .groupBy(F.col("p.src_a").alias("src_a"), F.col("p.src_b").alias("src_b"))
        .agg(F.count("*").cast("long").alias("shared_windows"))
    )
    ta = tot.select(F.col("source").alias("src_a"), F.col("n_windows").alias("windows_a"))
    tb = tot.select(F.col("source").alias("src_b"), F.col("n_windows").alias("windows_b"))
    return (
        pairs.join(F.broadcast(ta), "src_a")
        .join(F.broadcast(tb), "src_b")
        .select(
            "src_a",
            "src_b",
            "shared_windows",
            "windows_a",
            "windows_b",
            F.round(F.col("shared_windows") / F.col("windows_a"), 6).alias("share_a"),
            F.round(F.col("shared_windows") / F.col("windows_b"), 6).alias("share_b"),
        )
    )


# --- D27: per-source CROSS-SOURCE exposure (token grain) -----------------------------
# d26 gives the source-PAIR structure at window grain; the per-source
# decision number is token-grain EXPOSURE: how much of a source's token
# mass is covered by at least one 8-token window that also appears in a
# DIFFERENT source. High exposure means the source's content is largely
# syndicated boilerplate — scrubbing or dropping it loses little unique
# mass; low exposure means its duplication (if any) is internal. Runs
# over the WHOLE corpus (short docs carry no window and pass through
# with zero exposure — same universe rule as ep14). Scale shape: the
# d24 position stream with `source` carried through the projection,
# materialized once for its two consumers (the multi-source-window
# inventory + the coverage probe), one combinable
# groupBy(win).count_distinct(source), a win-keyed equi-join bounded to
# multi-source windows only, and the same bounded covered-position
# explode as d24 (≤ 8 × corpus tokens, proportional to CROSS-source
# duplicated coverage — strictly ≤ d24's all-duplication explode).
@query(
    "d27_cross_source_exposure",
    oracle=f"""
    WITH {toks_cte()},
    {span_scrub_ctes()},
    {exposure_ctes()},
    es AS (
      SELECT source, count(*) AS exposed_tokens,
             count(DISTINCT doc_id) AS n_exposed_docs
      FROM exp GROUP BY source
    ),
    base AS (
      SELECT d.source, count(*) AS n_docs,
             CAST(sum(len(t.toks)) AS BIGINT) AS n_tokens
      FROM toks t JOIN documents d USING (doc_id)
      GROUP BY d.source
    )
    SELECT b.source,
           CAST(b.n_docs AS BIGINT) AS n_docs,
           b.n_tokens,
           CAST(coalesce(es.exposed_tokens, 0) AS BIGINT) AS exposed_tokens,
           CAST(coalesce(es.n_exposed_docs, 0) AS BIGINT) AS n_exposed_docs,
           round(CASE WHEN b.n_tokens = 0 THEN 0.0
                      ELSE coalesce(es.exposed_tokens, 0) / b.n_tokens END, 6)
             AS exposure_frac
    FROM base b LEFT JOIN es USING (source)
    """,
)
def d27_cross_source_exposure(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    toks = docs.select("doc_id", "source", tokenize(F.col("text")).alias("toks"))
    exposed = cross_source_exposure(toks.where(F.size("toks") >= SPAN_WIDTH))
    es = exposed.groupBy("source").agg(
        F.count("*").cast("long").alias("exposed_tokens"),
        F.count_distinct("doc_id").cast("long").alias("n_exposed_docs"),
    )
    base = toks.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.size("toks")).cast("long").alias("n_tokens"),
    )
    etok = F.coalesce("exposed_tokens", F.lit(0)).cast("long")
    return base.join(es, "source", "left").select(
        "source",
        "n_docs",
        "n_tokens",
        etok.alias("exposed_tokens"),
        F.coalesce("n_exposed_docs", F.lit(0)).cast("long").alias("n_exposed_docs"),
        F.round(
            F.when(F.col("n_tokens") == 0, F.lit(0.0)).otherwise(
                etok / F.col("n_tokens")
            ),
            6,
        ).alias("exposure_frac"),
    )


# --- D28: compaction-side arrival scrub (closes st17's scope hole) ------------------
# st17 scrubs each ARRIVING doc against the standing corpus only —
# cross-ARRIVAL duplication is deliberately out of scope there (the
# admission-discipline invariant: micro-batch boundaries must not change
# the answer), deferred to "the next compaction". d28 IS that compaction:
# scrub the accumulated arrival log (doc_id % 2 = 1, st17's exact
# arrival universe) against the standing corpus (% 2 = 0) AND against
# itself with keep-first among arrivals, corpus always winning. The
# ledger splits removals into removed_vs_corpus (by construction
# EXACTLY st17's per-source tokens_removed — the reconciliation the
# compaction owes the stream, pinned in tests) and
# removed_cross_arrival (the NEW mass only the compaction can see:
# positions covered solely by windows another arrival owns). Scale
# shape: corpus inventory = distinct 60-bit longs built once; the
# arrival position stream materialized once for its three consumers
# (dup groupBy + two removal probes); both removal explodes are bounded
# to duplicated-window coverage (≤ 8 × arrival tokens); the shared
# span-scrub operators carry the semantics so a fix lands once across
# d24/ep14/st17/d28.
@query(
    "d28_compaction_arrival_scrub",
    oracle=materialized_ctes(
        f"""
    WITH {toks_cte()},
    {span_scrub_ctes()},
    cw AS (SELECT DISTINCT win FROM p WHERE doc_id % 2 = 0),
    ap AS (SELECT doc_id, pos, win FROM p WHERE doc_id % 2 = 1),
    adw AS (
      SELECT win, min(doc_id) AS keep_doc
      FROM (SELECT DISTINCT doc_id, win FROM ap)
      WHERE win NOT IN (SELECT win FROM cw)
      GROUP BY win HAVING count(*) > 1
    ),
    rem_c AS (
      SELECT DISTINCT doc_id, tok FROM (
        SELECT ap.doc_id, unnest(range(ap.pos, ap.pos + {SPAN_WIDTH})) AS tok
        FROM ap JOIN cw USING (win)
      )
    ),
    rem_x AS (
      SELECT doc_id, tok FROM (
        SELECT DISTINCT doc_id, tok FROM (
          SELECT ap.doc_id, unnest(range(ap.pos, ap.pos + {SPAN_WIDTH})) AS tok
          FROM ap JOIN adw USING (win) WHERE ap.doc_id <> adw.keep_doc
        )
      ) EXCEPT SELECT doc_id, tok FROM rem_c
    ),
    cc AS (SELECT doc_id, count(*) AS n_c FROM rem_c GROUP BY doc_id),
    cx AS (SELECT doc_id, count(*) AS n_x FROM rem_x GROUP BY doc_id),
    arr AS (
      SELECT t.doc_id, d.source, len(t.toks) AS L
      FROM toks t JOIN documents d USING (doc_id)
      WHERE t.doc_id % 2 = 1
    )
    SELECT a.source,
           count(*) AS n_docs,
           CAST(sum(a.L) AS BIGINT) AS tokens_before,
           CAST(sum(coalesce(c.n_c, 0)) AS BIGINT) AS removed_vs_corpus,
           CAST(sum(coalesce(x.n_x, 0)) AS BIGINT) AS removed_cross_arrival,
           CAST(sum(coalesce(c.n_c, 0) + coalesce(x.n_x, 0)) AS BIGINT)
             AS tokens_removed,
           CAST(sum(a.L - coalesce(c.n_c, 0) - coalesce(x.n_x, 0)) AS BIGINT)
             AS tokens_kept,
           round(sum(coalesce(c.n_c, 0) + coalesce(x.n_x, 0))
                 / CAST(sum(a.L) AS DOUBLE), 6) AS removed_frac
    FROM arr a
    LEFT JOIN cc c ON c.doc_id = a.doc_id
    LEFT JOIN cx x ON x.doc_id = a.doc_id
    GROUP BY a.source
    """,
        "toks", "p", "ap", "cw", "rem_c",
    ),
)
def d28_compaction_arrival_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    toks = docs.select("doc_id", "source", tokenize(F.col("text")).alias("toks"))
    corpus_t8 = toks.where(
        (F.col("doc_id") % 2 == 0) & (F.size("toks") >= SPAN_WIDTH)
    ).select("doc_id", "toks")
    arr_toks = toks.where(F.col("doc_id") % 2 == 1)
    arr_t8 = arr_toks.where(F.size("toks") >= SPAN_WIDTH).select("doc_id", "toks")

    # standing inventory: distinct corpus window keys (st17's shape); the
    # -1 sentinel keeper matches no arriving doc_id (corpus always wins)
    cw = materialize(span_window_stream(corpus_t8).select("win").distinct())
    # 3 consumers: cross-arrival dup groupBy + two removal probes
    ap = materialize(span_window_stream(arr_t8))

    cw_k = cw.withColumn("keep_doc", F.lit(-1).cast("long"))
    # cross-arrival duplicated windows NOT already owned by the corpus:
    # keep-first among arrivals (min doc_id), the d24 batch policy
    adw = duplicated_windows(ap).join(cw, "win", "left_anti")
    rem_c = materialize(span_removed_positions(ap, cw_k))  # 2 consumers: count + anti
    rem_x = span_removed_positions(ap, adw).join(
        rem_c, ["doc_id", "tok"], "left_anti"
    )
    cc = rem_c.groupBy("doc_id").agg(F.count("*").alias("n_c"))
    cx = rem_x.groupBy("doc_id").agg(F.count("*").alias("n_x"))
    nc, nx = F.coalesce("n_c", F.lit(0)), F.coalesce("n_x", F.lit(0))
    per_doc = (
        arr_toks.select("doc_id", "source", F.size("toks").alias("L"))
        .join(cc, "doc_id", "left")
        .join(cx, "doc_id", "left")
    )
    removed = F.sum(nc + nx)
    return per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("L").cast("long").alias("tokens_before"),
        F.sum(nc).cast("long").alias("removed_vs_corpus"),
        F.sum(nx).cast("long").alias("removed_cross_arrival"),
        removed.cast("long").alias("tokens_removed"),
        F.sum(F.col("L") - nc - nx).cast("long").alias("tokens_kept"),
        F.round(removed / F.sum("L").cast("double"), 6).alias("removed_frac"),
    )


# --- EP15: source-drop decision composite -------------------------------------------
# d26/d27 produce the drop-the-source EVIDENCE (who shares boilerplate
# with whom; how much of each source's token mass is syndicated); ep15 is
# the DECISION table a mixture owner reads next: for each candidate
# source, what do we actually gain by dropping it? Per source: its d27
# cross-source exposure (exposed_tokens/exposure_frac — closure against
# d27 pinned in tests), the unique token mass that would be lost
# (tokens no other source's windows cover), and the RECOMPUTED mix9
# water-fill over the remaining mixture — post-drop budget
# (B' = ⌊(T − T_s)/2⌋, the mix9 half-epoch rule on the remaining
# corpus), how many remaining sources cap out, and the new uncapped
# per-source level vs the baseline level (level_gain: dropping a
# low-unique-mass syndicated source frees budget the remaining sources
# absorb). INTEGER-EXACT throughout (the ep9/mix9 contract): capped-set
# membership is decided by BIGINT comparisons; every float output is ONE
# division of BIGINTs, and level_gain subtracts two such bit-identical
# doubles (the ep11-audited a−b shape). Scale shape: ONE O(corpus
# tokens) position-stream build (d27's exact construction, source
# carried through the projection) feeds the exposure side; everything
# after base is |sources|-row algebra — the S×(S−1) candidate expansion
# is a broadcast nested-loop over a frame bounded by the source
# taxonomy (tens–hundreds), the same boundedness contract as d26's pair
# expansion and mix9's partitionBy(lit(0)) window.
@query(
    "ep15_source_drop_impact",
    oracle=materialized_ctes(
        f"""
    WITH {toks_cte()},
    {span_scrub_ctes()},
    {exposure_ctes()},
    es AS (SELECT source, CAST(count(*) AS BIGINT) AS exposed_tokens FROM exp GROUP BY source),
    base AS (
      SELECT d.source, CAST(sum(len(t.toks)) AS BIGINT) AS n_tokens,
             CAST(4 * sum(len(t.toks)) AS BIGINT) AS cap_tokens
      FROM toks t JOIN documents d USING (doc_id) GROUP BY d.source
    ),
    tot AS (
      SELECT CAST(sum(n_tokens) AS BIGINT) AS t_all, count(*) AS n_all FROM base
    ),
    branked AS (
      SELECT b.*, t.t_all, t.n_all,
             row_number() OVER (ORDER BY b.cap_tokens, b.source) AS i,
             CAST(sum(b.cap_tokens) OVER (ORDER BY b.cap_tokens, b.source
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS prefix
      FROM base b CROSS JOIN tot t
    ),
    bmarked AS (
      SELECT r.*,
             (r.cap_tokens * (r.n_all - r.i + 1)
              <= (r.t_all // 2) - (r.prefix - r.cap_tokens)) AS is_capped
      FROM branked r
    ),
    blvl AS (
      SELECT CAST(coalesce(sum(CASE WHEN is_capped THEN cap_tokens END), 0) AS BIGINT)
               AS b_p_k,
             CAST(sum(CASE WHEN is_capped THEN 1 ELSE 0 END) AS BIGINT) AS b_k,
             CAST(max(t_all) AS BIGINT) AS t_all,
             CAST(max(n_all) AS BIGINT) AS n_all
      FROM bmarked
    ),
    cnd AS (
      SELECT c.source AS dropped, c.n_tokens AS d_tokens,
             b.source, b.cap_tokens
      FROM base c JOIN base b ON b.source <> c.source
    ),
    rranked AS (
      SELECT r.*, t.t_all, t.n_all,
             CAST((t.t_all - r.d_tokens) // 2 AS BIGINT) AS b_after,
             row_number() OVER (PARTITION BY r.dropped
                                ORDER BY r.cap_tokens, r.source) AS i,
             CAST(sum(r.cap_tokens) OVER (PARTITION BY r.dropped
                  ORDER BY r.cap_tokens, r.source
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS prefix
      FROM cnd r CROSS JOIN tot t
    ),
    rmarked AS (
      SELECT r.*,
             (r.cap_tokens * ((r.n_all - 1) - r.i + 1)
              <= r.b_after - (r.prefix - r.cap_tokens)) AS is_capped
      FROM rranked r
    ),
    rlvl AS (
      SELECT dropped,
             CAST(max(b_after) AS BIGINT) AS budget_after,
             CAST(max(n_all) - 1 AS BIGINT) AS n_rem,
             CAST(coalesce(sum(CASE WHEN is_capped THEN cap_tokens END), 0) AS BIGINT)
               AS p_k,
             CAST(sum(CASE WHEN is_capped THEN 1 ELSE 0 END) AS BIGINT)
               AS n_capped_after
      FROM rmarked GROUP BY dropped
    )
    SELECT b.source,
           b.n_tokens,
           CAST(coalesce(es.exposed_tokens, 0) AS BIGINT) AS exposed_tokens,
           round(CASE WHEN b.n_tokens = 0 THEN 0.0
                      ELSE coalesce(es.exposed_tokens, 0) / b.n_tokens END, 6)
             AS exposure_frac,
           CAST(b.n_tokens - coalesce(es.exposed_tokens, 0) AS BIGINT)
             AS unique_tokens,
           r.budget_after,
           r.n_capped_after,
           round(CASE WHEN r.n_rem - r.n_capped_after = 0 THEN 0.0
                      ELSE (r.budget_after - r.p_k) / (r.n_rem - r.n_capped_after)
                 END, 6) AS level_after,
           round(CASE WHEN r.n_rem - r.n_capped_after = 0 THEN 0.0
                      ELSE (r.budget_after - r.p_k) / (r.n_rem - r.n_capped_after)
                 END
                 - CASE WHEN l.n_all - l.b_k = 0 THEN 0.0
                        ELSE ((l.t_all // 2) - l.b_p_k) / (l.n_all - l.b_k)
                   END, 6) AS level_gain
    FROM base b
    LEFT JOIN es USING (source)
    JOIN rlvl r ON r.dropped = b.source
    CROSS JOIN blvl l
    """,
        "toks", "p", "ps", "exp", "base",
    ),
)
def ep15_source_drop_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    toks = docs.select("doc_id", "source", tokenize(F.col("text")).alias("toks"))
    exposed = cross_source_exposure(toks.where(F.size("toks") >= SPAN_WIDTH))
    es = exposed.groupBy("source").agg(
        F.count("*").cast("long").alias("exposed_tokens")
    )
    base = materialize(
        toks.groupBy("source")
        .agg(
            F.sum(F.size("toks")).cast("long").alias("n_tokens"),
            (F.lit(4) * F.sum(F.size("toks"))).cast("long").alias("cap_tokens"),
        )
    )  # |sources| rows; totals/baseline/candidates reuse it
    tot = base.agg(
        F.sum("n_tokens").cast("long").alias("t_all"),
        F.count("*").alias("n_all"),
    )
    # baseline water-fill level over the full mixture (mix9's algebra)
    w0 = Window.partitionBy(F.lit(0)).orderBy("cap_tokens", "source")
    branked = base.crossJoin(F.broadcast(tot)).select(  # singleton totals row
        "source",
        "cap_tokens",
        "t_all",
        "n_all",
        F.row_number().over(w0).alias("i"),
        F.sum("cap_tokens")
        .over(w0.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("prefix"),
    )
    bmarked = branked.withColumn(
        "is_capped",
        F.col("cap_tokens") * (F.col("n_all") - F.col("i") + 1)
        <= F.expr("t_all div 2") - (F.col("prefix") - F.col("cap_tokens")),
    )
    blvl = bmarked.agg(
        F.coalesce(F.sum(F.when(F.col("is_capped"), F.col("cap_tokens"))), F.lit(0))
        .cast("long")
        .alias("b_p_k"),
        F.sum(F.when(F.col("is_capped"), 1).otherwise(0)).cast("long").alias("b_k"),
        F.max("t_all").cast("long").alias("t_all"),
        F.max("n_all").cast("long").alias("n_all"),
    )
    # per-candidate post-drop water-fill: S×(S−1) rows, base broadcast —
    # a taxonomy-bounded BNLJ (tens–hundreds of sources), never corpus data
    cand = base.select(
        F.col("source").alias("dropped"), F.col("n_tokens").alias("d_tokens")
    )
    remx = cand.join(F.broadcast(base), F.col("source") != F.col("dropped"))
    wd = Window.partitionBy("dropped").orderBy("cap_tokens", "source")
    rranked = remx.crossJoin(F.broadcast(tot)).select(
        "dropped",
        "d_tokens",
        "source",
        "cap_tokens",
        "n_all",
        F.expr("(t_all - d_tokens) div 2").cast("long").alias("b_after"),
        F.row_number().over(wd).alias("i"),
        F.sum("cap_tokens")
        .over(wd.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("prefix"),
    )
    rmarked = rranked.withColumn(
        "is_capped",
        F.col("cap_tokens") * ((F.col("n_all") - 1) - F.col("i") + 1)
        <= F.col("b_after") - (F.col("prefix") - F.col("cap_tokens")),
    )
    rlvl = rmarked.groupBy("dropped").agg(
        F.max("b_after").cast("long").alias("budget_after"),
        (F.max("n_all") - 1).cast("long").alias("n_rem"),
        F.coalesce(F.sum(F.when(F.col("is_capped"), F.col("cap_tokens"))), F.lit(0))
        .cast("long")
        .alias("p_k"),
        F.sum(F.when(F.col("is_capped"), 1).otherwise(0))
        .cast("long")
        .alias("n_capped_after"),
    )
    etok = F.coalesce("exposed_tokens", F.lit(0)).cast("long")
    lvl_den = F.col("n_rem") - F.col("n_capped_after")
    level_after = F.when(lvl_den == 0, F.lit(0.0)).otherwise(
        (F.col("budget_after") - F.col("p_k")) / lvl_den
    )
    base_den = F.col("n_all") - F.col("b_k")
    level_base = F.when(base_den == 0, F.lit(0.0)).otherwise(
        (F.expr("t_all div 2") - F.col("b_p_k")) / base_den
    )
    return (
        base.join(es, "source", "left")
        .join(rlvl, F.col("source") == F.col("dropped"))
        .crossJoin(F.broadcast(blvl))  # singleton baseline-level row
        .select(
            "source",
            "n_tokens",
            etok.alias("exposed_tokens"),
            F.round(
                F.when(F.col("n_tokens") == 0, F.lit(0.0)).otherwise(
                    etok / F.col("n_tokens")
                ),
                6,
            ).alias("exposure_frac"),
            (F.col("n_tokens") - etok).cast("long").alias("unique_tokens"),
            "budget_after",
            "n_capped_after",
            F.round(level_after, 6).alias("level_after"),
            F.round(level_after - level_base, 6).alias("level_gain"),
        )
    )


# --- DuckDB CTE-inlining guard over the heavy dedup oracles -------------------------
# DuckDB 1.0 inlines every non-recursive CTE into each consumer, so an
# oracle that references the shingle stream / full-Jaccard machinery
# from several consumers re-evaluates it per consumer — d20's inlined
# plan at sf1 spilled >80 GB of temp and filled the disk (measured; see
# oracle_fragments.materialized_ctes), and ep10 reproduced the same failure
# (785 s, disk full) with sh referenced six times. Every oracle below
# multi-references at least one of these fragments; materializing them
# is purely physical (results unchanged — re-verified at sf0.01/sf0.1
# after this rewrite) and bounds the oracle's memory at ONE evaluation
# per fragment. d20/d21 apply the same helper inline at their
# decorators, where their failure history is documented.
for _name in (
    "ep10_release_roadmap",
    "d4_minhash_dedup",
    "d8_jaccard_capped",
    "d10_neardup_components",
    "d17_lsh_precision",
    "d18_component_size_histogram",
    "cur2_component_survivors",
    "cur8_dedup_quality_interaction",
):
    ORACLE_SQL[_name] = materialized_ctes(
        ORACLE_SQL[_name],
        "toks", "sh", "mh", "bands", "cands", "jac", "inter", "sizes",
    )
