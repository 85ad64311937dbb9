"""Coverage for the remaining SURVEY §2 rows: multi-file CSV scan+union
(S3/S4), inline literal tables (S7), threshold predicates (P8), argmax
per group (A8's relational face), vocabulary intersection (U2), and the
beyond-reference grouping extensions (rollup) Spark gives for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io.sources import load_table, scratch_dir
from ..functions.text import tokenize
from ..operators.materialize import materialize
from ..operators.tfidf import doc_tokens
from .oracle_fragments import toks_cte
from .registry import ORACLE_SQL, query


# --- S3+S4: CSV sink → glob multi-file scan → implicit union ---------------------
# Reference: per-chunk write.csv then list.files+bind_rows consolidation
# (01_extract_features.R:423-436,487-488). Spark: partitioned CSV write,
# glob read — the union disappears into the multi-file scan.
@query(
    "s3_csv_chunk_roundtrip",
    oracle="""
    SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang
    """,
)
def s3_csv_chunk_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    out_dir = scratch_dir(spark, "chunks", sf_dir)
    # chunked sink (S4): 4 part-files, the reference's chunk_*.csv
    docs.repartition(4).write.mode("overwrite").option("header", "true").csv(out_dir)
    back = (
        spark.read.option("header", "true")
        .schema("doc_id long, lang string, n_chars long")
        .csv(os.path.join(out_dir, "part-*.csv"))  # S3: glob scan = union
    )
    return back.groupBy("lang").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars")
    )


# --- S7: inline literal table (the reference's test corpora) ---------------------
# Reference: tibble(PublicDescription=c(...)) (01_extract_features.R:520-526).
_FIXTURE = [
    (1, "energy battery power electric charging"),
    (2, "energy storage renewable power battery"),
    (3, "finance investment risk banking money"),
    (4, "stock markets economic growth inflation"),
    (5, "healthcare hospital treatment diagnosis"),
    (6, "medicine health doctor therapy"),
]


@query(
    "s7_inline_table",
    oracle="""
    WITH fixture(doc_id, text) AS (VALUES
      (1, 'energy battery power electric charging'),
      (2, 'energy storage renewable power battery'),
      (3, 'finance investment risk banking money'),
      (4, 'stock markets economic growth inflation'),
      (5, 'healthcare hospital treatment diagnosis'),
      (6, 'medicine health doctor therapy')
    ),
    tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM fixture)
    SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
    FROM tok GROUP BY term HAVING count(DISTINCT doc_id) > 1
    """,
)
def s7_inline_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    fixture = spark.createDataFrame(_FIXTURE, schema="doc_id int, text string")
    toks = doc_tokens(fixture)
    return (
        toks.groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df"))
        .where(F.col("df") > 1)
    )


# --- P8/F10: threshold predicates + conditional scalar ---------------------------
# Reference: coherence < threshold → split; sim > 0.9 → merge
# (02_build_models.R:544-547; 02_opt:871-874); ifelse conditional
# (01_extract_features.R:277-279).
@query(
    "p8_threshold_bands",
    oracle="""
    SELECT event_id,
           CASE WHEN value >= 150 THEN 'high'
                WHEN value >= 50 THEN 'mid'
                ELSE 'low' END AS band,
           CASE WHEN value >= 150 THEN value ELSE NULL END AS high_value
    FROM events
    """,
)
def p8_threshold_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.when(F.col("value") >= 150, "high")
        .when(F.col("value") >= 50, "mid")
        .otherwise("low")
        .alias("band"),
        F.when(F.col("value") >= 150, F.col("value")).alias("high_value"),
    )


# --- A8 (relational face): argmax per group via ranked window --------------------
# Reference: which.max over a distribution (02_build_models.R:363) — here
# "each user's dominant event_type", deterministic tie-break.
@query(
    "w4_argmax_per_group",
    oracle="""
    SELECT user_id, event_type AS dominant_type, n FROM (
      SELECT user_id, event_type, count(*) AS n,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY count(*) DESC, event_type ASC) AS rn
      FROM events GROUP BY user_id, event_type
    ) WHERE rn = 1
    """,
)
def w4_argmax_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    counts = e.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    w = Window.partitionBy("user_id").orderBy(F.desc("n"), F.asc("event_type"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("dominant_type"), "n")
    )


# --- U2: vocabulary intersection --------------------------------------------------
# Reference: intersect(dtm_vocab, lda_vocab) (04_cluster_refiner.R:195-207).
@query(
    "u2_vocab_intersection",
    oracle=r"""
    WITH en_terms AS (
      SELECT DISTINCT unnest(string_split(trim(regexp_replace(regexp_replace(lower(d.text),
        '[^a-z0-9\s\x0b]', '', 'g'), '[\s\x0b]+', ' ', 'g')), ' ')) AS term
      FROM documents d WHERE d.lang = 'en' AND d.text IS NOT NULL
    ),
    es_terms AS (
      SELECT DISTINCT unnest(string_split(trim(regexp_replace(regexp_replace(lower(d.text),
        '[^a-z0-9\s\x0b]', '', 'g'), '[\s\x0b]+', ' ', 'g')), ' ')) AS term
      FROM documents d WHERE d.lang = 'es' AND d.text IS NOT NULL
    )
    SELECT a.term FROM en_terms a JOIN es_terms b ON a.term = b.term
    WHERE a.term <> ''
    """,
)
def u2_vocab_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    en = doc_tokens(docs.where(F.col("lang") == "en")).select("term").distinct()
    es = doc_tokens(docs.where(F.col("lang") == "es")).select("term").distinct()
    return en.join(es, "term")


# --- G1: rollup (beyond reference — free from Spark, §2.5 note) ------------------
@query(
    "g1_rollup_totals",
    oracle="""
    SELECT lang, source, count(*) AS n_docs
    FROM documents GROUP BY ROLLUP (lang, source)
    """,
)
def g1_rollup_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.rollup("lang", "source").agg(F.count("*").alias("n_docs"))


# --- X5: corpus profile (exact distincts; approx variants are rows-only) ---------
@query(
    "x5_corpus_profile",
    oracle="""
    SELECT count(*) AS n_docs,
           count(DISTINCT lang) AS n_langs,
           count(DISTINCT source) AS n_sources,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars
    FROM documents
    """,
)
def x5_corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


# --- G2: pivot (long→wide per-user event-type counts) ------------------------------
# groupBy().pivot() with EXPLICIT pivot values: declaring the columns keeps
# the schema static (no pre-scan job for distinct values, and the 100-TB
# plan is a single hash aggregate with one output column per declared
# value — exactly a FILTERed-count aggregate, which is how the oracle
# states it).
@query(
    "g2_event_type_pivot",
    oracle="""
    SELECT user_id,
           count(*) FILTER (WHERE event_type = 'click')    AS n_click,
           count(*) FILTER (WHERE event_type = 'view')     AS n_view,
           count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
           count(*) FILTER (WHERE event_type = 'signup')   AS n_signup,
           count(*) FILTER (WHERE event_type = 'error')    AS n_error
    FROM events GROUP BY user_id
    """,
)
def g2_event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "signup", "error"]
    wide = events.groupBy("user_id").pivot("event_type", types).count()
    # pivot emits null for absent (user, type) combos; FILTER counts emit 0
    return wide.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in types],
    )


# --- S8: hive-partitioned parquet sink + partition-pruned scan --------------------
# THE bread-and-butter 100-TB layout: write partitioned by a low-card
# column, read back with a partition filter so the scan touches only the
# matching directories (PartitionFilters in the plan — asserted by
# tests/test_plan_shapes.py). The lang column round-trips through the
# directory name, not row data.
@query(
    "s8_partitioned_sink_roundtrip",
    oracle="""
    SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents WHERE lang = 'en' GROUP BY source
    """,
)
def s8_partitioned_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..io.sources import write_parquet

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "source", "n_chars")
    out_dir = scratch_dir(spark, "bylang", sf_dir)
    write_parquet(docs, out_dir, partition_by=["lang"])
    back = spark.read.parquet(out_dir).where(F.col("lang") == "en")
    return back.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars")
    )


# --- J6: range join against a band dimension --------------------------------------
# events.value joined to inline [lo, hi) bands — the range-predicate join
# (non-equi). The band table is broadcast (tiny by construction), so the
# plan is a BroadcastNestedLoopJoin whose inner loop is the band count:
# O(rows × bands) with zero shuffle, the right shape when the dimension
# is small. For band counts in the thousands the same query becomes an
# equi-join after bucketing value into floor(value/width) keys — p8 shows
# the expression form of that.
@query(
    "j6_range_band_join",
    oracle="""
    WITH bands(band, lo, hi) AS (VALUES
      ('low', 0.0, 100.0), ('mid', 100.0, 500.0), ('high', 500.0, 1e9)
    )
    SELECT b.band, count(*) AS n_events,
           round(CAST(sum(e.value) AS DOUBLE), 4) AS total_value
    FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
    GROUP BY b.band
    """,
)
def j6_range_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    bands = spark.createDataFrame(
        [("low", 0.0, 100.0), ("mid", 100.0, 500.0), ("high", 500.0, 1e9)],
        schema="band string, lo double, hi double",
    )
    return (
        events.join(
            F.broadcast(bands),
            (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")),
        )
        .groupBy("band")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value").cast("double"), 4).alias("total_value"),
        )
    )


# --- X8: sketch-based corpus profile (approx distinct + approx quantiles) ---------
# The constant-memory profile for when exact is too expensive: HLL++
# distinct counts (approx_count_distinct, rsd 1%) and GK-sketch quantiles
# (percentile_approx, accuracy 10000). Sketches are mergeable, so this
# aggregates with map-side partials and NO full sort / no two-phase
# distinct — the 100-TB form of x5/x7. Estimator-backed → rows-only
# driver check; accuracy vs the exact answers is pinned by
# tests/test_round5.py.
@query("x8_approx_profile")
def x8_approx_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.agg(
        F.count("*").alias("n_docs"),
        F.approx_count_distinct("source", rsd=0.01).alias("approx_sources"),
        F.approx_count_distinct("doc_id", rsd=0.01).alias("approx_docs"),
        F.percentile_approx("n_chars", 0.5, 10000).alias("approx_median_chars"),
        F.percentile_approx("n_chars", 0.9, 10000).alias("approx_p90_chars"),
    )


# --- T6: range-partitioned, within-partition-sorted export ------------------------
# repartitionByRange(doc_id) + sortWithinPartitions before the write: the
# globally-ordered file layout (file k holds a contiguous doc_id range,
# sorted inside) that gives readers min/max-pruned scans and
# merge-friendly files at 100 TB — Spark's sampled RangePartitioning
# replaces a single-partition global sort. The read-back aggregate proves
# the roundtrip is lossless; the plan test asserts the range exchange.
@query(
    "t6_range_partitioned_export",
    oracle="""
    SELECT CAST(floor(doc_id / 100) AS BIGINT) AS bucket,
           count(*) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS min_id,
           CAST(max(doc_id) AS BIGINT) AS max_id
    FROM documents GROUP BY 1
    """,
)
def t6_range_partitioned_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    out_dir = scratch_dir(spark, "ranged", sf_dir)
    (
        docs.repartitionByRange(8, "doc_id")
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite")
        .parquet(out_dir)
    )
    back = spark.read.parquet(out_dir)
    return back.groupBy(F.floor(F.col("doc_id") / 100).cast("long").alias("bucket")).agg(
        F.count("*").alias("n_docs"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


# --- PACK1: token-budget sequence packing ------------------------------------------
# The last step before tokenized text becomes training batches: pack
# documents into fixed-budget training sequences (2048 tokens here).
# Greedy running-total packing in deterministic (source, doc_id) order:
# seq_id = floor((running_total − n_tokens) / budget) — a document
# starts a new sequence when the budget would overflow ON AVERAGE
# (cumulative form; real packers also split overlong docs, which is a
# flatMap on top of this same assignment). Scale shape: ONE window per
# source partition — each source's docs sort within their shuffle
# partition; at 100 TB packing runs per (source, shard) exactly like
# this with shard in the partition key, so no global sort ever exists.
@query(
    "pack1_token_budget_packing",
    oracle=f"""
    WITH {toks_cte()},
    counted AS (
      SELECT t.doc_id, d.source, len(t.toks) AS n_tokens
      FROM toks t JOIN documents d USING (doc_id)
    ),
    packed AS (
      SELECT source, doc_id, n_tokens,
             CAST(floor((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) - n_tokens) / 2048.0) AS BIGINT) AS seq_id
      FROM counted
    )
    SELECT source, seq_id,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(min(doc_id) AS BIGINT) AS first_doc_id
    FROM packed GROUP BY source, seq_id
    """,
)
def pack1_token_budget_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.analysis import token_count

    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    counted = docs.select("doc_id", "source", token_count(F.col("text")).alias("n_tokens"))
    w = Window.partitionBy("source").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    packed = counted.withColumn(
        "seq_id",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / 2048.0).cast("long"),
    )
    return packed.groupBy("source", "seq_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.min("doc_id").alias("first_doc_id"),
    )


# --- T7: deterministic hash-shard assignment for training export -------------------
# The last step before a training run: spread the curated corpus over N
# output shards so data loaders stream them independently. Shard id is a
# PURE PROJECTION (md5 byte of doc_id, mod 8) — no sort, no skew, stable
# under retries and engine swaps — and the balance report is one
# groupBy(shard). Contrast with T6's range partitioning (ordered export):
# hash sharding is the training-order choice because it decorrelates
# adjacent source docs, which IS the global shuffle training wants.
@query(
    "t7_training_shards",
    oracle="""
    WITH sharded AS (
      SELECT doc_id, n_chars,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))::INT % 8 AS shard
      FROM documents
    )
    SELECT shard,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           min(doc_id) AS min_doc_id,
           max(doc_id) AS max_doc_id
    FROM sharded GROUP BY shard
    """,
)
def t7_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    shard = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10).cast(
            "int"
        )
        % 8
    )
    return (
        docs.select("doc_id", "n_chars", shard.alias("shard"))
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


# --- S9: bucketed co-located join (shuffle-free feature-store pattern) -------------
# The 100-TB join strategy the big pipelines standardize on: write the
# corpus AND its per-doc enrichment table bucketed by doc_id into the
# warehouse, and every later equi-join on doc_id is SHUFFLE-FREE — both
# sides' files are already hash-clustered on the key, so SortMergeJoin
# reads buckets pairwise (the plan shows `Bucketed: true` and the only
# Exchange left is the final tiny groupBy — guarded in
# tests/test_round6b.py). This is how enrichment outputs (LLM features,
# token counts, quality scores) re-join the corpus repeatedly without
# paying the corpus-sized shuffle each time.
@query(
    "s9_bucketed_join_roundtrip",
    oracle=f"""
    WITH {toks_cte()},
    enr AS (SELECT doc_id, len(toks) AS n_tokens FROM toks)
    SELECT d.lang,
           count(*) AS n_docs,
           CAST(sum(e.n_tokens) AS BIGINT) AS total_tokens,
           CAST(sum(d.n_chars) AS BIGINT) AS total_chars
    FROM documents d JOIN enr e ON d.doc_id = e.doc_id
    GROUP BY d.lang
    """,
)
def s9_bucketed_join_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.analysis import token_count

    wh = scratch_dir(spark, "bucketed", sf_dir)
    suffix = os.path.basename(wh).removeprefix("mtdp_bucketed_")
    docs = load_table(spark, sf_dir, "documents")
    corpus_tbl, enrich_tbl = f"mtdp_corpus_{suffix}", f"mtdp_enrich_{suffix}"
    (
        docs.select("doc_id", "lang", "n_chars")
        .write.mode("overwrite")
        .option("path", os.path.join(wh, corpus_tbl))
        .bucketBy(8, "doc_id")
        .sortBy("doc_id")
        .saveAsTable(corpus_tbl)
    )
    (
        docs.where(F.col("text").isNotNull())
        .select("doc_id", token_count(F.col("text")).cast("long").alias("n_tokens"))
        .write.mode("overwrite")
        .option("path", os.path.join(wh, enrich_tbl))
        .bucketBy(8, "doc_id")
        .sortBy("doc_id")
        .saveAsTable(enrich_tbl)
    )
    joined = spark.table(corpus_tbl).join(spark.table(enrich_tbl), "doc_id")
    return joined.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


# --- G3: grouping-sets cube profile ------------------------------------------------
# The OLAP margin report over the corpus: totals by (lang, source), by
# lang alone, by source alone, and the grand total in ONE pass —
# GROUPING SETS plans a single Expand + hash aggregate (each input row
# fans to its 4 set memberships, partially aggregated map-side) instead
# of four scans. grouping_id disambiguates the NULL margins from real
# NULL values.
@query(
    "g3_cube_profile",
    oracle="""
    SELECT lang, source,
           CAST(grouping(lang) * 2 + grouping(source) AS BIGINT) AS gid,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY GROUPING SETS ((lang, source), (lang), (source), ())
    """,
)
def g3_cube_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.cube("lang", "source")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .select("lang", "source", "gid", "n_docs", "total_chars")
    )


# --- S10: JSON-lines sink → source roundtrip ---------------------------------------
# The other interchange format ingestion pipelines actually speak beside
# CSV (S3/S4): newline-delimited JSON. Write the documents projection as
# compressed JSONL, stream it back with an EXPLICIT schema (schema
# inference is a full extra pass at 100 TB — always pass the schema on
# the read path), and aggregate — the roundtrip is transparent to the
# oracle, which states the aggregate directly.
@query(
    "s10_jsonl_roundtrip",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(max(doc_id) AS BIGINT) AS max_doc_id
    FROM documents WHERE text IS NOT NULL GROUP BY lang
    """,
)
def s10_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    out_dir = scratch_dir(spark, "jsonl", sf_dir)
    docs.select("doc_id", "lang", "n_chars").write.mode("overwrite").option(
        "compression", "gzip"
    ).json(out_dir)
    back = spark.read.schema("doc_id long, lang string, n_chars long").json(out_dir)
    return back.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.max("doc_id").alias("max_doc_id"),
    )


# --- P9: per-language length deciles (ntile) ---------------------------------------
# Length-balanced batch construction wants each doc's decile WITHIN its
# language. NTILE(10) over the lang partition — same per-stratum-sort
# shape (and caveat) as mix2: exactness is the contract; few huge strata
# at 100 TB → switch to percentile_approx cutoffs joined back when ±0.1%
# suffices. Output keeps only decile summaries so the result is tiny.
@query(
    "p9_length_deciles",
    oracle="""
    WITH ranked AS (
      SELECT lang, n_chars,
             ntile(10) OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS decile
      FROM documents
    )
    SELECT lang, CAST(decile AS BIGINT) AS decile,
           count(*) AS n_docs,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars
    FROM ranked GROUP BY 1, 2
    """,
)
def p9_length_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    return (
        docs.withColumn("decile", F.ntile(10).over(w).cast("long"))
        .groupBy("lang", "decile")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


# --- U4: vocabulary difference (anti-membership set op) ----------------------------
# U2's complement: terms exclusive to one source — the vocabulary a
# source would LOSE if dropped from the mix. EXCEPT compiles to a
# left-anti aggregate join, map-side combinable on both sides.
@query(
    "u4_vocab_difference",
    oracle=f"""
    WITH {toks_cte()},
    tok AS (
      SELECT d.source, unnest(t.toks) AS term
      FROM toks t JOIN documents d USING (doc_id)
    ),
    a AS (SELECT DISTINCT term FROM tok WHERE source = 'source_00'),
    b AS (SELECT DISTINCT term FROM tok WHERE source <> 'source_00')
    SELECT term FROM a EXCEPT SELECT term FROM b
    """,
)
def u4_vocab_difference(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    from ..functions.text import tokenize

    tok = docs.select("source", F.explode(tokenize(F.col("text"))).alias("term"))
    a = tok.where(F.col("source") == "source_00").select("term").distinct()
    b = tok.where(F.col("source") != "source_00").select("term").distinct()
    return a.exceptAll(b).distinct()


# --- G4: salted exact distinct-users (two-phase count-distinct) --------------------
# The skew-proof exact COUNT(DISTINCT) rewrite. A naive
# groupBy(event_type).agg(countDistinct(user_id)) funnels every row of a
# hot event type through one reducer's distinct set. The scale rewrite
# partitions the *user-id space* instead: salt = pmod(hash-bridge(user),
# 16) gives 16 DISJOINT user subsets per type, so per-(type, salt)
# distinct counts are mergeable by plain SUM — two ordinary shuffles,
# each key carrying ~1/16 of a hot type's users, and the pattern scales
# by raising the salt width, not executor memory. (Spark's own planner
# rewrites distinct aggs via Expand; this is the explicit form that also
# works when the engine's rewrite is unavailable — e.g. multiple
# distincts, or streaming.) Oracle: the plain COUNT(DISTINCT) truth.
@query(
    "g4_salted_distinct_users",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS n_users,
           count(*) AS n_events
    FROM events
    GROUP BY event_type
    """,
)
def g4_salted_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    salt = F.pmod(F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10).cast("long"), F.lit(16))
    # phase 1: per (type, salt-shard) — distinct users within the shard
    shard = (
        e.select("event_type", "user_id", salt.alias("salt"))
        .groupBy("event_type", "salt")
        .agg(
            F.count_distinct("user_id").alias("n_users_shard"),
            F.count("*").alias("n_events_shard"),
        )
    )
    # phase 2: shards hold disjoint user sets -> plain SUM merges exactly
    return shard.groupBy("event_type").agg(
        F.sum("n_users_shard").cast("long").alias("n_users"),
        F.sum("n_events_shard").cast("long").alias("n_events"),
    )


# --- T9: Z-order (Morton-interleaved) layout export --------------------------------
# Multi-dimensional data skipping: T6's single-key range layout prunes
# scans filtered on doc_id, but a corpus store is filtered on lang AND
# length just as often. Interleaving the bits of the two bucket keys
# (3 bits each -> 6-bit Morton code) and range-partitioning on the code
# co-clusters BOTH dimensions, so file-level min/max stats prune scans
# filtered on either one — the Delta/Iceberg OPTIMIZE ZORDER layout,
# expressed with nothing but bit ops + repartitionByRange. The read-back
# aggregate proves losslessness; test_plan_shapes asserts the range
# exchange on zval; tests/test_round6c.py asserts the layout quality
# (each written file touches ≤ half the lang buckets — a lang-filtered
# scan skips most files, which a pure length-ordered layout cannot do).
@query(
    "t9_zorder_layout",
    oracle="""
    SELECT lang,
           CAST(floor(least(n_chars, 799) / 100) AS BIGINT) AS len_bucket,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY 1, 2
    """,
)
def t9_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    # 3-bit bucket per dimension: lang hash-bucket, capped length decile
    lang_b = F.pmod(F.crc32(F.col("lang")), F.lit(8)).cast("int")
    len_b = F.floor(F.least(F.col("n_chars"), F.lit(799)) / 100).cast("int")
    # Morton interleave: bit i of each key -> bits 2i+1 / 2i of the code
    zval = sum(
        (
            F.shiftleft(F.shiftright(lang_b, i).bitwiseAND(F.lit(1)), 2 * i + 1)
            + F.shiftleft(F.shiftright(len_b, i).bitwiseAND(F.lit(1)), 2 * i)
        )
        for i in range(3)
    )
    out_dir = scratch_dir(spark, "zorder", sf_dir)
    (
        docs.withColumn("zval", zval)
        .repartitionByRange(8, "zval")
        .sortWithinPartitions("zval")
        .write.mode("overwrite")
        .parquet(out_dir)
    )
    back = spark.read.parquet(out_dir)
    return back.groupBy(
        "lang",
        F.floor(F.least(F.col("n_chars"), F.lit(799)) / 100).cast("long").alias("len_bucket"),
    ).agg(F.count("*").alias("n_docs"), F.sum("n_chars").cast("long").alias("total_chars"))


# --- EP5: dedup → split → shard, one composed plan ---------------------------------
# The prep flow a training run actually executes, as ONE declarative
# plan: exact-dedup survivor selection (d1's min-doc-id-per-fingerprint
# policy), then the deterministic hash-range train/val/test split
# (mix4's rule), then hash-shard assignment (t7's rule), finishing in
# the per-(split, shard) manifest a data loader consumes. Composition is
# the point — every stage is the already-oracle-checked operator, and
# chaining them stays ONE job: survivor selection is a groupBy +
# semi-join on the fingerprint, split/shard are per-row projections, the
# manifest is one aggregate. No intermediate materialization, no driver
# round-trip; Catalyst pipelines the projections into the survivor join.
@query(
    "ep5_dedup_split_shards",
    oracle=f"""
    WITH {toks_cte()},
    fps AS (SELECT doc_id,
                   md5(coalesce(array_to_string(toks, ' '), '')) AS fp
            FROM toks),
    keep AS (SELECT min(doc_id) AS doc_id FROM fps GROUP BY fp),
    survivors AS (
      SELECT d.doc_id, d.n_chars FROM documents d JOIN keep k USING (doc_id)
    ),
    assigned AS (
      SELECT doc_id, n_chars,
             CASE WHEN ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT % 100 < 90 THEN 'train'
                  WHEN ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT % 100 < 95 THEN 'val'
                  ELSE 'test' END AS split,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))::INT % 8 AS shard
      FROM survivors
    )
    SELECT split, shard,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           min(doc_id) AS min_doc_id
    FROM assigned GROUP BY split, shard
    """,
)
def ep5_dedup_split_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import exact_dup_groups, md5_long

    docs = load_table(spark, sf_dir, "documents")
    # fp is a groupBy key only here (never surfaced) — 120-bit long-pair
    # keys (oracle keys on full md5 hex; identical semantics)
    keep = exact_dup_groups(docs, hash_keys=True).select(
        F.col("keep_doc_id").alias("doc_id")
    )
    survivors = docs.join(keep, "doc_id", "left_semi").select("doc_id", "n_chars")
    bucket = F.pmod(md5_long(F.col("doc_id").cast("string")), F.lit(100))
    split = F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
    shard = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10).cast("int")
        % 8
    )
    return (
        survivors.select("doc_id", "n_chars", split.alias("split"), shard.alias("shard"))
        .groupBy("split", "shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.min("doc_id").alias("min_doc_id"),
        )
    )


# --- PACK2: context-window chunking with overlap -----------------------------------
# The pretraining chunker: long documents split into 128-token windows
# advancing by 112 (16-token overlap, so no boundary context is lost),
# emitting the chunk MANIFEST (doc_id, chunk_idx, n_tokens, boundary
# fingerprint) a data loader consumes. Distinct from cur5/d15 — those
# hash windows to detect duplication; this PRODUCES the training units.
# Chunks are an in-row transform(sequence(...)) projection — per-doc
# fan-out is ceil((len-16)/112), no shuffle until nothing (the manifest
# IS the output, one narrow stage end to end). The tail rule is
# explicit: the last chunk is whatever remains after the final full
# stride (≥ 1 token), so every token belongs to ≥ 1 chunk — audited by
# the n_tokens sum check the oracle restates.
@query(
    "pack2_overlap_chunking",
    oracle=f"""
    WITH {toks_cte()},
    chunks AS (
      SELECT doc_id,
             unnest([
               {{'idx': i, 'n': len(toks[(i*112+1):(i*112+128)]),
                 'fp': md5(array_to_string(toks[(i*112+1):(i*112+128)], ' '))}}
               for i in range(0, greatest(1, CAST(ceil((len(toks) - 16) / 112.0) AS BIGINT)))
             ]) AS c
      FROM toks WHERE len(toks) > 0
    )
    SELECT doc_id,
           CAST(c.idx AS BIGINT) AS chunk_idx,
           CAST(c.n AS BIGINT) AS n_tokens,
           c.fp AS chunk_fp
    FROM chunks
    """,
)
def pack2_overlap_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokenize

    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    toks = docs.select("doc_id", tokenize(F.col("text")).alias("toks")).where(
        F.size("toks") > 0
    )
    chunks = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, greatest(1, CAST(ceil((size(toks) - 16) / 112.0) AS BIGINT)) - 1),"
                " i -> struct(i AS idx,"
                "             size(slice(toks, i*112+1, 128)) AS n,"
                "             md5(concat_ws(' ', slice(toks, i*112+1, 128))) AS fp))"
            )
        ).alias("c"),
    )
    return chunks.select(
        "doc_id",
        F.col("c.idx").cast("long").alias("chunk_idx"),
        F.col("c.n").cast("long").alias("n_tokens"),
        F.col("c.fp").alias("chunk_fp"),
    )


# --- S11: small-file compaction ----------------------------------------------------
# The maintenance job every long-lived 100-TB table needs: streaming and
# incremental writers leave hundreds of KB-sized files per partition,
# and scan throughput dies on per-file open costs (the classic
# small-files problem). Compaction = read the fragmented table,
# coalesce() to the target file count, rewrite. coalesce, NOT
# repartition: it merges existing partitions without a shuffle — the
# whole job is a read + write. The query writes a deliberately
# fragmented copy (64 files), compacts it to 4, and returns the
# aggregate off the compacted table — proving losslessness; the
# file-count audit lives in tests/test_round6c.py.
@query(
    "s11_small_file_compaction",
    oracle="""
    SELECT lang, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang
    """,
)
def s11_small_file_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    base = scratch_dir(spark, "compact", sf_dir)
    frag_dir, compact_dir = base + "_frag", base + "_out"
    docs.repartition(64).write.mode("overwrite").parquet(frag_dir)
    frag = spark.read.parquet(frag_dir)
    frag.coalesce(4).write.mode("overwrite").parquet(compact_dir)
    back = spark.read.parquet(compact_dir)
    return back.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


# --- S12: dynamic partition overwrite ----------------------------------------------
# The incremental-refresh write a partitioned corpus store lives by:
# re-materialize ONE partition (lang=en here, with a derived column
# added) while every other partition's files stay untouched. Requires
# spark.sql.sources.partitionOverwriteMode=dynamic scoped to this write
# — STATIC mode (the default) would delete all partitions first, which
# at 100 TB is the difference between rewriting 2% and rewriting
# everything. The read-back aggregate proves exactly the en rows changed
# and everything else survived.
@query(
    "s12_dynamic_partition_overwrite",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN lang = 'en' THEN n_chars * 2 ELSE n_chars END) AS BIGINT)
             AS total_chars
    FROM documents GROUP BY lang
    """,
)
def s12_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    out_dir = scratch_dir(spark, "dynover", sf_dir)
    docs.write.mode("overwrite").partitionBy("lang").parquet(out_dir)
    # incremental refresh: only the en partition, with doubled chars
    refreshed = docs.where(F.col("lang") == "en").withColumn(
        "n_chars", F.col("n_chars") * 2
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        refreshed.write.mode("overwrite").partitionBy("lang").parquet(out_dir)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    back = spark.read.parquet(out_dir)
    return back.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


# --- S13: latest-wins upsert (engine-level MERGE) ----------------------------------
# The batch upsert a warehouse without a table format still needs: a
# base snapshot plus an updates batch, merged latest-wins per key. The
# scale idiom: unionByName the two versioned streams and keep
# row_number()=1 per key ordered by version DESC — ONE shuffle on the
# key (the window), no join, and the same plan handles N update batches
# stacked in one pass. (With Delta/Iceberg this is MERGE INTO; the
# operator here is the format-free equivalent with identical
# semantics.) Updates: even-doc_id rows get n_chars+1000 as version 2;
# odd rows survive from version 1.
@query(
    "s13_upsert_latest_wins",
    oracle="""
    WITH versioned AS (
      SELECT doc_id, lang, n_chars, 1 AS version FROM documents
      UNION ALL BY NAME
      SELECT doc_id, lang, n_chars + 1000 AS n_chars, 2 AS version
      FROM documents WHERE doc_id % 2 = 0
    ),
    latest AS (
      SELECT doc_id, lang, n_chars,
             row_number() OVER (PARTITION BY doc_id ORDER BY version DESC) AS rn
      FROM versioned
    )
    SELECT lang, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM latest WHERE rn = 1 GROUP BY lang
    """,
)
def s13_upsert_latest_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    base = docs.withColumn("version", F.lit(1))
    updates = (
        docs.where(F.col("doc_id") % 2 == 0)
        .withColumn("n_chars", F.col("n_chars") + 1000)
        .withColumn("version", F.lit(2))
    )
    versioned = base.unionByName(updates)
    w = Window.partitionBy("doc_id").orderBy(F.col("version").desc())
    latest = versioned.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    return latest.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


# --- S14: snapshot diff (dataset-version audit) ------------------------------------
# The reproducibility audit between two corpus versions: FULL OUTER join
# on the key classifies every doc as added / removed / changed /
# unchanged (changed = fingerprint differs), rolled up per language.
# Version B here = version A with even-id docs' text "edited" (n_chars
# bumped) and doc_id % 7 == 0 docs dropped — the oracle states the same
# construction. One key-partitioned join + one aggregate; at 100 TB both
# snapshots are bucketed on the key (s9) and the join is shuffle-free.
@query(
    "s14_snapshot_diff",
    oracle="""
    WITH a AS (SELECT doc_id, lang, n_chars FROM documents),
    b AS (
      SELECT doc_id, lang,
             CASE WHEN doc_id % 2 = 0 THEN n_chars + 17 ELSE n_chars END AS n_chars
      FROM documents WHERE doc_id % 7 <> 0
    ),
    d AS (
      SELECT COALESCE(a.lang, b.lang) AS lang,
             CASE WHEN a.doc_id IS NULL THEN 'added'
                  WHEN b.doc_id IS NULL THEN 'removed'
                  WHEN a.n_chars <> b.n_chars THEN 'changed'
                  ELSE 'unchanged' END AS status
      FROM a FULL OUTER JOIN b USING (doc_id)
    )
    SELECT lang, status, count(*) AS n_docs
    FROM d GROUP BY lang, status
    """,
)
def s14_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    snap_a = docs
    snap_b = docs.where(F.col("doc_id") % 7 != 0).withColumn(
        "n_chars",
        F.when(F.col("doc_id") % 2 == 0, F.col("n_chars") + 17).otherwise(F.col("n_chars")),
    )
    a = snap_a.select("doc_id", F.col("lang").alias("lang_a"), F.col("n_chars").alias("nc_a"))
    b = snap_b.select("doc_id", F.col("lang").alias("lang_b"), F.col("n_chars").alias("nc_b"))
    d = a.join(b, "doc_id", "full_outer").select(
        F.coalesce(F.col("lang_a"), F.col("lang_b")).alias("lang"),
        F.when(F.col("nc_a").isNull(), "added")
        .when(F.col("nc_b").isNull(), "removed")
        .when(F.col("nc_a") != F.col("nc_b"), "changed")
        .otherwise("unchanged")
        .alias("status"),
    )
    return d.groupBy("lang", "status").agg(F.count("*").alias("n_docs"))


# --- G5: GROUPING SETS profile ------------------------------------------------------
# The third grouping extension beside g1 (ROLLUP) and g3 (CUBE): an
# EXPLICIT set list — (lang, source), (lang), (source), () — is one
# Expand + one aggregate, cheaper than CUBE when only named combinations
# are wanted (CUBE at d dims pays 2^d expansion; a curation dashboard
# usually needs 3-4 sets). Labels are coalesced to '(all)' (lang/source
# are non-null by contract), so both engines emit identical rows without
# grouping_id plumbing.
@query(
    "g5_grouping_sets_profile",
    oracle="""
    SELECT COALESCE(lang, '(all)') AS lang,
           COALESCE(source, '(all)') AS source,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY GROUPING SETS ((lang, source), (lang), (source), ())
    """,
)
def g5_grouping_sets_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("g5_documents")
    return spark.sql(
        """
        SELECT COALESCE(lang, '(all)') AS lang,
               COALESCE(source, '(all)') AS source,
               count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM g5_documents
        GROUP BY GROUPING SETS ((lang, source), (lang), (source), ())
        """
    )


# --- CUR7: length-threshold survivorship sweep --------------------------------------
# The knob-curve pattern (n13's discipline) applied to the most common
# curation filter: ONE query reports, for each candidate min-length
# threshold, what fraction of documents and of character mass survives —
# the curve a curation policy picks its cutoff from, instead of running
# the filter N times. Thresholds fan out via a literal array explode
# (5× row multiplication on an already-aggregated per-doc projection,
# not on text), then one aggregate.
@query(
    "cur7_length_survivorship",
    oracle="""
    WITH thr AS (SELECT unnest([100, 200, 400, 800, 1600]) AS min_chars),
    tot AS (SELECT count(*) AS n, CAST(sum(n_chars) AS DOUBLE) AS chars FROM documents)
    SELECT t.min_chars,
           count(*) FILTER (WHERE d.n_chars >= t.min_chars) AS n_survivors,
           round(count(*) FILTER (WHERE d.n_chars >= t.min_chars) / CAST(tot.n AS DOUBLE), 6)
             AS doc_survival,
           round(CAST(sum(CASE WHEN d.n_chars >= t.min_chars THEN d.n_chars ELSE 0 END) AS DOUBLE)
                 / tot.chars, 6) AS char_survival
    FROM documents d CROSS JOIN thr t CROSS JOIN tot
    GROUP BY t.min_chars, tot.n, tot.chars
    """,
)
def cur7_length_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("n_chars")
    thrs = [100, 200, 400, 800, 1600]
    tot = docs.agg(
        F.count("*").alias("n"), F.sum("n_chars").cast("double").alias("chars")
    )
    fan = docs.select(
        "n_chars", F.explode(F.array(*[F.lit(t) for t in thrs])).alias("min_chars")
    )
    surv = F.sum(F.when(F.col("n_chars") >= F.col("min_chars"), 1).otherwise(0))
    return (
        fan.crossJoin(F.broadcast(tot))  # singleton stats row — job structure
        .groupBy("min_chars", "n", "chars")
        .agg(
            surv.alias("n_survivors"),
            F.round(surv / F.col("n").cast("double"), 6).alias("doc_survival"),
            F.round(
                F.sum(
                    F.when(F.col("n_chars") >= F.col("min_chars"), F.col("n_chars")).otherwise(0)
                ).cast("double")
                / F.col("chars"),
                6,
            ).alias("char_survival"),
        )
        .select("min_chars", "n_survivors", "doc_survival", "char_survival")
    )


# --- T10: stratified balanced shards (global-sort-free) -----------------------------
# t7 hash-shards documents; hash sharding balances COUNTS but not byte
# mass when lengths are skewed. This variant round-robins WITHIN each
# length stratum (the t9 length bands): a window partitioned BY STRATUM
# — parallel across strata, never the single-partition global
# row_number a naive "sort by size, deal round-robin" costs — so every
# shard receives ~1/8 of each stratum and byte totals equalize. At
# 100 TB, strata are the parallelism unit: make bands finer if any
# stratum outgrows an executor's sort budget.
@query(
    "t10_balanced_shards",
    oracle="""
    WITH strat AS (
      SELECT doc_id, n_chars,
             CAST(floor(least(n_chars, 799) / 100) AS INT) AS stratum
      FROM documents
    ),
    rr AS (
      SELECT n_chars,
             (row_number() OVER (PARTITION BY stratum ORDER BY doc_id) - 1) % 8 AS shard
      FROM strat
    )
    SELECT CAST(shard AS BIGINT) AS shard, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM rr GROUP BY shard
    """,
)
def t10_balanced_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    stratum = F.floor(F.least(F.col("n_chars"), F.lit(799)) / 100).cast("int")
    w = Window.partitionBy("stratum").orderBy("doc_id")
    rr = docs.withColumn("stratum", stratum).select(
        "n_chars",
        ((F.row_number().over(w) - 1) % 8).cast("long").alias("shard"),
    )
    return rr.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


# --- S15: schema-evolution scan (mergeSchema over mixed-version files) --------------
# The reader-side half of schema evolution (u3 is the DataFrame-side
# union): an old snapshot written WITHOUT a column and a new snapshot
# WITH it live in one dataset; spark.read.option("mergeSchema", true)
# reconciles the footers and nulls the missing column for old files —
# exactly how a 100-TB corpus store absorbs a new enrichment column
# without rewriting history. Partition split is deterministic
# (doc_id % 2); the quality column is exact-decimal so totals are
# engine-stable.
@query(
    "s15_schema_evolution_scan",
    oracle="""
    WITH merged AS (
      SELECT doc_id, lang, n_chars, NULL::DOUBLE AS quality
      FROM documents WHERE doc_id % 2 = 0
      UNION ALL
      SELECT doc_id, lang, n_chars, round((doc_id % 100) / 100.0, 2) AS quality
      FROM documents WHERE doc_id % 2 = 1
    )
    SELECT lang, count(*) AS n_docs,
           CAST(count(quality) AS BIGINT) AS n_with_quality,
           CAST(sum(CAST(quality AS DECIMAL(18,2))) AS DOUBLE) AS total_quality
    FROM merged GROUP BY lang
    """,
)
def s15_schema_evolution_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    base = scratch_dir(spark, "evolve", sf_dir)
    old = docs.where(F.col("doc_id") % 2 == 0)
    new = docs.where(F.col("doc_id") % 2 == 1).withColumn(
        "quality", F.round((F.col("doc_id") % 100) / 100.0, 2)
    )
    old.write.mode("overwrite").parquet(base + "/v=1")
    new.write.mode("overwrite").parquet(base + "/v=2")
    back = spark.read.option("mergeSchema", "true").parquet(base + "/v=1", base + "/v=2")
    return back.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.count("quality").cast("long").alias("n_with_quality"),
        F.sum(F.col("quality").cast("decimal(18,2)")).cast("double").alias("total_quality"),
    )


# --- P11: referential-integrity audit ----------------------------------------------
# Ingest-time FK validation across the whole relational schema: one row
# per foreign-key edge with its orphan count — the check a pipeline
# runs BEFORE joining 100 TB of facts against dims (orphans silently
# vanish in inner joins and silently null in outer ones). Each edge is
# a LEFT ANTI join with the dim side broadcast. Each fact table's key
# projection is materialized ONCE and all its edges probe that —
# without it the lazy union re-scans lineitem for every one of its
# three edges (and again for each count).
@query(
    "p11_referential_integrity",
    oracle="""
    SELECT 'lineitem.l_orderkey->orders' AS fk_edge,
           (SELECT count(*) FROM lineitem) AS n_rows,
           (SELECT count(*) FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE o.o_orderkey IS NULL) AS n_orphans
    UNION ALL
    SELECT 'lineitem.l_partkey->part',
           (SELECT count(*) FROM lineitem),
           (SELECT count(*) FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
            WHERE p.p_partkey IS NULL)
    UNION ALL
    SELECT 'lineitem.l_suppkey->supplier',
           (SELECT count(*) FROM lineitem),
           (SELECT count(*) FROM lineitem l LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
            WHERE s.s_suppkey IS NULL)
    UNION ALL
    SELECT 'orders.o_custkey->customer',
           (SELECT count(*) FROM orders),
           (SELECT count(*) FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
            WHERE c.c_custkey IS NULL)
    UNION ALL
    SELECT 'customer.c_nationkey->nation',
           (SELECT count(*) FROM customer),
           (SELECT count(*) FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
            WHERE n.n_nationkey IS NULL)
    UNION ALL
    SELECT 'supplier.s_nationkey->nation',
           (SELECT count(*) FROM supplier),
           (SELECT count(*) FROM supplier s LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey
            WHERE n.n_nationkey IS NULL)
    UNION ALL
    SELECT 'nation.n_regionkey->region',
           (SELECT count(*) FROM nation),
           (SELECT count(*) FROM nation n LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
            WHERE r.r_regionkey IS NULL)
    """,
)
def p11_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    def edge(name: str, fact: DataFrame, key: str, dim: DataFrame, dim_key: str) -> DataFrame:
        orphans = fact.join(
            F.broadcast(dim.select(dim_key)), F.col(key) == F.col(dim_key), "left_anti"
        )
        return (
            fact.agg(F.count("*").alias("n_rows"))
            .crossJoin(F.broadcast(orphans.agg(F.count("*").alias("n_orphans"))))
            .select(F.lit(name).alias("fk_edge"), "n_rows", "n_orphans")
        )

    l = materialize(
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_suppkey")
    )
    o = materialize(
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey")
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    p = load_table(spark, sf_dir, "part").select("p_partkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = load_table(spark, sf_dir, "region").select("r_regionkey")
    parts = [
        edge("lineitem.l_orderkey->orders", l, "l_orderkey", o, "o_orderkey"),
        edge("lineitem.l_partkey->part", l, "l_partkey", p, "p_partkey"),
        edge("lineitem.l_suppkey->supplier", l, "l_suppkey", s, "s_suppkey"),
        edge("orders.o_custkey->customer", o, "o_custkey", c, "c_custkey"),
        edge("customer.c_nationkey->nation", c, "c_nationkey", n, "n_nationkey"),
        edge("supplier.s_nationkey->nation", s, "s_nationkey", n, "n_nationkey"),
        edge("nation.n_regionkey->region", n, "n_regionkey", r, "r_regionkey"),
    ]
    out = parts[0]
    for q in parts[1:]:
        out = out.unionAll(q)
    return out


# --- X25: lexicon screening report --------------------------------------------------
# Blocklist screening mechanics (toxicity/spam/incident lexicons in
# production — the lexicon here is a placeholder over the synthetic
# vocabulary): flag every document whose token set intersects the
# lexicon, report flag rates per source. The lexicon ships as an array
# LITERAL into an arrays_overlap predicate — no join, fully
# pushdown-friendly, and the screening pass stays one narrow projection
# at any corpus size (a 10k-term production lexicon would broadcast
# instead).
@query(
    "x25_lexicon_screen",
    oracle=f"""
    WITH {toks_cte()}
    SELECT d.source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN len(list_intersect(t.toks,
                 ['slow', 'fail', 'error', 'crash', 'leak'])) > 0
               THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
           round(sum(CASE WHEN len(list_intersect(t.toks,
                 ['slow', 'fail', 'error', 'crash', 'leak'])) > 0
               THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6) AS flag_rate
    FROM toks t JOIN documents d USING (doc_id)
    GROUP BY d.source
    """,
)
def x25_lexicon_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    lex = F.array(*[F.lit(t) for t in ("slow", "fail", "error", "crash", "leak")])
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    flagged = docs.select(
        "source", F.arrays_overlap(tokenize(F.col("text")), lex).alias("hit")
    )
    return flagged.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("hit"), 1).otherwise(0)).cast("long").alias("n_flagged"),
        F.round(
            F.sum(F.when(F.col("hit"), 1).otherwise(0)) / F.count("*").cast("double"), 6
        ).alias("flag_rate"),
    )


# --- EP7: dataset card (the release datasheet, one query) ---------------------------
# The summary table a dataset release ships: corpus size, token mass,
# language spread, duplicate mass, length profile — every number an
# already-oracle-checked operator's headline stat, unioned into one
# (metric, value) table so a release pipeline materializes the card in
# a single job. Exact-integer or single-division statistics only.
# Scale shape: TWO corpus scans total — a cheap lang-grouped aggregate
# feeds every length/lang metric, and one tokenize pass computes token
# count AND fingerprint in the same projection for the token/dup
# metrics (a naive per-metric union pays one scan per row of the card).
@query(
    "ep7_dataset_card",
    oracle=f"""
    WITH {toks_cte()},
    fp AS (SELECT doc_id,
                  md5(coalesce(array_to_string(toks, ' '), '')) AS f
           FROM toks),
    tokn AS (SELECT CAST(sum(len(toks)) AS DOUBLE) AS v FROM toks),
    langs AS (SELECT lang, count(*) AS c FROM documents GROUP BY lang)
    SELECT 'n_docs' AS metric, CAST(count(*) AS DOUBLE) AS value FROM documents
    UNION ALL
    SELECT 'n_tokens', v FROM tokn
    UNION ALL
    SELECT 'n_langs', CAST(count(*) AS DOUBLE) FROM langs
    UNION ALL
    SELECT 'top_lang_share',
           round(max(c) / CAST((SELECT count(*) FROM documents) AS DOUBLE), 6) FROM langs
    UNION ALL
    SELECT 'exact_dup_rate',
           round(1.0 - count(DISTINCT f) / CAST(count(*) AS DOUBLE), 6) FROM fp
    UNION ALL
    SELECT 'mean_doc_chars',
           round(CAST(sum(n_chars) AS DOUBLE) / count(*), 6) FROM documents
    UNION ALL
    SELECT 'short_doc_rate',
           round(sum(CASE WHEN n_chars < 100 THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 6) FROM documents
    """,
)
def ep7_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # scan 1: lang-grouped aggregate carries every length/lang metric
    langs = docs.groupBy("lang").agg(
        F.count("*").alias("c"),
        F.sum("n_chars").alias("chars"),
        F.sum(F.when(F.col("n_chars") < 100, 1).otherwise(0)).alias("short"),
    )
    base = langs.agg(
        F.sum("c").cast("double").alias("n_docs"),
        F.count("*").cast("double").alias("n_langs"),
        F.round(F.max("c") / F.sum("c").cast("double"), 6).alias("top_lang_share"),
        F.round(F.sum("chars").cast("double") / F.sum("c"), 6).alias("mean_doc_chars"),
        F.round(F.sum("short") / F.sum("c").cast("double"), 6).alias("short_doc_rate"),
    )
    # scan 2: tokenize ONCE (as an attribute — the inline
    # fingerprint_pair re-tokenized), token count + fingerprint from it
    from ..functions.analysis import with_fingerprint_pair

    toked = docs.where(F.col("text").isNotNull()).select(
        tokenize(F.col("text")).alias("_toks")
    )
    # f feeds countDistinct only (never surfaced) — 120-bit long-pair
    # key (oracle counts distinct full-hex md5; identical semantics)
    tokfp = with_fingerprint_pair(toked, "f", "_toks").select(
        F.size("_toks").alias("nt"), "f"
    )
    tok_stats = tokfp.agg(
        F.sum("nt").cast("double").alias("n_tokens"),
        F.round(1.0 - F.countDistinct("f") / F.count("*").cast("double"), 6).alias(
            "exact_dup_rate"
        ),
    )
    # 1×1 broadcast crossJoin, materialized (a single row!) so the
    # 7-branch unpivot union can't re-execute the scans per branch
    wide = materialize(base.crossJoin(F.broadcast(tok_stats)))
    metrics = (
        "n_docs", "n_tokens", "n_langs", "top_lang_share",
        "exact_dup_rate", "mean_doc_chars", "short_doc_rate",
    )
    out = None
    for m in metrics:
        row = wide.select(F.lit(m).alias("metric"), F.col(m).cast("double").alias("value"))
        out = row if out is None else out.unionAll(row)
    return out


# --- U5: vocabulary symmetric difference --------------------------------------------
# Completes the set algebra over vocabularies (u2 ∩, u4 −): terms
# exclusive to source_00 vs exclusive to the rest, tagged by side — the
# two-way "what does each half know that the other doesn't" diff a
# domain-shift investigation starts from. Two distincts + two anti
# semantics via EXCEPT; one shuffle each on the bounded vocab tables.
@query(
    "u5_vocab_symmetric_diff",
    oracle=f"""
    WITH {toks_cte()},
    tok AS (
      SELECT d.source, unnest(t.toks) AS term
      FROM toks t JOIN documents d USING (doc_id)
    ),
    a AS (SELECT DISTINCT term FROM tok WHERE source = 'source_00'),
    b AS (SELECT DISTINCT term FROM tok WHERE source <> 'source_00')
    SELECT term, 'only_source_00' AS side FROM (SELECT term FROM a EXCEPT SELECT term FROM b)
    UNION ALL
    SELECT term, 'only_rest' FROM (SELECT term FROM b EXCEPT SELECT term FROM a)
    """,
)
def u5_vocab_symmetric_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    tok = docs.select("source", F.explode(tokenize(F.col("text"))).alias("term"))
    a = tok.where(F.col("source") == "source_00").select("term").distinct()
    b = tok.where(F.col("source") != "source_00").select("term").distinct()
    only_a = a.exceptAll(b).distinct().select("term", F.lit("only_source_00").alias("side"))
    only_b = b.exceptAll(a).distinct().select("term", F.lit("only_rest").alias("side"))
    return only_a.unionAll(only_b)


# --- X28: per-source length-distribution drift (exact KS statistic) ----------------
# Distribution-level drift detection beyond x14's unigram KL: the exact
# two-sample Kolmogorov-Smirnov statistic between each source's doc
# lengths and the REST of the corpus. The max |ΔCDF| is attained at an
# observed value, so the statistic is exact over the (source × distinct
# length) grid — bounded by sources × |length domain|, never corpus-
# sized. All counts integer; one division and one max at the end.
@query(
    "x28_length_drift_ks",
    oracle="""
    WITH vc AS (SELECT source, n_chars AS v, count(*) AS c FROM documents GROUP BY 1, 2),
    tot AS (SELECT v, CAST(sum(c) AS BIGINT) AS c_tot FROM vc GROUP BY v),
    ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_s FROM vc GROUP BY source),
    n_all AS (SELECT CAST(sum(c_tot) AS BIGINT) AS n FROM tot),
    grid AS (
      SELECT s.source, t.v, t.c_tot, coalesce(vc.c, 0) AS c_s
      FROM (SELECT DISTINCT source FROM vc) s
      CROSS JOIN tot t
      LEFT JOIN vc ON vc.source = s.source AND vc.v = t.v
    ),
    cum AS (
      SELECT source, v,
             sum(c_s) OVER (PARTITION BY source ORDER BY v) AS cum_s,
             sum(c_tot) OVER (PARTITION BY source ORDER BY v) AS cum_tot
      FROM grid
    )
    SELECT c.source,
           ns.n_s AS n_docs,
           round(max(abs(cum_s / CAST(ns.n_s AS DOUBLE)
                 - (cum_tot - cum_s) / CAST(n_all.n - ns.n_s AS DOUBLE))), 6) AS ks_stat
    FROM cum c JOIN ns ON c.source = ns.source CROSS JOIN n_all
    GROUP BY c.source, ns.n_s, n_all.n
    """,
)
def x28_length_drift_ks(spark: SparkSession, sf_dir: str, vc: DataFrame | None = None) -> DataFrame:
    # ``vc`` lets a composite (ep8) hand in the (source, v, c) char-length
    # histogram derived from a SHARED corpus scan; standalone, build it
    # from this query's own scan.
    if vc is None:
        docs = load_table(spark, sf_dir, "documents")
        # (source × length) counts: tiny after one corpus scan, THREE
        # consumers (totals, per-source n, grid join) — materialize once
        vc = materialize(
            docs.groupBy("source", F.col("n_chars").alias("v"))
            .agg(F.count("*").alias("c"))
        )
    tot = vc.groupBy("v").agg(F.sum("c").cast("long").alias("c_tot"))
    ns = vc.groupBy("source").agg(F.sum("c").cast("long").alias("n_s"))
    n_all = tot.agg(F.sum("c_tot").cast("long").alias("n"))
    sources = vc.select("source").distinct()
    grid = (
        sources.crossJoin(F.broadcast(tot))  # sources × length-domain grid (bounded)
        .join(vc, ["source", "v"], "left")
        .select("source", "v", "c_tot", F.coalesce("c", F.lit(0)).alias("c_s"))
    )
    w = Window.partitionBy("source").orderBy("v")
    cum = grid.select(
        "source",
        "v",
        F.sum("c_s").over(w).alias("cum_s"),
        F.sum("c_tot").over(w).alias("cum_tot"),
    )
    return (
        cum.join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(n_all))  # singleton stats row
        .groupBy("source", "n_s", "n")
        .agg(
            F.round(
                F.max(
                    F.abs(
                        F.col("cum_s") / F.col("n_s").cast("double")
                        - (F.col("cum_tot") - F.col("cum_s"))
                        / (F.col("n") - F.col("n_s")).cast("double")
                    )
                ),
                6,
            ).alias("ks_stat")
        )
        .select("source", F.col("n_s").alias("n_docs"), "ks_stat")
    )


# --- PACK3: packing-efficiency audit ------------------------------------------------
# The audit pattern over pack1: per source, sequences actually used vs
# the theoretical floor ceil(total_tokens / budget), and the fill
# fraction. Cumulative packing can only waste within-sequence tail
# space, so efficiency is a direct read on how adversarial the length
# distribution is to the 2048 budget — the number that justifies (or
# not) moving to a smarter packer.
@query(
    "pack3_packing_efficiency",
    oracle=f"""
    WITH {toks_cte()},
    counted AS (
      SELECT t.doc_id, d.source, len(t.toks) AS n_tokens
      FROM toks t JOIN documents d USING (doc_id)
    ),
    packed AS (
      SELECT source, n_tokens,
             CAST(floor((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) - n_tokens) / 2048.0) AS BIGINT) AS seq_id
      FROM counted
    )
    SELECT source,
           count(DISTINCT seq_id) AS n_seqs,
           CAST(ceil(sum(n_tokens) / 2048.0) AS BIGINT) AS lower_bound,
           round(CAST(ceil(sum(n_tokens) / 2048.0) AS BIGINT)
                 / CAST(count(DISTINCT seq_id) AS DOUBLE), 6) AS efficiency,
           round(sum(n_tokens) / (count(DISTINCT seq_id) * 2048.0), 6) AS fill_rate
    FROM packed GROUP BY source
    """,
)
def pack3_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.analysis import token_count

    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    counted = docs.select("doc_id", "source", token_count(F.col("text")).alias("n_tokens"))
    w = Window.partitionBy("source").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    packed = counted.withColumn(
        "seq_id",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / 2048.0).cast("long"),
    )
    return packed.groupBy("source").agg(
        F.countDistinct("seq_id").alias("n_seqs"),
        F.ceil(F.sum("n_tokens") / 2048.0).cast("long").alias("lower_bound"),
        F.round(
            F.ceil(F.sum("n_tokens") / 2048.0).cast("long")
            / F.countDistinct("seq_id").cast("double"),
            6,
        ).alias("efficiency"),
        F.round(F.sum("n_tokens") / (F.countDistinct("seq_id") * 2048.0), 6).alias(
            "fill_rate"
        ),
    )


# --- X29: per-source token-count PSI (drift over a SECOND length column) ------------
# Completes the drift pair VERDICT r7 asked for: x28 is the exact KS
# statistic over n_chars; x29 is the Population Stability Index over
# TOKEN counts — the monitoring statistic retraining pipelines actually
# alert on (binned, so it names WHERE the mass moved, and additive over
# bins). Bins are global token-count deciles derived by exact integer
# arithmetic on the value HISTOGRAM (smallest v with cum >= ceil(i*N/10)
# — quantile_disc restated so both engines bin identically; no
# interpolated percentile whose last-ulp could flip a boundary doc).
# Everything is integer until the final ln; each source sums <= 10
# bin contributions. One corpus scan; every later stage is bounded by
# |token-count domain| or sources x 10.
@query(
    "x29_token_psi",
    oracle=f"""
    WITH {toks_cte()},
    tc AS (
      SELECT d.source, len(t.toks) AS v
      FROM toks t JOIN documents d USING (doc_id)
    ),
    vc AS (SELECT source, v, count(*) AS c FROM tc GROUP BY 1, 2),
    g AS (SELECT v, CAST(sum(c) AS BIGINT) AS c_tot FROM vc GROUP BY v),
    n_all AS (SELECT CAST(sum(c_tot) AS BIGINT) AS n FROM g),
    cum AS (SELECT v, sum(c_tot) OVER (ORDER BY v) AS cum_tot FROM g),
    marks AS (SELECT unnest([1, 2, 3, 4, 5, 6, 7, 8, 9]) AS i),
    breaks AS (
      SELECT m.i, min(c.v) AS b
      FROM marks m CROSS JOIN n_all JOIN cum c ON c.cum_tot >= (m.i * n_all.n + 9) // 10
      GROUP BY m.i
    ),
    binned AS (
      SELECT vc.source, vc.v, vc.c,
             1 + sum(CASE WHEN vc.v > b.b THEN 1 ELSE 0 END) AS bin
      FROM vc CROSS JOIN breaks b
      GROUP BY vc.source, vc.v, vc.c
    ),
    sbin AS (SELECT source, bin, CAST(sum(c) AS BIGINT) AS c_s FROM binned GROUP BY 1, 2),
    gbin AS (SELECT bin, CAST(sum(c_s) AS BIGINT) AS c_bin FROM sbin GROUP BY bin),
    ns AS (SELECT source, CAST(sum(c_s) AS BIGINT) AS n_s FROM sbin GROUP BY source),
    grid AS (
      SELECT s.source, gb.bin, gb.c_bin, coalesce(sb.c_s, 0) AS c_s
      FROM (SELECT DISTINCT source FROM sbin) s
      CROSS JOIN gbin gb
      LEFT JOIN sbin sb ON sb.source = s.source AND sb.bin = gb.bin
    )
    SELECT g.source, ns.n_s AS n_docs,
      round(sum(CASE WHEN g.c_s > 0 AND g.c_bin - g.c_s > 0
        THEN (g.c_s / CAST(ns.n_s AS DOUBLE)
              - (g.c_bin - g.c_s) / CAST(n_all.n - ns.n_s AS DOUBLE))
             * ln((g.c_s / CAST(ns.n_s AS DOUBLE))
                  / ((g.c_bin - g.c_s) / CAST(n_all.n - ns.n_s AS DOUBLE)))
        ELSE 0.0 END), 6) AS psi,
      CAST(sum(CASE WHEN g.c_s = 0 OR g.c_bin - g.c_s = 0 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_skipped_bins
    FROM grid g JOIN ns USING (source) CROSS JOIN n_all
    GROUP BY g.source, ns.n_s, n_all.n
    """,
)
def x29_token_psi(spark: SparkSession, sf_dir: str, vc: DataFrame | None = None) -> DataFrame:
    # ``vc`` lets a composite (ep8) hand in the (source, v, c) token-count
    # histogram derived from a SHARED corpus scan; standalone, build it
    # from this query's own scan.
    if vc is None:
        from ..functions.analysis import token_count

        docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
        tc = docs.select("source", token_count(F.col("text")).alias("v"))
        # (source × token-count) histogram: tiny after one corpus scan,
        # THREE consumers (global histogram, bin join, via-sbin totals) —
        # the x28 materialize-once discipline
        vc = materialize(tc.groupBy("source", "v").agg(F.count("*").alias("c")))
    g = vc.groupBy("v").agg(F.sum("c").cast("long").alias("c_tot"))
    n_all = g.agg(F.sum("c_tot").cast("long").alias("n"))
    # cumulative over the token-count DOMAIN (distinct values, never
    # corpus-sized) — the constant partition key keeps WindowExec off the
    # implicit-single-partition warning path while staying one partition
    # of a bounded input (the v4/v12 rationale)
    wv = Window.partitionBy(F.lit(0)).orderBy("v")
    cum = g.select("v", F.sum("c_tot").over(wv).alias("cum_tot"))
    marks = spark.range(1, 10).select(F.col("id").cast("int").alias("i"))
    # decile breakpoints: smallest v whose cumulative count reaches
    # ceil(i*N/10) — 9-row broadcast against the bounded cum table
    breaks = (
        cum.join(
            F.broadcast(marks.crossJoin(n_all)),
            F.col("cum_tot") >= F.expr("(i * n + 9) div 10"),
        )
        .groupBy("i")
        .agg(F.min("v").alias("b"))
    )
    binned = (
        vc.crossJoin(F.broadcast(breaks))  # histogram × 9 breakpoints
        .groupBy("source", "v", "c")
        .agg(
            (F.lit(1) + F.sum(F.when(F.col("v") > F.col("b"), 1).otherwise(0))).alias(
                "bin"
            )
        )
    )
    # sources × ≤10 bins: THREE consumers (global bins, per-source n, grid)
    sbin = materialize(
        binned.groupBy("source", "bin")
        .agg(F.sum("c").cast("long").alias("c_s"))
    )
    gbin = sbin.groupBy("bin").agg(F.sum("c_s").cast("long").alias("c_bin"))
    ns = sbin.groupBy("source").agg(F.sum("c_s").cast("long").alias("n_s"))
    grid = (
        sbin.select("source")
        .distinct()
        .crossJoin(F.broadcast(gbin))
        .join(sbin, ["source", "bin"], "left")
        .select("source", "bin", "c_bin", F.coalesce("c_s", F.lit(0)).alias("c_s"))
    )
    p_s = F.col("c_s") / F.col("n_s").cast("double")
    p_r = (F.col("c_bin") - F.col("c_s")) / (F.col("n") - F.col("n_s")).cast("double")
    live = (F.col("c_s") > 0) & (F.col("c_bin") - F.col("c_s") > 0)
    return (
        grid.join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(n_all))  # singleton stats row
        .groupBy("source", "n_s", "n")
        .agg(
            F.round(
                F.sum(F.when(live, (p_s - p_r) * F.log(p_s / p_r)).otherwise(0.0)), 6
            ).alias("psi"),
            F.sum(F.when(live, 0).otherwise(1)).cast("long").alias("n_skipped_bins"),
        )
        .select("source", F.col("n_s").alias("n_docs"), "psi", "n_skipped_bins")
    )


# --- G6: source × lang chi-squared independence audit -------------------------------
# The stratification sanity check mixture design needs: is language mix
# independent of source? Pearson chi-squared over the FULL margin grid
# (zero cells included — that's where dependence hides), reported as
# per-source contributions so the alert names the offending source, not
# just "the corpus drifted". Expected counts are exact integer products
# over a double N; each source sums |langs| cells. One corpus scan, then
# everything is margins-sized.
@query(
    "g6_source_lang_chi2",
    oracle="""
    WITH o AS (SELECT source, lang, count(*) AS n FROM documents GROUP BY 1, 2),
    r AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_src FROM o GROUP BY source),
    k AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_lang FROM o GROUP BY lang),
    n_all AS (SELECT CAST(sum(n) AS BIGINT) AS n FROM o),
    grid AS (
      SELECT r.source, k.lang, r.n_src, k.n_lang, coalesce(o.n, 0) AS obs
      FROM r CROSS JOIN k
      LEFT JOIN o ON o.source = r.source AND o.lang = k.lang
    )
    SELECT g.source, g.n_src AS n_docs,
      round(sum(
        (g.obs - g.n_src * g.n_lang / CAST(n_all.n AS DOUBLE))
        * (g.obs - g.n_src * g.n_lang / CAST(n_all.n AS DOUBLE))
        / (g.n_src * g.n_lang / CAST(n_all.n AS DOUBLE))
      ), 6) AS chi2_contrib
    FROM grid g CROSS JOIN n_all
    GROUP BY g.source, g.n_src
    """,
)
def g6_source_lang_chi2(spark: SparkSession, sf_dir: str, o: DataFrame | None = None) -> DataFrame:
    # ``o`` lets a composite (ep8) hand in the (source, lang, n)
    # contingency cells derived from a SHARED corpus scan; standalone,
    # build them from this query's own scan.
    if o is None:
        docs = load_table(spark, sf_dir, "documents")
        # contingency cells: tiny after one corpus scan, THREE consumers
        # (row margins, column margins, grid join) — materialize once
        o = materialize(docs.groupBy("source", "lang").agg(F.count("*").alias("n")))
    r = o.groupBy("source").agg(F.sum("n").cast("long").alias("n_src"))
    k = o.groupBy("lang").agg(F.sum("n").cast("long").alias("n_lang"))
    n_all = o.agg(F.sum("n").cast("long").alias("n"))
    grid = (
        r.crossJoin(F.broadcast(k))  # sources × langs margin grid (bounded)
        .join(o, ["source", "lang"], "left")
        .select(
            "source", "lang", "n_src", "n_lang", F.coalesce("n", F.lit(0)).alias("obs")
        )
    )
    e = F.col("n_src") * F.col("n_lang") / F.col("n").cast("double")
    return (
        grid.crossJoin(F.broadcast(n_all))  # singleton stats row
        .groupBy("source", "n_src")
        .agg(
            F.round(F.sum((F.col("obs") - e) * (F.col("obs") - e) / e), 6).alias(
                "chi2_contrib"
            )
        )
        .select("source", F.col("n_src").alias("n_docs"), "chi2_contrib")
    )


# --- S16: ORC sink → source roundtrip -----------------------------------------------
# The third columnar interchange beside parquet and CSV/JSONL: Spark
# ships a native ORC reader/writer (predicate pushdown + column pruning,
# same as parquet), and mixed lakes routinely hand a pipeline ORC
# inputs. Write the documents projection as zlib ORC, read it back with
# an EXPLICIT schema (inference is an extra footer pass per file), and
# aggregate — the roundtrip is transparent to the oracle, which states
# the aggregate directly (the s3/s10 discipline).
@query(
    "s16_orc_roundtrip",
    oracle="""
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(max(doc_id) AS BIGINT) AS max_doc_id
    FROM documents WHERE text IS NOT NULL GROUP BY source
    """,
)
def s16_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    out_dir = scratch_dir(spark, "orc", sf_dir)
    docs.select("doc_id", "source", "n_chars").write.mode("overwrite").option(
        "compression", "zlib"
    ).orc(out_dir)
    back = spark.read.schema("doc_id long, source string, n_chars long").orc(out_dir)
    return back.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.max("doc_id").alias("max_doc_id"),
    )


# --- EP8: drift report (the scheduled monitoring composite) -------------------------
# The operational deliverable the drift trio exists for: ONE
# (source, metric, value) table a refresh pipeline materializes per
# batch and diffs against the previous run — x28's exact KS over char
# lengths, x29's PSI over token-count deciles, g6's chi-squared
# language-mix contribution, per source. The oracle is assembled
# VERBATIM from the three component oracles (registered above in this
# module), so the composite can never drift from the audits it bundles.
# Scan budget: ONE corpus scan (the x26 one-tokenize precedent): x28
# needs (source, n_chars) and g6 needs (source, lang) — plain columns —
# and only x29 pays a tokenize, so a single (source, n_chars, lang,
# ntok) composite histogram off one scan feeds all three marginals.
# The per-batch monitoring query's cost IS the monitoring cadence.
@query(
    "ep8_drift_report",
    oracle=f"""
    SELECT source, 'ks_chars' AS metric, ks_stat AS value
    FROM ({ORACLE_SQL["x28_length_drift_ks"]})
    UNION ALL
    SELECT source, 'psi_tokens' AS metric, psi AS value
    FROM ({ORACLE_SQL["x29_token_psi"]})
    UNION ALL
    SELECT source, 'chi2_lang' AS metric, chi2_contrib AS value
    FROM ({ORACLE_SQL["g6_source_lang_chi2"]})
    """,
)
def ep8_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.analysis import token_count

    docs = load_table(spark, sf_dir, "documents")
    # ONE corpus scan → the three marginal histograms directly, via
    # GROUPING SETS ((source, n_chars), (source, lang), (source, ntok)).
    # A composite (source, n_chars, lang, ntok) groupBy would key on two
    # near-unique-per-doc columns AT ONCE, so the materialized table can
    # approach corpus row count (ADVICE r9); the grouping-sets Expand
    # triples pre-aggregation rows but map-side partial agg collapses
    # them, and what materializes is the SUM of the marginal
    # cardinalities — bounded by sources × per-column value domains.
    # grouping_id() separates a column that is NULL-because-not-grouped
    # from a genuine NULL: gid 3 = chars marginal, 5 = lang, 6 = ntok.
    # ntok is NULL for null-text docs so x29's marginal can apply its
    # text-IS-NOT-NULL filter while x28/g6 keep counting every doc.
    marg = materialize(
        docs.select(
            "source",
            "n_chars",
            "lang",
            F.when(F.col("text").isNotNull(), token_count(F.col("text"))).alias("ntok"),
        )
        .groupingSets(
            [["source", "n_chars"], ["source", "lang"], ["source", "ntok"]],
            "source", "n_chars", "lang", "ntok",
        )
        .agg(F.count("*").alias("c"), F.grouping_id().alias("gid"))
    )
    # each marginal's several in-component consumers re-read the (small)
    # checkpoint through a cheap filter — no corpus re-scan anywhere
    vc_chars = marg.where(F.col("gid") == 3).select(
        "source", F.col("n_chars").alias("v"), "c"
    )
    vc_tok = marg.where((F.col("gid") == 6) & F.col("ntok").isNotNull()).select(
        "source", F.col("ntok").alias("v"), "c"
    )
    o_lang = marg.where(F.col("gid") == 5).select(
        "source", "lang", F.col("c").alias("n")
    )
    ks = x28_length_drift_ks(spark, sf_dir, vc=vc_chars).select(
        "source", F.lit("ks_chars").alias("metric"), F.col("ks_stat").alias("value")
    )
    psi = x29_token_psi(spark, sf_dir, vc=vc_tok).select(
        "source", F.lit("psi_tokens").alias("metric"), F.col("psi").alias("value")
    )
    chi = g6_source_lang_chi2(spark, sf_dir, o=o_lang).select(
        "source", F.lit("chi2_lang").alias("metric"), F.col("chi2_contrib").alias("value")
    )
    return ks.unionAll(psi).unionAll(chi)


# --- S17: tombstone delete + leak audit (right-to-be-forgotten) --------------------
# The compliance workflow every stored corpus eventually runs: a
# deletion-request list (tombstones — here the deterministic md5 bucket
# % 37 == 0, ~2.7% of docs) is anti-joined out, the RETAINED corpus is
# rewritten, and the audit re-reads the WRITTEN files to prove no
# tombstoned doc survived (n_leaked is counted off the sink readback,
# not the logical plan — the property a regulator asks about is on
# disk). Per-source retained/deleted counts make the report actionable.
# Scale shape: the tombstone list is a broadcast anti-join (deletion
# requests are ≪ corpus); the rewrite is the s8 partitioned-sink path;
# the leak probe is one broadcast semi-join over the readback.
@query(
    "s17_tombstone_delete",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             CASE WHEN ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT % 37 = 0
                  THEN 1 ELSE 0 END AS dead
      FROM documents
    )
    SELECT d.source,
           CAST(sum(1 - t.dead) AS BIGINT) AS n_retained,
           CAST(sum(t.dead) AS BIGINT) AS n_deleted,
           CAST(0 AS BIGINT) AS n_leaked,
           CAST(sum(CASE WHEN t.dead = 0 THEN d.n_chars ELSE 0 END) AS BIGINT)
             AS retained_chars
    FROM documents d JOIN t USING (doc_id)
    GROUP BY d.source
    """,
)
def s17_tombstone_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import md5_long

    docs = load_table(spark, sf_dir, "documents")
    dead = F.pmod(md5_long(F.col("doc_id").cast("string")), F.lit(37)) == 0
    # the tombstone list is tiny (~2.7%) with FOUR consumers (anti-join
    # broadcast, leak probe, per-source deleted counts, source-list
    # union) — materialize once so documents is scanned exactly twice
    # (this build + the retained rewrite), not once per consumer
    tombstones = materialize(docs.where(dead).select("doc_id", "source"))
    retained = docs.join(
        F.broadcast(tombstones.select("doc_id")), "doc_id", "left_anti"
    )
    out_dir = scratch_dir(spark, "tombstone", sf_dir)
    retained.select("doc_id", "source", "n_chars").write.mode("overwrite").parquet(out_dir)
    back = spark.read.schema("doc_id long, source string, n_chars long").parquet(out_dir)
    # leak audit runs against the FILES, not the plan that wrote them
    leaked = back.join(
        F.broadcast(tombstones.select("doc_id")), "doc_id", "left_semi"
    ).groupBy("source").agg(F.count("*").alias("n_leaked"))
    deleted = tombstones.groupBy("source").agg(F.count("*").alias("n_deleted"))
    retained_agg = back.groupBy("source").agg(
        F.count("*").alias("n_retained"),
        F.sum("n_chars").cast("long").alias("retained_chars"),
    )
    # drive from the FULL source list (x27 lesson): a source whose every
    # doc was tombstoned must still appear, with n_retained = 0. Every
    # source is in the readback or the tombstone list, so the union needs
    # no third corpus scan.
    sources = (
        back.select("source").unionAll(tombstones.select("source")).distinct()
    )
    return (
        sources.join(retained_agg, "source", "left")
        .join(deleted, "source", "left")
        .join(leaked, "source", "left")
        .select(
            "source",
            F.coalesce("n_retained", F.lit(0)).cast("long").alias("n_retained"),
            F.coalesce("n_deleted", F.lit(0)).cast("long").alias("n_deleted"),
            F.coalesce("n_leaked", F.lit(0)).cast("long").alias("n_leaked"),
            F.coalesce("retained_chars", F.lit(0)).cast("long").alias("retained_chars"),
        )
    )


# --- S18: raw text-lines sink → source roundtrip -----------------------------------
# The format pretraining corpora actually ship as: one document per line
# in plain .txt (optionally *.zst/*.gz — Spark's text source decompresses
# by extension). Embedded line breaks are flattened to spaces BEFORE the
# write (a doc with a newline would otherwise read back as two docs —
# the classic corpus-corruption bug this query exists to pin), then the
# read-back is audited with line count + char mass + length extrema.
# The oracle states the same aggregates over the same flatten transform,
# roundtrip transparent (the s3/s16 discipline). Completes the format
# matrix: parquet, CSV, JSONL, ORC, text lines (avro's jar isn't shipped
# with this pyspark build — external module).
@query(
    "s18_textlines_roundtrip",
    oracle=r"""
    WITH lines AS (
      SELECT regexp_replace(text, '[\n\r]+', ' ', 'g') AS line
      FROM documents WHERE text IS NOT NULL
    )
    SELECT count(*) AS n_lines,
           CAST(sum(length(line)) AS BIGINT) AS total_chars,
           CAST(min(length(line)) AS BIGINT) AS min_len,
           CAST(max(length(line)) AS BIGINT) AS max_len
    FROM lines
    """,
)
def s18_textlines_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    out_dir = scratch_dir(spark, "txtlines", sf_dir)
    docs.select(
        F.regexp_replace(F.col("text"), "[\\n\\r]+", " ").alias("value")
    ).write.mode("overwrite").text(out_dir)
    back = spark.read.text(out_dir)
    return back.agg(
        F.count("*").alias("n_lines"),
        F.sum(F.length("value")).cast("long").alias("total_chars"),
        F.min(F.length("value")).cast("long").alias("min_len"),
        F.max(F.length("value")).cast("long").alias("max_len"),
    )


# --- S19: gzip-compressed text-lines roundtrip --------------------------------------
# s18's production variant: pretraining corpora ship as one-doc-per-line
# *.txt.gz / *.zst shards, and Spark's text sink/source handle the codec
# by config/extension — the writer sets spark.sql.compression via the
# DataFrameWriter option, the reader decompresses per file extension
# with NO plan change. The audit re-reads the WRITTEN files (s17's
# readback discipline) and additionally proves compression actually
# happened: n_plain_files counts distinct readback files NOT named
# *.gz — the oracle pins it to 0, so a silently-ignored codec option
# fails the hash check instead of shipping uncompressed corpora. Note
# gzip shards are NOT splittable — one read task per shard — so the
# WRITER's partition count (here: the scan's) is the read parallelism
# knob a 100 TB export must size deliberately; zstd/bzip2 or many
# smaller shards keep rehydration parallel.
@query(
    "s19_textlines_gzip_roundtrip",
    oracle=r"""
    WITH lines AS (
      SELECT regexp_replace(text, '[\n\r]+', ' ', 'g') AS line
      FROM documents WHERE text IS NOT NULL
    )
    SELECT count(*) AS n_lines,
           CAST(sum(length(line)) AS BIGINT) AS total_chars,
           CAST(min(length(line)) AS BIGINT) AS min_len,
           CAST(max(length(line)) AS BIGINT) AS max_len,
           CAST(0 AS BIGINT) AS n_plain_files
    FROM lines
    """,
)
def s19_textlines_gzip_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    out_dir = scratch_dir(spark, "txtgz", sf_dir)
    docs.select(
        F.regexp_replace(F.col("text"), "[\\n\\r]+", " ").alias("value")
    ).write.mode("overwrite").option("compression", "gzip").text(out_dir)
    # input_file_name() is non-deterministic — project it BEFORE the
    # aggregate (Spark rejects it inside aggregate arguments)
    back = spark.read.text(out_dir).select(
        "value", F.input_file_name().alias("src_file")
    )
    return back.agg(
        F.count("*").alias("n_lines"),
        F.sum(F.length("value")).cast("long").alias("total_chars"),
        F.min(F.length("value")).cast("long").alias("min_len"),
        F.max(F.length("value")).cast("long").alias("max_len"),
        # proves the codec engaged: any readback file not *.gz counts
        F.countDistinct(
            F.when(~F.col("src_file").endswith(".gz"), F.col("src_file"))
        ).alias("n_plain_files"),
    )


# --- S20: schema-evolution read across ingest snapshots ------------------------------
# The ingest-robustness face the format matrix (s3/s8/s18/s19) doesn't
# cover: long-lived corpora GROW COLUMNS — early shards were written
# before `lang` existed, later shards carry it — and a 100 TB re-read
# must unify them without rewriting history. Spark's answer is
# mergeSchema at the parquet source: snapshot directories become a
# `snap` partition column, the union schema is reconciled per footer,
# and rows from pre-`lang` shards surface NULL backfill. The audit
# writes two real snapshot trees (snap=1 without `lang`, snap=2 with
# it), re-reads the WRITTEN files (the s17/s19 readback discipline) and
# proves the two behaviors a reader depends on: the partition column
# materializes, and backfilled NULLs are exactly the old snapshot's row
# count — so a silently-dropped column or a failed merge flips the hash
# instead of shipping a corrupt union. Scale note: mergeSchema reads
# EVERY footer at planning time; production pins the union schema
# explicitly once known (.schema(...)) — this query is the audit that
# derives it.
@query(
    "s20_schema_evolution_read",
    oracle="""
    WITH s1 AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 0),
    s2 AS (SELECT doc_id, lang FROM documents WHERE doc_id % 3 = 1)
    SELECT 1 AS snap,
           count(*) AS n_rows,
           count(*) AS n_lang_null,
           CAST(0 AS BIGINT) AS n_distinct_lang
    FROM s1
    UNION ALL
    SELECT 2 AS snap,
           count(*) AS n_rows,
           CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_lang_null,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_distinct_lang
    FROM s2
    """,
)
def s20_schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    out_dir = scratch_dir(spark, "schemaevo", sf_dir)
    docs.where(F.col("doc_id") % 3 == 0).select("doc_id", "source").write.mode(
        "overwrite"
    ).parquet(out_dir + "/snap=1")
    docs.where(F.col("doc_id") % 3 == 1).select("doc_id", "source", "lang").write.mode(
        "overwrite"
    ).parquet(out_dir + "/snap=2")
    merged = spark.read.option("mergeSchema", "true").parquet(out_dir)
    return (
        merged.groupBy(F.col("snap").cast("int").alias("snap"))
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum(F.when(F.col("lang").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_lang_null"),
            F.count_distinct("lang").cast("long").alias("n_distinct_lang"),
        )
    )


# --- EP12: data card diff (the release publishes ONE table) --------------------------
# ep7 is the datasheet of one corpus version; ep11 is the doc/token
# ledger of a version diff. A release wants both faces in one artifact:
# every ep7 card metric computed for version A AND version B with the
# delta beside it. Version B is ep11/s14's exact derivation (drop
# doc_id % 7 == 0; even-id docs metadata-edited, text unchanged) so the
# three release audits can never disagree about what "B" means. Scale
# shape: the SAME two scans as the single-version card — the lang
# aggregate and the one tokenize pass each carry v1 and v2 via
# conditional aggregation — so the diff card costs exactly what ep7
# costs. Float discipline: every per-version value is one division of
# exact integer aggregates (or an exact integer cast), so both engines
# hold bit-identical operands and delta = v2 − v1 is the ep11-audited
# a−b shape (a +0.0 whenever the versions agree, never a signed-zero
# roulette).
@query(
    "ep12_data_card_diff",
    oracle=f"""
    WITH {toks_cte()},
    d2 AS (SELECT *, doc_id % 7 <> 0 AS in_v2 FROM documents),
    langs AS (
      SELECT lang,
             count(*) AS c1,
             CAST(sum(CASE WHEN in_v2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
             CAST(sum(n_chars) AS BIGINT) AS chars1,
             CAST(sum(CASE WHEN in_v2 THEN n_chars ELSE 0 END) AS BIGINT) AS chars2,
             CAST(sum(CASE WHEN n_chars < 100 THEN 1 ELSE 0 END) AS BIGINT) AS short1,
             CAST(sum(CASE WHEN in_v2 AND n_chars < 100 THEN 1 ELSE 0 END) AS BIGINT)
               AS short2
      FROM d2 GROUP BY lang
    ),
    base AS (
      SELECT CAST(sum(c1) AS DOUBLE) AS n_docs_v1,
             CAST(sum(c2) AS DOUBLE) AS n_docs_v2,
             CAST(count(*) AS DOUBLE) AS n_langs_v1,
             CAST(sum(CASE WHEN c2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS n_langs_v2,
             round(max(c1) / CAST(sum(c1) AS DOUBLE), 6) AS top_lang_share_v1,
             round(max(c2) / CAST(sum(c2) AS DOUBLE), 6) AS top_lang_share_v2,
             round(sum(chars1) / CAST(sum(c1) AS DOUBLE), 6) AS mean_doc_chars_v1,
             round(sum(chars2) / CAST(sum(c2) AS DOUBLE), 6) AS mean_doc_chars_v2,
             round(sum(short1) / CAST(sum(c1) AS DOUBLE), 6) AS short_doc_rate_v1,
             round(sum(short2) / CAST(sum(c2) AS DOUBLE), 6) AS short_doc_rate_v2
      FROM langs
    ),
    tokfp AS (
      SELECT doc_id, len(toks) AS nt,
             md5(coalesce(array_to_string(toks, ' '), '')) AS f,
             doc_id % 7 <> 0 AS in_v2
      FROM toks
    ),
    tok AS (
      SELECT CAST(sum(nt) AS DOUBLE) AS n_tokens_v1,
             CAST(sum(CASE WHEN in_v2 THEN nt ELSE 0 END) AS DOUBLE) AS n_tokens_v2,
             round(1.0 - count(DISTINCT f) / CAST(count(*) AS DOUBLE), 6)
               AS exact_dup_rate_v1,
             round(1.0 - count(DISTINCT CASE WHEN in_v2 THEN f END)
                   / CAST(sum(CASE WHEN in_v2 THEN 1 ELSE 0 END) AS DOUBLE), 6)
               AS exact_dup_rate_v2
      FROM tokfp
    ),
    wide AS (SELECT * FROM base CROSS JOIN tok)
    SELECT 'n_docs' AS metric, n_docs_v1 AS value_v1, n_docs_v2 AS value_v2,
           round(n_docs_v2 - n_docs_v1, 6) AS delta FROM wide
    UNION ALL
    SELECT 'n_tokens', n_tokens_v1, n_tokens_v2,
           round(n_tokens_v2 - n_tokens_v1, 6) FROM wide
    UNION ALL
    SELECT 'n_langs', n_langs_v1, n_langs_v2,
           round(n_langs_v2 - n_langs_v1, 6) FROM wide
    UNION ALL
    SELECT 'top_lang_share', top_lang_share_v1, top_lang_share_v2,
           round(top_lang_share_v2 - top_lang_share_v1, 6) FROM wide
    UNION ALL
    SELECT 'exact_dup_rate', exact_dup_rate_v1, exact_dup_rate_v2,
           round(exact_dup_rate_v2 - exact_dup_rate_v1, 6) FROM wide
    UNION ALL
    SELECT 'mean_doc_chars', mean_doc_chars_v1, mean_doc_chars_v2,
           round(mean_doc_chars_v2 - mean_doc_chars_v1, 6) FROM wide
    UNION ALL
    SELECT 'short_doc_rate', short_doc_rate_v1, short_doc_rate_v2,
           round(short_doc_rate_v2 - short_doc_rate_v1, 6) FROM wide
    """,
)
def ep12_data_card_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    in_v2 = F.col("doc_id") % 7 != 0
    # scan 1: ONE lang-grouped aggregate carries both versions' counts
    langs = docs.groupBy("lang").agg(
        F.count("*").alias("c1"),
        F.sum(F.when(in_v2, 1).otherwise(0)).cast("long").alias("c2"),
        F.sum("n_chars").cast("long").alias("chars1"),
        F.sum(F.when(in_v2, F.col("n_chars")).otherwise(0)).cast("long").alias("chars2"),
        F.sum(F.when(F.col("n_chars") < 100, 1).otherwise(0)).cast("long").alias("short1"),
        F.sum(F.when(in_v2 & (F.col("n_chars") < 100), 1).otherwise(0))
        .cast("long")
        .alias("short2"),
    )
    base = langs.agg(
        F.sum("c1").cast("double").alias("n_docs_v1"),
        F.sum("c2").cast("double").alias("n_docs_v2"),
        F.count("*").cast("double").alias("n_langs_v1"),
        F.sum(F.when(F.col("c2") > 0, 1).otherwise(0)).cast("double").alias("n_langs_v2"),
        F.round(F.max("c1") / F.sum("c1").cast("double"), 6).alias("top_lang_share_v1"),
        F.round(F.max("c2") / F.sum("c2").cast("double"), 6).alias("top_lang_share_v2"),
        F.round(F.sum("chars1") / F.sum("c1").cast("double"), 6).alias("mean_doc_chars_v1"),
        F.round(F.sum("chars2") / F.sum("c2").cast("double"), 6).alias("mean_doc_chars_v2"),
        F.round(F.sum("short1") / F.sum("c1").cast("double"), 6).alias("short_doc_rate_v1"),
        F.round(F.sum("short2") / F.sum("c2").cast("double"), 6).alias("short_doc_rate_v2"),
    )
    # scan 2: tokenize ONCE (as an attribute — the inline
    # fingerprint_pair re-tokenized); token mass + dup fingerprints for
    # BOTH versions from it
    from ..functions.analysis import with_fingerprint_pair

    toked = docs.where(F.col("text").isNotNull()).select(
        tokenize(F.col("text")).alias("_toks"), in_v2.alias("in_v2")
    )
    tokfp = with_fingerprint_pair(toked, "f", "_toks").select(
        F.size("_toks").alias("nt"), "f", "in_v2"
    )
    tok = tokfp.agg(
        F.sum("nt").cast("double").alias("n_tokens_v1"),
        F.sum(F.when(F.col("in_v2"), F.col("nt")).otherwise(0))
        .cast("double")
        .alias("n_tokens_v2"),
        F.round(
            1.0 - F.countDistinct("f") / F.count("*").cast("double"), 6
        ).alias("exact_dup_rate_v1"),
        F.round(
            1.0
            - F.countDistinct(F.when(F.col("in_v2"), F.col("f")))
            / F.sum(F.when(F.col("in_v2"), 1).otherwise(0)).cast("double"),
            6,
        ).alias("exact_dup_rate_v2"),
    )
    # 1×1 broadcast crossJoin, materialized (a single row) so the 7-branch
    # unpivot union cannot re-execute the scans per branch (ep7 discipline)
    wide = materialize(base.crossJoin(F.broadcast(tok)))
    metrics = (
        "n_docs", "n_tokens", "n_langs", "top_lang_share",
        "exact_dup_rate", "mean_doc_chars", "short_doc_rate",
    )
    out = None
    for m in metrics:
        row = wide.select(
            F.lit(m).alias("metric"),
            F.col(f"{m}_v1").cast("double").alias("value_v1"),
            F.col(f"{m}_v2").cast("double").alias("value_v2"),
            F.round(F.col(f"{m}_v2") - F.col(f"{m}_v1"), 6).alias("delta"),
        )
        out = row if out is None else out.unionAll(row)
    return out
