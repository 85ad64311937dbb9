"""Mocked-LLM enrichment queries (M8/M9/M10 + F8 + EP1). The mock client
is a pure function of the prompt (md5-indexed vocabulary picks), so the
DuckDB oracle restates it exactly and the WHOLE enrichment path —
prompting, completion, regex field extraction, combined_features, label
join — is value-checked, not just rows-counted. The live HTTP client
swaps in via env config without touching any of this.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.llm import (
    CLUSTER_LABELS,
    DOMAINS,
    LABEL_PROMPT_PREFIX,
    LEVEL_1,
    LEVEL_2,
    PRIMARY_SECTORS,
    SECONDARY_SECTORS,
    SECTOR_PROMPT_PREFIX,
    TOPIC_PROMPT_PREFIX,
    enrich_documents,
    label_prompt,
    llm_complete,
)
from ..io.sources import load_table
from ..operators.tfidf import cluster_term_scores, tfidf_long
from .oracle_fragments import cluster_topterms_ctes
from .registry import query


def _arr(words: tuple[str, ...]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


def _h60(expr: str) -> str:
    return f"('0x'||substr(md5({expr}),1,15))::BIGINT"


# mock completion formulas (DuckDB restatement of MockLLMClient)
_TH = _h60(f"'{TOPIC_PROMPT_PREFIX}' || text")
_SH = _h60(f"'{SECTOR_PROMPT_PREFIX}' || text")

_TOPIC_RESP = (
    f"'Domain: ' || {_arr(DOMAINS)}[({_TH} % 8) + 1]"
    f" || ' Level 1: ' || {_arr(LEVEL_1)}[(({_TH} >> 8) % 8) + 1]"
    f" || ' Level 2: ' || {_arr(LEVEL_2)}[(({_TH} >> 16) % 8) + 1]"
)
_SECTOR_RESP = (
    f"'Primary_Sector: ' || {_arr(PRIMARY_SECTORS)}[({_SH} % 6) + 1]"
    f" || ' Secondary_Sector: ' || {_arr(SECONDARY_SECTORS)}[(({_SH} >> 8) % 6) + 1]"
)


# --- L1: full enrichment stage (EP1: M8+M9+F8+P2+P7) ---------------------------
@query(
    "l1_enrich_documents",
    oracle=f"""
    WITH base AS (
      SELECT doc_id,
             CASE WHEN text IS NULL OR trim(text) = '' THEN NULL ELSE text END AS text
      FROM documents
    ),
    resp AS (
      SELECT doc_id,
             CASE WHEN text IS NULL THEN NULL ELSE {_TOPIC_RESP} END AS topic_response,
             CASE WHEN text IS NULL THEN NULL ELSE {_SECTOR_RESP} END AS sector_response
      FROM base
    ),
    fields AS (
      SELECT doc_id, topic_response,
             NULLIF(trim(regexp_extract(topic_response, 'Domain: (.*?) Level 1:', 1)), '') AS Domain,
             NULLIF(trim(regexp_extract(topic_response, 'Level 1: (.*?) Level 2:', 1)), '') AS Level_1,
             NULLIF(trim(regexp_extract(topic_response, 'Level 2: (.*)$', 1)), '') AS Level_2,
             NULLIF(trim(regexp_extract(sector_response, 'Primary_Sector: (.*?) Secondary_Sector:', 1)), '') AS Primary_Sector,
             NULLIF(trim(regexp_extract(sector_response, 'Secondary_Sector: (.*)$', 1)), '') AS Secondary_Sector
      FROM resp
    )
    SELECT doc_id, topic_response, Domain, Level_1, Level_2,
           Primary_Sector, Secondary_Sector,
           concat_ws(' ', Domain, Level_1, Level_2, Primary_Sector, Secondary_Sector) AS combined_features
    FROM fields
    """,
)
def l1_enrich_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return enrich_documents(load_table(spark, sf_dir, "documents"))


# --- L2: cluster labeling (M10 + J1) --------------------------------------------
# Reference: label_clusters_with_gpt from top-terms keywords
# (02_build_models.R:697-761); cluster proxy = lang; label map broadcast-
# joined back onto documents.
@query(
    "l2_cluster_labels",
    oracle=f"""
    WITH {cluster_topterms_ctes()},
    kw AS (
      SELECT cluster_id, string_agg(term, ', ' ORDER BY rank) AS keywords
      FROM topterms GROUP BY cluster_id
    ),
    labels AS (
      SELECT cluster_id, keywords,
             {_arr(CLUSTER_LABELS)}[({_h60(f"'{LABEL_PROMPT_PREFIX}' || keywords")} % 6) + 1] AS label
      FROM kw
    ),
    sizes AS (SELECT lang AS cluster_id, count(*) AS n_docs FROM documents GROUP BY lang)
    SELECT l.cluster_id, l.keywords, l.label, s.n_docs
    FROM labels l JOIN sizes s ON l.cluster_id = s.cluster_id
    """,
)
def l2_cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    assignments = docs.select("doc_id", F.col("lang").alias("cluster_id"))
    topterms = cluster_term_scores(tfidf_long(docs), assignments, top_n=5)
    kw = topterms.groupBy("cluster_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rank", "term"))),
                lambda s: s.getField("term"),
            ),
            ", ",
        ).alias("keywords")
    )
    labeled = kw.withColumn("label", llm_complete(label_prompt(F.col("keywords"))))
    sizes = docs.groupBy(F.col("lang").alias("cluster_id")).agg(F.count("*").alias("n_docs"))
    return labeled.join(sizes, "cluster_id").select("cluster_id", "keywords", "label", "n_docs")


# --- L3: inference cost accounting ---------------------------------------------
# The ops telemetry every LLM-enrichment pass ships with: per-language
# call counts, prompt/completion token estimates (the industry-standard
# chars/4 proxy — exact, portable, and model-free), and projected spend
# at illustrative unit prices ($3/M prompt, $15/M completion). The Spark
# side runs the REAL Arrow-batched completion UDF (mock transport) so
# the accounting covers the same path production runs; the oracle
# restates the mock analytically (the l1 fragments) and prices the same
# formula. At 100 TB this query is the difference between a budgeted
# enrichment pass and a surprise invoice.
@query(
    "l3_inference_cost_report",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, lang,
             CASE WHEN text IS NULL OR trim(text) = '' THEN NULL ELSE text END AS text
      FROM documents
    ),
    resp AS (
      SELECT doc_id, lang, text,
             CASE WHEN text IS NULL THEN NULL ELSE {_TOPIC_RESP} END AS tr,
             CASE WHEN text IS NULL THEN NULL ELSE {_SECTOR_RESP} END AS sr
      FROM base
    ),
    costed AS (
      SELECT lang,
             CASE WHEN text IS NULL THEN 0 ELSE 2 END AS n_calls,
             CASE WHEN text IS NULL THEN 0 ELSE
               CAST(ceil(length('{TOPIC_PROMPT_PREFIX}' || text) / 4.0) AS BIGINT)
               + CAST(ceil(length('{SECTOR_PROMPT_PREFIX}' || text) / 4.0) AS BIGINT) END AS p_toks,
             CASE WHEN text IS NULL THEN 0 ELSE
               CAST(ceil(length(tr) / 4.0) AS BIGINT)
               + CAST(ceil(length(sr) / 4.0) AS BIGINT) END AS c_toks
      FROM resp
    )
    SELECT lang,
           CAST(sum(n_calls) AS BIGINT) AS n_calls,
           CAST(sum(p_toks) AS BIGINT) AS prompt_tokens,
           CAST(sum(c_toks) AS BIGINT) AS completion_tokens,
           round(sum(p_toks) * 3.0 / 1e6 + sum(c_toks) * 15.0 / 1e6, 6) AS est_cost_usd
    FROM costed GROUP BY lang
    """,
)
def l3_inference_cost_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.llm import sector_prompt, topic_prompt

    docs = load_table(spark, sf_dir, "documents")
    guarded = F.when(
        F.col("text").isNull() | (F.trim(F.col("text")) == ""), None
    ).otherwise(F.col("text"))
    base = docs.select("lang", guarded.alias("_text"))
    with_resp = base.withColumn(
        "tr", llm_complete(topic_prompt(F.col("_text")))
    ).withColumn("sr", llm_complete(sector_prompt(F.col("_text"))))
    tok = lambda c: F.ceil(F.length(c) / 4.0).cast("long")  # noqa: E731
    costed = with_resp.select(
        "lang",
        F.when(F.col("_text").isNull(), 0).otherwise(2).alias("n_calls"),
        F.when(F.col("_text").isNull(), 0)
        .otherwise(tok(topic_prompt(F.col("_text"))) + tok(sector_prompt(F.col("_text"))))
        .alias("p_toks"),
        F.when(F.col("_text").isNull(), 0)
        .otherwise(tok(F.col("tr")) + tok(F.col("sr")))
        .alias("c_toks"),
    )
    return costed.groupBy("lang").agg(
        F.sum("n_calls").cast("long").alias("n_calls"),
        F.sum("p_toks").cast("long").alias("prompt_tokens"),
        F.sum("c_toks").cast("long").alias("completion_tokens"),
        F.round(
            F.sum("p_toks") * 3.0 / 1e6 + F.sum("c_toks") * 15.0 / 1e6, 6
        ).alias("est_cost_usd"),
    )


# --- L4: inference cache-hit report (dedupe before you pay) ------------------------
# The standard cost lever in front of l3's invoice: identical prompts
# collapse to ONE inference call through a response cache keyed on the
# prompt hash. This report prices the lever — request volume, distinct
# prompts, the hits a cache would serve, and the spend fraction saved —
# straight off the same prompt constructor the enrichment path uses, so
# the number is the real dedup rate of the corpus's prompt stream (d1's
# duplicate mass seen through the LLM-billing lens). One hash groupBy;
# the cache itself would be the st10 bucketed-static-table pattern.
@query(
    "l4_llm_cache_report",
    oracle=f"""
    WITH base AS (
      SELECT md5('{TOPIC_PROMPT_PREFIX}' || text) AS pk
      FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
    )
    SELECT count(*) AS n_requests,
           count(DISTINCT pk) AS n_unique_prompts,
           count(*) - count(DISTINCT pk) AS n_cache_hits,
           round((count(*) - count(DISTINCT pk)) / CAST(count(*) AS DOUBLE), 6)
             AS hit_rate
    FROM base
    """,
)
def l4_llm_cache_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.llm import topic_prompt

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull() & (F.trim(F.col("text")) != "")
    )
    pk = docs.select(F.md5(topic_prompt(F.col("text"))).alias("pk"))
    return pk.agg(
        F.count("*").alias("n_requests"),
        F.countDistinct("pk").alias("n_unique_prompts"),
        (F.count("*") - F.countDistinct("pk")).alias("n_cache_hits"),
        F.round(
            (F.count("*") - F.countDistinct("pk")) / F.count("*").cast("double"), 6
        ).alias("hit_rate"),
    )


# --- L5: batched-inference plan (token-budgeted request packing) -------------------
# The serving-side lever after l4's cache: providers price and rate-limit
# per REQUEST as well as per token, so an enrichment pass packs many
# prompts into one batched call. This query materializes that plan —
# pack1's greedy running-total assignment applied to the prompt-token
# stream, per language (batches never mix languages: the prompt template
# and downstream parsing are per-locale), 2048 prompt tokens per batch —
# and reports the request-count reduction the packing buys. Token
# accounting is l3's chars/4 proxy over the SAME prompt constructor the
# enrichment path uses. Scale shape identical to pack1: one window per
# lang partition, no global sort; the batch plan is itself the exportable
# work-queue table a batch-inference runner consumes.
@query(
    "l5_batched_inference_plan",
    oracle=f"""
    WITH counted AS (
      SELECT doc_id, lang,
             CAST(ceil(length('{TOPIC_PROMPT_PREFIX}' || text) / 4.0) AS BIGINT) AS p_toks
      FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
    ),
    packed AS (
      SELECT lang, doc_id, p_toks,
             CAST(floor((sum(p_toks) OVER (PARTITION BY lang ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) - p_toks) / 2048.0) AS BIGINT) AS batch_id
      FROM counted
    ),
    batches AS (
      SELECT lang, batch_id, count(*) AS n_prompts, CAST(sum(p_toks) AS BIGINT) AS batch_toks
      FROM packed GROUP BY lang, batch_id
    )
    SELECT lang,
           CAST(sum(n_prompts) AS BIGINT) AS n_docs,
           count(*) AS n_batches,
           CAST(sum(n_prompts) - count(*) AS BIGINT) AS calls_saved,
           round((sum(n_prompts) - count(*)) / CAST(sum(n_prompts) AS DOUBLE), 6)
             AS saved_frac,
           round(CAST(sum(batch_toks) AS DOUBLE) / count(*), 6) AS avg_batch_tokens
    FROM batches GROUP BY lang
    """,
)
def l5_batched_inference_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..functions.llm import topic_prompt

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull() & (F.trim(F.col("text")) != "")
    )
    counted = docs.select(
        "doc_id",
        "lang",
        F.ceil(F.length(topic_prompt(F.col("text"))) / 4.0).cast("long").alias("p_toks"),
    )
    w = Window.partitionBy("lang").orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    packed = counted.select(
        "lang",
        "p_toks",
        F.floor((F.sum("p_toks").over(w) - F.col("p_toks")) / 2048.0)
        .cast("long")
        .alias("batch_id"),
    )
    batches = packed.groupBy("lang", "batch_id").agg(
        F.count("*").alias("n_prompts"), F.sum("p_toks").cast("long").alias("batch_toks")
    )
    return batches.groupBy("lang").agg(
        F.sum("n_prompts").cast("long").alias("n_docs"),
        F.count("*").alias("n_batches"),
        (F.sum("n_prompts") - F.count("*")).cast("long").alias("calls_saved"),
        F.round(
            (F.sum("n_prompts") - F.count("*")) / F.sum("n_prompts").cast("double"), 6
        ).alias("saved_frac"),
        F.round(F.sum("batch_toks").cast("double") / F.count("*"), 6).alias(
            "avg_batch_tokens"
        ),
    )
