"""LLM enrichment operators (SURVEY.md §2.8 M8/M9/M10, §2.1 S8).

The reference calls api.openai.com inline from R loops
(``01_extract_features.R:40-53,147-192``; ``02_build_models.R:716-731``;
``04_cluster_refiner.R:537-551``). Here the transport is a pluggable
client behind Arrow-batched Pandas UDFs:

- the client is constructed lazily once per executor process (the
  reference's own per-worker model-load pattern, ``02_test.R:44-58``);
- batching, bounded concurrency and retry live in the client, not the
  plan;
- tests and the correctness path ALWAYS use ``MockLLMClient`` — a
  deterministic completion function (md5-indexed choice from fixed
  vocabularies) that the DuckDB oracle can restate exactly, making the
  whole enrichment path (prompt → completion → regex field extraction →
  combined_features) value-checkable end-to-end;
- the live HTTP client is config-opt-in (``LLM_ENDPOINT``/``LLM_API_KEY``
  env) and never constructed in CI.
"""

from __future__ import annotations

import hashlib
import json
import os
import urllib.request
from collections.abc import Iterable

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Fixed mock vocabularies (deterministic; mirrored in oracle SQL).
DOMAINS = (
    "Technology", "Finance", "Healthcare", "Energy",
    "Education", "Retail", "Manufacturing", "Transport",
)
LEVEL_1 = (
    "Software", "Banking", "Clinical", "Renewables",
    "Learning", "Commerce", "Industrial", "Logistics",
)
LEVEL_2 = (
    "Analytics", "Payments", "Diagnostics", "Solar",
    "Assessment", "Marketplace", "Automation", "Freight",
)
PRIMARY_SECTORS = (
    "Information Technology", "Financial Services", "Health Care",
    "Utilities", "Consumer Discretionary", "Industrials",
)
SECONDARY_SECTORS = (
    "Software Services", "Capital Markets", "Biotechnology",
    "Electric Utilities", "Retailing", "Transportation",
)
CLUSTER_LABELS = (
    "Data Infrastructure and Analytics",
    "Financial Markets and Payments",
    "Clinical Care and Biotechnology",
    "Renewable Energy and Utilities",
    "Commerce and Retail Platforms",
    "Industrial Automation and Logistics",
)

TOPIC_PROMPT_PREFIX = "Extract Domain, Level 1 and Level 2 for: "
SECTOR_PROMPT_PREFIX = "Extract sectors for: "
LABEL_PROMPT_PREFIX = "Suggest a short label for keywords: "


def _h60(s: str) -> int:
    """The engine's portable 60-bit md5 hash (same as operators/dedup.md5_long)."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


class MockLLMClient:
    """Deterministic completions: md5-indexed picks from the fixed
    vocabularies. Response shapes mirror the reference's completion
    formats ('Domain: ... Level 1: ... Level 2: ...',
    01_extract_features.R:361-370; 'Primary_Sector: ... Secondary_Sector:
    ...', 01_extract_features.R:208-216)."""

    def complete(self, prompt: str) -> str:
        if prompt is None or prompt.strip() == "":
            return ""
        h = _h60(prompt)
        if prompt.startswith(TOPIC_PROMPT_PREFIX):
            d = DOMAINS[h % 8]
            l1 = LEVEL_1[(h >> 8) % 8]
            l2 = LEVEL_2[(h >> 16) % 8]
            return f"Domain: {d} Level 1: {l1} Level 2: {l2}"
        if prompt.startswith(SECTOR_PROMPT_PREFIX):
            p = PRIMARY_SECTORS[h % 6]
            s = SECONDARY_SECTORS[(h >> 8) % 6]
            return f"Primary_Sector: {p} Secondary_Sector: {s}"
        if prompt.startswith(LABEL_PROMPT_PREFIX):
            return CLUSTER_LABELS[h % 6]
        return f"Completion-{h % 1000}"

    def complete_batch(self, prompts: Iterable[str]) -> list[str]:
        return [self.complete(p) for p in prompts]


class HTTPLLMClient:
    """Live chat-completion client (S8): JSON POST, bearer auth, bounded
    retries with exponential backoff, and **bounded-concurrency** batch
    completion — config-injected endpoint, never used on the correctness
    path. Mirrors the reference's request shape
    (01_extract_features.R:40-53) and its worker-pool parallelism with
    chunked retry (plan(multisession, workers=availableCores()),
    01_extract_features.R:312,338-341): each Arrow batch fans out over a
    thread pool capped at ``max_concurrency`` per executor process, so
    total in-flight requests are bounded by executors × cap regardless of
    batch size."""

    def __init__(self, endpoint: str, api_key: str, model: str = "gpt-3.5-turbo-instruct",
                 max_tokens: int = 150, retries: int = 3, max_concurrency: int = 8,
                 backoff_base: float = 0.5):
        self.endpoint = endpoint
        self.api_key = api_key
        self.model = model
        self.max_tokens = max_tokens
        self.retries = retries
        self.max_concurrency = max(1, int(max_concurrency))
        self.backoff_base = backoff_base

    def _post(self, body: bytes) -> str:
        req = urllib.request.Request(
            self.endpoint,
            data=body,
            headers={"Authorization": f"Bearer {self.api_key}", "Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req, timeout=60) as resp:
            payload = json.loads(resp.read())
        return payload["choices"][0]["text"].strip()

    def complete(self, prompt: str) -> str:
        import time

        body = json.dumps(
            {"model": self.model, "prompt": prompt, "max_tokens": self.max_tokens}
        ).encode()
        last_err: Exception | None = None
        for attempt in range(self.retries):
            try:
                return self._post(body)
            except Exception as e:  # noqa: BLE001 — retry any transport error
                last_err = e
                if attempt + 1 < self.retries:
                    time.sleep(self.backoff_base * (2**attempt))
        raise RuntimeError(f"LLM request failed after {self.retries} retries") from last_err

    def complete_batch(self, prompts: Iterable[str]) -> list[str]:
        from concurrent.futures import ThreadPoolExecutor

        prompt_list = list(prompts)
        if not prompt_list:
            return []
        workers = min(self.max_concurrency, len(prompt_list))
        with ThreadPoolExecutor(max_workers=workers) as pool:
            return list(pool.map(self.complete, prompt_list))


_executor_client = None


def _get_client():
    """Per-executor lazy singleton (02_test.R:44-58 worker-load pattern).
    Live client only when LLM_ENDPOINT is configured; mock otherwise."""
    global _executor_client
    if _executor_client is None:
        endpoint = os.environ.get("LLM_ENDPOINT")
        if endpoint:
            _executor_client = HTTPLLMClient(
                endpoint,
                os.environ.get("LLM_API_KEY", ""),
                max_concurrency=int(os.environ.get("LLM_MAX_CONCURRENCY", "8")),
            )
        else:
            _executor_client = MockLLMClient()
    return _executor_client


@F.pandas_udf(T.StringType())
def _complete_udf(prompts: pd.Series) -> pd.Series:
    client = _get_client()
    # NULL prompt → NULL completion (P7 guard, 01_extract_features.R:85-88);
    # non-null prompts go through complete_batch so the live client's
    # bounded-concurrency pool actually engages per Arrow batch.
    plist = prompts.tolist()
    present = [p for p in plist if p is not None]
    completions = iter(client.complete_batch(present))
    return pd.Series([None if p is None else next(completions) for p in plist])


def llm_complete(prompt: Column) -> Column:
    """M8 transport — Arrow-batched completion of a prompt column."""
    return _complete_udf(prompt)


def topic_prompt(text: Column) -> Column:
    return F.concat(F.lit(TOPIC_PROMPT_PREFIX), text)


def sector_prompt(text: Column) -> Column:
    return F.concat(F.lit(SECTOR_PROMPT_PREFIX), text)


def label_prompt(keywords: Column) -> Column:
    return F.concat(F.lit(LABEL_PROMPT_PREFIX), keywords)


def parse_topic_response(resp: Column) -> list[Column]:
    """F8 — capture-group re-expression of the reference's lookaround
    extraction (01_extract_features.R:277-279,368-370). NULL when absent."""

    def ext(pat: str) -> Column:
        e = F.regexp_extract(resp, pat, 1)
        return F.when(e == "", None).otherwise(F.trim(e))

    return [
        ext(r"Domain: (.*?) Level 1:").alias("Domain"),
        ext(r"Level 1: (.*?) Level 2:").alias("Level_1"),
        ext(r"Level 2: (.*)$").alias("Level_2"),
    ]


def parse_sector_response(resp: Column) -> list[Column]:
    """M9 — struct-shaped sector extraction
    (01_extract_features.R:208-216,382-402)."""

    def ext(pat: str) -> Column:
        e = F.regexp_extract(resp, pat, 1)
        return F.when(e == "", None).otherwise(F.trim(e))

    return [
        ext(r"Primary_Sector: (.*?) Secondary_Sector:").alias("Primary_Sector"),
        ext(r"Secondary_Sector: (.*)$").alias("Secondary_Sector"),
    ]


def enrich_documents(docs: DataFrame) -> DataFrame:
    """EP1 — the full enrichment stage (process_large_file,
    01_extract_features.R:461-506) as one lazy plan: prompt → completion
    (batched UDF) → regex fields → combined_features. The reference's
    chunk loop / worker pool / consolidation dissolve into partitions."""
    guarded = F.when(
        F.col("text").isNull() | (F.trim(F.col("text")) == ""), None
    ).otherwise(F.col("text"))
    out = docs.select("doc_id", guarded.alias("_text"))
    out = out.withColumn("topic_response", llm_complete(topic_prompt(F.col("_text"))))
    out = out.withColumn("sector_response", llm_complete(sector_prompt(F.col("_text"))))
    out = out.select(
        "doc_id",
        "topic_response",
        *parse_topic_response(F.col("topic_response")),
        *parse_sector_response(F.col("sector_response")),
    )
    return out.withColumn(
        "combined_features",
        F.concat_ws(" ", "Domain", "Level_1", "Level_2", "Primary_Sector", "Secondary_Sector"),
    )
