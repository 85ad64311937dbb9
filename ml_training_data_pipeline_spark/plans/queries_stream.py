"""Structured Streaming queries, driven to completion over bounded file
streams (memory sink + processAllAvailable) so the driver can check them
like any batch query. st1/st2 are oracle-checked against the SAME SQL
semantics as their batch twins (w1/w2) — batch/stream parity made
literal. st3 reuses the mocked-LLM enrichment oracle (l1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.materialize import materialize
from ..session import run_concurrently
from ..streaming.enrich import (
    run_bounded,
    stream_table,
    streaming_enrich,
    streaming_sessionize,
)
from .oracle_fragments import (
    JACCARD_CTES,
    SPAN_WIDTH,
    bands_ctes,
    cos_sql,
    span_scrub_ctes,
    toks_cte,
)

# st13's decorator reads ORACLE_SQL["cur10_incremental_neardup"] at module
# definition time — importing queries_dedup here guarantees cur10 is
# registered first even on a direct `import queries_stream` (code-review
# r10: dropping the old H60 import silently dropped that ordering).
from . import queries_dedup  # noqa: F401
# and l1 before st3 copies its oracle below
from .queries_llm import l1_enrich_documents  # noqa: F401
from .registry import ORACLE_SQL, query


# --- ST1: watermarked tumbling windows on a stream -------------------------------
# Same bucketing as w1 (epoch-aligned 5-minute windows) ⇒ same oracle shape.
@query(
    "st1_stream_window_counts",
    oracle="""
    SELECT CAST(floor(epoch(ts) / 300) AS BIGINT) * 300 AS window_start,
           event_type,
           count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def st1_stream_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = stream_table(spark, sf_dir, "events")
    agg = (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("window.start").cast("long").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    return run_bounded(agg, "st1_out", output_mode="complete")


# --- ST2: native session windows on a stream -------------------------------------
# Gap-based sessions (30 min) — the streaming twin of w2's lag/cumsum; the
# oracle restates sessionization relationally and summarizes per user.
@query(
    "st2_stream_sessionize",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_id, epoch(ts) AS ets,
             lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ets
      FROM events
    ),
    flagged AS (
      SELECT user_id, event_id, ets,
             CASE WHEN prev_ets IS NULL OR ets - prev_ets > 1800 THEN 1 ELSE 0 END AS is_new
      FROM ordered
    ),
    sessions AS (
      SELECT user_id, ets,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ets, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM flagged
    )
    SELECT user_id, round(min(ets), 6) AS session_start_sec, count(*) AS n_events
    FROM sessions GROUP BY user_id, session_id
    """,
)
def st2_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = stream_table(spark, sf_dir, "events")
    sessions = streaming_sessionize(events)
    out = run_bounded(sessions, "st2_out", output_mode="complete")
    return out.select(
        "user_id",
        F.round(F.col("session_start").cast("double"), 6).alias("session_start_sec"),
        "n_events",
    )


# --- ST3: streaming enrichment (EP1 on a stream) ---------------------------------
# Stateless plan ⇒ identical results to the batch run; same oracle as l1.
@query("st3_stream_enrich")
def st3_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = stream_table(spark, sf_dir, "documents")
    return run_bounded(streaming_enrich(docs), "st3_out", output_mode="append")


# st3's oracle is l1's, verbatim (batch/stream parity)
ORACLE_SQL["st3_stream_enrich"] = ORACLE_SQL["l1_enrich_documents"]


# --- ST4: custom stateful operator (applyInPandasWithState) ----------------------
# Per-user running profile held in explicit group state. The state merge
# is commutative (set-union / sum / min) and the post-aggregation takes
# the per-key maxima of the monotone counters, so the result equals the
# batch GROUP BY regardless of micro-batch boundaries — which is what
# makes a STATEFUL streaming operator oracle-checkable at all.
# Oracle-parity bound: equality with the batch GROUP BY assumes no key's
# state expires MID-replay — i.e. the per-key event-time span between
# consecutive micro-batches stays under the TTL (60 min default; the
# testdata replays in one batch per file, far inside it). A replay that
# idles a key past its TTL resets that key's counters by design — that
# is the bounded-state contract, not a bug.
@query(
    "st4_stream_stateful_user_stats",
    oracle="""
    SELECT user_id,
           count(DISTINCT event_type) AS n_event_types,
           count(*) AS n_events,
           min(event_id) AS first_event_id
    FROM events GROUP BY user_id
    """,
)
def st4_stream_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.enrich import streaming_user_stats

    events = stream_table(spark, sf_dir, "events")
    out = run_bounded(streaming_user_stats(events), "st4_out", output_mode="update")
    return out.groupBy("user_id").agg(
        F.max("n_event_types").alias("n_event_types"),
        F.max("n_events").alias("n_events"),
        F.min("first_event_id").alias("first_event_id"),
    )


# --- ST5: streaming exact dedup (dropDuplicatesWithinWatermark) -------------------
# The streaming face of the curation dedup gate: state-backed key dedup
# with a watermark bounding state size (the 100-TB lever — state expires
# instead of growing forever). Emitting only the key columns makes the
# result arrival-order-independent: exactly the distinct key set.
@query(
    "st5_stream_dedup",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def st5_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = stream_table(spark, sf_dir, "events")
    deduped = (
        events.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return run_bounded(deduped, "st5_out", output_mode="append")


def _click_purchase_join(spark: SparkSession, sf_dir: str, how: str) -> DataFrame:
    """st6/st14's click→purchase interval join: both sides watermarked
    10 minutes, a purchase matches a click of the same user within the
    following hour, and epoch seconds truncate per timestamp on both
    sides so secs_to_purchase hashes identically to the oracle's floor."""
    clicks = (
        stream_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "10 minutes")
    )
    purchases = (
        stream_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "10 minutes")
    )
    return clicks.join(
        purchases,
        F.expr(
            """
            c_user_id = p_user_id AND
            p_ts > c_ts AND
            p_ts <= c_ts + interval 1 hour
            """
        ),
        how,
    ).select(
        F.col("c_user_id").alias("user_id"),
        "click_id",
        "purchase_id",
        (F.col("p_ts").cast("long") - F.col("c_ts").cast("long")).alias("secs_to_purchase"),
    )


# --- ST6: watermarked stream-stream join (interval join) --------------------------
# Click→purchase attribution within one hour, per user — the canonical
# stream-stream INNER join. Both sides carry watermarks and the join
# predicate carries an event-time range, which is exactly what lets
# Spark expire buffered rows: a click older than watermark − 1 h can
# never match a future purchase, so its state drops. Without the range
# constraint both sides buffer forever — the stream-stream analogue of
# st4's TTL. Epoch seconds are FLOORED per-timestamp on both engines
# (DuckDB's double→BIGINT cast rounds; Spark's timestamp→long truncates)
# so the latency column hashes identically.
@query(
    "st6_stream_stream_join",
    oracle="""
    SELECT c.user_id,
           c.event_id AS click_id,
           p.event_id AS purchase_id,
           CAST(floor(epoch(p.ts)) AS BIGINT) - CAST(floor(epoch(c.ts)) AS BIGINT) AS secs_to_purchase
    FROM events c
    JOIN events p
      ON c.user_id = p.user_id
     AND p.ts > c.ts
     AND p.ts <= c.ts + INTERVAL 1 HOUR
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    """,
)
def st6_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_bounded(
        _click_purchase_join(spark, sf_dir, "inner"), "st6_out", output_mode="append"
    )


# --- ST7: streaming curation gate (the ingest-time cur1) --------------------------
# The curation gates a streaming ingest pipeline applies as documents
# ARRIVE, before anything lands in the training corpus: stateless
# filters (language, token bounds — pure column algebra, batch/stream
# parity) composed with exact-duplicate suppression via
# dropDuplicatesWithinWatermark on the canonical fingerprint — BOUNDED
# state (fp keys expire with the watermark), the streaming substitute
# for cur1's global min-per-fingerprint window, which cannot exist on an
# unbounded stream. Event time is synthesized from doc_id (the testdata
# has no ingest timestamp); a real feed carries its own. The output
# projects only the fingerprint: which physical doc survives dedup is
# arrival-order-dependent on a stream, the fingerprint SET is not —
# that's what keeps the operator oracle-checkable.
@query(
    "st7_stream_curation_gate",
    oracle=f"""
    WITH {toks_cte()}
    SELECT DISTINCT md5(coalesce(array_to_string(t.toks, ' '), '')) AS fp
    FROM toks t JOIN documents d USING (doc_id)
    WHERE d.lang = 'en' AND len(t.toks) BETWEEN 5 AND 1000
    """,
)
def st7_stream_curation_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.analysis import fingerprint, token_count

    docs = stream_table(spark, sf_dir, "documents")
    gated = (
        docs.where(F.col("text").isNotNull() & (F.col("lang") == "en"))
        .withColumn("n_tokens", token_count(F.col("text")))
        .where(F.col("n_tokens").between(5, 1000))
        .select(
            fingerprint(F.col("text")).alias("fp"),
            # nonzero base epoch: event time 0 (doc_id 0) would collide
            # with the stream's INITIAL watermark and be dropped as late.
            F.timestamp_micros((F.lit(1_600_000_000) + F.col("doc_id")) * 1_000_000).alias("ts"),
        )
    )
    deduped = (
        gated.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["fp"])
        .select("fp")
    )
    return run_bounded(deduped, "st7_out", output_mode="append")


# --- ST8: stream-static broadcast-join enrichment --------------------------------
# The remaining Structured Streaming join mode beside st6's
# stream-stream interval join: a micro-batch stream equi-joined to a
# STATIC dimension. The dim (value bands, j6's table) broadcasts into
# every micro-batch — no state store, no watermark requirement on the
# join itself — and the per-(window, band) rollup aggregates above it.
# Batch/stream parity makes the batch SQL the oracle verbatim.
@query(
    "st8_stream_static_join",
    oracle="""
    WITH bands(band, lo, hi) AS (VALUES
      ('low', 0.0, 100.0), ('mid', 100.0, 500.0), ('high', 500.0, 1e9)
    )
    SELECT CAST(floor(epoch(e.ts) / 3600) AS BIGINT) * 3600 AS window_start,
           b.band,
           count(*) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
    GROUP BY 1, 2
    """,
)
def st8_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = stream_table(spark, sf_dir, "events")
    bands = spark.createDataFrame(
        [("low", 0.0, 100.0), ("mid", 100.0, 500.0), ("high", 500.0, 1e9)],
        schema="band string, lo double, hi double",
    )
    joined = events.join(
        F.broadcast(bands),
        (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")),
    )
    agg = (
        joined.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "band")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("window.start").cast("long").alias("window_start"),
            "band",
            "n_events",
            "total_value",
        )
    )
    return run_bounded(agg, "st8_out", output_mode="complete")


# --- ST9: sliding (overlapping) windows on a stream --------------------------------
# The window shape st1 does NOT cover: a 10-minute window sliding every
# 5 minutes, so every event lands in exactly TWO windows. Structured
# Streaming plans this as a per-event expansion to its window
# memberships before the same watermarked state-store aggregate —
# at 100 TB the expansion factor is window/slide (2 here), the knob a
# deployment tunes directly. The oracle restates the membership rule:
# each event joins the two epoch-aligned starts floor(t/300)*300 and
# floor(t/300)*300 - 300 that satisfy start <= t < start + 600.
@query(
    "st9_stream_sliding_counts",
    oracle="""
    WITH m AS (
      SELECT epoch(ts) AS ets, event_type,
             unnest([CAST(floor(epoch(ts) / 300) AS BIGINT) * 300,
                     CAST(floor(epoch(ts) / 300) AS BIGINT) * 300 - 300]) AS window_start
      FROM events
    )
    SELECT window_start, event_type, count(*) AS n_events
    FROM m
    WHERE ets >= window_start AND ets < window_start + 600
    GROUP BY 1, 2
    """,
)
def st9_stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = stream_table(spark, sf_dir, "events")
    agg = (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes", "5 minutes"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("window.start").cast("long").alias("window_start"),
            "event_type",
            "n_events",
        )
    )
    return run_bounded(agg, "st9_out", output_mode="complete")


# --- ST10: streaming dedup gate against a static corpus ----------------------------
# The ingest-time curation join cur4 does in batch, as a stream: arriving
# documents (the odd-doc_id half, streamed) are fingerprinted and
# LEFT ANTI joined against the known-corpus fingerprint set (the even
# half, static) — only NOVEL documents survive into the per-language
# admission count. Stream-static anti joins are stateless on the stream
# side (each micro-batch probes the static side; no state store, no
# watermark bookkeeping), which is why this shape — not a stream-stream
# join — is the 100-TB ingest gate: the corpus fingerprint set lives as
# a bucketed static table and every arriving batch probes it.
@query(
    "st10_stream_dedup_gate",
    oracle=f"""
    WITH {toks_cte()},
    fps AS (SELECT doc_id,
                   md5(coalesce(array_to_string(toks, ' '), '')) AS fp
            FROM toks),
    known AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 2 = 0),
    arriving AS (
      SELECT f.doc_id, f.fp, d.lang
      FROM fps f JOIN documents d USING (doc_id)
      WHERE f.doc_id % 2 = 1
    )
    SELECT lang, count(*) AS n_novel
    FROM arriving a
    WHERE NOT EXISTS (SELECT 1 FROM known k WHERE k.fp = a.fp)
    GROUP BY lang
    """,
)
def st10_stream_dedup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.analysis import fingerprint_pair
    from ..io.sources import load_table

    # fp is a join key only (never surfaced) — the 120-bit long-pair
    # form shuffles half the key bytes of the hex string at corpus scale
    static_known = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull() & (F.col("doc_id") % 2 == 0))
        .select(fingerprint_pair(F.col("text")).alias("fp"))
        .distinct()
    )
    arriving = (
        stream_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull() & (F.col("doc_id") % 2 == 1))
        .select("doc_id", "lang", fingerprint_pair(F.col("text")).alias("fp"))
    )
    novel = arriving.join(static_known, "fp", "left_anti")
    agg = novel.groupBy("lang").agg(F.count("*").alias("n_novel"))
    return run_bounded(agg, "st10_out", output_mode="complete")


# --- EP6: full streaming ingest gate (quality + corpus dedup composed) -------------
# The end-to-end admission pipeline a live corpus feed runs, as ONE
# streaming plan: arriving docs (odd-id half, streamed) pass the quality
# gate (token-count band, the st7 rule minus the lang restriction), get
# fingerprinted, drop everything already in the known corpus (even-id
# half, static LEFT ANTI — st10's stateless probe), and the survivors
# roll up into per-language admission counts. Composition is the point:
# gates chain as stream transformations with NO intermediate sink, the
# only stateful piece is the final aggregate, and the batch oracle
# restates the whole chain relationally.
@query(
    "ep6_stream_ingest_gate",
    oracle=f"""
    WITH {toks_cte()},
    fps AS (
      SELECT doc_id,
             md5(coalesce(array_to_string(toks, ' '), '')) AS fp,
             len(toks) AS n_toks
      FROM toks
    ),
    known AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 2 = 0),
    arriving AS (
      SELECT f.doc_id, f.fp, d.lang
      FROM fps f JOIN documents d USING (doc_id)
      WHERE f.doc_id % 2 = 1 AND f.n_toks BETWEEN 5 AND 1000
    )
    SELECT lang, count(*) AS n_admitted
    FROM arriving a
    WHERE NOT EXISTS (SELECT 1 FROM known k WHERE k.fp = a.fp)
    GROUP BY lang
    """,
)
def ep6_stream_ingest_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.analysis import fingerprint_pair, token_count
    from ..io.sources import load_table

    # fp is a join key only (never surfaced) — 120-bit long-pair form,
    # st10's shuffle-byte discipline at a scale-safe collision budget
    static_known = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull() & (F.col("doc_id") % 2 == 0))
        .select(fingerprint_pair(F.col("text")).alias("fp"))
        .distinct()
    )
    arriving = (
        stream_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull() & (F.col("doc_id") % 2 == 1))
        .withColumn("n_tokens", token_count(F.col("text")))
        .where(F.col("n_tokens").between(5, 1000))
        .select("lang", fingerprint_pair(F.col("text")).alias("fp"))
    )
    admitted = arriving.join(static_known, "fp", "left_anti")
    agg = admitted.groupBy("lang").agg(F.count("*").alias("n_admitted"))
    return run_bounded(agg, "ep6_out", output_mode="complete")


# --- ST11: unwindowed running counters (the forever-aggregate shape) ---------------
# The one stateful shape st1-st10 skip: a GLOBAL keyed aggregate with no
# window and no watermark — live per-type counters that never expire.
# State is bounded by KEY CARDINALITY (here: event types), which is the
# design rule this query documents: unwindowed aggregates are safe
# exactly when the key domain is small and closed; per-user/per-doc keys
# need st4's TTL state instead. Complete output mode re-emits the full
# counter table per batch. Values sum as decimals so the totals are
# partition-order-stable.
@query(
    "st11_stream_type_totals",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events GROUP BY event_type
    """,
)
def st11_stream_type_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = stream_table(spark, sf_dir, "events")
    agg = events.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
    )
    return run_bounded(agg, "st11_out", output_mode="complete")


# --- ST12: streaming drift gate (PSI of arriving docs vs static reference) ---------
# ep8's monitoring composed with the st10 ingest topology: the arriving
# half of the corpus (odd doc_ids, streamed) is binned into the STATIC
# reference half's token-count deciles and counted per (source, bin) in
# one complete-mode keyed aggregate; the PSI arithmetic runs batch-side
# on the bounded sink output — exactly how a production monitor works
# (micro-batches maintain the counter table; the report reads it).
# Breakpoints come from the reference half by x29's exact integer
# arithmetic (smallest v with cum >= ceil(i*N/10)) and enter the stream
# as NINE LITERALS (a bounded job-control collect, the sanctioned
# pattern), so the streaming plan is stateless until the final
# counts-by-(source, bin) aggregate — state bounded by sources × 10
# regardless of stream length; no per-doc state, no watermark needed.
@query(
    "st12_stream_drift_gate",
    oracle=f"""
    WITH {toks_cte()},
    tc AS (SELECT t.doc_id, d.source, len(t.toks) AS v
           FROM toks t JOIN documents d USING (doc_id)),
    refvc AS (SELECT v, count(*) AS c FROM tc WHERE doc_id % 2 = 0 GROUP BY v),
    n_ref AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM refvc),
    cum AS (SELECT v, sum(c) OVER (ORDER BY v) AS cum_tot FROM refvc),
    marks AS (SELECT unnest([1, 2, 3, 4, 5, 6, 7, 8, 9]) AS i),
    breaks AS (
      SELECT m.i, min(c.v) AS b
      FROM marks m CROSS JOIN n_ref JOIN cum c ON c.cum_tot >= (m.i * n_ref.n + 9) // 10
      GROUP BY m.i
    ),
    refbin AS (
      SELECT rv.v, rv.c, 1 + sum(CASE WHEN rv.v > b.b THEN 1 ELSE 0 END) AS bin
      FROM refvc rv CROSS JOIN breaks b GROUP BY rv.v, rv.c
    ),
    rbin AS (SELECT bin, CAST(sum(c) AS BIGINT) AS c_ref FROM refbin GROUP BY bin),
    arrvc AS (SELECT source, v, count(*) AS c FROM tc WHERE doc_id % 2 = 1 GROUP BY 1, 2),
    abin AS (
      SELECT av.source, av.v, av.c, 1 + sum(CASE WHEN av.v > b.b THEN 1 ELSE 0 END) AS bin
      FROM arrvc av CROSS JOIN breaks b GROUP BY av.source, av.v, av.c
    ),
    sbin AS (SELECT source, bin, CAST(sum(c) AS BIGINT) AS c_s FROM abin GROUP BY 1, 2),
    ns AS (SELECT source, CAST(sum(c_s) AS BIGINT) AS n_s FROM sbin GROUP BY source),
    grid AS (
      SELECT s.source, bn.bin, coalesce(rb.c_ref, 0) AS c_ref, coalesce(sb.c_s, 0) AS c_s
      FROM (SELECT DISTINCT source FROM sbin) s
      CROSS JOIN (SELECT unnest([1,2,3,4,5,6,7,8,9,10]) AS bin) bn
      LEFT JOIN rbin rb ON rb.bin = bn.bin
      LEFT JOIN sbin sb ON sb.source = s.source AND sb.bin = bn.bin
    )
    SELECT g.source, ns.n_s AS n_docs,
      round(sum(CASE WHEN g.c_s > 0 AND g.c_ref > 0
        THEN (g.c_s / CAST(ns.n_s AS DOUBLE) - g.c_ref / CAST(n_ref.n AS DOUBLE))
             * ln((g.c_s / CAST(ns.n_s AS DOUBLE)) / (g.c_ref / CAST(n_ref.n AS DOUBLE)))
        ELSE 0.0 END), 6) AS psi,
      CAST(sum(CASE WHEN g.c_s = 0 OR g.c_ref = 0 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_skipped_bins
    FROM grid g JOIN ns USING (source) CROSS JOIN n_ref
    GROUP BY g.source, ns.n_s, n_ref.n
    """,
)
def st12_stream_drift_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..functions.analysis import token_count
    from ..io.sources import load_table

    # reference half (static): token-count histogram + exact-integer
    # decile breakpoints — the x29 machinery on the even doc_ids
    ref = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull() & (F.col("doc_id") % 2 == 0))
        .select(token_count(F.col("text")).alias("v"))
    )
    refvc = materialize(ref.groupBy("v").agg(F.count("*").alias("c")))
    n_ref_df = refvc.agg(F.sum("c").cast("long").alias("n"))
    wv = Window.partitionBy(F.lit(0)).orderBy("v")
    cum = refvc.select("v", F.sum("c").over(wv).alias("cum_tot"))
    marks = spark.range(1, 10).select(F.col("id").cast("int").alias("i"))
    breaks_df = (
        cum.join(
            F.broadcast(marks.crossJoin(n_ref_df)),
            F.col("cum_tot") >= F.expr("(i * n + 9) div 10"),
        )
        .groupBy("i")
        .agg(F.min("v").alias("b"))
    )
    # nine bounded job-control scalars: the breakpoints become literals in
    # the streaming plan (a stream cannot re-derive them per batch anyway
    # — a real deployment pins the reference bins at monitor start)
    bks = [r["b"] for r in sorted(breaks_df.collect(), key=lambda r: r["i"])]
    n_ref = n_ref_df.collect()[0]["n"]

    def bin_of(vcol):
        return sum(
            (F.when(vcol > F.lit(b), 1).otherwise(0) for b in bks), start=F.lit(1)
        )

    # arriving half (streamed): stateless projection to (source, bin),
    # then ONE keyed aggregate — state is sources × ≤10 rows forever
    arriving = (
        stream_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull() & (F.col("doc_id") % 2 == 1))
        .select("source", token_count(F.col("text")).alias("v"))
    )
    counts = (
        arriving.select("source", bin_of(F.col("v")).alias("bin"))
        .groupBy("source", "bin")
        .agg(F.count("*").cast("long").alias("c_s"))
    )
    sbin = materialize(run_bounded(counts, "st12_out", output_mode="complete"))

    # batch-side report over the bounded counter table (tiny from here on)
    rbin = (
        refvc.select(bin_of(F.col("v")).alias("bin"), "c")
        .groupBy("bin")
        .agg(F.sum("c").cast("long").alias("c_ref"))
    )
    bins = spark.range(1, 11).select(F.col("id").cast("int").alias("bin"))
    ns = sbin.groupBy("source").agg(F.sum("c_s").cast("long").alias("n_s"))
    grid = (
        sbin.select("source")
        .distinct()
        .crossJoin(F.broadcast(bins))  # sources × 10 bins
        .join(F.broadcast(rbin), "bin", "left")
        .join(sbin, ["source", "bin"], "left")
        .select(
            "source",
            "bin",
            F.coalesce("c_ref", F.lit(0)).alias("c_ref"),
            F.coalesce("c_s", F.lit(0)).alias("c_s"),
        )
    )
    p_s = F.col("c_s") / F.col("n_s").cast("double")
    p_r = F.col("c_ref") / F.lit(float(n_ref))
    live = (F.col("c_s") > 0) & (F.col("c_ref") > 0)
    return (
        grid.join(F.broadcast(ns), "source")
        .groupBy("source", "n_s")
        .agg(
            F.round(
                F.sum(F.when(live, (p_s - p_r) * F.log(p_s / p_r)).otherwise(0.0)), 6
            ).alias("psi"),
            F.sum(F.when(live, 0).otherwise(1)).cast("long").alias("n_skipped_bins"),
        )
        .select("source", F.col("n_s").alias("n_docs"), "psi", "n_skipped_bins")
    )


def _admission_counts(
    batch_df: DataFrame, corpus_sh: DataFrame, corpus_bands: DataFrame
) -> DataFrame:
    """One micro-batch of st13: per-source (n_new, n_rejected) for a batch
    of arriving docs probed against the prebuilt standing-corpus index.
    Depends ONLY on the batch and the static corpus, so micro-batch
    boundaries cannot change the summed result — the invariance
    tests/test_round10.py pins by splitting the feed in two. The batch
    side is identified by MEMBERSHIP (lsh_admission_rejects carries the
    delta orientation on the candidate row), so any batch composition is
    handled — no doc_id parity convention is assumed."""
    from ..operators.dedup import (
        doc_shingles,
        lsh_admission_rejects,
        lsh_bands_from_wide,
        minhash_wide,
    )

    sh_new = materialize(doc_shingles(batch_df))
    nb = lsh_bands_from_wide(
        minhash_wide(sh_new, num_hashes=8), rows_per_band=2
    ).select(F.col("doc_id").alias("delta_doc"), "band", "band_sig")
    # the shared admission pipeline (cur10/st13/cur12): batch bands ×
    # corpus bands on the bucket key — the ONLY place the batch meets
    # the corpus — then candidate-scoped Jaccard >= 0.5
    rejected = lsh_admission_rejects(nb, corpus_bands, sh_new.unionAll(corpus_sh))
    return (
        batch_df.select("doc_id", "source")
        .join(rejected, F.col("doc_id") == F.col("delta_doc"), "left")
        .groupBy("source")
        .agg(F.count("*").alias("n_new"), F.count("delta_doc").alias("n_rejected"))
    )


# --- ST13: streaming incremental near-dup admission --------------------------------
# cur10's production deployment shape: continuous dedup of an arriving
# feed against the STANDING corpus. The corpus's LSH band table and
# shingle sets are PREBUILT once, batch-side (at 100 TB: a maintained
# static index, rebuilt on corpus compaction); each micro-batch of
# arriving docs is shingled/banded and probed against them via
# foreachBatch — a (band, band_sig) equi-join for candidates, then
# cur10's exact candidate-scoped Jaccard >= 0.5 verification, never a
# batch × corpus pair enumeration. Bounded state by construction:
# corpus index static, every per-batch structure is scoped to the
# micro-batch and discarded with it, the only thing carried across
# batches is the <=|sources|-rows-per-batch admission counter the
# driver accumulates (st12's bounded-collect discipline) — there is NO
# streaming state store at all. Admission depends only on the static
# corpus, so micro-batch boundaries cannot change the result and
# cur10's batch oracle restates the whole stream verbatim.
@query(
    "st13_stream_neardup_admission",
    oracle=ORACLE_SQL["cur10_incremental_neardup"],
)
def st13_stream_neardup_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..io.sources import load_table
    from ..operators.dedup import doc_shingles, lsh_bands_from_wide, minhash_wide
    from ..streaming.enrich import run_bounded_foreach

    corpus = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull() & (F.col("doc_id") % 2 == 0)
    )
    # standing-corpus index, built ONCE before the stream starts: shingle
    # sets (exact verification) + band table (candidate generation)
    corpus_sh = materialize(doc_shingles(corpus))
    corpus_bands = materialize(
        lsh_bands_from_wide(minhash_wide(corpus_sh, num_hashes=8), rows_per_band=2)
        .select(F.col("doc_id").alias("corpus_doc"), "band", "band_sig")
    )

    results: list[tuple] = []

    def admit(batch_df: DataFrame, batch_id: int) -> None:
        counts = _admission_counts(batch_df, corpus_sh, corpus_bands)
        # bounded driver transfer: <= |sources| rows per micro-batch
        results.extend((r.source, r.n_new, r.n_rejected) for r in counts.collect())

    arriving = (
        stream_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull() & (F.col("doc_id") % 2 == 1))
        .select("doc_id", "source", "text")
    )
    run_bounded_foreach(arriving, admit)

    part = spark.createDataFrame(
        results or [("__none__", 0, 0)], "source string, n_new long, n_rejected long"
    ).where(F.col("source") != "__none__")
    return part.groupBy("source").agg(
        F.sum("n_new").cast("long").alias("n_new"),
        F.sum("n_rejected").cast("long").alias("n_rejected"),
        (F.sum("n_new") - F.sum("n_rejected")).cast("long").alias("n_admitted"),
        F.round(
            F.sum("n_rejected") / F.sum("n_new").cast("double"), 6
        ).alias("rejection_rate"),
    )


# --- ST14: watermarked stream-stream LEFT OUTER interval join ----------------------
# st6's missing half: the clicks that did NOT convert. An outer
# stream-stream join exercises a state shape the inner join never does —
# a buffered left row must be HELD until the watermark proves no future
# purchase can match (wm past c_ts + the interval upper bound), and only
# then emits with a NULL right side. That eviction rule is exactly
# restatable in SQL: the final watermark of a bounded run is
# min(max click ts, max purchase ts) − 10 min (two inputs, default
# min-policy), so the oracle emits NULL rows only for unmatched clicks
# whose c_ts + 1 h sits strictly before it — clicks inside the tail
# horizon stay buffered forever on a stream that ends, and the oracle
# says so rather than pretending the batch LEFT JOIN's tail. State is
# bounded by the same rule that makes the result checkable: every
# buffered click expires 1 h + 10 min past its event time.
@query(
    "st14_stream_outer_join",
    oracle="""
    WITH c AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
    p AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
    wm AS (
      SELECT least((SELECT max(ts) FROM c), (SELECT max(ts) FROM p))
             - INTERVAL 10 MINUTE AS w
    )
    SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
           CAST(floor(epoch(p.ts)) AS BIGINT) - CAST(floor(epoch(c.ts)) AS BIGINT)
             AS secs_to_purchase
    FROM c JOIN p
      ON c.user_id = p.user_id AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    UNION ALL
    SELECT c.user_id, c.event_id AS click_id,
           CAST(NULL AS BIGINT) AS purchase_id, CAST(NULL AS BIGINT) AS secs_to_purchase
    FROM c CROSS JOIN wm
    WHERE NOT EXISTS (
        SELECT 1 FROM p
        WHERE p.user_id = c.user_id AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
      )
      AND c.ts + INTERVAL 1 HOUR < wm.w
    """,
)
def st14_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_bounded(
        _click_purchase_join(spark, sf_dir, "leftOuter"), "st14_out", output_mode="append"
    )


def _semantic_admission_counts(batch_df: DataFrame, corpus_b: DataFrame) -> DataFrame:
    """One micro-batch of st15: per-label (n_new, n_rejected) for arriving
    embedding vectors probed against the standing SRP-bucketed corpus
    index. Candidates come ONLY from the bucket equi-join (never a
    batch × corpus enumeration); verification is the exact index-order
    cosine ≥ 0.35 (n4's semantic-dup config). Depends only on the batch
    and the static index, so micro-batch boundaries cannot change the
    summed result — the st13 invariance property, embedding-side."""
    from ..operators.similarity import dot, srp_buckets, with_norm
    from .queries_similarity import SRP_PLANES

    ab = srp_buckets(batch_df, SRP_PLANES).join(
        with_norm(batch_df).select("vec_id", "nrm"), "vec_id"
    )
    cand = ab.join(corpus_b, "bucket")  # the ONLY batch-corpus contact
    rejected = (
        cand.where(
            F.round(
                dot(F.col("vec"), F.col("cvec")) / (F.col("nrm") * F.col("cnrm")), 6
            )
            >= 0.35
        )
        .select("vec_id")
        .distinct()
        .withColumn("_r", F.lit(1))
    )
    return (
        batch_df.select("vec_id", "label")
        .join(rejected, "vec_id", "left")
        .groupBy("label")
        .agg(F.count("*").alias("n_new"), F.count("_r").alias("n_rejected"))
    )


# --- ST15: streaming semantic (embedding) admission gate ----------------------------
# st13 gates an arriving TEXT feed on MinHash near-duplicates; this is
# the same deployment shape for the EMBEDDING side — the semantic-dedup
# serving path (n2's SRP buckets + n4's exact-cosine verification) run
# continuously against a standing corpus. The corpus index (bucket id +
# precomputed norm per vector) is built ONCE batch-side; each
# micro-batch of arriving vectors (vec_id % 2 == 1) is bucketed and
# probed via foreachBatch — bucket equi-join for candidates, exact
# cosine ≥ 0.35 inside the bucket, reject on any hit. NO streaming
# state store: the index is static, per-batch structures die with the
# batch, and the driver accumulates ≤ |labels| counter rows per batch
# (st12's bounded-collect discipline). The oracle restates the whole
# stream as the equivalent batch SQL over the SAME bucketed rule, so
# LSH recall (deliberately < 1 — that is the serving trade) cannot
# diverge between the two engines.
@query(
    "st15_stream_semantic_admission",
    oracle=None,  # set below: needs queries_similarity's plane literals
)
def st15_stream_semantic_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..io.sources import load_table
    from ..operators.similarity import srp_buckets, with_norm
    from ..streaming.enrich import run_bounded_foreach
    from .queries_similarity import SRP_PLANES

    corpus = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") % 2 == 0)
    # standing index, built ONCE before the stream starts: SRP bucket +
    # norm per corpus vector (norms precomputed so probe-time cosine is
    # one fold per candidate, never O(pairs) norm recomputation)
    corpus_b = materialize(
        srp_buckets(corpus, SRP_PLANES)
        .join(with_norm(corpus).select("vec_id", "nrm"), "vec_id")
        .select(
            F.col("vec_id").alias("c_id"),
            F.col("vec").alias("cvec"),
            F.col("nrm").alias("cnrm"),
            "bucket",
        )
    )

    results: list[tuple] = []

    def admit(batch_df: DataFrame, batch_id: int) -> None:
        counts = _semantic_admission_counts(batch_df, corpus_b)
        # bounded driver transfer: <= |labels| rows per micro-batch
        results.extend((r.label, r.n_new, r.n_rejected) for r in counts.collect())

    arriving = (
        stream_table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") % 2 == 1)
        .select("vec_id", "label", "embedding")
    )
    run_bounded_foreach(arriving, admit)

    part = spark.createDataFrame(
        results or [(-1, 0, 0)], "label int, n_new long, n_rejected long"
    ).where(F.col("label") >= 0)  # labels are small non-negative ints; -1 = sentinel
    return part.groupBy("label").agg(
        F.sum("n_new").cast("long").alias("n_new"),
        F.sum("n_rejected").cast("long").alias("n_rejected"),
        (F.sum("n_new") - F.sum("n_rejected")).cast("long").alias("n_admitted"),
        F.round(F.sum("n_rejected") / F.sum("n_new").cast("double"), 6).alias(
            "rejection_rate"
        ),
    )


# the oracle restates the bounded stream as batch SQL over the same
# bucketed-admission rule; built here because the SRP plane literals live
# in queries_similarity
def _st15_oracle() -> str:
    from .queries_similarity import _BUCKET_SQL

    return f"""
    WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
    c AS (SELECT vec_id, ve, CAST({_BUCKET_SQL} AS BIGINT) AS bucket FROM v WHERE vec_id % 2 = 0),
    a AS (SELECT vec_id, label, ve, CAST({_BUCKET_SQL} AS BIGINT) AS bucket FROM v WHERE vec_id % 2 = 1),
    rej AS (
      SELECT DISTINCT a.vec_id FROM a JOIN c ON a.bucket = c.bucket
      WHERE {cos_sql("a.ve", "c.ve")}
            >= 0.35
    )
    SELECT a.label,
           count(*) AS n_new,
           count(r.vec_id) AS n_rejected,
           count(*) - count(r.vec_id) AS n_admitted,
           round(count(r.vec_id) / CAST(count(*) AS DOUBLE), 6) AS rejection_rate
    FROM a LEFT JOIN rej r ON r.vec_id = a.vec_id
    GROUP BY a.label
    """


ORACLE_SQL["st15_stream_semantic_admission"] = _st15_oracle()


# --- ST16: streaming CASCADE admission gate (exact-first, then LSH) -----------------
# d23's production ordering applied to the live feed: st10's stateless
# exact-fingerprint anti-join runs FIRST (16-byte key probe against the
# standing corpus fingerprint set), and only the exact-novel remainder
# pays the expensive stage — st13's shingle/band build and banded
# corpus probe with candidate-scoped Jaccard >= 0.5. On real feeds most
# rejects are verbatim re-posts (the round-13 scale probe measured why
# that matters: pair enumeration is quadratic in exact-dup cluster
# size), so the cascade gate does the LSH work on a fraction of the
# arriving volume while admitting exactly the same set. Same bounded
# shape as st13: static indexes prebuilt once, every per-batch structure
# dies with its micro-batch, no state store, <= |sources| driver rows
# per batch; admission depends only on the static corpus, so micro-batch
# boundaries cannot change the summed result. The batch oracle restates
# both stages relationally (exact-rejected docs are EXCLUDED from the
# near-dup stage on both engines — attribution is part of the contract).
@query(
    "st16_stream_cascade_admission",
    oracle=f"""
    WITH {toks_cte()}, {bands_ctes()},
    fps AS (
      SELECT doc_id, md5(coalesce(array_to_string(toks, ' '), '')) AS fp
      FROM toks
    ),
    known AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 2 = 0),
    newdocs AS (
      SELECT f.doc_id, d.source, f.fp
      FROM fps f JOIN documents d USING (doc_id)
      WHERE f.doc_id % 2 = 1 AND d.text IS NOT NULL
    ),
    exact_rej AS (
      SELECT n.doc_id FROM newdocs n
      WHERE EXISTS (SELECT 1 FROM known k WHERE k.fp = n.fp)
    ),
    xc AS (
      SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a,
                      greatest(a.doc_id, b.doc_id) AS doc_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
      WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
        AND NOT EXISTS (SELECT 1 FROM exact_rej e WHERE e.doc_id = a.doc_id)
    ),
    {JACCARD_CTES},
    near_rej AS (
      SELECT DISTINCT CASE WHEN j.doc_a % 2 = 1 THEN j.doc_a ELSE j.doc_b END AS new_doc
      FROM jac j JOIN xc ON j.doc_a = xc.doc_a AND j.doc_b = xc.doc_b
      WHERE j.jaccard >= 0.5
    )
    SELECT n.source,
           count(*) AS n_new,
           count(e.doc_id) AS n_exact_rejected,
           count(nr.new_doc) AS n_near_rejected,
           count(*) - count(e.doc_id) - count(nr.new_doc) AS n_admitted,
           round(count(e.doc_id) / CAST(count(*) AS DOUBLE), 6)
             AS exact_rejection_rate,
           round(count(nr.new_doc) / CAST(count(*) AS DOUBLE), 6)
             AS near_rejection_rate,
           round((count(*) - count(e.doc_id) - count(nr.new_doc))
                 / CAST(count(*) AS DOUBLE), 6) AS admission_rate
    FROM newdocs n
    LEFT JOIN exact_rej e ON e.doc_id = n.doc_id
    LEFT JOIN near_rej nr ON nr.new_doc = n.doc_id
    GROUP BY n.source
    """,
)
def st16_stream_cascade_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.analysis import fingerprint_pair
    from ..io.sources import load_table
    from ..operators.dedup import doc_shingles, lsh_bands_from_wide, minhash_wide
    from ..streaming.enrich import run_bounded_foreach

    corpus = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull() & (F.col("doc_id") % 2 == 0)
    )
    # standing indexes, built ONCE before the stream starts: the cheap
    # stage-A fingerprint set and the stage-B shingle/band tables. The
    # fingerprint set is independent of the shingle→band chain, so the
    # two build concurrently (guide §2.6).
    def _build_fp() -> DataFrame:
        return materialize(
            corpus.select(fingerprint_pair(F.col("text")).alias("fp"))
            .distinct()
            .withColumn("known", F.lit(True))
        )

    def _build_bands() -> tuple[DataFrame, DataFrame]:
        sh = materialize(doc_shingles(corpus))
        return sh, materialize(
            lsh_bands_from_wide(minhash_wide(sh, num_hashes=8), rows_per_band=2)
            .select(F.col("doc_id").alias("corpus_doc"), "band", "band_sig")
        )

    corpus_fp, (corpus_sh, corpus_bands) = run_concurrently(spark, _build_fp, _build_bands)

    results: list[tuple] = []

    def admit(batch_df: DataFrame, batch_id: int) -> None:
        # checkpoint per batch: flagged feeds the exact-count aggregate
        # AND the novel remainder — left lazy, the batch fingerprint
        # compute + corpus_fp join ran twice per micro-batch (guide §5;
        # the frame is micro-batch-sized, so the checkpoint is cheap).
        flagged = materialize(
            batch_df.select(
                "doc_id", "source", "text", fingerprint_pair(F.col("text")).alias("fp")
            )
            .join(corpus_fp, "fp", "left")
        )
        base = flagged.groupBy("source").agg(
            F.count("*").alias("n_new"),
            F.sum(F.when(F.col("known"), 1).otherwise(0)).cast("long").alias("n_exact"),
        )
        # ONLY the exact-novel remainder pays the shingle/band stage
        novel = flagged.where(F.col("known").isNull()).select(
            "doc_id", "source", "text"
        )
        near = _admission_counts(novel, corpus_sh, corpus_bands).select(
            "source", F.col("n_rejected").alias("n_near")
        )
        counts = base.join(near, "source", "left").select(
            "source",
            "n_new",
            "n_exact",
            F.coalesce("n_near", F.lit(0)).cast("long").alias("n_near"),
        )
        # bounded driver transfer: <= |sources| rows per micro-batch
        results.extend(
            (r.source, r.n_new, r.n_exact, r.n_near) for r in counts.collect()
        )

    arriving = (
        stream_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull() & (F.col("doc_id") % 2 == 1))
        .select("doc_id", "source", "text")
    )
    run_bounded_foreach(arriving, admit)

    part = spark.createDataFrame(
        results or [("__none__", 0, 0, 0)],
        "source string, n_new long, n_exact long, n_near long",
    ).where(F.col("source") != "__none__")
    n_new, n_ex, n_nr = F.sum("n_new"), F.sum("n_exact"), F.sum("n_near")
    return part.groupBy("source").agg(
        n_new.cast("long").alias("n_new"),
        n_ex.cast("long").alias("n_exact_rejected"),
        n_nr.cast("long").alias("n_near_rejected"),
        (n_new - n_ex - n_nr).cast("long").alias("n_admitted"),
        F.round(n_ex / n_new.cast("double"), 6).alias("exact_rejection_rate"),
        F.round(n_nr / n_new.cast("double"), 6).alias("near_rejection_rate"),
        F.round((n_new - n_ex - n_nr) / n_new.cast("double"), 6).alias(
            "admission_rate"
        ),
    )


# --- ST17: streaming SPAN SCRUB (the arrival-side twin of d24) ----------------------
# d24 scrubs a standing corpus against itself; st17 is the ingest-time
# form the dedup family follows everywhere else (report→transform→
# streaming): each arriving doc loses every token position covered by an
# 8-token window the STANDING CORPUS already contains (keep-first =
# corpus wins, the Lee-et-al arrival policy), with a per-batch
# removed-token ledger. Cross-ARRIVAL duplication is deliberately out of
# scope — scrubbing depends only on the static corpus inventory, so
# micro-batch boundaries cannot change the summed result (the st13/st16
# admission discipline); arrivals that duplicate each other are the
# batch scrub's job at the next compaction. Scale shape: the corpus
# window inventory is built ONCE (distinct 60-bit longs — the d22
# position stream collapsed to its key set); per batch, the arriving
# window stream probes it with one equi-join, the removal explode is
# bounded to corpus-covered windows only, and the driver sees
# <= |sources| rows per micro-batch. The window expression and the
# removal explode are the SHARED span-scrub operators
# (operators/dedup.span_window_stream / span_removed_positions), so a
# scrub-semantics fix lands once across d24/ep14/st17; the oracle
# restates the split relationally over the same shared CTE fragment.
@query(
    "st17_stream_span_scrub",
    oracle=f"""
    WITH {toks_cte()},
    {span_scrub_ctes()},
    cw AS (SELECT DISTINCT win FROM p WHERE doc_id % 2 = 0),
    ap AS (SELECT doc_id, pos, win FROM p WHERE doc_id % 2 = 1),
    arem AS (
      SELECT DISTINCT doc_id, tok FROM (
        SELECT ap.doc_id, unnest(range(ap.pos, ap.pos + {SPAN_WIDTH})) AS tok
        FROM ap JOIN cw USING (win)
      )
    ),
    arc AS (SELECT doc_id, count(*) AS n_removed FROM arem GROUP BY doc_id),
    arr AS (
      SELECT t.doc_id, d.source, len(t.toks) AS L
      FROM toks t JOIN documents d USING (doc_id)
      WHERE t.doc_id % 2 = 1
    )
    SELECT a.source,
           count(*) AS n_docs,
           CAST(sum(a.L) AS BIGINT) AS tokens_before,
           CAST(sum(coalesce(c.n_removed, 0)) AS BIGINT) AS tokens_removed,
           CAST(sum(a.L - coalesce(c.n_removed, 0)) AS BIGINT) AS tokens_kept,
           round(sum(coalesce(c.n_removed, 0)) / CAST(sum(a.L) AS DOUBLE), 6)
             AS removed_frac
    FROM arr a LEFT JOIN arc c ON c.doc_id = a.doc_id
    GROUP BY a.source
    """,
)
def st17_stream_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokenize
    from ..io.sources import load_table
    from ..operators.dedup import span_removed_positions, span_window_stream
    from ..streaming.enrich import run_bounded_foreach

    corpus = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull() & (F.col("doc_id") % 2 == 0)
    )
    corpus_t8 = corpus.select("doc_id", tokenize(F.col("text")).alias("toks")).where(
        F.size("toks") >= SPAN_WIDTH
    )
    # the standing inventory, built ONCE before the stream starts: the
    # corpus's distinct window keys with the corpus-always-wins sentinel
    # keeper (-1 matches no arriving doc_id), so the per-batch removal
    # probe IS the shared span_removed_positions operator
    inventory = materialize(
        span_window_stream(corpus_t8)
        .select("win")
        .distinct()
        .withColumn("keep_doc", F.lit(-1).cast("long"))
    )

    results: list[tuple] = []

    def scrub(batch_df: DataFrame, batch_id: int) -> None:
        toks = batch_df.select("doc_id", "source", tokenize(F.col("text")).alias("toks"))
        t8 = toks.select("doc_id", "toks").where(F.size("toks") >= SPAN_WIDTH)
        rc = (
            span_removed_positions(span_window_stream(t8), inventory)
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_removed"))
        )
        nrem = F.coalesce("n_removed", F.lit(0))
        per_src = (
            toks.join(rc, "doc_id", "left")
            .groupBy("source")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum(F.size("toks")).alias("tokens_before"),
                F.sum(nrem).alias("tokens_removed"),
            )
        )
        # bounded driver transfer: <= |sources| rows per micro-batch
        results.extend(
            (r.source, r.n_docs, r.tokens_before, r.tokens_removed)
            for r in per_src.collect()
        )

    arriving = (
        stream_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull() & (F.col("doc_id") % 2 == 1))
        .select("doc_id", "source", "text")
    )
    run_bounded_foreach(arriving, scrub)

    part = spark.createDataFrame(
        results or [("__none__", 0, 0, 0)],
        "source string, n_docs long, tokens_before long, tokens_removed long",
    ).where(F.col("source") != "__none__")
    before, removed = F.sum("tokens_before"), F.sum("tokens_removed")
    # removed_frac at the END from summed BIGINTs: one division of two
    # exact integers (the signed-zero/float-sum oracle contract)
    return part.groupBy("source").agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        before.cast("long").alias("tokens_before"),
        removed.cast("long").alias("tokens_removed"),
        (before - removed).cast("long").alias("tokens_kept"),
        F.round(removed / before.cast("double"), 6).alias("removed_frac"),
    )
