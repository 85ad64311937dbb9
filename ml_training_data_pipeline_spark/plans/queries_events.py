"""Event-stream queries (SURVEY.md §2.10 engine note + scale extensions).

The reference has no streaming surface — its chunked batch loop
(``01_extract_features.R:338-341``) is the only incremental notion. This
engine adds the standard event-time workloads a training-data pipeline
needs (tumbling-window aggregation, sessionization); the Structured
Streaming variants live in streaming/enrich.py and share these operators'
semantics (batch/stream parity is the point of Structured Streaming).

Window semantics are defined on epoch seconds (``floor(epoch/300)``) so
the DuckDB oracle states the identical bucketing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io.sources import load_table
from ..operators.materialize import materialize
from .registry import query


# --- W1: tumbling-window aggregation -------------------------------------------
# 5-minute buckets per event_type: count, decimal-exact sum, distinct users.
@query(
    "w1_tumbling_window_agg",
    oracle="""
    SELECT CAST(floor(epoch(ts) / 300) AS BIGINT) * 300 AS window_start,
           event_type,
           count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
           count(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY 1, 2
    """,
)
def w1_tumbling_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    bucket = (F.floor(F.col("ts").cast("double") / 300) * 300).cast("long")
    return (
        e.groupBy(bucket.alias("window_start"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


# --- W2: sessionization (gap > 30 min starts a new session) ----------------------
# lag + cumulative-sum-of-boundaries — the batch form of session_window.
@query(
    "w2_sessionization",
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
      SELECT user_id, event_id,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ets, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM flagged
    )
    SELECT user_id, CAST(count(DISTINCT session_id) AS BIGINT) AS n_sessions,
           count(*) AS n_events
    FROM sessions GROUP BY user_id
    """,
)
def w2_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Window-immediate plan: establish the window's own partitioning at
    # the scan (guide §2.4 — share one exchange). CollapseRepartition
    # folds load_table's adaptive round-robin into this keyed exchange,
    # and EnsureRequirements recognizes it for the user_id window, so the
    # plan keeps exactly the serial-scan exchange count (a bare
    # round-robin added a pure extra hop here: +0.35s at sf0.1, r16).
    e = load_table(spark, sf_dir, "events").repartition(F.col("user_id"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ets = F.col("ts").cast("double")
    flagged = (
        e.select("user_id", "event_id", ets.alias("ets"), F.lag(ets).over(w).alias("prev_ets"))
        .withColumn(
            "is_new",
            F.when(F.col("prev_ets").isNull() | (F.col("ets") - F.col("prev_ets") > 1800), 1).otherwise(0),
        )
    )
    w2 = Window.partitionBy("user_id").orderBy("ets", "event_id").rowsBetween(Window.unboundedPreceding, 0)
    sessions = flagged.withColumn("session_id", F.sum("is_new").over(w2))
    return sessions.groupBy("user_id").agg(
        F.countDistinct("session_id").alias("n_sessions"), F.count("*").alias("n_events")
    )


# --- F11: JSON decode as a column op ---------------------------------------------
# Reference: jsonlite::toJSON / httr parsed content (01_extract_features.R:43,53)
# — there JSON lives on the LLM transport path; here the engine exposes
# from_json as a first-class column op over events.props, oracle-checked.
@query(
    "f11_json_decode",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           CAST(avg(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS DOUBLE) AS avg_k,
           CAST(max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS max_k
    FROM events GROUP BY event_type
    """,
)
def f11_json_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    k = F.from_json(F.col("props"), "k INT").getField("k")
    return e.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.avg(k).alias("avg_k"),
        F.max(k).cast("long").alias("max_k"),
    )


# --- W3: event funnel / conditional aggregation ----------------------------------
# Per-user event_type mix — pivot-shaped conditional counts.
@query(
    "w3_conditional_agg_funnel",
    oracle="""
    SELECT user_id,
           count(*) FILTER (WHERE event_type = 'signup') AS n_signup,
           count(*) FILTER (WHERE event_type = 'error') AS n_error,
           count(*) AS n_total,
           CAST(max(epoch(ts)) - min(epoch(ts)) AS DOUBLE) AS active_span_sec
    FROM events GROUP BY user_id
    """,
)
def w3_conditional_agg_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    ets = F.col("ts").cast("double")
    return e.groupBy("user_id").agg(
        F.count(F.when(F.col("event_type") == "signup", 1)).alias("n_signup"),
        F.count(F.when(F.col("event_type") == "error", 1)).alias("n_error"),
        F.count("*").alias("n_total"),
        (F.max(ets) - F.min(ets)).alias("active_span_sec"),
    )


# --- W5: as-of join (point-in-time attribution) -----------------------------------
# For every purchase, the most recent STRICTLY-PRIOR click by the same
# user within one hour — the as-of/point-in-time join (DuckDB spells it
# ASOF JOIN; kdb aj). Expressed as one forward-fill window over the
# per-user timeline instead of a range join: F.last(..., ignorenulls)
# over (ts, event_id) carries the latest click forward, so the plan is
# ONE shuffle on user_id — no interval-explosion, no per-row probe —
# which is the shape that survives 100 TB of events. The oracle states
# the identical window (last_value IGNORE NULLS), keeping the
# (ts, event_id) tie-break deterministic on both engines. Caveat at
# extreme per-key skew: a window keeps one user's whole history in one
# task; if single users reach task-memory scale, pre-bucket by
# (user_id, time_bucket) and stitch bucket boundaries with a second,
# bucket-level pass — same forward-fill primitive, bounded partitions.
@query(
    "w5_asof_attribution",
    oracle="""
    WITH tl AS (
      SELECT event_id, user_id, event_type, epoch(ts) AS ets,
             last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
               OVER w AS asof_click_id,
             last_value(CASE WHEN event_type = 'click' THEN epoch(ts) END IGNORE NULLS)
               OVER w AS asof_click_ets
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id AS purchase_id, user_id,
           CASE WHEN ets - asof_click_ets <= 3600 THEN asof_click_id END AS asof_click_id
    FROM tl WHERE event_type = 'purchase'
    """,
)
def w5_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_click = F.col("event_type") == "click"
    ets = F.col("ts").cast("double")
    tl = e.select(
        "event_id",
        "user_id",
        "event_type",
        ets.alias("ets"),
        F.last(F.when(is_click, F.col("event_id")), ignorenulls=True).over(w).alias("asof_click_id"),
        F.last(F.when(is_click, ets), ignorenulls=True).over(w).alias("asof_click_ets"),
    )
    return tl.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.when(
            F.col("ets") - F.col("asof_click_ets") <= 3600, F.col("asof_click_id")
        ).alias("asof_click_id"),
    )


# --- W6: time-decayed engagement score ---------------------------------------------
# Feature engineering over the event stream: per-user engagement where
# each event's value decays exponentially toward the user's LAST event
# (half-life 7 days) — the freshness-weighted activity signal ranking /
# sampling pipelines key on. Anchoring the decay at the per-user max ts
# keeps the exp() arguments bounded (a global-now anchor underflows for
# old users and is non-reproducible). Plan shape: the max-ts window and
# the final aggregate share the user_id hash partitioning, so Spark
# plans ONE Exchange for both (guarded in tests/test_round6b.py).
# Timestamps compare as fractional epoch seconds on both engines
# (Spark `cast(ts as double)` ≡ DuckDB `epoch(ts)`, session TZ UTC).
_W6_LAMBDA = 1.1460766874337719e-06  # ln(2) / (7 * 86400)


@query(
    "w6_decayed_engagement",
    oracle=f"""
    WITH wl AS (
      SELECT user_id, value, epoch(ts) AS es,
             max(epoch(ts)) OVER (PARTITION BY user_id) AS last_es
      FROM events
    )
    SELECT user_id,
           count(*) AS n_events,
           round(sum(value * exp(-{_W6_LAMBDA!r} * (last_es - es))), 6)
             AS decayed_value
    FROM wl GROUP BY user_id
    """,
)
def w6_decayed_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    es = F.col("ts").cast("double")
    with_last = ev.select("user_id", "value", es.alias("es")).withColumn(
        "last_es", F.max("es").over(Window.partitionBy("user_id"))
    )
    return with_last.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.round(
            F.sum(
                F.col("value")
                * F.exp(F.lit(-_W6_LAMBDA) * (F.col("last_es") - F.col("es")))
            ),
            6,
        ).alias("decayed_value"),
    )


# --- W7: cohort retention matrix ---------------------------------------------------
# The engagement analytic behind data-mix freshness decisions: users
# cohorted by first-active day, activity counted per (cohort, day
# offset), rate normalized by cohort size. Plan shape: ONE scan of
# events (plan-guarded) — per-user day sets aggregate in one shuffle on
# user_id (collect_set, map-side partial), the cohort day comes from
# array_min IN-ROW (no second user-level shuffle), the offset matrix is
# one more aggregate, and the cohort size is a window over that ≤
# #days² row result rather than a self-join (which would re-execute the
# whole lineage and scan events twice).
@query(
    "w7_cohort_retention",
    oracle="""
    WITH du AS (
      SELECT DISTINCT user_id, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day
      FROM events
    ),
    coh AS (
      SELECT user_id, day, min(day) OVER (PARTITION BY user_id) AS cohort_day
      FROM du
    ),
    ret AS (
      SELECT cohort_day, day - cohort_day AS day_offset,
             count(*) AS n_active_users
      FROM coh GROUP BY 1, 2
    ),
    sized AS (
      SELECT cohort_day, day_offset, n_active_users,
             max(CASE WHEN day_offset = 0 THEN n_active_users END)
               OVER (PARTITION BY cohort_day) AS cohort_size
      FROM ret
    )
    SELECT cohort_day, day_offset, n_active_users,
           round(CAST(n_active_users AS DOUBLE) / cohort_size, 6)
             AS retention_rate
    FROM sized
    """,
)
def w7_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    day = F.floor(F.col("ts").cast("double") / 86400).cast("long")
    per_user = (
        e.select("user_id", day.alias("day"))
        .groupBy("user_id")
        .agg(F.collect_set("day").alias("days"))
    )
    exploded = per_user.select(
        F.array_min("days").alias("cohort_day"), F.explode("days").alias("day")
    )
    ret = exploded.groupBy(
        "cohort_day", (F.col("day") - F.col("cohort_day")).alias("day_offset")
    ).agg(F.count("*").alias("n_active_users"))
    size_w = Window.partitionBy("cohort_day")
    return ret.withColumn(
        "cohort_size",
        F.max(
            F.when(F.col("day_offset") == 0, F.col("n_active_users"))
        ).over(size_w),
    ).select(
        "cohort_day",
        "day_offset",
        "n_active_users",
        F.round(
            F.col("n_active_users").cast("double") / F.col("cohort_size"), 6
        ).alias("retention_rate"),
    )


# --- W8: per-type outlier report (z-score gate) ------------------------------------
# Stream-health monitoring: per event_type value mean/stddev and the
# count of |z| > 3 outliers — the gate that catches instrumentation
# breakage (unit changes, overflow spikes) before poisoned values reach
# training features. Two passes over events by design: group stats
# first (tiny result, broadcast back), then the flag scan — NOT a window
# partitioned by event_type, which with a handful of types would funnel
# the whole fact table through #types tasks. stddev is the sample form
# on both engines.
@query(
    "w8_value_outliers",
    oracle="""
    WITH stats AS (
      SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sd
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           count(*) AS n_events,
           CAST(sum(CASE WHEN abs(e.value - s.mu) > 3 * s.sd THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers,
           round(any_value(s.mu), 6) AS mean_value,
           round(any_value(s.sd), 6) AS stddev_value
    FROM events e JOIN stats s USING (event_type)
    GROUP BY e.event_type
    """,
)
def w8_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    stats = e.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sd")
    )
    flagged = e.join(F.broadcast(stats), "event_type")
    return flagged.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(
            F.when(F.abs(F.col("value") - F.col("mu")) > 3 * F.col("sd"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_outliers"),
        F.round(F.first("mu"), 6).alias("mean_value"),
        F.round(F.first("sd"), 6).alias("stddev_value"),
    )


# --- W9: gap-filled daily activity (calendar densification) ------------------------
# Training-feature tables want one row per (user, day) including ZERO
# days — silence is signal. Each user's day range densifies IN-ROW with
# sequence(first_day, last_day) + explode (no calendar dim join, no
# cross join), then the real counts left-join back and null-fills to 0.
# Row growth is bounded by span×users, and the explode happens after the
# per-user aggregate — the fact table itself is never densified.
@query(
    "w9_gap_filled_daily",
    oracle="""
    WITH days AS (
      SELECT user_id, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
             count(*) AS n_events
      FROM events GROUP BY 1, 2
    ),
    spans AS (
      SELECT user_id, min(day) AS d0, max(day) AS d1 FROM days GROUP BY user_id
    ),
    calendar AS (
      SELECT user_id, unnest(range(d0, d1 + 1)) AS day FROM spans
    )
    SELECT c.user_id, c.day,
           CAST(coalesce(d.n_events, 0) AS BIGINT) AS n_events,
           (d.n_events IS NULL) AS is_gap
    FROM calendar c LEFT JOIN days d
      ON c.user_id = d.user_id AND c.day = d.day
    """,
)
def w9_gap_filled_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    day = F.floor(F.col("ts").cast("double") / 86400).cast("long")
    days = e.select("user_id", day.alias("day")).groupBy("user_id", "day").agg(
        F.count("*").alias("n_events")
    )
    spans = days.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    calendar = spans.select(
        "user_id", F.explode(F.sequence("d0", "d1")).alias("day")
    )
    return calendar.join(days, ["user_id", "day"], "left").select(
        "user_id",
        "day",
        F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
        F.col("n_events").isNull().alias("is_gap"),
    )


# --- W10: ordered funnel conversion ------------------------------------------------
# W3 counts steps independently; the product question is ORDERED
# progression — of users who signed up, how many clicked strictly after,
# and purchased strictly after that. One conditional aggregate per user
# (first signup, first click after that signup, first purchase after
# that click would need iteration — the standard two-window form below
# keeps it ONE pass: min signup ts, then min click ts > signup, then min
# purchase ts > that click, each a conditional min over the same
# grouped rows via a self-contained aggregate + post-projection).
# Single shuffle on user_id; the funnel summary is 1 row.
@query(
    "w10_ordered_funnel",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'signup' THEN epoch(ts) END) AS t_signup
      FROM events GROUP BY user_id
    ),
    step2 AS (
      SELECT p.user_id, p.t_signup,
             min(CASE WHEN e.event_type = 'click'
                       AND epoch(e.ts) > p.t_signup THEN epoch(e.ts) END) AS t_click
      FROM per_user p JOIN events e USING (user_id)
      GROUP BY p.user_id, p.t_signup
    ),
    step3 AS (
      SELECT s.user_id, s.t_signup, s.t_click,
             min(CASE WHEN e.event_type = 'purchase'
                       AND epoch(e.ts) > s.t_click THEN epoch(e.ts) END) AS t_purchase
      FROM step2 s JOIN events e USING (user_id)
      GROUP BY s.user_id, s.t_signup, s.t_click
    )
    SELECT count(*) AS n_users,
           CAST(sum(CASE WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_signed_up,
           CAST(sum(CASE WHEN t_click IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clicked_after,
           CAST(sum(CASE WHEN t_purchase IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_purchased_after
    FROM step3
    """,
)
def w10_ordered_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.col("ts").cast("double").alias("ets")
    )
    sign = F.min(F.when(F.col("event_type") == "signup", F.col("ets")))
    per_user = e.groupBy("user_id").agg(sign.alias("t_signup"))
    step2 = (
        e.join(per_user, "user_id")
        .groupBy("user_id", "t_signup")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("ets") > F.col("t_signup")),
                    F.col("ets"),
                )
            ).alias("t_click")
        )
    )
    step3 = (
        e.join(step2, "user_id")
        .groupBy("user_id", "t_signup", "t_click")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ets") > F.col("t_click")),
                    F.col("ets"),
                )
            ).alias("t_purchase")
        )
    )
    return step3.agg(
        F.count("*").alias("n_users"),
        F.sum(F.when(F.col("t_signup").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_signed_up"),
        F.sum(F.when(F.col("t_click").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_clicked_after"),
        F.sum(F.when(F.col("t_purchase").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_purchased_after"),
    )


# --- J9: event-type transition matrix ----------------------------------------------
# Sequence analytics over the event stream: per-user chronological
# transitions (a → b) counted into the Markov matrix behind
# next-action models and anomaly detection (an impossible transition
# spiking = instrumentation bug). One lag window per user (same
# partitioning w2/w5 ride), then a tiny groupBy over the 25 type pairs
# with row probabilities normalized by a window over the source type.
@query(
    "j9_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type AS cur,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev
      FROM events
    ),
    trans AS (
      SELECT prev, cur, count(*) AS n
      FROM seq WHERE prev IS NOT NULL GROUP BY prev, cur
    )
    SELECT prev, cur, n AS n_transitions,
           round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY prev), 6)
             AS p_transition
    FROM trans
    """,
)
def j9_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        F.col("event_type").alias("cur"),
        F.lag("event_type").over(w).alias("prev"),
    )
    trans = (
        seq.where(F.col("prev").isNotNull())
        .groupBy("prev", "cur")
        .agg(F.count("*").alias("n_transitions"))
    )
    row_w = Window.partitionBy("prev")
    return trans.select(
        "prev",
        "cur",
        "n_transitions",
        F.round(
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(row_w),
            6,
        ).alias("p_transition"),
    )


# --- J10: salted skew join (explicit hot-key spreading) ----------------------------
# The join-side twin of g4's salted aggregate: joining a fact stream to a
# per-key dim when one key is pathologically hot funnels that key's every
# row through one task. AQE's skew-join splitting covers the sort-merge
# path; this is the EXPLICIT form a pipeline reaches for when the dim
# side must stay a shuffled hash join or the engine's rewrite is
# unavailable: replicate each dim row SALT_N times (dim is per-key tiny,
# so the blowup is bounded and broadcast-friendly), give each fact row a
# deterministic salt from its own key hash, and join on (key, salt) —
# every fact row still matches exactly one dim copy, so the result is
# provably identical to the unsalted join (the oracle states the plain
# join), but a hot user's rows now spread over SALT_N tasks. Output is
# the per-type mean absolute deviation from each user's own baseline.
@query(
    "j10_salted_skew_join",
    oracle="""
    WITH d AS (
      SELECT user_id, avg(value) AS user_mean
      FROM events GROUP BY user_id
    )
    SELECT e.event_type,
           count(*) AS n_events,
           round(avg(abs(e.value - d.user_mean)), 6) AS mean_abs_dev
    FROM events e JOIN d ON e.user_id = d.user_id
    GROUP BY e.event_type
    """,
)
def j10_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    SALT_N = 16
    e = load_table(spark, sf_dir, "events")
    dim = e.groupBy("user_id").agg(F.avg("value").alias("user_mean"))
    # dim side: every row replicated once per salt value
    dim_salted = dim.select(
        "user_id",
        "user_mean",
        F.explode(F.array(*[F.lit(s) for s in range(SALT_N)])).alias("salt"),
    )
    # fact side: deterministic PER-ROW salt (hash of the row id, NOT the
    # join key — a key-derived salt would send the hot user's rows to one
    # salt again); every fact row matches exactly one of the SALT_N dim
    # copies, so multiplicity is preserved
    fact = e.select(
        "user_id",
        "event_type",
        "value",
        F.pmod(
            F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 15), 16, 10).cast(
                "long"
            ),
            F.lit(SALT_N),
        ).alias("salt"),
    )
    joined = fact.join(dim_salted, ["user_id", "salt"])
    return joined.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.avg(F.abs(F.col("value") - F.col("user_mean"))), 6).alias("mean_abs_dev"),
    )


# --- W11: event-rate burst detection -----------------------------------------------
# The ingestion-health monitor: bucket the stream into 5-minute windows,
# then flag windows whose event count sits ≥ 3σ from the mean window
# rate. Two-pass shape shared with w8/n9 — the global stats are ONE tiny
# row broadcast back over the window aggregate (never a global window
# function over all buckets), so the plan is two map-side-combinable
# aggregates and a broadcast join regardless of corpus size. Bursts are
# what a 100-TB pipeline actually alerts on: a stuck producer (rate
# collapse) or a replay storm (rate spike) both land outside 3σ.
@query(
    "w11_rate_bursts",
    oracle="""
    WITH w AS (
      SELECT CAST(floor(epoch(ts) / 300) AS BIGINT) * 300 AS window_start,
             count(*) AS n_events
      FROM events GROUP BY 1
    ),
    s AS (SELECT avg(n_events) AS mu, stddev_samp(n_events) AS sd FROM w)
    SELECT w.window_start, w.n_events,
           round((w.n_events - s.mu) / s.sd, 6) AS z,
           abs(w.n_events - s.mu) >= 3 * s.sd AS is_burst
    FROM w CROSS JOIN s
    """,
)
def w11_rate_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = e.groupBy(
        (F.floor(F.col("ts").cast("long") / 300).cast("long") * 300).alias("window_start")
    ).agg(F.count("*").alias("n_events"))
    s = w.agg(F.avg("n_events").alias("mu"), F.stddev_samp("n_events").alias("sd"))
    return w.crossJoin(F.broadcast(s)).select(
        "window_start",
        "n_events",
        # signed-zero audit (round-12): safe — the sign of z is decided
        # by n_events − mu, where n_events is an exact integer and mu is
        # an exact-integer-sum / count (deterministic double on both
        # engines), so a zero or near-zero numerator is bit-identical
        # cross-engine; sd only scales it and cannot flip the sign.
        F.round((F.col("n_events") - F.col("mu")) / F.col("sd"), 6).alias("z"),
        (F.abs(F.col("n_events") - F.col("mu")) >= 3 * F.col("sd")).alias("is_burst"),
    )


# --- W12: weekday × hour activity heatmap ------------------------------------------
# The seasonality profile behind capacity planning and anomaly baselines
# (w11's 3σ gate assumes stationarity — this query is how you check it):
# event counts and distinct users per (ISO weekday, hour-of-day) cell,
# 168 output rows regardless of corpus size. Pure projection off the
# timestamp + one aggregate; cross-engine exact because both engines
# evaluate calendar fields of the same UTC-naive timestamps identically.
@query(
    "w12_weekday_hour_heatmap",
    oracle="""
    SELECT CAST(isodow(ts) AS BIGINT) AS weekday,
           CAST(hour(ts) AS BIGINT) AS hour,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users
    FROM events GROUP BY 1, 2
    """,
)
def w12_weekday_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    # ISO weekday (Mon=1..Sun=7): Spark dayofweek is Sun=1..Sat=7
    iso = F.when(F.dayofweek("ts") == 1, 7).otherwise(F.dayofweek("ts") - 1)
    return e.groupBy(
        iso.cast("long").alias("weekday"), F.hour("ts").cast("long").alias("hour")
    ).agg(F.count("*").alias("n_events"), F.count_distinct("user_id").alias("n_users"))


# --- P10: ingest data-quality profile ----------------------------------------------
# The dbt-test / Deequ-style integrity report an ingest pipeline gates
# on, as ONE single-pass aggregate (every check is a conditional count
# folded into the same map-side-combinable agg — no per-check scans):
# row count, key uniqueness (exact distinct of event_id), null/empty
# rates, domain violations (negative value), and timestamp sanity
# (events after the batch's own max ts minus 0 — the max-watermark
# consistency check collapses to max(ts) itself, reported for the
# downstream freshness monitor).
@query(
    "p10_data_quality_profile",
    oracle="""
    SELECT count(*) AS n_rows,
           count(DISTINCT event_id) AS n_distinct_ids,
           CAST(count(*) - count(DISTINCT event_id) AS BIGINT) AS n_dup_ids,
           CAST(sum(CASE WHEN props IS NULL OR props = '' THEN 1 ELSE 0 END) AS BIGINT) AS n_null_props,
           CAST(sum(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_negative_value,
           CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_user,
           CAST(floor(epoch(max(ts))) AS BIGINT) AS max_ts_epoch
    FROM events
    """,
)
def p10_data_quality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.agg(
        F.count("*").alias("n_rows"),
        F.count_distinct("event_id").alias("n_distinct_ids"),
        (F.count("*") - F.count_distinct("event_id")).cast("long").alias("n_dup_ids"),
        F.sum(F.when(F.col("props").isNull() | (F.col("props") == ""), 1).otherwise(0))
        .cast("long")
        .alias("n_null_props"),
        F.sum(F.when(F.col("value") < 0, 1).otherwise(0)).cast("long").alias("n_negative_value"),
        F.sum(F.when(F.col("user_id").isNull(), 1).otherwise(0)).cast("long").alias("n_null_user"),
        F.floor(F.max("ts").cast("double")).cast("long").alias("max_ts_epoch"),
    )


# --- W13: inter-event-time quantiles per type --------------------------------------
# The latency/cadence profile behind session-gap and TTL tuning (w2's
# 30-minute gap and st4's TTL are exactly the knobs this query
# calibrates): per event type, exact p50/p90/p99 of the gap between a
# user's consecutive events of that type. One lag window per (user,
# type) timeline, then Spark's exact `percentile` ≡ DuckDB
# `quantile_cont` (the x7 cross-engine idiom). Exact quantiles are the
# sf0.1 correctness twin; at 100 TB the serving path is x8's mergeable
# GK sketch over the same gap stream.
@query(
    "w13_interevent_quantiles",
    oracle="""
    WITH gaps AS (
      SELECT event_type,
             epoch(ts) - lag(epoch(ts)) OVER (
               PARTITION BY user_id, event_type ORDER BY ts, event_id
             ) AS gap_sec
      FROM events
    )
    SELECT event_type,
           count(gap_sec) AS n_gaps,
           round(quantile_cont(gap_sec, 0.50), 6) AS p50_sec,
           round(quantile_cont(gap_sec, 0.90), 6) AS p90_sec,
           round(quantile_cont(gap_sec, 0.99), 6) AS p99_sec
    FROM gaps WHERE gap_sec IS NOT NULL
    GROUP BY event_type
    """,
)
def w13_interevent_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    ets = F.col("ts").cast("double")
    gaps = e.select(
        "event_type", (ets - F.lag(ets).over(w)).alias("gap_sec")
    ).where(F.col("gap_sec").isNotNull())
    return gaps.groupBy("event_type").agg(
        F.count("gap_sec").alias("n_gaps"),
        F.round(F.expr("percentile(gap_sec, 0.50)"), 6).alias("p50_sec"),
        F.round(F.expr("percentile(gap_sec, 0.90)"), 6).alias("p90_sec"),
        F.round(F.expr("percentile(gap_sec, 0.99)"), 6).alias("p99_sec"),
    )


# --- W14: activity concentration (Lorenz/Gini over per-user event counts) ----------
# The "how skewed is engagement" number: Gini coefficient of the
# per-user event-count distribution, from the Lorenz form
# G = 2·Σᵢ i·cᵢ / (n·Σc) − (n+1)/n with counts ranked ascending.
# Everything up to the final division is INTEGER arithmetic, so the
# coefficient is bit-identical across engines and partitionings. Scale
# shape: ranks are NEVER materialized per user (a no-partition
# row_number over 100M users is a single-partition funnel — the t1
# trap). Σᵢ i·cᵢ is permutation-invariant within a tie group, so it
# collapses to the tie-group closed form Σ_v v·(off_v·m_v + m_v(m_v+1)/2)
# over DISTINCT count values v (m_v users, off_v users below) — the
# only window runs over that value-histogram table, bounded by max
# per-user activity, not user cardinality. The oracle states the plain
# ranked form; both are exact integers, so they hash-match.
@query(
    "w14_activity_gini",
    oracle="""
    WITH per_user AS (
      SELECT user_id, count(*) AS c FROM events GROUP BY user_id
    ),
    ranked AS (
      SELECT c, row_number() OVER (ORDER BY c, user_id) AS i FROM per_user
    )
    SELECT count(*) AS n_users,
           CAST(sum(c) AS BIGINT) AS n_events,
           round(2.0 * sum(i * c) / (count(*) * CAST(sum(c) AS DOUBLE))
                 - (count(*) + 1) / CAST(count(*) AS DOUBLE), 6) AS gini
    FROM ranked
    """,
)
def w14_activity_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(F.count("*").alias("c"))
    by_c = per_user.groupBy("c").agg(F.count("*").alias("m"))
    w = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, -1)
    with_off = by_c.withColumn("off", F.coalesce(F.sum("m").over(w), F.lit(0)))
    # all-integer: m(m+1) is even, so `div 2` is exact at any tie-group
    # size (a float /2 would round past 2^53)
    rank_sum = F.expr("c * (off * m + (m * (m + 1)) div 2)")
    return with_off.agg(
        F.sum("m").alias("n_users"),
        F.sum(F.col("c") * F.col("m")).cast("long").alias("n_events"),
        F.round(
            F.lit(2.0) * F.sum(rank_sum)
            / (F.sum("m") * F.sum(F.col("c") * F.col("m")).cast("double"))
            - (F.sum("m") + 1) / F.sum("m").cast("double"),
            6,
        ).alias("gini"),
    )


# --- W15: daily-activity autocorrelation (lag-1) -----------------------------------
# The load-forecasting primitive: is tomorrow's volume predictable from
# today's? Per event type: densify the type's own day span (w9's
# in-row sequence, zeros included — silence is signal), lag by one day,
# and correlate. Counts are integers, so the correlation inputs are
# exact; corr() itself matches DuckDB to 6dp over distributed groups
# (the x15/x21 regr_* precedent). One small window per type over
# span-bounded rows — never the raw fact table.
@query(
    "w15_daily_autocorr",
    oracle="""
    WITH days AS (
      SELECT event_type, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
             count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    spans AS (
      SELECT event_type, min(day) AS d0, max(day) AS d1 FROM days GROUP BY event_type
    ),
    cal AS (SELECT event_type, unnest(range(d0, d1 + 1)) AS day FROM spans),
    filled AS (
      SELECT c.event_type, c.day, CAST(coalesce(d.n, 0) AS BIGINT) AS n
      FROM cal c LEFT JOIN days d ON c.event_type = d.event_type AND c.day = d.day
    ),
    lagged AS (
      SELECT event_type, n,
             lag(n) OVER (PARTITION BY event_type ORDER BY day) AS n_prev
      FROM filled
    )
    SELECT event_type,
           count(*) AS n_days,
           round(corr(n, n_prev), 6) AS lag1_autocorr
    FROM lagged WHERE n_prev IS NOT NULL
    GROUP BY event_type
    """,
)
def w15_daily_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    day = F.floor(F.col("ts").cast("double") / 86400).cast("long")
    days = e.select("event_type", day.alias("day")).groupBy("event_type", "day").agg(
        F.count("*").alias("n")
    )
    spans = days.groupBy("event_type").agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    cal = spans.select("event_type", F.explode(F.sequence("d0", "d1")).alias("day"))
    filled = cal.join(days, ["event_type", "day"], "left").select(
        "event_type", "day", F.coalesce("n", F.lit(0)).cast("long").alias("n")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = filled.select(
        "event_type", "n", F.lag("n").over(w).alias("n_prev")
    ).where(F.col("n_prev").isNotNull())
    return lagged.groupBy("event_type").agg(
        F.count("*").alias("n_days"),
        F.round(F.corr("n", "n_prev"), 6).alias("lag1_autocorr"),
    )


# --- J13: user co-activity pairs (windowed co-occurrence self-join) ----------------
# The co-occurrence-matrix primitive on the events face (x16 is the
# same shape over terms): users present in the same 5-minute window,
# paired, counted, thresholded. The self-join key is the WINDOW — the
# sub-quadratic trick is joining per-window presence sets (distinct,
# bounded by active users per window) instead of raw events; a hot
# window fans out quadratically in its ACTIVE USERS only, the d8-style
# cap point if window population ever explodes at scale.
@query(
    "j13_coactivity_pairs",
    oracle="""
    WITH pres AS (
      SELECT DISTINCT CAST(floor(epoch(ts) / 300) AS BIGINT) AS win, user_id
      FROM events
    )
    SELECT a.user_id AS user_a, b.user_id AS user_b, count(*) AS n_windows
    FROM pres a JOIN pres b ON a.win = b.win AND a.user_id < b.user_id
    GROUP BY a.user_id, b.user_id
    HAVING count(*) >= 3
    """,
)
def j13_coactivity_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    pres = materialize(
        e.select(
            F.floor(F.col("ts").cast("double") / 300).cast("long").alias("win"), "user_id"
        )
        .distinct()
    )  # both self-join sides read THIS, not the fact table twice
    a = pres.select("win", F.col("user_id").alias("user_a"))
    b = pres.select("win", F.col("user_id").alias("user_b"))
    return (
        a.join(b, "win")
        .where(F.col("user_a") < F.col("user_b"))
        .groupBy("user_a", "user_b")
        .agg(F.count("*").alias("n_windows"))
        .where(F.col("n_windows") >= 3)
    )


# --- W16: CUSUM change-point over daily volume --------------------------------------
# Completes the drift-detection trio along the missing axis: x28/x29
# compare DISTRIBUTIONS across sources; w16 finds WHEN a stream's level
# shifted. Classic mean-anchored CUSUM: S_t = Σ_{i<=t}(c_i − μ) over the
# per-type daily-count series; the change point is the day of max |S_t|
# (the standard CUSUM estimator). Per-row arithmetic is integer cum −
# rank×μ with identical IEEE ops on both engines, so the argmax is
# parity-stable. All windows partition by event_type over the DAY domain
# (bounded by the calendar, never event-sized); one corpus scan.
@query(
    "w16_cusum_changepoint",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
             count(*) AS c
      FROM events GROUP BY 1, 2
    ),
    stats AS (
      SELECT event_type, CAST(sum(c) AS DOUBLE) / count(*) AS mu,
             count(*) AS n_days
      FROM daily GROUP BY event_type
    ),
    cus AS (
      SELECT d.event_type, d.day,
             sum(d.c) OVER (PARTITION BY d.event_type ORDER BY d.day)
               - row_number() OVER (PARTITION BY d.event_type ORDER BY d.day) * s.mu
               AS cusum
      FROM daily d JOIN stats s USING (event_type)
    ),
    ranked AS (
      SELECT event_type, day, cusum,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY abs(cusum) DESC, day) AS rn
      FROM cus
    )
    SELECT r.event_type, CAST(s.n_days AS BIGINT) AS n_days,
           r.day AS change_day,
           round(r.cusum, 6) AS peak_cusum,
           round(s.mu, 6) AS daily_mean
    FROM ranked r JOIN stats s USING (event_type)
    WHERE r.rn = 1
    """,
)
def w16_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    day = F.floor(F.col("ts").cast("double") / 86400).cast("long")
    daily = (
        e.select("event_type", day.alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count("*").alias("c"))
    )
    stats = daily.groupBy("event_type").agg(
        (F.sum("c").cast("double") / F.count("*")).alias("mu"),
        F.count("*").cast("long").alias("n_days"),
    )
    wd = Window.partitionBy("event_type").orderBy("day")
    cus = daily.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "day",
        "n_days",
        "mu",
        (F.sum("c").over(wd) - F.row_number().over(wd) * F.col("mu")).alias("cusum"),
    )
    wr = Window.partitionBy("event_type").orderBy(F.abs(F.col("cusum")).desc(), "day")
    return (
        cus.withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") == 1)
        .select(
            "event_type",
            "n_days",
            F.col("day").alias("change_day"),
            F.round("cusum", 6).alias("peak_cusum"),
            F.round("mu", 6).alias("daily_mean"),
        )
    )


# --- W17: trailing 7-day rolling stats (RANGE-frame window) ------------------------
# The one window-frame type the registry lacked: a VALUE-based (RANGE)
# frame over the day domain. ROWS BETWEEN 6 PRECEDING averages the last
# 7 PRESENT rows — across a gap it silently reaches back further in
# time; RANGE BETWEEN 6 PRECEDING bounds the frame by day VALUE, so
# absent days genuinely thin the trailing window (that divergence is the
# point, and w9's gap-fill is the complement when a dense series is
# wanted). trail7_avg divides by the fixed 7-day calendar span, not the
# active-day count — the dashboard-stable definition. Frames partition
# by event_type over the DAY domain (calendar-bounded state, the w16
# discipline): at 100 TB the pre-aggregation to (type, day) grain is the
# shuffle, and the window rides |types|×|days| rows.
@query(
    "w17_trailing_range_stats",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
             count(*) AS c
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, day, c AS n_events,
           CAST(sum(c) OVER w AS BIGINT) AS trail7_events,
           CAST(count(*) OVER w AS BIGINT) AS trail7_active_days,
           round(CAST(sum(c) OVER w AS DOUBLE) / 7.0, 6) AS trail7_avg,
           CAST(max(c) OVER w AS BIGINT) AS trail7_peak
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY day
                 RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)
def w17_trailing_range_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    day = F.floor(F.col("ts").cast("double") / 86400).cast("long")
    daily = (
        e.select("event_type", day.alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count("*").alias("c"))
    )
    w = Window.partitionBy("event_type").orderBy("day").rangeBetween(-6, 0)
    return daily.select(
        "event_type",
        "day",
        F.col("c").alias("n_events"),
        F.sum("c").over(w).cast("long").alias("trail7_events"),
        F.count("*").over(w).cast("long").alias("trail7_active_days"),
        F.round(F.sum("c").over(w).cast("double") / 7.0, 6).alias("trail7_avg"),
        F.max("c").over(w).cast("long").alias("trail7_peak"),
    )
