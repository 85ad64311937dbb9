"""Relational operator queries (SURVEY.md §2.2, §2.5-2.7): scans,
projections, filters, aggregates, sorts/top-k, joins, unions.

Each mirrors a cited reference operator; all are DuckDB-oracle-checkable.
Float aggregates are decimal-summed then cast to double so parallel
summation order can't perturb the value hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io.sources import load_table
from ..operators.materialize import materialize
from .registry import query


# --- S1/P1: column-pruned scan with pushed-down filter -------------------
# Reference: read.csv %>% select(doc_id, PublicDescription)
# (01_extract_features.R:463-464). The .explain check: PushedFilters on
# lang, ReadSchema limited to 3 columns.
@query(
    "s1_scan_projection",
    oracle="""
    SELECT doc_id, n_chars FROM documents WHERE lang = 'en'
    """,
)
def s1_scan_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.where(F.col("lang") == "en").select("doc_id", "n_chars")


# --- P2/F9: derived-column projection (combined_features) -----------------
# Reference: mutate(combined_features = paste(...)) (02_build_models.R:17-20)
@query(
    "p2_derived_concat",
    oracle="""
    SELECT o_orderkey,
           concat_ws(' ', o_orderstatus, o_orderpriority) AS combined_features
    FROM orders
    """,
)
def p2_derived_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.concat_ws(" ", F.col("o_orderstatus"), F.col("o_orderpriority")).alias("combined_features"),
    )


# --- P4/P7: non-empty-document predicate ----------------------------------
# Reference: drop zero-mass docs (04_cluster_refiner.R:33-35) + empty-prompt
# guard (01_extract_features.R:85-88).
@query(
    "p4_filter_nonempty",
    oracle="""
    SELECT doc_id, n_chars FROM documents
    WHERE text IS NOT NULL AND trim(text) <> ''
    """,
)
def p4_filter_nonempty(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.where(F.col("text").isNotNull() & (F.trim("text") != "")).select("doc_id", "n_chars")


# --- P6/A1: group count + size guard (HAVING) ------------------------------
# Reference: skip clusters with < 10 docs (02_build_models.R:504-507);
# cluster sizes via table() (02_build_models.R:432-433).
@query(
    "p6_group_count_having",
    oracle="""
    SELECT lang, count(*) AS n_docs FROM documents
    GROUP BY lang HAVING count(*) >= 10
    """,
)
def p6_group_count_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(F.count("*").alias("n_docs")).where(F.col("n_docs") >= 10)


# --- P3: deterministic row sampling ---------------------------------------
# Reference: sample_n(input_data, 100) (01_extract_features.R:469-471).
# Made oracle-checkable by sampling on a hash of the key instead of a
# engine-specific RNG: md5-bucket sampling is the 100-TB-safe idiom anyway
# (stable across retries and engines).
@query(
    "p3_hash_sample",
    oracle="""
    SELECT doc_id, lang FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0'
    """,
)
def p3_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.where(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) == "0").select("doc_id", "lang")


# --- A6: distinct ----------------------------------------------------------
# Reference: unique(...) (02_build_models.R:81,307).
@query(
    "a6_distinct",
    oracle="SELECT DISTINCT lang, source FROM documents",
)
def a6_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents").select("lang", "source").distinct()


# --- A9: max high-watermark -------------------------------------------------
# Reference: max_cluster_id + 1 for new subcluster IDs (02_build_models.R:304,367-371).
@query(
    "a9_max_watermark",
    oracle="""
    SELECT max(o_orderkey) AS max_key, max(o_orderkey) + 1 AS next_key FROM orders
    """,
)
def a9_max_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.agg(
        F.max("o_orderkey").alias("max_key"), (F.max("o_orderkey") + 1).alias("next_key")
    )


# --- T1: global sort + deterministic limit ---------------------------------
# Reference: arrange(desc(coherence)) (02_build_models.R:851). Top-100
# orders by price; row_number tie-break on key so the row set is total-ordered.
@query(
    "t1_sort_topk",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM (
      SELECT o_orderkey, o_totalprice,
             row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      FROM orders
    ) WHERE rn <= 100
    """,
)
def t1_sort_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    # TakeOrderedAndProject (parallel per-partition top-k + merge), not a
    # no-partition row_number window that would single-partition the table.
    return (
        orders.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
        .select("o_orderkey", "o_totalprice")
    )


# --- T2-family: top-k per group via window ---------------------------------
# Reference: per-cluster top terms by centroid order (02_build_models.R:194-219)
# — the canonical partitioned ranking workload, here on orders-per-customer.
@query(
    "t2_topk_per_group",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
      FROM orders
    ) WHERE rnk <= 3
    """,
)
def t2_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rnk")
    )


# --- J1: broadcast label-lookup join (fan-out to rows) ----------------------
# Reference: cluster→label lookup fanned out to docs (02_build_models.R:759-761).
# customer→nation→region is the same shape: small dims broadcast.
@query(
    "j1_broadcast_lookup_join",
    oracle="""
    SELECT r.r_name AS region_name, count(*) AS n_customers,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def j1_broadcast_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(
            F.count("*").alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double").alias("total_acctbal"),
        )
    )


# --- J2: renumber via dense_rank --------------------------------------------
# Reference: renumber_clusters (02_build_models.R:380-389) — compact old IDs
# to 1..K preserving order.
@query(
    "j2_dense_rank_renumber",
    oracle="""
    SELECT lang AS old_id, dense_rank() OVER (ORDER BY lang) AS new_id
    FROM (SELECT DISTINCT lang FROM documents)
    """,
)
def j2_dense_rank_renumber(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = Window.orderBy("lang")
    return (
        docs.select("lang").distinct()
        .select(F.col("lang").alias("old_id"), F.dense_rank().over(w).cast("long").alias("new_id"))
    )


# --- J-semi/anti: orders with/without lineitems (beyond-reference join kinds)
@query(
    "j5_semi_anti_join",
    oracle="""
    SELECT 'with_lines' AS kind, count(*) AS n FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
    UNION ALL
    SELECT 'without_lines' AS kind, count(*) AS n FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
    """,
)
def j5_semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    semi = o.join(l, o.o_orderkey == l.l_orderkey, "left_semi").agg(F.count("*").alias("n")).select(
        F.lit("with_lines").alias("kind"), "n"
    )
    anti = o.join(l, o.o_orderkey == l.l_orderkey, "left_anti").agg(F.count("*").alias("n")).select(
        F.lit("without_lines").alias("kind"), "n"
    )
    return semi.unionByName(anti)


# --- U1: union all -----------------------------------------------------------
# Reference: bind_rows(all_chunks) (01_extract_features.R:431).
@query(
    "u1_union_all",
    oracle="""
    SELECT event_type, count(*) AS n FROM (
      SELECT event_type FROM events WHERE value >= 150
      UNION ALL
      SELECT event_type FROM events WHERE value < 50
    ) GROUP BY event_type
    """,
)
def u1_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    hi = e.where(F.col("value") >= 150).select("event_type")
    lo = e.where(F.col("value") < 50).select("event_type")
    return hi.unionByName(lo).groupBy("event_type").agg(F.count("*").alias("n"))


# --- Q1: TPC-H-Q1-shaped heavy aggregate (the bench headline) ----------------
# 8 aggregates over lineitem grouped on 2 columns; decimal-summed for exact
# cross-engine match, partial (map-side) aggregation for scale.
@query(
    "h1_lineitem_pricing_summary",
    oracle="""
    -- decimal->double goes THROUGH VARCHAR: DuckDB's direct cast divides
    -- the int128 payload by 10^scale in floating point (two roundings,
    -- up to 1 ulp off), while Spark converts via Java BigDecimal
    -- (correctly rounded); at sf1 the A/O sum_charge landed on adjacent
    -- doubles (round-14 sf1 probe). String parsing is correctly rounded
    -- in both engines.
    SELECT l_returnflag, l_linestatus,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_qty,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - CAST(l_discount AS DECIMAL(18,4)) AS DECIMAL(5,4))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - CAST(l_discount AS DECIMAL(18,4)) AS DECIMAL(5,4)) * CAST(1 + CAST(l_tax AS DECIMAL(18,4)) AS DECIMAL(5,4))) AS VARCHAR) AS DOUBLE) AS sum_charge,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def h1_lineitem_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    # the FACTORS are cast to decimal(5,4) so the triple product stays
    # within precision 38 EXACTLY: (18,2)x(5,4)x(5,4) -> (30,10), no
    # precision-loss rounding. With the factors at (19,4) Spark's product
    # hit the 38 cap and rounded to scale 6 while DuckDB kept scale 10 —
    # at sf1 (6M rows) the accumulated product-rounding difference
    # crossed one double ulp of the 2.8e10 total and h1's sum_charge
    # hash-mismatched (round-14 sf1 correctness probe). Discount/tax are
    # in [0, 0.1] so 1±x fits (5,4) with headroom.
    disc1 = (1 - F.col("l_discount").cast("decimal(18,4)")).cast("decimal(5,4)")
    tax1 = (1 + F.col("l_tax").cast("decimal(18,4)")).cast("decimal(5,4)")
    return (
        l.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * disc1).cast("double").alias("sum_disc_price"),
            F.sum(price * disc1 * tax1).cast("double").alias("sum_charge"),
            F.count("*").alias("count_order"),
        )
    )


# --- H2: star-schema join + agg (revenue per nation) -------------------------
@query(
    "h2_revenue_per_nation",
    oracle="""
    SELECT n.n_name AS nation_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue,
           count(*) AS n_lines
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def h2_revenue_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (1 - F.col("l_discount").cast("decimal(18,4)"))
    # customer scales with SF — no broadcast hint (AQE picks the strategy
    # from runtime stats; at 100 TB a forced customer broadcast is an OOM).
    # nation is fixed 25 rows: always broadcast.
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation_name"))
        .agg(F.sum(rev).cast("double").alias("revenue"), F.count("*").alias("n_lines"))
    )


# --- H3: segment shipping priority (TPC-H Q3 shape) --------------------------
# Two fact tables joined after heavily-filtered dim/fact scans, top-10 by
# revenue. The scale shape: both date predicates and the mktsegment
# predicate push into the parquet scans (verified in
# tests/test_plan_shapes.py), the customer->orders join is left to AQE
# (customer scales with SF), and the final top-10 is a TakeOrdered — no
# global sort materializes the full join output.
@query(
    "h3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date, o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def h3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit("1995-03-15 00:00:00").cast("timestamp")
    c = load_table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderdate") < cutoff)
    l = load_table(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > cutoff)
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        1 - F.col("l_discount").cast("decimal(18,4)")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


# --- H4: forecast revenue change (TPC-H Q6 shape) ----------------------------
# The pure scan-dominant query: one fact table, three range predicates,
# one global aggregate. At 100 TB this is THE predicate-pushdown /
# column-pruning benchmark — the scan should read 4 columns of lineitem
# and skip row groups on l_shipdate min/max stats; everything after the
# scan is a map-side partial sum + single-row final agg (no shuffle of
# data, just 32 partial rows).
@query(
    "h4_forecast_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def h4_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * F.col("l_discount").cast(
        "decimal(18,4)"
    )
    return (
        l.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.sum(rev).cast("double").alias("revenue"), F.count("*").alias("n_lines"))
    )


# --- H5: local supplier volume (TPC-H Q5 shape) ------------------------------
# The 6-way join: two fact tables (orders, lineitem) threaded through
# four dimensions (customer, supplier, nation, region) with the extra
# c_nationkey = s_nationkey local-supplier constraint. Scale layout:
# region(5)→nation(25) prune to one region BEFORE joining the fact side
# (broadcast the pruned dim chain); supplier also broadcasts after the
# nation prune at real SF ratios; the only big shuffle is
# lineitem ⨝ orders on orderkey, which AQE handles.
@query(
    "h5_local_supplier_volume",
    oracle="""
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'AFRICA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def h5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem")
    # prune the dim chain first: region(1 row) -> nation(~5 rows) is tiny
    # by construction, so the nation list broadcasts into supplier and
    # customer; only fact-fact joins shuffle.
    n = (
        load_table(spark, sf_dir, "nation")
        .join(
            F.broadcast(load_table(spark, sf_dir, "region").where(F.col("r_name") == "AFRICA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    s = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    )
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        1 - F.col("l_discount").cast("decimal(18,4)")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .groupBy("n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


# --- U3: union of heterogeneous schemas (schema evolution) -------------------------
# unionByName(allowMissingColumns=True) — the schema-evolution union a
# long-lived corpus store needs when newer partitions carry columns older
# ones lack; absent columns null-fill by NAME (a positional UNION would
# silently misalign). Oracle: UNION ALL BY NAME.
@query(
    "u3_union_mixed_schemas",
    oracle="""
    SELECT lang, count(*) AS n_docs,
           CAST(count(source) AS BIGINT) AS n_with_source,
           CAST(count(n_chars) AS BIGINT) AS n_with_chars
    FROM (
      SELECT doc_id, lang, source, NULL::BIGINT AS n_chars FROM documents WHERE doc_id % 2 = 0
      UNION ALL BY NAME
      SELECT doc_id, lang, NULL::VARCHAR AS source, n_chars FROM documents WHERE doc_id % 2 = 1
    ) GROUP BY lang
    """,
)
def u3_union_mixed_schemas(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    legacy = docs.where(F.col("doc_id") % 2 == 0).select("doc_id", "lang", "source")
    modern = docs.where(F.col("doc_id") % 2 == 1).select("doc_id", "lang", "n_chars")
    both = legacy.unionByName(modern, allowMissingColumns=True)
    return both.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.count("source").alias("n_with_source"),
        F.count("n_chars").alias("n_with_chars"),
    )


# --- H6: order-priority checking (TPC-H Q4 shape) ----------------------------
# The EXISTS-subquery pattern: orders in a quarter that have ≥1 late
# lineitem. Compiles to a LEFT SEMI join — equi on orderkey plus the
# non-equi lateness conjunct evaluated as the join residual — so each
# order is emitted at most once with NO post-join dedup, and the date
# window pushes into the orders scan. At scale the semi join shuffles
# only (orderkey, orderdate) against (orderkey, shipdate) — never the
# wide rows.
@query(
    "h6_order_priority_check",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o_orderpriority
    """,
)
def h6_order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-07-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01 00:00:00").cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    return (
        o.join(l, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


# --- H7: promotion revenue share (TPC-H Q14 shape) ---------------------------
# Fact ⨝ dim with a conditional-share aggregate: the CASE folds into the
# same partial aggregation as the denominator, so the share is one join
# + one agg (no second scan for the denominator). part scales with SF so
# the join strategy is AQE's call, not a forced broadcast.
@query(
    "h7_promo_revenue_share",
    oracle="""
    SELECT CAST(100.0 * SUM(CASE WHEN p_type = 'PROMO'
                 THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,4))) END)
               / SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS promo_share_pct,
           count(*) AS n_lines
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-07-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1996-08-01 00:00:00'
    """,
)
def h7_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-07-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-08-01 00:00:00").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        1 - F.col("l_discount").cast("decimal(18,4)")
    )
    promo = F.sum(F.when(F.col("p_type") == "PROMO", rev))
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .agg(
            (F.lit(100.0) * promo / F.sum(rev)).cast("double").alias("promo_share_pct"),
            F.count("*").alias("n_lines"),
        )
    )


# --- H8: returned-item revenue ranking (TPC-H Q10 shape) ---------------------
# Who cost us the most in returns last quarter: 3-way join filtered on
# both fact sides, grouped per customer, parallel top-20. Same
# TakeOrdered discipline as h3 — the customer-grain aggregate never
# passes through a single-partition global sort.
@query(
    "h8_returned_revenue_ranking",
    oracle="""
    SELECT c_custkey, c_name, n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def h8_returned_revenue_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        1 - F.col("l_discount").cast("decimal(18,4)")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


# --- H9: customer order-count distribution (TPC-H Q13 shape) -----------------
# The OUTER-join histogram: customers with zero orders must appear in
# the c_count=0 bucket, so the join is LEFT OUTER and the count is over
# the nullable order key (count(col) skips nulls — the semantics the
# whole query hinges on). Double aggregation: per-customer counts, then
# the distribution over counts — both map-side combinable; the second
# groupBy's key space is tiny (distinct order counts), so the plan ends
# in a near-free shuffle.
@query(
    "h9_customer_distribution",
    oracle="""
    SELECT c_count, count(*) AS custdist FROM (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey
    ) GROUP BY c_count
    """,
)
def h9_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


# --- H10: large-volume customers (TPC-H Q18 shape) ---------------------------
# Aggregate-then-semi-join: the qualifying order set comes from a
# HAVING over the lineitem aggregate, then scopes the 3-way join via
# LEFT SEMI — the aggregate runs ONCE and only qualifying orders flow
# into the join, instead of joining everything and filtering after. The
# qualifying set is small by construction (the threshold selects the
# tail), so AQE broadcasts it into both probe sides.
@query(
    "h10_large_volume_customers",
    oracle="""
    SELECT c_custkey, o_orderkey,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250
    )
    GROUP BY c_custkey, o_orderkey
    """,
)
def h10_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    qualifying = (
        l.groupBy("l_orderkey")
        .agg(F.sum(qty).alias("sq"))
        .where(F.col("sq") > 250)
        .select("l_orderkey")
    )
    lq = l.join(qualifying.withColumnRenamed("l_orderkey", "q_orderkey"),
                F.col("l_orderkey") == F.col("q_orderkey"), "left_semi")
    return (
        lq.join(o, lq.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "o_orderkey")
        .agg(F.sum(qty).cast("double").alias("total_qty"))
    )


# --- H11: dormant high-balance customers (TPC-H Q22 shape) -------------------
# Scalar-subquery threshold + NOT EXISTS anti-join + aggregate: customers
# above the positive-balance average with NO urgent order since 1996,
# rolled up per nation. Plan discipline: the scalar average is ONE row
# (broadcast into the filter, never a per-row subquery execution); the
# NOT EXISTS compiles to a LEFT ANTI join on custkey with the
# priority/date predicates pushed into the orders scan BEFORE the join,
# so the anti-join probes only urgent-1996 orders, not the full fact
# table.
@query(
    "h11_dormant_high_balance",
    oracle="""
    WITH avg_bal AS (SELECT avg(c_acctbal) AS a FROM customer WHERE c_acctbal > 0)
    SELECT n_name,
           count(*) AS n_custs,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
    FROM customer JOIN nation ON c_nationkey = n_nationkey, avg_bal
    WHERE c_acctbal > avg_bal.a
      AND NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey
          AND o_orderpriority = '1-URGENT'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      )
    GROUP BY n_name
    """,
)
def h11_dormant_high_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
    )
    avg_bal = c.where(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("a"))
    eligible = (
        c.join(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("a"))
        .join(o.select("o_custkey"), c.c_custkey == o.o_custkey, "left_anti")
    )
    return (
        eligible.join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_custs"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double").alias("total_bal"),
        )
    )


# --- H12: two-nation trade volume (TPC-H Q7 shape) ---------------------------
# The symmetric bilateral-flow join: supplier-nation × customer-nation
# restricted to one unordered pair, revenue per (direction, ship-year).
# Scale layout: both nation filters prune their dimension to ONE row and
# broadcast into supplier/customer, which then broadcast into the fact
# join — the only shuffle is lineitem ⨝ orders. The OR of the two
# directions is applied AFTER the nation joins (on two tiny dims), not
# as a cross-filter on the fact table.
@query(
    "h12_two_nation_volume",
    oracle="""
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l_shipdate) AS BIGINT) AS l_year,
             l_extendedprice, l_discount
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def h12_two_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    pair = n.where(F.col("n_name").isin("NATION_1", "NATION_2"))
    s = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(pair.withColumnRenamed("n_name", "supp_nation")),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", "supp_nation")
    c = load_table(spark, sf_dir, "customer").join(
        F.broadcast(
            pair.select(
                F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
            )
        ),
        F.col("c_nationkey") == F.col("n2_key"),
    ).select("c_custkey", "cust_nation")
    l = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        1 - F.col("l_discount").cast("decimal(18,4)")
    )
    return (
        l.join(s, l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year"))
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


# --- H13: nation market share within a region (TPC-H Q8 shape) ---------------
# Ratio-of-conditional-aggregates over a 7-way join: NATION_3's share of
# STANDARD-part revenue delivered to EUROPE customers, per order year.
# Both numerator and denominator are decimal partial sums in ONE
# aggregate pass (no second join), cast to double only for the final
# division — the conditional-share idiom that stays deterministic under
# any partitioning.
@query(
    "h13_market_share",
    oracle="""
    SELECT o_year,
           round(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE CAST(0 AS DECIMAL(28,6)) END) AS DOUBLE)
                 / CAST(SUM(volume) AS DOUBLE), 6) AS mkt_share
    FROM (
      SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
             CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l_discount AS DECIMAL(18,4))) AS DECIMAL(28,6)) AS volume,
             n1.n_name AS supp_nation
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      JOIN region ON n2.n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE' AND p_type = 'STANDARD'
        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    ) all_nations
    GROUP BY o_year
    """,
)
def h13_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").where(F.col("p_type") == "STANDARD").select("p_partkey")
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    # customer side pruned to the region via the broadcast dim chain
    n2 = n.join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    ).select(F.col("n_nationkey").alias("n2_key"))
    c = load_table(spark, sf_dir, "customer").join(
        F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"), "left_semi"
    ).select("c_custkey")
    s = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(n.select("n_nationkey", F.col("n_name").alias("supp_nation"))),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", "supp_nation")
    vol = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (1 - F.col("l_discount").cast("decimal(18,4)"))
    ).cast("decimal(28,6)")
    joined = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey, "left_semi")
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            vol.alias("volume"),
            "supp_nation",
        )
    )
    zero = F.lit(0).cast("decimal(28,6)")
    return joined.groupBy("o_year").agg(
        F.round(
            F.sum(F.when(F.col("supp_nation") == "NATION_3", F.col("volume")).otherwise(zero)).cast("double")
            / F.sum("volume").cast("double"),
            6,
        ).alias("mkt_share")
    )


# --- H14: top supplier by quarterly revenue (TPC-H Q15 shape) ----------------
# Aggregate → global-max scalar → equality join back: the revenue view
# is computed ONCE, its max is one broadcast row, and the winner(s)
# come from an equality filter — never a global sort. Revenue values are
# decimal sums cast to double, so the max-equality is exact on both
# engines under any partitioning.
@query(
    "h14_top_supplier_revenue",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, round(total_revenue, 6) AS total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
)
def h14_top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        1 - F.col("l_discount").cast("decimal(18,4)")
    )
    revenue = materialize(l.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(rev).cast("double").alias("total_revenue")
    ))  # supplier-sized; max scalar + winner filter share it
    best = revenue.agg(F.max("total_revenue").alias("mx"))
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        revenue.join(F.broadcast(best))
        .where(F.col("total_revenue") == F.col("mx"))
        .join(F.broadcast(s), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", F.round("total_revenue", 6).alias("total_revenue"))
    )


# --- H15: small-quantity revenue (TPC-H Q17 shape) ---------------------------
# The correlated-average rewrite: "lineitems under 20% of their part's
# average quantity" becomes a per-part aggregate joined back to the
# fact — one shuffle on partkey instead of a per-row subquery. The
# threshold comparison is EXACT integer-domain decimal arithmetic
# (5·qty·cnt < sum_qty ⟺ qty < 0.2·avg), so no float boundary can flip
# a row between engines.
@query(
    "h15_small_qty_revenue",
    oracle="""
    WITH per_part AS (
      SELECT l_partkey AS pk,
             SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty,
             count(*) AS cnt
      FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0, 6) AS DOUBLE)
             AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN per_part ON pk = l_partkey
    WHERE p_brand = 'Brand#11'
      AND 5 * CAST(l_quantity AS DECIMAL(18,2)) * cnt < sum_qty
    """,
)
def h15_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#11").select("p_partkey")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    per_part = l.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(qty).alias("sum_qty"), F.count("*").alias("cnt")
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(per_part, F.col("l_partkey") == F.col("pk"))
        .where(F.lit(5) * qty * F.col("cnt") < F.col("sum_qty"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double") / 7.0, 6
            ).alias("avg_yearly")
        )
    )


# --- H16: disjunctive-predicate revenue (TPC-H Q19 shape) --------------------
# OR-of-ANDs across two tables: three (brand, size-range, qty-range)
# clauses. The part side of every clause broadcasts (2000 rows); the
# lineitem side keeps a single scan with the qty bounds pushed down as
# one OR predicate — Catalyst turns the whole disjunction into a single
# broadcast-hash-join + filter, no union of three scans.
@query(
    "h16_disjunctive_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue,
           count(*) AS n_items
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 1 AND l_quantity <= 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 30
           AND l_quantity >= 10 AND l_quantity <= 20)
       OR (p_brand = 'Brand#15' AND p_size BETWEEN 20 AND 50
           AND l_quantity >= 20 AND l_quantity <= 30)
    """,
)
def h16_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    q = F.col("l_quantity")
    clause = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 15) & (q >= 1) & (q <= 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(10, 30) & (q >= 10) & (q <= 20))
        | ((F.col("p_brand") == "Brand#15") & F.col("p_size").between(20, 50) & (q >= 20) & (q <= 30))
    )
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        1 - F.col("l_discount").cast("decimal(18,4)")
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .where(clause)
        .agg(F.sum(rev).cast("double").alias("revenue"), F.count("*").alias("n_items"))
    )


# --- H17: sole final-shipping supplier (TPC-H Q21 shape, adapted) ------------
# The reference schema has no commit/receipt dates, so "kept the order
# waiting" is re-stated on shipdate: in finished multi-supplier orders,
# find the supplier who ALONE shipped on the order's last ship date.
# The EXISTS / NOT-EXISTS pair is rewritten as per-order aggregates
# (n_suppliers ≥ 2, exactly one supplier at max shipdate) — two
# shuffles on orderkey, no correlated probes, and the identical
# aggregate form runs on both engines.
@query(
    "h17_sole_final_supplier",
    oracle="""
    WITH per_order AS (
      SELECT l_orderkey, max(l_shipdate) AS maxship,
             count(DISTINCT l_suppkey) AS nsupp
      FROM lineitem GROUP BY l_orderkey
    ),
    at_max AS (
      SELECT l.l_orderkey, min(l.l_suppkey) AS only_supp,
             count(DISTINCT l.l_suppkey) AS nmax
      FROM lineitem l JOIN per_order p
        ON l.l_orderkey = p.l_orderkey AND l.l_shipdate = p.maxship
      GROUP BY l.l_orderkey
    )
    SELECT s_name, count(*) AS numwait
    FROM per_order
    JOIN at_max USING (l_orderkey)
    JOIN orders ON o_orderkey = l_orderkey AND o_orderstatus = 'F'
    JOIN supplier ON s_suppkey = only_supp
    WHERE nsupp >= 2 AND nmax = 1
    GROUP BY s_name
    """,
)
def h17_sole_final_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    per_order = materialize(l.groupBy("l_orderkey").agg(
        F.max("l_shipdate").alias("maxship"),
        F.countDistinct("l_suppkey").alias("nsupp"),
    ))  # two consumers: the at-max scan and the final join
    at_max = (
        l.join(
            per_order.select("l_orderkey", "maxship"),
            ["l_orderkey"],
        )
        .where(F.col("l_shipdate") == F.col("maxship"))
        .groupBy("l_orderkey")
        .agg(
            F.min("l_suppkey").alias("only_supp"),
            F.countDistinct("l_suppkey").alias("nmax"),
        )
    )
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F").select("o_orderkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        per_order.join(at_max, "l_orderkey")
        .where((F.col("nsupp") >= 2) & (F.col("nmax") == 1))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi")
        .join(F.broadcast(s), F.col("only_supp") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )


# --- H18: nation product profit (TPC-H Q9 shape, adapted) --------------------
# The profit rollup join tree: part → lineitem → orders, supplier →
# nation, grouped by (supplier nation, order year). The reference
# schema has no partsupp/ps_supplycost, so cost is restated off the
# part's retail price (60% cost ratio) — the JOIN SHAPE (two dims into
# the fact, two-level group) is the portable part. All money math in
# decimals; the part and supplier sides broadcast.
@query(
    "h18_nation_profit",
    oracle="""
    SELECT nation, o_year,
           CAST(SUM(amount) AS DOUBLE) AS sum_profit
    FROM (
      SELECT n_name AS nation,
             CAST(year(o_orderdate) AS BIGINT) AS o_year,
             CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,4)))
               - CAST(0.6 AS DECIMAL(8,4)) * CAST(p_retailprice AS DECIMAL(18,2))
                 * CAST(l_quantity AS DECIMAL(18,2)) AS amount
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE p_type = 'PROMO'
    ) profit
    GROUP BY nation, o_year
    """,
)
def h18_nation_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_type") == "PROMO")
        .select("p_partkey", "p_retailprice")
    )
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    amount = F.col("l_extendedprice").cast("decimal(18,2)") * (
        1 - F.col("l_discount").cast("decimal(18,4)")
    ) - F.lit(0.6).cast("decimal(8,4)") * F.col("p_retailprice").cast("decimal(18,2)") * F.col(
        "l_quantity"
    ).cast("decimal(18,2)")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, l.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.sum(amount).cast("double").alias("sum_profit"))
    )


# --- H19: order-to-ship latency distribution ---------------------------------------
# The operational-SLA profile: days from order to line shipment,
# percentiles per order priority. One orderkey join, then exact
# interpolated percentiles per priority (Spark percentile() ≡ DuckDB
# quantile_cont over integer day gaps — the w13 precedent). At scale
# the quantile is the per-group sort; approx_percentile is the knob
# when groups outgrow memory (x8 shows the sketch face).
@query(
    "h19_ship_latency_quantiles",
    oracle="""
    WITH lat AS (
      SELECT o_orderpriority,
             CAST(floor((epoch(l_shipdate) - epoch(o_orderdate)) / 86400.0) AS BIGINT) AS days
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    )
    SELECT o_orderpriority,
           count(*) AS n_lines,
           round(quantile_cont(days, 0.50), 6) AS p50_days,
           round(quantile_cont(days, 0.90), 6) AS p90_days,
           CAST(max(days) AS BIGINT) AS max_days
    FROM lat GROUP BY o_orderpriority
    """,
)
def h19_ship_latency_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    days = F.floor(
        (F.col("l_shipdate").cast("double") - F.col("o_orderdate").cast("double")) / 86400.0
    ).cast("long")
    lat = l.join(o, l.l_orderkey == o.o_orderkey).select("o_orderpriority", days.alias("days"))
    return lat.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_lines"),
        F.round(F.expr("percentile(days, 0.50)"), 6).alias("p50_days"),
        F.round(F.expr("percentile(days, 0.90)"), 6).alias("p90_days"),
        F.max("days").cast("long").alias("max_days"),
    )


# --- H20: late-shipping priority counts (TPC-H Q12 shape) --------------------------
# Q12's conditional-CASE-sum idiom (02_build_models.R has no analogue —
# this is pure scale-extension relational coverage): one fact⨝dim join
# gated by DATE ARITHMETIC (testdata has no l_commitdate/l_receiptdate,
# so "late" = shipped ≥ 60 days after order — the same derived-day gap
# h19 profiles), then per-linestatus counts split by order urgency in a
# single aggregate pass. Both CASE branches ride ONE map-side-combinable
# groupBy — never two filtered scans. The day gap is integer floor
# division on epoch seconds (h19's parity-proven bridge). At scale the
# date filter cannot push below the join (it spans both tables), but the
# two-column projections do, and the orders side carries only
# (orderkey, orderdate, priority).
@query(
    "h20_late_shipping_priority",
    oracle="""
    SELECT l_linestatus,
           count(*) FILTER (WHERE o_orderpriority IN ('1-URGENT', '2-HIGH'))
             AS high_line_count,
           count(*) FILTER (WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH'))
             AS low_line_count,
           CAST(max(floor((epoch(l_shipdate) - epoch(o_orderdate)) / 86400.0)) AS BIGINT)
             AS max_delay_days
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE floor((epoch(l_shipdate) - epoch(o_orderdate)) / 86400.0) >= 60
    GROUP BY l_linestatus
    """,
)
def h20_late_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_linestatus", "l_shipdate")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    delay = F.floor(
        (F.col("l_shipdate").cast("double") - F.col("o_orderdate").cast("double")) / 86400.0
    ).cast("long")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .select("l_linestatus", F.col("o_orderpriority"), delay.alias("delay_days"))
        .where(F.col("delay_days") >= 60)
        .groupBy("l_linestatus")
        .agg(
            F.count(F.when(high, 1)).alias("high_line_count"),
            F.count(F.when(~high, 1)).alias("low_line_count"),
            F.max("delay_days").cast("long").alias("max_delay_days"),
        )
    )


# --- H21: min-cost regional supplier (TPC-H Q2 shape, adapted) ---------------
# The correlated-MIN-subquery shape: for each part in a size/type slice,
# the EUROPE supplier(s) charging the minimum price, ties all kept. The
# reference schema has no partsupp, so the supply relation is derived
# from lineitem — cost := min extendedprice the supplier ever charged for
# the part (an exact decimal MIN: no division, no float accumulation).
# Scale layout: the only fact shuffle is the (part, supplier) group of
# lineitem; region→nation→supplier prunes to one region and BROADCASTS
# into it; part's slice broadcasts too; the per-part minimum is a
# combinable groupBy joined back on equality (keeps ties) — no window.
@query(
    "h21_min_cost_supplier",
    oracle="""
    WITH supply AS (
      SELECT l_partkey, l_suppkey,
             min(CAST(l_extendedprice AS DECIMAL(18,2))) AS cost
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    eu_supply AS (
      SELECT supply.*, s_name, s_acctbal, n_name
      FROM supply
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON n_nationkey = s_nationkey
      JOIN region ON r_regionkey = n_regionkey AND r_name = 'EUROPE'
      JOIN part ON p_partkey = l_partkey
                AND p_type = 'STANDARD' AND p_size BETWEEN 10 AND 20
    ),
    best AS (SELECT l_partkey, min(cost) AS min_cost FROM eu_supply GROUP BY l_partkey)
    SELECT e.l_partkey AS p_partkey, p_brand, p_size, s_name, n_name,
           CAST(e.cost AS DOUBLE) AS cost,
           CAST(CAST(s_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS s_acctbal
    FROM eu_supply e
    JOIN best ON best.l_partkey = e.l_partkey AND e.cost = best.min_cost
    JOIN part ON p_partkey = e.l_partkey
    """,
)
def h21_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:

    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_acctbal", "s_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    p = load_table(spark, sf_dir, "part").where(
        (F.col("p_type") == "STANDARD") & F.col("p_size").between(10, 20)
    ).select("p_partkey", "p_brand", "p_size")
    eu_supp = (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"), "left_semi")
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    # both dim filters semi-prune the FACT before its one shuffle: at
    # cluster scale only the slice's (part, supplier) pairs move
    l = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey", "l_extendedprice")
        .join(F.broadcast(p.select("p_partkey")),
              F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .join(F.broadcast(eu_supp.select("s_suppkey")),
              F.col("l_suppkey") == F.col("s_suppkey"), "left_semi")
    )
    eu_supply = (
        l.groupBy("l_partkey", "l_suppkey")
        .agg(F.min(F.col("l_extendedprice").cast("decimal(18,2)")).alias("cost"))
    )
    eu_supply = materialize(eu_supply)  # consumed by best AND the tie join-back
    best = eu_supply.groupBy(F.col("l_partkey").alias("b_partkey")).agg(
        F.min("cost").alias("min_cost")
    )
    return (
        eu_supply.join(
            F.broadcast(best),
            (F.col("l_partkey") == F.col("b_partkey"))
            & (F.col("cost") == F.col("min_cost")),
        )
        .join(F.broadcast(eu_supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .select(
            F.col("p_partkey"),
            "p_brand",
            "p_size",
            "s_name",
            "n_name",
            F.col("cost").cast("double").alias("cost"),
            F.col("s_acctbal").cast("decimal(18,2)").cast("double").alias("s_acctbal"),
        )
    )


# --- H22: supplier diversity per part slice (TPC-H Q16 shape, adapted) -------
# The NOT-IN-blacklist + COUNT-DISTINCT shape: how many distinct
# suppliers offer each (brand, type, size) combination, excluding
# excluded brands/types and blacklisted suppliers. The reference schema
# has no supplier comments, so "complaint" suppliers are restated as
# negative account balance. Scale layout: the supplier blacklist is a
# tiny broadcast anti-join on the DISTINCT (part, supplier) pairs (the
# distinct is the one fact shuffle — countDistinct then reuses its
# partitioning), and part broadcasts.
@query(
    "h22_supplier_diversity",
    oracle="""
    WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    ok_pairs AS (
      SELECT * FROM pairs
      WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    )
    SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
    FROM ok_pairs
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#4' AND p_type <> 'PROMO'
      AND p_size IN (1, 4, 9, 14, 19, 24, 29, 34)
    GROUP BY p_brand, p_type, p_size
    """,
)
def h22_supplier_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    bad = (
        load_table(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    p = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#4")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 24, 29, 34)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    # filter-before-shuffle: the slice join and blacklist anti-join both
    # BROADCAST onto the raw fact rows, so the DISTINCT — the one real
    # shuffle — moves only the slice's pairs (~1/7 of the fact; measured
    # 24x CPU at 10x data when the distinct ran first, the map-side
    # partials being too sparse to combine 6M scattered pairs)
    l = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .join(F.broadcast(p.select("p_partkey")),
              F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .join(F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
    )
    pairs = l.distinct()
    return (
        pairs.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# --- H23: important-part share (TPC-H Q11 shape, adapted) --------------------
# The global-fraction scalar-subquery shape: parts whose total traded
# value exceeds 1.5x the average part's share. Both sides of the
# comparison stay EXACT: per-part value and the corpus total are decimal
# sums, and the threshold test multiplies by integer constants
# (n_parts * value > 3 * total / 2 restated as 2*n*value > 3*total) —
# no decimal division anywhere, so no cross-engine rounding surface.
# Scale layout: one shuffle (part group), the corpus total is a
# broadcast singleton crossJoin (the engine's blessed BNLJ shape).
@query(
    "h23_important_part_share",
    oracle="""
    WITH per_part AS (
      SELECT l_partkey AS p_partkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS value
      FROM lineitem GROUP BY l_partkey
    ),
    tot AS (SELECT SUM(value) AS total, count(*) AS n_parts FROM per_part)
    SELECT p_partkey, CAST(value AS DOUBLE) AS value
    FROM per_part, tot
    WHERE 2 * n_parts * value > 3 * total
    """,
)
def h23_important_part_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_extendedprice")
    per_part = l.groupBy(F.col("l_partkey").alias("p_partkey")).agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("value")
    )

    per_part = materialize(per_part)  # consumed by the total AND the filter
    tot = per_part.agg(
        F.sum("value").alias("total"), F.count("*").alias("n_parts")
    )
    return (
        per_part.join(F.broadcast(tot))  # singleton crossJoin
        .where(2 * F.col("n_parts") * F.col("value") > 3 * F.col("total"))
        .select("p_partkey", F.col("value").cast("double").alias("value"))
    )


# --- H24: dominant seasonal supplier (TPC-H Q20 shape, adapted) --------------
# The nested-correlated-aggregate shape: suppliers who shipped MORE THAN
# HALF of a qualifying part's 1996 volume (Q20's "availqty > half of
# shipped" restated shipped-vs-shipped since the schema has no partsupp).
# Qualifying parts: name starts with 'red'. The half test is
# 2*supp_qty > part_qty on exact decimal sums — no division. Scale
# layout: one shuffle to (part, supplier) grain, the per-part total is a
# map-side-combinable re-aggregation of that grain (NOT a second fact
# scan), and the supplier/nation dims broadcast into the tiny winner set.
@query(
    "h24_dominant_seasonal_supplier",
    oracle="""
    WITH red_parts AS (SELECT p_partkey FROM part WHERE p_name LIKE 'red%'),
    y96 AS (
      SELECT l_partkey, l_suppkey, CAST(l_quantity AS DECIMAL(18,2)) AS qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        AND l_partkey IN (SELECT p_partkey FROM red_parts)
    ),
    per_pair AS (
      SELECT l_partkey, l_suppkey, SUM(qty) AS supp_qty
      FROM y96 GROUP BY l_partkey, l_suppkey
    ),
    per_part AS (
      SELECT l_partkey, SUM(supp_qty) AS part_qty FROM per_pair GROUP BY l_partkey
    )
    SELECT s_name, n_name, count(*) AS n_parts_dominated
    FROM per_pair
    JOIN per_part USING (l_partkey)
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    WHERE 2 * supp_qty > part_qty
    GROUP BY s_name, n_name
    """,
)
def h24_dominant_seasonal_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:

    red = load_table(spark, sf_dir, "part").where(
        F.col("p_name").startswith("red")
    ).select("p_partkey")
    l = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    ).select("l_partkey", "l_suppkey", F.col("l_quantity").cast("decimal(18,2)").alias("qty"))
    per_pair = (
        l.join(F.broadcast(red), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("qty").alias("supp_qty"))
    )
    per_pair = materialize(per_pair)  # re-aggregated for the per-part total
    per_part = per_pair.groupBy(F.col("l_partkey").alias("pp_partkey")).agg(
        F.sum("supp_qty").alias("part_qty")
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        per_pair.join(per_part, F.col("l_partkey") == F.col("pp_partkey"))
        .where(2 * F.col("supp_qty") > F.col("part_qty"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("s_name", "n_name")
        .agg(F.count("*").alias("n_parts_dominated"))
    )


# --- H25: CPU-scaling probe (bench scaling evidence, round 17) -------------
# PERF_r16 flagged `suspect_cpus_ignored`: at sf0.1 every small-table
# headline query is floored to single-digit task counts and dominated by
# fixed per-stage cost, so the driver's 8-core-vs-32-core ratios read ≈1
# and the bench could not prove it honors $SPARK_GRAFT_CPUS. This query
# is core-bound BY CONSTRUCTION: a 256-step integer fold per lineitem row
# (~154M interpreted fold steps at sf0.1) over the scan whose task count
# scales with defaultParallelism, so its low-core/high-core wall ratio
# tracks the core ratio (measured sf0.1: ~1.4 s at 32 cores, ~3.0 s at 8
# — ratio ≈ 2.2 where the small-table queries sit at ≈ 1). The fold is
# exact BIGINT modular arithmetic, bit-identical in DuckDB's list_reduce
# (no float accumulation, no hash ordering), so the probe is fully
# oracle-checked like any other query.
@query(
    "h25_cpu_scaling_probe",
    oracle="""
    WITH h AS (
      SELECT list_reduce(
               list_prepend(0::BIGINT, range(1::BIGINT, 257::BIGINT)),
               (acc, x) -> (acc * 31
                            + x * ((l_orderkey * 7 + l_linenumber) % 1000003))
                           % 1000000007
             ) AS h
      FROM lineitem
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(h) AS BIGINT) AS h_sum,
           CAST(min(h) AS BIGINT) AS h_min,
           CAST(max(h) AS BIGINT) AS h_max
    FROM h
    """,
)
def h25_cpu_scaling_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
    key = (F.col("l_orderkey") * 7 + F.col("l_linenumber")) % 1000003
    fold = F.aggregate(
        F.sequence(F.lit(1), F.lit(256)),
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + x * key) % 1000000007,
    )
    return l.select(fold.alias("h")).agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("h").cast("long").alias("h_sum"),
        F.min("h").alias("h_min"),
        F.max("h").alias("h_max"),
    )
