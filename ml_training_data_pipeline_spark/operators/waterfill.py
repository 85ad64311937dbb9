"""Integer-exact token-budget water-filling (mix9, and the ep13/ep14
release roadmaps that re-budget after dedup).

Given per-source token totals, a training budget B = ⌊Σ n_tokens / 2⌋
is split across sources as equally as each source's repetition ceiling
``cap_tokens`` allows. Sources sort by cap ascending; source i is capped
iff cap_i·(n−i+1) ≤ B − prefix_{i−1}, an all-integer comparison that,
once false, stays false for every larger cap, so the capped set is a
prefix of the sort order. Capped sources take their cap; the rest split
the remainder evenly at level (B − Σ capped)/(n − k). Every float output
is one division of two BIGINTs, so it is bit-identical to the oracle
(``plans/oracle_fragments.waterfill_sql``) and +0.0 by construction. The
window is ``partitionBy(lit(0))`` over a frame of |sources| rows, tiny
by construction.

``capped_mixture`` is the simpler policy of mix7, ep9 and ep10: every
source is upweighted toward an equal share, by at most a fixed number of
epochs, with no budget.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .materialize import materialize


def waterfill(per_src: DataFrame) -> DataFrame:
    """Allocate the budget over ``per_src(source, …, n_tokens, cap_tokens)``
    (one row per source, materialized by the caller: the totals, the
    window and the report all read it). Returns every ``per_src`` column
    followed by is_capped, budget_tokens, alloc_tokens, alloc_share and
    epochs_equiv (the allocation as a multiple of the source's tokens)."""
    tot = per_src.agg(
        F.expr("sum(n_tokens) div 2").cast("long").alias("b"),
        F.count("*").alias("n"),
    )
    w = Window.partitionBy(F.lit(0)).orderBy("cap_tokens", "source")
    ranked = per_src.crossJoin(F.broadcast(tot)).select(  # singleton budget row
        *per_src.columns,
        "b",
        "n",
        F.row_number().over(w).alias("i"),
        F.sum("cap_tokens")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("prefix"),
    )
    marked = materialize(ranked.withColumn(
        "is_capped",
        F.col("cap_tokens") * (F.col("n") - F.col("i") + 1)
        <= F.col("b") - (F.col("prefix") - F.col("cap_tokens")),
    ))  # 2 consumers: the level aggregate + the report
    lvl = marked.agg(
        F.coalesce(F.sum(F.when(F.col("is_capped"), F.col("cap_tokens"))), F.lit(0))
        .cast("long")
        .alias("p_k"),
        F.sum(F.when(F.col("is_capped"), 1).otherwise(0)).cast("long").alias("k"),
    )
    rem_num = F.col("b") - F.col("p_k")  # BIGINT remainder after capped prefix
    rem_den = F.col("n") - F.col("k")  # BIGINT uncapped count
    return marked.crossJoin(F.broadcast(lvl)).select(  # singleton level row
        *per_src.columns,
        "is_capped",
        F.col("b").cast("long").alias("budget_tokens"),
        F.round(
            F.when(F.col("is_capped"), F.col("cap_tokens") / F.lit(1.0)).otherwise(
                rem_num / rem_den
            ),
            6,
        ).alias("alloc_tokens"),
        F.round(
            F.when(F.col("is_capped"), F.col("cap_tokens") / F.col("b")).otherwise(
                rem_num / (rem_den * F.col("b"))
            ),
            6,
        ).alias("alloc_share"),
        F.round(
            # a zero-token source is "capped" at zero allocation: reporting
            # the 4.0 cap multiple there would claim 4 epochs of nothing
            F.when(F.col("cap_tokens") == 0, F.lit(0.0))
            .when(F.col("is_capped"), F.lit(4.0))
            .otherwise(rem_num / (rem_den * F.col("n_tokens"))),
            6,
        ).alias("epochs_equiv"),
    )


def capped_mixture(per_src: DataFrame, epochs: int) -> DataFrame:
    """The cap-weight mixture over ``per_src(source, …, n_tokens)`` (one
    row per source, materialized by the caller: the totals and the
    weights both read it). Returns every ``per_src`` column followed by
    n (Σ n_tokens), n_src, cap = least(n, epochs·n_src·n_tokens) and
    zc = Σcap, all BIGINT, so each share the caller derives is one
    division of exact integers (oracle twin:
    ``plans/oracle_fragments.capped_mixture_ctes``)."""
    tot = per_src.agg(
        F.sum("n_tokens").cast("long").alias("n"), F.count("*").alias("n_src")
    )
    w = per_src.crossJoin(F.broadcast(tot)).select(  # singleton totals row
        *per_src.columns,
        "n",
        "n_src",
        F.least(F.col("n"), F.lit(epochs) * F.col("n_src") * F.col("n_tokens"))
        .cast("long")
        .alias("cap"),
    )
    z = w.agg(F.sum("cap").cast("long").alias("zc"))
    return w.crossJoin(F.broadcast(z))  # singleton normalizer row
