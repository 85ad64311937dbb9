"""Round-5 additions: connected-components closure (the dedup grouping
step) and the banded-SimHash completeness guarantee on a crafted pair."""

from __future__ import annotations

import random

import pandas as pd
from pyspark.sql import functions as F

from ml_training_data_pipeline_spark.io.sources import load_table
from ml_training_data_pipeline_spark.operators.dedup import (
    connected_components,
    simhash_banded_near_dups,
)
from ml_training_data_pipeline_spark.plans import registry
from ml_training_data_pipeline_spark.streaming.enrich import make_profile_update
from tests.conftest import SF_DIR


def test_components_transitive_chain(spark):
    # chain 1-2-3-4 (diameter 3 — forces >1 propagation round) plus an
    # isolated pair 10-11: labels must collapse to the component minimum.
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], schema="doc_a long, doc_b long"
    )
    out = {r["doc_id"]: r["component_id"] for r in connected_components(edges).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_components_converge_regardless_of_edge_direction(spark):
    # same component however the pair was oriented by the a<b convention
    edges = spark.createDataFrame(
        [(5, 1), (2, 5), (3, 2)], schema="doc_a long, doc_b long"
    )
    out = {r["doc_id"]: r["component_id"] for r in connected_components(edges).collect()}
    assert set(out.values()) == {1}


def test_banded_simhash_catches_high_bit_diff(spark):
    # two signatures differing ONLY in the top bit: single high-byte
    # bucketing (d6's shape) separates them; multi-band bucketing must
    # still pair them because they agree on 3 of 4 bands.
    a = 0b1 << 59 | 0b1010
    b = 0b1010
    sim = spark.createDataFrame([(1, a), (2, b)], schema="doc_id long, simhash long")
    out = simhash_banded_near_dups(sim).collect()
    assert [(r["doc_a"], r["doc_b"], r["hamming"]) for r in out] == [(1, 2, 1)]


class _FakeState:
    """Minimal GroupState stand-in for the eviction contract."""

    def __init__(self, has_timed_out: bool):
        self.hasTimedOut = has_timed_out
        self.exists = False
        self.removed = False
        self.updated = None
        self.timeout_set = None

    def remove(self):
        self.removed = True

    def update(self, value):
        self.updated = value

    def getCurrentWatermarkMs(self):
        return 1_700_000_000_000

    def setTimeoutTimestamp(self, ts_ms):
        self.timeout_set = ts_ms


def test_profile_state_evicts_on_timeout():
    update = make_profile_update(ttl_ms=60_000)
    state = _FakeState(has_timed_out=True)
    rows = list(update((7,), iter([]), state) or [])
    assert state.removed, "timed-out state must be dropped"
    assert rows == [], "eviction emits nothing"
    assert state.updated is None and state.timeout_set is None


def test_profile_state_sets_event_time_ttl():
    update = make_profile_update(ttl_ms=60_000)
    state = _FakeState(has_timed_out=False)
    ts = pd.Timestamp("2024-01-01T00:00:00Z")
    pdf = pd.DataFrame(
        {"user_id": [7, 7], "event_type": ["click", "view"], "event_id": [4, 9], "ts": [ts, ts]}
    )
    rows = list(update((7,), iter([pdf]), state))
    assert state.updated == (["click", "view"], 2, 4, 1_704_067_200_000)
    # TTL anchored at max(latest event, watermark+1) + ttl: the 2024-01-01
    # event (1704067200000 ms) is ahead of the fake watermark, so it wins
    assert state.timeout_set == 1_704_067_200_000 + 60_000
    assert len(rows) == 1 and int(rows[0]["n_events"].iloc[0]) == 2


def test_profile_state_ttl_anchor_survives_out_of_order_batch():
    # an out-of-order batch of OLDER events must not pull the timeout
    # earlier: the anchor is the per-key max event ts persisted in state.
    update = make_profile_update(ttl_ms=60_000)
    state = _FakeState(has_timed_out=False)
    state.exists = True
    newer_ms = 1_704_067_200_000
    state.get = (["click"], 1, 4, newer_ms)
    old = pd.DataFrame(
        {"user_id": [7], "event_type": ["view"], "event_id": [2],
         "ts": [pd.Timestamp("2023-12-31T00:00:00Z")]}
    )
    list(update((7,), iter([old]), state))
    assert state.updated[3] == newer_ms
    assert state.timeout_set == newer_ms + 60_000


def test_x8_sketches_track_exact_answers(spark):
    # HLL++ (rsd 1%) and GK quantiles (accuracy 10000) must land within
    # tight bounds of the exact profile at test scale — the honesty check
    # behind the rows-only driver row.
    row = registry.QUERIES["x8_approx_profile"](spark, SF_DIR).collect()[0]

    docs = load_table(spark, SF_DIR, "documents")
    exact = docs.agg(
        F.countDistinct("source").alias("s"),
        F.countDistinct("doc_id").alias("d"),
        F.expr("percentile(n_chars, 0.5)").alias("m"),
        F.expr("percentile(n_chars, 0.9)").alias("p90"),
    ).collect()[0]
    assert abs(row["approx_sources"] - exact["s"]) <= max(1, 0.05 * exact["s"])
    assert abs(row["approx_docs"] - exact["d"]) <= 0.05 * exact["d"]
    assert abs(row["approx_median_chars"] - exact["m"]) <= 0.1 * exact["m"] + 1
    assert abs(row["approx_p90_chars"] - exact["p90"]) <= 0.1 * exact["p90"] + 1


def test_results_invariant_to_shuffle_partitions(spark):
    # the same query must produce identical rows whether the cluster
    # shuffles into 3 or 32 partitions — the determinism contract that
    # lets results be reproduced across deployment sizes (tie-breaks in
    # every ranking/window make this hold by construction).
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        outs = {}
        for n in ("3", "32"):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            for name in (
                "v4_vocab_top2000",
                "d4_minhash_dedup",
                "w5_asof_attribution",
                # float-heavy: parallel sums + rank
                # tie-breaks are exactly where partitioning sensitivity
                # would surface
                "x14_source_divergence",
                "w6_decayed_engagement",
                "n7_prototype_confusion",
                "mix2_stratified_quota",
                # decimal-summed join
                # aggregates (h5), double array folds (n10), salted join
                # deviation means (j10), readability averages (x19)
                "h5_local_supplier_volume",
                "n10_int8_quantization",
                "j10_salted_skew_join",
                "x19_readability",
                # regression aggregates: partial-moment merge order is
                # exactly where reordering could show at 1e-6
                "x21_heaps_law",
            ):
                pdf = registry.QUERIES[name](spark, SF_DIR).toPandas()
                pdf = pdf[sorted(pdf.columns)].sort_values(
                    by=sorted(pdf.columns), ignore_index=True
                )
                outs.setdefault(name, []).append(pdf)
        for name, (a, b) in outs.items():
            assert a.equals(b), f"{name} varies with shuffle partitioning"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def _uf_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_components_match_union_find_on_random_graphs(spark):
    # deterministic pseudo-random graphs (no hypothesis: a Spark job per
    # example is the cost driver, so a fixed seed sweep is the right
    # trade) — label propagation must equal classic union-find.
    rng = random.Random(20260813)
    for trial in range(5):
        n_nodes = rng.randint(4, 24)
        n_edges = rng.randint(3, 30)
        edges = [
            tuple(sorted(rng.sample(range(1, n_nodes + 1), 2))) for _ in range(n_edges)
        ]
        expected = _uf_components(edges)
        df = spark.createDataFrame(edges, schema="doc_a long, doc_b long")
        got = {r["doc_id"]: r["component_id"] for r in connected_components(df).collect()}
        assert got == expected, (trial, edges)
