"""Round-15 session-2 additions: m10_lloyd_deterministic — the m-family's
first oracle-backed row. Planted-truth pins for the determinism recipe
(the Spark-vs-DuckDB parity itself is swept by test_oracle_parity.py and
was exact-matched at sf0.01/sf0.1/sf1 before registration).
"""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pytest

import bench
from ml_training_data_pipeline_spark.operators.cluster import lloyd_deterministic
from ml_training_data_pipeline_spark.plans import registry
from tests.conftest import SF_DIR, write_documents


def _mk_vectors(spark, rows):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        schema="vec_id bigint, embedding array<float>",
    )


def _reference_lloyd(rows, k, iters, quant=1000):
    """Pure-Python mirror of the recipe: floor-quantize, int sums, double
    centers, left-to-right fold distances, argmin tie-broken by cluster."""
    q = {
        i: [math.floor(float(x) * quant) for x in v]  # float32 narrowing
        for i, v in rows
    }
    ids = sorted(q)
    centers = {j: [float(x) for x in q[ids[j]]] for j in range(k)}
    assign = {}
    for t in range(1, iters + 1):
        for i in ids:
            best = None
            for j in range(k):
                d = 0.0
                for x, c in zip(q[i], centers[j]):
                    d = d + (float(x) - c) * (float(x) - c)
                if best is None or (d, j) < best:
                    best = (d, j)
            assign[i] = best[1]
        if t < iters:
            for j in range(k):
                members = [i for i in ids if assign[i] == j]
                if members:
                    n = len(members)
                    centers[j] = [
                        sum(q[i][dim] for i in members) / n
                        for dim in range(len(q[ids[0]]))
                    ]
    return assign


def test_lloyd_matches_pure_python_mirror(spark):
    # 40 vectors x 5 dims from a fixed LCG — no planted structure, so the
    # argmin decisions exercise arbitrary boundaries; the Spark pipeline
    # must reproduce the reference recipe decision-for-decision.
    state, rows = 12345, []
    for i in range(40):
        v = []
        for _ in range(5):
            state = (1103515245 * state + 12345) % (1 << 31)
            v.append((state / (1 << 31)) - 0.5)
        rows.append((i, v))
    # push through float32 the same way the parquet column does
    rows = [(i, [float(np.float32(x)) for x in v]) for i, v in rows]
    got = (
        lloyd_deterministic(_mk_vectors(spark, rows), k=4, iters=3)
        .toPandas()
        .set_index("vec_id")["cluster_id"]
        .to_dict()
    )
    want = _reference_lloyd(rows, k=4, iters=3)
    assert got == want


def test_lloyd_recovers_planted_blobs(spark):
    # Three tight, far-apart blobs; vec_ids 0/1/2 are one per blob so the
    # deterministic init lands one center in each. Lloyd must recover the
    # planted partition exactly.
    blobs = [[5.0, 0.0, 0.0], [0.0, 5.0, 0.0], [0.0, 0.0, 5.0]]
    rows = []
    for i in range(30):
        b = i % 3
        jitter = 0.01 * ((i * 7) % 5)
        rows.append((i, [c + (jitter if d == b else 0.0) for d, c in enumerate(blobs[b])]))
    out = lloyd_deterministic(_mk_vectors(spark, rows), k=3, iters=3).toPandas()
    by_cluster = out.groupby("cluster_id")["vec_id"].apply(
        lambda s: {v % 3 for v in s}
    )
    assert len(by_cluster) == 3
    for members in by_cluster:
        assert len(members) == 1, f"blob split across clusters: {members}"


def test_lloyd_empty_cluster_keeps_previous_center(spark):
    # vec_ids 0 and 1 are identical, so cluster 1's init center duplicates
    # cluster 0's; iteration 1 ties every near point to cluster 0, leaving
    # cluster 1 EMPTY — it must keep its previous center (not crash, not
    # renumber), which then wins the identical points BACK in iteration 2
    # (cluster 0's center drifted toward vec 4; cluster 1's stayed put).
    rows = [(0, [1.0, 1.0]), (1, [1.0, 1.0]), (2, [9.0, 9.0]), (3, [9.1, 9.1]),
            (4, [1.1, 0.9])]
    out = lloyd_deterministic(_mk_vectors(spark, rows), k=3, iters=3).toPandas()
    got = out.set_index("vec_id")["cluster_id"].to_dict()
    assert got == _reference_lloyd(rows, k=3, iters=3)
    assert got[0] == got[1] == 1  # re-captured by the kept center
    assert got[4] == 0
    assert got[2] == got[3] == 2


def test_lloyd_raises_when_fewer_rows_than_k(spark):
    rows = [(0, [1.0]), (1, [2.0])]
    with pytest.raises(ValueError, match="k=5"):
        lloyd_deterministic(_mk_vectors(spark, rows), k=5, iters=1)


def test_read_proc_stat_parses_aggregate_cpu_line(tmp_path):
    import bench

    p = tmp_path / "stat"
    p.write_text("cpu  100 0 50 800 10 0 5 35 0 0\nCPU0 ignored\n")
    steal, total = bench.read_proc_stat(str(p))
    assert steal == 35
    assert total == 1000


def test_read_proc_stat_handles_missing_and_malformed(tmp_path):
    import bench

    assert bench.read_proc_stat(str(tmp_path / "nope")) is None
    bad = tmp_path / "bad"
    bad.write_text("intr 12345\n")
    assert bench.read_proc_stat(str(bad)) is None
    short = tmp_path / "short"  # pre-2.6.11 kernels: no steal column
    short.write_text("cpu 1 2 3 4\n")
    assert bench.read_proc_stat(str(short)) == (0, 10)


def test_steal_pct_flags_contention_and_degrades_cleanly():
    # 3% of all cpu time stolen across the window
    assert bench.steal_pct((100, 10_000), (400, 20_000)) == 3.0
    assert bench.steal_pct(None, (400, 20_000)) == -1.0
    assert bench.steal_pct((100, 10_000), None) == -1.0
    # zero/negative elapsed (clock weirdness) must not divide
    assert bench.steal_pct((100, 10_000), (100, 10_000)) == -1.0


def test_n23_probe_structure(spark):
    out = (
        registry.QUERIES["n23_deterministic_ivf_topk"](spark, SF_DIR)
        .toPandas()
        .sort_values(["query_id", "rank"])
    )
    assert len(out) > 0
    for qid, g in out.groupby("query_id"):
        assert qid % 97 == 0
        assert list(g["rank"]) == list(range(1, len(g) + 1))  # dense 1..k
        assert len(g) <= 3
        assert (g["neighbor_id"] != qid).all()  # self excluded
        d = list(g["dist"])
        assert all(a <= b for a, b in zip(d, d[1:])), d  # nondecreasing


def test_pick_cpu_stats_prefers_steal_clean_reps():
    import bench

    # rep 2 hit a 6% steal episode and read 657 CPU-s; clean reps rule
    reps = [(5.0, 18.0, 0.4), (4.8, 657.0, 6.1), (5.2, 19.0, 0.2)]
    wall, cpu, med, src = bench.pick_cpu_stats(reps)
    assert wall == 4.8  # min wall over ALL reps (episode only slows)
    assert cpu == 18.0 and med == 18.5
    # r16: the cpu-source rep (5.0s) is NOT the min-wall rep (4.8s) —
    # mixed pairing must stay visible in the tag (r15 ADVICE)
    assert src == "clean-2/3@5.0s"


def test_pick_cpu_stats_falls_back_when_no_quiet_rep():
    import bench

    reps = [(5.0, 100.0, 3.0), (6.0, 120.0, 4.5)]
    wall, cpu, med, src = bench.pick_cpu_stats(reps)
    assert (wall, cpu, med) == (5.0, 100.0, 110.0)
    assert src == "all-2/2"


def test_pick_cpu_stats_sentinel_discipline():
    import bench

    # failed CPU samples (-1.0) never win even when their rep is quiet
    reps = [(5.0, -1.0, 0.1), (6.0, 20.0, 0.2)]
    wall, cpu, med, src = bench.pick_cpu_stats(reps)
    assert (wall, cpu, med, src) == (5.0, 20.0, 20.0, "clean-1/2@6.0s")
    # all samples failed -> sentinels, tagged
    wall, cpu, med, src = bench.pick_cpu_stats([(5.0, -1.0, 0.1)])
    assert (cpu, med, src) == (-1.0, -1.0, "none-0/1")
    # off-Linux steal (-1.0) is not "clean" but stays usable — and is
    # tagged nosteal (healthy, ungated), NOT all (gate exceeded)
    wall, cpu, med, src = bench.pick_cpu_stats([(5.0, 20.0, -1.0)])
    assert (cpu, med, src) == (20.0, 20.0, "nosteal-1/1")


def test_read_proc_stat_malformed_numeric_degrades(tmp_path):
    import bench

    bad = tmp_path / "stat"
    bad.write_text("cpu 100 abc 50\n")
    assert bench.read_proc_stat(str(bad)) is None


def test_lloyd_rejects_zero_iters(spark):
    rows = [(0, [1.0]), (1, [2.0])]
    with pytest.raises(ValueError, match="iters=0"):
        lloyd_deterministic(_mk_vectors(spark, rows), k=2, iters=0)


def test_bpe_oracle_survives_merge_dryup(spark, tmp_path):
    # when the pair pool dries up before n_merges, b{t} is EMPTY — a
    # CROSS JOIN collapsed st{t+1} to
    # zero rows, so the v11/v13 oracles returned empty/NULL while Spark's
    # train_bpe breaks early and still serves real numbers. The LEFT JOIN
    # carry-forward must keep both engines matched on degenerate corpora.
    sf = write_documents(str(tmp_path), ["ab ab ab", "ab"], ["s", "s"])
    for name in ("v10_bpe_learned_merges", "v11_bpe_token_budget",
                 "v13_bpe_compression_curve"):
        sp = registry.QUERIES[name](spark, sf).toPandas()
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
        )
        od = con.execute(registry.ORACLE_SQL[name]).df()
        con.close()
        assert len(sp) > 0, f"{name}: Spark side empty"
        assert len(od) == len(sp), f"{name}: rows {len(od)} vs {len(sp)}"
        a = sp[sorted(sp.columns)].sort_values(sorted(sp.columns), ignore_index=True)
        b = od[sorted(od.columns)].sort_values(sorted(od.columns), ignore_index=True)
        for c in a.columns:
            if a[c].dtype.kind == "f":
                assert (a[c].round(6) == b[c].astype(float).round(6)).all(), (name, c)
            else:
                assert (a[c].astype(str) == b[c].astype(str)).all(), (name, c)


def test_m11_elbow_structure(spark):
    out = registry.QUERIES["m11_lloyd_elbow_exact"](
        spark, SF_DIR
    ).toPandas()
    n_vecs = 500  # sf0.001 embeddings table size (TESTDATA.md)
    for k, g in out.groupby("k"):
        assert k in (2, 4, 8)
        assert len(g) <= k
        assert int(g["n_members"].sum()) == n_vecs  # every vector assigned
        assert (g["n_members"] > 0).all()
        # exact integers: Decimal/int objects, never floats, never negative
        assert all(int(v) >= 0 for v in g["inertia_num"])
    assert set(out["k"]) == {2, 4, 8}
