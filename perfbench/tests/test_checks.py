"""The output check accepts a correct result and rejects a corrupted one."""

from pyspark.sql import Row

import workloads

LABELS = ("A", "B")


def _ep2(sizes=(3, 5), labels=("A", "B")):
    return [
        Row(cluster_id=i, documents=n, coherence=-1.5 + i, label=lab)
        for i, (n, lab) in enumerate(zip(sizes, labels))
    ]


def _ref(rows, **kw):
    return {"hash": workloads.row_hash(rows), **kw}


def test_row_hash_ignores_order_and_float_noise():
    rows = _ep2()
    shuffled = [Row(**{**r.asDict(), "coherence": r.coherence + 1e-9}) for r in reversed(rows)]
    assert workloads.row_hash(rows) == workloads.row_hash(shuffled)


def test_ep2_check():
    rows = _ep2()
    ref = _ref(rows, keyword_docs=8, labels=LABELS)
    assert workloads.check("ep2_build_models", rows, ref) == []
    moved = _ep2(sizes=(4, 4))  # same total, another result
    assert workloads.check("ep2_build_models", moved, ref) != []
    lost = _ep2(sizes=(3, 4))
    assert any("sum to 7" in p for p in workloads.check("ep2_build_models", lost, ref))
    relabeled = _ep2(labels=("A", "Z"))
    assert any("CLUSTER_LABELS" in p for p in workloads.check("ep2_build_models", relabeled, ref))
    assert workloads.check("ep2_build_models", [], ref) != []


def test_oracle_check_rejects_a_corrupted_count():
    oracle = [["src0", 10, 1, 2, 7, 0.1, 0.2, 0.7], ["src1", 5, 0, 0, 5, 0.0, 0.0, 1.0]]
    rows = [Row(*r) for r in oracle]
    ref = {"oracle": workloads.normalize(oracle)}
    assert workloads.check("d23_dedup_cascade", rows, ref) == []
    bad = [Row(*r) for r in oracle]
    bad[1] = Row("src1", 5, 0, 1, 4, 0.0, 0.2, 0.8)
    assert workloads.check("d23_dedup_cascade", bad, ref) == [
        "d23_dedup_cascade: rows differ from the DuckDB oracle"
    ]


def test_ann_check():
    def rows(recall):
        return [
            Row(query_id=q, n_exact=5, n_hit=int(5 * recall), recall_at_5=recall, mean_cos_err=0.1)
            for q in range(workloads.ANN_PROBES)
        ]

    good = rows(0.6)
    assert workloads.check("n18_pq_adc_audit", good, _ref(good)) == []
    assert workloads.check("n18_pq_adc_audit", rows(0.0), {}) != []
    assert workloads.check("n18_pq_adc_audit", good[:-1], {}) != []
