"""Self-time arithmetic, the per-layer fold and the function wrappers."""

import pytest

import eventlog
import spans
from spans import Span


def _span(i, parent, start, end, layer="plans", run="traced"):
    return Span(id=i, name=f"{layer}:f{i}", layer=layer, parent=parent, run=run, start=start, end=end)


def test_self_time_of_a_nested_tree():
    # plans 0-10 { tfidf 1-4 { materialize 2-3 }, cluster 5-9 }
    tree = [
        _span(1, None, 0, 10),
        _span(2, 1, 1, 4, "operators.tfidf"),
        _span(3, 2, 2, 3, "operators.materialize"),
        _span(4, 1, 5, 9, "operators.cluster"),
    ]
    own = spans.self_times(tree)
    assert own == pytest.approx({1: 3.0, 2: 2.0, 3: 1.0, 4: 4.0})
    assert sum(own.values()) == pytest.approx(10.0)


def test_self_time_splits_overlap_between_threads():
    # a side thread's span (3) overlaps the main thread's child (2) for 2 s
    tree = [_span(1, None, 0, 10), _span(2, 1, 2, 6), _span(3, 1, 4, 8)]
    own = spans.self_times(tree)
    assert own == pytest.approx({1: 4.0, 2: 3.0, 3: 3.0})
    assert sum(own.values()) == pytest.approx(10.0)


def test_self_time_with_shared_boundaries_and_empty_spans():
    tree = [_span(1, None, 0, 4), _span(2, 1, 0, 2), _span(3, 1, 2, 4), _span(4, 3, 3, 3)]
    own = spans.self_times(tree)
    assert own == pytest.approx({1: 0.0, 2: 2.0, 3: 2.0, 4: 0.0})


def test_fold_layers():
    tree = [
        _span(1, None, 0, 2, "session", run="setup"),
        _span(2, None, 10, 20),
        _span(3, 2, 11, 15, "operators.dedup"),
        _span(4, 2, 16, 18, "operators.dedup"),
    ]
    jobs = {2: 1, 3: 2, 4: 0}
    stats = {
        tree[1].group: eventlog.GroupStats(stages=1, single_task_stages=1, exec_run_s=1.0),
        tree[2].group: eventlog.GroupStats(
            stages=3, exec_run_s=20.0, exec_cpu_s=15.0, shuffle_write_bytes=2**21, failed_tasks=1
        ),
    }
    m = spans.fold_layers(tree, jobs, stats, wall=10.5)
    assert m["session.calls"] == 1 and m["session.self_s"] == pytest.approx(2.0)
    assert m["operators.dedup.calls"] == 2
    assert m["operators.dedup.self_s"] == pytest.approx(6.0)
    assert m["plans.self_s"] == pytest.approx(4.0)
    assert (m["operators.dedup.jobs"], m["operators.dedup.stages"]) == (2, 3)
    assert m["operators.dedup.shuffle_write_mb"] == pytest.approx(2.0)
    assert m["operators.dedup.failed_tasks"] == 1
    assert m["plans.single_task_stages"] == 1
    assert m["operators.similarity.calls"] == 0
    # the run took 10.5 s, its spans cover 10: half a second unattributed
    assert m["trace.self_sum_s"] == pytest.approx(10.0)
    assert m["trace.unattributed_share"] == pytest.approx(0.5 / 10.5)
    assert m["trace.jobs"] == 3 and m["trace.stages"] == 4
    assert m["plans.effective_cores"] == pytest.approx(21.0 / 10.5)


def test_install_wraps_layer_functions_and_their_importers(restore_modules):
    from ml_training_data_pipeline_spark.operators import cluster, tfidf
    from ml_training_data_pipeline_spark.plans import queries_ml

    original = tfidf.tfidf_long
    tracer = spans.Tracer()
    assert tracer.install() > 50
    assert tfidf.tfidf_long is not original
    assert tfidf.tfidf_long.__wrapped__ is original
    # imported by name at module level: patched where it was imported
    assert queries_ml.tfidf_long is tfidf.tfidf_long
    assert queries_ml.fit_kmeans is cluster.fit_kmeans
    # the wrapper keeps the name cloudpickle ships by reference
    assert tfidf.tfidf_long.__qualname__ == "tfidf_long"
    assert tfidf.tfidf_long.__module__ == tfidf.__name__

    class Frame:  # stands in for a DataFrame
        def localCheckpoint(self, eager):
            return "checkpointed"

    from ml_training_data_pipeline_spark.operators import materialize

    tracer.begin("traced")
    with tracer.span("plans:q", "plans"):
        out = materialize.materialize(Frame())
    tracer.run = None
    materialize.materialize(Frame())  # not recording: no span
    assert out == "checkpointed"
    root = next(s for s in tracer.spans if s.layer == "plans")
    assert [(s.name, s.parent) for s in tracer.spans] == [
        ("operators.materialize:materialize", root.id),
        ("plans:q", None),
    ]


def test_wrappers_keep_what_the_counts_after_a_run_need(restore_modules, monkeypatch):
    from ml_training_data_pipeline_spark.operators import cluster, dedup

    class Summary:
        numIter = 7

    class Model:
        hasSummary = True
        summary = Summary()

    class Fit:
        model = Model()

    def fit_kmeans(*args, **kwargs):
        return Fit()

    def lsh_candidate_pairs(bands):
        return ("cands", bands)

    # stand-ins defined in the layer modules, so install wraps them
    fit_kmeans.__module__ = cluster.__name__
    lsh_candidate_pairs.__module__ = dedup.__name__
    monkeypatch.setattr(cluster, "fit_kmeans", fit_kmeans)
    monkeypatch.setattr(dedup, "lsh_candidate_pairs", lsh_candidate_pairs)
    tracer = spans.Tracer()
    tracer.install()
    tracer.begin("setup")
    cluster.fit_kmeans()
    tracer.begin("traced")  # forgets the setup run's observations
    cluster.fit_kmeans()
    cluster.fit_kmeans()
    assert dedup.lsh_candidate_pairs("b") == ("cands", "b")
    tracer.run = None
    cluster.fit_kmeans()  # not recording
    assert tracer.kmeans_iterations == 14
    assert tracer.frames == {"lsh_candidate_pairs": [("cands", "b")], "minhash_dedup": []}
