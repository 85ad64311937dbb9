"""Folding the Spark event log of a tiny real traced run."""

import glob
import json
import time

import eventlog
import gen
import spans


def test_fold_a_tiny_traced_run(tmp_path, monkeypatch, restore_modules):
    data = str(tmp_path / "inputs")
    gen.write_inputs(data, seed=3, n_docs=500)  # the sf0.001 documents size
    logs = tmp_path / "eventlog"
    logs.mkdir()
    (tmp_path / "tmp").mkdir()
    confs = [
        "spark.ui.showConsoleProgress=false",
        "spark.eventLog.enabled=true",
        f"spark.eventLog.dir=file://{logs}",
        "spark.eventLog.compress=false",
        "spark.eventLog.rolling.enabled=false",
    ]
    monkeypatch.setenv(
        "PYSPARK_SUBMIT_ARGS", " ".join(f"--conf {c}" for c in confs) + " pyspark-shell"
    )
    monkeypatch.setenv("TMPDIR", str(tmp_path / "tmp"))
    for k, v in (("CPUS", "2"), ("SHUFFLE", "2"), ("DRIVER_MEM", "1g")):
        monkeypatch.setenv(f"SPARK_GRAFT_{k}", v)

    from ml_training_data_pipeline_spark import session
    from ml_training_data_pipeline_spark.plans import registry

    tracer = spans.Tracer()
    tracer.install()
    spark = session.get_spark("perfbench-eventlog-test")
    try:
        tracer.sc = spark.sparkContext
        tracer.begin("traced")
        t0 = time.perf_counter()
        with tracer.span("plans:d23_dedup_cascade", "plans"):
            df = registry.QUERIES["d23_dedup_cascade"](spark, data)
            df.write.format("noop").mode("overwrite").save()
            # the pair counts, inside the span so every job has a span's group
            cands = sum(f.count() for f in tracer.frames["lsh_candidate_pairs"])
            verified = sum(f.count() for f in tracer.frames["minhash_dedup"])
        wall = time.perf_counter() - t0
        tracer.run = None
        st = spark.sparkContext.statusTracker()
        jobs = {s.id: len(st.getJobIdsForGroup(s.group)) for s in tracer.spans}
    finally:
        spark.stop()

    [log] = glob.glob(str(logs / "*"))
    stats = eventlog.fold(log)
    # every stage ran under the job group of a span
    assert set(stats) <= {s.group for s in tracer.spans}
    with open(log) as fh:
        events = [json.loads(line)["Event"] for line in fh]
    assert sum(g.tasks for g in stats.values()) == events.count("SparkListenerTaskEnd")
    assert sum(g.stages for g in stats.values()) == events.count("SparkListenerStageCompleted")
    assert sum(jobs.values()) == events.count("SparkListenerJobStart") > 0

    m = spans.fold_layers(tracer.spans, jobs, stats, wall)
    assert m["plans.calls"] == 1 and m["io.sources.calls"] >= 1
    assert m["operators.dedup.calls"] >= 1 and m["operators.materialize.jobs"] >= 1
    assert m["trace.exec_cpu_s"] > 0 and m["trace.stages"] > 0
    assert 0 <= m["trace.unattributed_share"] < spans.SELF_SUM_TOLERANCE
    # d23 verifies a subset of the LSH candidates it builds
    assert [len(tracer.frames[n]) for n in spans.DEDUP_FRAMES] == [1, 1]
    assert 0 < verified <= cands
