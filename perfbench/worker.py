"""One benchmark process: start Spark, warm up, run the workload.

``python3 perfbench/worker.py CONFIG.json`` is started by ``run.py``, never
by hand. It reads the config (checkout root, workload, input dir, seconds,
traced or not), and writes its result JSON to the config's ``result``
path. An untraced process runs the workload back to back for the given
seconds after the warm run. A traced process wraps the layer functions,
runs the workload traced once after the warm run, counts jobs per span,
and folds the event log into per-layer metrics; its spans go to the
config's ``spans`` path.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time
import traceback


def clear_cache(spark) -> None:
    """Cache-cold reps, as bench.py's ``one_rep`` does: drop the SQL cache
    and every persisted RDD, blocking, before the timer starts."""
    spark.catalog.clearCache()
    for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        jrdd.unpersist(True)


def storage_mb(sc) -> float:
    """Executor storage memory in use (MB), from getExecutorMemoryStatus."""
    it = sc._jsc.sc().getExecutorMemoryStatus().iterator()
    used = 0
    while it.hasNext():
        mem = it.next()._2()
        used += mem._1() - mem._2()
    return used / 2**20


def keyword_docs(spark, input_dir: str) -> int:
    """Docs whose POS keywords give at least one TF-IDF term: the doc
    universe ep2's cluster sizes must sum to. Counted once per input set
    and kept beside the inputs, like the oracle results."""
    path = os.path.join(input_dir, "keyword_docs.json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    from ml_training_data_pipeline_spark.io.sources import load_table
    from ml_training_data_pipeline_spark.operators.pos_keywords import extract_pos_keywords
    from ml_training_data_pipeline_spark.operators.tfidf import tfidf_long

    kw = extract_pos_keywords(load_table(spark, input_dir, "documents"))
    n = tfidf_long(kw, text_col="keywords", ngram_max=3).select("doc_id").distinct().count()
    with open(path + ".tmp", "w") as fh:
        json.dump(n, fh)
    os.replace(path + ".tmp", path)
    return n


def main(cfg_path: str) -> None:
    with open(cfg_path) as fh:
        cfg = json.load(fh)
    sys.path.insert(0, cfg["root"])
    import bench  # noqa: E402  (the repo's harness: CPU and steal sampling)
    import workloads

    wl = workloads.WORKLOADS[cfg["workload"]]
    input_dir = cfg["input_dir"]
    from ml_training_data_pipeline_spark import session
    from ml_training_data_pipeline_spark.functions.llm import CLUSTER_LABELS
    from ml_training_data_pipeline_spark.plans import registry

    registry._load_all()
    marks = {"imports": time.time()}  # phase ends, for the run's log
    tracer = None
    if cfg["trace"]:
        import spans

        tracer = spans.Tracer()
        tracer.install()
        tracer.begin("setup")

    spark = session.get_spark("perfbench")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    marks["session"] = time.time()
    if tracer:
        tracer.sc = sc

    def run_query(q: str) -> list:
        # the sink is collect(): every result is a few dozen rows, and the
        # check must see the rows the timed run produced (checking after a
        # noop write would run the whole plan a second time)
        return registry.QUERIES[q](spark, input_dir).collect()

    def run_once() -> list[list]:
        """The workload's queries back to back; their result rows."""
        out = []
        for q in wl.queries:
            if tracer and tracer.run:
                with tracer.span(f"plans:{q}", "plans"):
                    out.append(run_query(q))
            else:
                out.append(run_query(q))
        return out

    # untimed warm run: first-run codegen and JIT; its rows are the reference
    warm = run_once()
    setup_end = time.time()
    if tracer:
        tracer.run = None
    refs = []
    for q, rows in zip(wl.queries, warm):
        ref = {"oracle": workloads.load_oracle(input_dir, q)}
        if q == "ep2_build_models":
            ref.update(keyword_docs=keyword_docs(spark, input_dir), labels=CLUSTER_LABELS)
        problems = workloads.check(q, rows, ref)
        if problems:
            raise SystemExit("warm run output failed its check: " + "; ".join(problems))
        ref["hash"] = workloads.row_hash(rows)
        refs.append(ref)
    marks["references"] = time.time()

    reps = []

    def one_rep() -> None:
        clear_cache(spark)
        rep: dict = {"ok": False}
        stat0 = bench.read_proc_stat()
        c0 = bench.proc_tree_cpu_s()
        rep["t0"] = time.time()
        try:
            if tracer:
                tracer.begin("traced")
            results = run_once()
        except Exception:
            rep["error"] = traceback.format_exc()
            results = None
        finally:
            if tracer:
                tracer.run = None
        rep["t1"] = time.time()
        c1 = bench.proc_tree_cpu_s()
        rep["steal_pct"] = bench.steal_pct(stat0, bench.read_proc_stat())
        rep["wall_s"] = rep["t1"] - rep["t0"]
        rep["cpu_s"] = c1 - c0 if c0 >= 0 and c1 >= c0 else None
        if results is not None:
            if tracer:  # storage still held at the end of the run
                rep["storage_mb"] = storage_mb(sc)
            problems = []
            for q, rows, ref in zip(wl.queries, results, refs):
                problems += workloads.check(q, rows, ref)
            rep["ok"] = not problems
            if problems:
                rep["error"] = "; ".join(problems)
        if rep.get("error"):
            print(f"# rep failed: {rep['error']}", file=sys.stderr)
        reps.append(rep)

    result: dict = {"setup_end": setup_end, "reps": reps, "marks": marks}
    if tracer is None:
        t_window = time.time()
        while not reps or time.time() - t_window < cfg["seconds"]:
            one_rep()
        spark.stop()
    else:
        one_rep()
        layer = _traced_layers(sc, tracer, reps[0])
        tracer.write(cfg["spans"])
        spark.stop()  # flushes and closes the event log
        logs = [p for p in glob.glob(os.path.join(cfg["eventlog_dir"], "*")) if not p.endswith(".inprogress")]
        import eventlog

        stats = eventlog.fold(logs[0])
        layer.update(spans.fold_layers(tracer.spans, layer.pop("_jobs"), stats, reps[0]["wall_s"]))
        result["layers"] = layer
    marks["end"] = time.time()
    with open(cfg["result"], "w") as fh:
        json.dump(result, fh)


def _traced_layers(sc, tracer, rep: dict) -> dict:
    """Counts taken while the session is still up: jobs per span (from the
    status tracker), executor storage, K-means iterations, and the dedup
    pair counts (an untimed pass over the frames the traced run built)."""
    st = sc.statusTracker()
    cands = sum(df.count() for df in tracer.frames["lsh_candidate_pairs"])
    verified = sum(df.count() for df in tracer.frames["minhash_dedup"])
    return {
        "_jobs": {s.id: len(st.getJobIdsForGroup(s.group)) for s in tracer.spans},
        "operators.materialize.storage_mb": rep.get("storage_mb", 0.0),
        "operators.cluster.iterations": tracer.kmeans_iterations,
        "operators.dedup.candidate_pairs": cands,
        "operators.dedup.pair_yield": verified / cands if cands else 0.0,
    }


if __name__ == "__main__":
    main(sys.argv[1])
