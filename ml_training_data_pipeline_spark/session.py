"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we would set fleet-wide on a real cluster:
AQE on (runtime coalesce + skew-join), Arrow for the Pandas-UDF slow path,
UTC session timezone so timestamp semantics match the DuckDB oracle.
The generated-class cache holds 1,000 classes, about three times the
largest measured per-run working set, so a warm pipeline run reuses its
compiled plan shapes instead of recompiling them; a full cache costs about
0.1 MB of JVM RSS per class over Spark's 100-entry default.
``run_concurrently`` is the one way the package overlaps independent
driver-side jobs under the FAIR scheduling set here.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from typing import Any, Callable

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession

# driver threads one run_concurrently call may use; each still submits
# ordinary Spark jobs whose stages shard across the cluster
_MAX_DRIVER_THREADS = 4


def get_spark(
    app_name: str = "ml_training_data_pipeline_spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default: all cores).
    On a real cluster the master/memory settings come from spark-submit and
    everything here except the SQL conf is a no-op.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    shuffle = shuffle_partitions or int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g")

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # scan splits keep Spark's 128 MB spark.sql.files.maxPartitionBytes
        # (about 800k splits at 100 TB); a deployment that needs smaller
        # splits, e.g. for wide binary media columns, passes --conf.
        # independent jobs are submitted from concurrent driver threads
        # (run_concurrently below); FAIR mode lets those jobs share
        # executors instead of queueing FIFO.
        # (A session-2 scheduler bisection briefly blamed FAIR for a
        # 3-20x CPU inflation on shuffle-heavy sf1 queries; a controlled
        # re-run reproduced the same inflation under FIFO at 8.9% steal —
        # the variable was intermittent HOST-level contention episodes on
        # the virtualized runner, which bench.py's steal_pct now flags,
        # not the scheduler. Scheduler env knob intentionally NOT added:
        # an unsupported config fork would outlive the evidence.)
        .config("spark.scheduler.mode", "FAIR")
        # testdata parquet carries TIMESTAMP(NANOS) which vanilla Spark
        # rejects; read as long and convert at the source (io/sources.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # reliable-checkpoint deployments (SPARK_GRAFT_MATERIALIZE=
        # reliable): let the ContextCleaner reap out-of-scope checkpoint
        # dirs — without this they accumulate forever (the conf only
        # takes effect at context creation, so it lives here, not in
        # operators/materialize.py).
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        # generated-class (Janino) cache, an LRU keyed on the generated
        # source. Spark's 100-entry default is smaller than one pipeline
        # run: a warm ep2 needs ~300 distinct classes, so each was evicted
        # before its next use and every run recompiled ~320 of them, then
        # the JIT compiled them again. Distinct sources in one warm run
        # with a 20,000-entry cache (local[4] on 4 vCPUs): ep2 on 500 docs
        # 293 (+8-10 a rep after), d23 + n18 172, bench.py's headline warm
        # pass 208. 1,000 covers the largest ~3x over; filling it with
        # 1,200 tiny classes grew the JVM's RSS by 86 MB more than at 100.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Classes Janino has compiled in this JVM so far. The codegen metric
    ticks once per compile, and a compile happens only on a miss in the
    generated-class cache, so a delta across a run counts its misses."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def run_concurrently(spark: SparkSession, *fns: Callable[[], Any]) -> list:
    """Run independent driver-side callables on at most
    ``_MAX_DRIVER_THREADS`` threads and return their results in argument
    order — the package's one way to overlap Spark jobs that share no
    lineage (refine's oversized-candidate fits, a k-sweep's fits, ground
    truth built beside an index).

    Each callable is wrapped on the CALLER's thread by its own
    ``inheritable_thread_target`` call, which clones the caller's local
    properties once per wrap: every task sees the caller's job group
    (what span attribution keys on) and gets a private property map, so
    the per-task ``spark.scheduler.pool`` set below cannot overwrite a
    sibling's. Local properties are only thread-scoped in PySpark's
    pinned-thread mode; with it off the threads would share one JVM
    property map, so the callables run unwrapped in the default pool.
    Results come from ``future.result()``: the first failure re-raises
    with its own type and traceback."""
    # the same test PySpark's java_gateway applies when it launches the JVM
    pinned = os.environ.get("PYSPARK_PIN_THREAD", "true").lower() == "true"

    def task(i: int, fn: Callable[[], Any]) -> Callable[[], Any]:
        if not pinned:
            return fn

        def run() -> Any:
            spark.sparkContext.setLocalProperty("spark.scheduler.pool", f"graft-{i}")
            return fn()

        return inheritable_thread_target(spark)(run)

    tasks = [task(i, fn) for i, fn in enumerate(fns)]
    with ThreadPoolExecutor(max_workers=min(len(tasks), _MAX_DRIVER_THREADS)) as pool:
        futures = [pool.submit(t) for t in tasks]
        return [f.result() for f in futures]
