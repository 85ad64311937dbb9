"""session.run_concurrently — the package's one driver-concurrency helper —
and the source guard that keeps it (and operators/materialize.py's
``materialize``) the only site of its kind; the guard on the package's
environment reads; get_spark's generated-class cache size."""

from __future__ import annotations

import ast
import importlib
import os
import re
import threading
import time
from functools import partial, reduce
from pathlib import Path

import pytest
from pyspark.sql import DataFrame

from ml_training_data_pipeline_spark.operators.materialize import materialize
from ml_training_data_pipeline_spark.session import (
    _MAX_DRIVER_THREADS,
    codegen_compiles,
    run_concurrently,
)

GROUP_PROP = "spark.jobGroup.id"
POOL_PROP = "spark.scheduler.pool"
PINNED = os.environ.get("PYSPARK_PIN_THREAD", "true").lower() == "true"


def test_failing_task_reraises_its_own_exception(spark):
    def boom():
        raise ValueError("boom")

    with pytest.raises(ValueError, match="boom"):
        run_concurrently(spark, lambda: 1, boom)


def test_tasks_inherit_the_callers_job_group(spark):
    """Span attribution keys on the job group: every task must see the
    caller's group, and the jobs it launches must be filed under it."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty(GROUP_PROP)
    sc.setLocalProperty(GROUP_PROP, "run-concurrently-group")
    try:
        def task(n: int) -> str:
            spark.range(n).count()
            return sc.getLocalProperty(GROUP_PROP)

        groups = run_concurrently(spark, *[partial(task, n) for n in (3, 4, 5)])
    finally:
        sc.setLocalProperty(GROUP_PROP, prev)
    assert groups == ["run-concurrently-group"] * 3
    assert len(sc.statusTracker().getJobIdsForGroup("run-concurrently-group")) >= 3


@pytest.mark.skipif(not PINNED, reason="local properties are thread-scoped only in pinned-thread mode")
def test_concurrent_tasks_each_read_their_own_pool(spark):
    both_running = threading.Barrier(2, timeout=60)

    def pool() -> str:
        both_running.wait()
        return spark.sparkContext.getLocalProperty(POOL_PROP)

    a, b = run_concurrently(spark, pool, pool)
    assert a and b and a != b
    assert spark.sparkContext.getLocalProperty(POOL_PROP) is None  # caller untouched


def test_results_come_back_in_argument_order(spark):
    """Later arguments finish first, and more tasks than threads are
    queued: the order still follows the arguments and no more than
    _MAX_DRIVER_THREADS run at once."""
    lock = threading.Lock()
    active, peak = [0], [0]

    def task(i: int) -> int:
        with lock:
            active[0] += 1
            peak[0] = max(peak[0], active[0])
        time.sleep(0.05 * (6 - i))
        with lock:
            active[0] -= 1
        return i

    assert run_concurrently(spark, *[partial(task, i) for i in range(6)]) == list(range(6))
    assert 1 < peak[0] <= _MAX_DRIVER_THREADS


# --- source guard -----------------------------------------------------------------

PKG = Path(__file__).resolve().parent.parent / "ml_training_data_pipeline_spark"
CHECKPOINT = re.compile(r"\.localCheckpoint\(|\.checkpoint\(")
THREADS = re.compile(r"ThreadPoolExecutor|InheritableThread|PYSPARK_PIN_THREAD")


def test_one_checkpoint_site_and_one_driver_thread_site():
    """materialize() is the package's only checkpoint call and
    run_concurrently its only driver-thread site. functions/llm.py's
    ThreadPoolExecutor is exempt: it runs inside executor tasks (HTTP
    fan-out per partition), not on the driver."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for n, line in enumerate(path.read_text().splitlines(), 1):
            if rel != "operators/materialize.py" and CHECKPOINT.search(line):
                offenders.append(f"{rel}:{n}: {line.strip()}")
            for m in THREADS.finditer(line):
                if rel == "session.py" or (
                    rel == "functions/llm.py" and m.group() == "ThreadPoolExecutor"
                ):
                    continue
                offenders.append(f"{rel}:{n}: {line.strip()}")
    assert not offenders, "\n".join(offenders)


# the environment variables the package may read: deployment settings
# (cores, shuffle width, driver memory, where checkpoints and streams write,
# which POS model and LLM endpoint to use) and PySpark's own thread mode
ENV_ALLOWED = {
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_SHUFFLE",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_MATERIALIZE",
    "SPARK_GRAFT_CHECKPOINT_DIR",
    "SPARK_GRAFT_MATERIALIZE_DIR",
    "SPARK_GRAFT_STREAM_CKPT_DIR",
    "MTDP_POS_MODEL",
    "LLM_ENDPOINT",
    "LLM_API_KEY",
    "LLM_MAX_CONCURRENCY",
    "PYSPARK_PIN_THREAD",
}


def test_env_reads_are_deployment_settings():
    """The package reads only the named deployment settings from the
    environment: a tuning knob that nothing sets is a configuration no
    test runs. Every read must name its variable as a string literal."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Call) and ast.unparse(node.func) in (
                "os.environ.get",
                "os.getenv",
            ):
                key = node.args[0] if node.args else None
            elif isinstance(node, ast.Subscript) and ast.unparse(node.value) == "os.environ":
                key = node.slice
            else:
                continue
            name = key.value if isinstance(key, ast.Constant) else None
            if name not in ENV_ALLOWED:
                offenders.append(f"{rel}:{node.lineno}: {ast.unparse(node)}")
    assert not offenders, "\n".join(offenders)


def test_materialize_name_binds_the_operator():
    """plans/oracle_fragments has a SQL helper also named materialize;
    a module where it shadowed the operator would turn every checkpoint
    site into a silent no-op (it returns its first argument)."""
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG.parent).with_suffix("").as_posix()
        mod = importlib.import_module(rel.replace("/", "."))
        if not rel.endswith("oracle_fragments"):
            assert getattr(mod, "materialize", materialize) is materialize, rel


# --- generated-class cache --------------------------------------------------------


def test_codegen_cache_keeps_more_plan_shapes_than_the_default(spark):
    """One warm ep2 run compiles about 300 distinct classes; under Spark's
    100-entry default the LRU evicted each before its next use, so every
    run recompiled them all. 150 distinct tiny codegen stages (one union,
    so one job), run twice: the second pass must find its classes in the
    cache."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"

    def one_pass() -> None:
        shapes = [spark.range(0, 8, 1, 1).selectExpr(f"id * {i} + {i} AS v") for i in range(150)]
        assert len(reduce(DataFrame.unionAll, shapes).collect()) == 8 * 150

    one_pass()
    before = codegen_compiles(spark)
    one_pass()
    assert codegen_compiles(spark) - before <= 5
