"""The engine's one materialization path.

Every operator and query that pins a frame goes through
:func:`materialize` — nothing else in the package checkpoints. Two
reasons to pin: a shared intermediate with several consumers is computed
once instead of re-running its upstream lineage per consumer (the
doc-term counts under tf-idf, the shingle table under MinHash, refine's
split output, a query's per-source totals), and an iterative loop
(connected components, BPE merges, refine rounds) cuts its lineage each
round so plan depth stays bounded. Where the frame lives is a
DEPLOYMENT setting, not an operator edit:

    SPARK_GRAFT_MATERIALIZE=local     (default) localCheckpoint(eager=True)
    SPARK_GRAFT_MATERIALIZE=reliable  df.checkpoint(eager=True) to
                                      $SPARK_GRAFT_CHECKPOINT_DIR
                                      (default /tmp/spark_graft_ckpt; on a
                                      cluster point it at dfs storage)
    SPARK_GRAFT_MATERIALIZE=parquet   eager parquet write + read-back under
                                      $SPARK_GRAFT_MATERIALIZE_DIR
                                      (default /tmp/spark_graft_materialize)

Trade-offs, so the knob is chosen deliberately:

- ``local``: blocks live in executor storage memory (spilling locally),
  lineage is CUT — lost blocks are NOT recomputable, so an executor death
  fails the job. Fastest; correct for single-JVM local mode where executor
  death == driver death anyway.
- ``reliable``: the classic cluster form — the RDD is written to the
  checkpoint dir (dfs on a real cluster), lineage is cut, and the job
  SURVIVES executor loss because blocks re-read from shared storage.
- ``parquet``: durable across executor AND application loss, reusable by
  later pipeline stages, and the read-back is a fresh FileScan with its
  own size statistics (best AQE input of the three). Costs a dfs
  round-trip plus a schema-preserving encode.

Rejected: ``persist(StorageLevel.DISK_ONLY)``. Persist routes through the
CacheManager, which normalizes and stringifies the logical plan for cache
lookup — on this engine's deeply nested higher-order-function plans
(tokenize inside n-gram lambdas, the d25 cascade) that plan-tree walk
OOM'd a 1 GiB driver before any data moved (observed r15:
``java.lang.OutOfMemoryError`` inside ``TreeNode.generateTreeString`` off
``o.persist``). Reliable checkpoint gives the same executor-loss
durability through the RDD layer without ever handing the plan to the
CacheManager.

All three strategies are EAGER — callers rely on the intermediate
existing before fan-out, and the iterative operators (connected
components, BPE, refine rounds) rely on per-round lineage truncation,
which every strategy preserves.
"""

from __future__ import annotations

import atexit
import os
import shutil
import uuid

from pyspark.sql import DataFrame

_VALID = ("local", "reliable", "parquet")

# parquet-strategy dirs created by THIS process, removed best-effort at
# interpreter exit: without this a sweep or long deployment accumulates
# one uuid dir per materialize() call (connected components: one per
# pointer-doubling round) until the disk fills (round-15 review finding).
# The read-back DataFrame is only valid while this process's session
# lives, so exit-time removal is safe. A long-lived cluster deployment
# should point SPARK_GRAFT_MATERIALIZE_DIR at storage with a lifecycle/
# TTL policy — exit cleanup is the local-mode story. The same
# accumulation exists for 'reliable' checkpoints: Spark only removes
# them when spark.cleaner.referenceTracking.cleanCheckpoints=true is set
# at context creation (session.get_spark sets it) — point
# SPARK_GRAFT_CHECKPOINT_DIR at dfs and let the cleaner reap.
_PARQUET_DIRS: list[str] = []


def _cleanup_parquet_dirs() -> None:
    for p in _PARQUET_DIRS:
        shutil.rmtree(p, ignore_errors=True)


atexit.register(_cleanup_parquet_dirs)


def _strategy() -> str:
    s = os.environ.get("SPARK_GRAFT_MATERIALIZE", "local").strip().lower()
    if s not in _VALID:
        raise ValueError(
            f"SPARK_GRAFT_MATERIALIZE={s!r}: expected one of {_VALID}"
        )
    return s


def materialize(df: DataFrame) -> DataFrame:
    """Eagerly materialize ``df`` once and return the frame downstream
    consumers should read. Strategy per SPARK_GRAFT_MATERIALIZE (module
    docstring); the default (``local``) is ``localCheckpoint(eager=True)``."""
    s = _strategy()
    if s == "local":
        return df.localCheckpoint(eager=True)
    if s == "reliable":
        sc = df.sparkSession.sparkContext
        want = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
        cur = sc._jsc.sc().getCheckpointDir()
        if want:
            # an EXPLICIT dir always wins — silently keeping a stale
            # pre-set dir would drop the dfs durability the knob promises
            # (round-15 review finding)
            if cur.isEmpty() or cur.get() != want:
                sc.setCheckpointDir(want)
        elif cur.isEmpty():
            sc.setCheckpointDir("/tmp/spark_graft_ckpt")
        return df.checkpoint(eager=True)
    base = os.environ.get(
        "SPARK_GRAFT_MATERIALIZE_DIR", "/tmp/spark_graft_materialize"
    )
    path = os.path.join(base, uuid.uuid4().hex)
    df.write.mode("overwrite").parquet(path)
    _PARQUET_DIRS.append(path)
    return df.sparkSession.read.parquet(path)
