"""Sources and sinks (SURVEY.md §2.1, S1-S7).

The reference reads/writes CSV files and RDS model blobs
(``01_extract_features.R:463-464``, ``02_build_models.R:770-772``); this
engine standardizes on parquet (columnar, predicate-pushdown-able,
splittable) and keeps CSV as a compatibility reader. Multi-file scan +
union (S3: ``01_extract_features.R:423-431``) is a glob path — Spark's
multi-file scan makes the explicit union disappear.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import time
import zipfile
from functools import lru_cache

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_shipped_apps: set[str] = set()


def ensure_package_shipped(spark: SparkSession) -> None:
    """Ship this package to executor Python workers via addPyFile.

    Pandas-UDF/mapInPandas closures pickle by reference to this module, so
    workers must be able to import it — true on a 1000-executor cluster
    (spark-submit --py-files) and equally true in local mode when the
    driver's cwd isn't the repo root. Zips the package once per process,
    registers once per SparkContext."""
    app_id = spark.sparkContext.applicationId
    _heartbeat_scratch()
    if app_id in _shipped_apps:
        return
    import ml_training_data_pipeline_spark as pkg

    pkg_dir = os.path.dirname(os.path.abspath(pkg.__file__))
    root = os.path.dirname(pkg_dir)
    zpath = os.path.join(tempfile.gettempdir(), f"mtdp_spark_pkg_{os.getpid()}.zip")
    if not os.path.exists(zpath):
        with zipfile.ZipFile(zpath, "w") as z:
            for dirpath, _, files in os.walk(pkg_dir):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(dirpath, f)
                        z.write(full, os.path.relpath(full, root))
    spark.sparkContext.addPyFile(zpath)
    _shipped_apps.add(app_id)


_scratch_created: set[str] = set()
_stale_pruned = False


def _cleanup_scratch() -> None:
    """atexit: remove every scratch tree AND sentinel this process handed
    out — app-id-keyed paths are never reused across runs, so without
    this each bench/CI invocation leaks its whole sink output (ADVICE
    r7). rmtree on a regular file is a silent no-op, so sentinel FILES
    need os.remove."""
    for path in _scratch_created:
        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
        else:
            try:
                os.remove(path)
            except OSError:
                pass


atexit.register(_cleanup_scratch)


def _heartbeat_scratch() -> None:
    """Refresh the mtime of every scratch entry (and the pkg zip) this
    process owns. The 7-day hard cap in _prune_stale_scratch exists to
    reclaim trees whose dead owner's pid was recycled by an unrelated
    long-lived process — but measured from CREATION it would also
    reclaim a genuinely live >7-day session's scratch mid-run (ADVICE
    r9). Heartbeating on every scratch_dir()/addPyFile touch makes the
    cap measure time since the owner last DID scratch work, so only
    truly abandoned trees age past it."""
    now = time.time()
    paths = list(_scratch_created)
    paths.append(
        os.path.join(tempfile.gettempdir(), f"mtdp_spark_pkg_{os.getpid()}.zip")
    )
    for p in paths:
        try:
            os.utime(p, (now, now))
        except OSError:
            pass


def _pid_alive(pid: int) -> bool:
    """Liveness probe for scratch ownership: signal 0 raises only when the
    pid is gone (EPERM means alive-but-other-user — treat as alive)."""
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except OSError:
        return True
    return True


def _owner_alive(full: str) -> bool:
    """True when ``<entry>.owner`` names a pid that is still running.
    Written by scratch_dir(); gates pruning on process liveness instead
    of mtime alone, so a session alive longer than the age cutoff never
    loses its scratch to a newly-starting concurrent session (ADVICE r8)."""
    try:
        with open(full + ".owner", encoding="ascii") as fh:
            return _pid_alive(int(fh.read().strip()))
    except (OSError, ValueError):
        return False


def _prune_stale_scratch(tmp: str) -> None:
    """Best-effort removal of mtdp_* scratch left by PRIOR runs (crashed
    runs never reach atexit): sink trees from old application IDs and
    per-pid addPyFile package zips alike. Two gates, both required:
    (1) the ``.owner`` pid sentinel must be dead/absent — a live owner is
    never pruned regardless of age; (2) a 2h mtime gate backstops races
    with sessions that are mid-startup (sentinel not yet written)."""
    global _stale_pruned
    if _stale_pruned:
        return
    _stale_pruned = True
    now = time.time()
    cutoff = now - 2 * 3600
    # Hard cap overriding liveness: a recycled pid (crashed session's pid
    # later reused by an unrelated long-lived process) must not make the
    # orphaned tree immortal — no plausible session outlives this.
    hard_cutoff = now - 7 * 24 * 3600
    try:
        names = os.listdir(tmp)
    except OSError:
        return
    own_zip = f"mtdp_spark_pkg_{os.getpid()}.zip"
    for name in names:
        full = os.path.join(tmp, name)
        if not name.startswith("mtdp_") or full in _scratch_created or name == own_zip:
            continue
        try:
            # the owner heartbeat refreshes the SENTINEL's mtime — a live
            # owner that keeps doing scratch work never ages past the cap
            mt = os.path.getmtime(full)
            try:
                mt = max(mt, os.path.getmtime(full + ".owner"))
            except OSError:
                pass
            past_hard_cap = mt < hard_cutoff
        except OSError:
            past_hard_cap = False
        if name.endswith(".owner"):
            # sentinel with a live base entry: pruned together with the
            # base below; an orphan sentinel falls through to the age gate.
            if os.path.exists(full[: -len(".owner")]):
                continue
        elif _owner_alive(full) and not past_hard_cap:
            continue
        elif name.startswith("mtdp_spark_pkg_") and name.endswith(".zip") and not past_hard_cap:
            # per-pid package zip: pid is in the name — skip if that
            # process is still running, whatever its age.
            pid_part = name[len("mtdp_spark_pkg_") : -len(".zip")]
            if pid_part.isdigit() and _pid_alive(int(pid_part)):
                continue
        try:
            if os.path.getmtime(full) >= cutoff:
                continue
            if os.path.isdir(full):
                shutil.rmtree(full, ignore_errors=True)
            else:
                os.remove(full)
            if not name.endswith(".owner"):
                try:
                    os.remove(full + ".owner")
                except OSError:
                    pass
        except OSError:
            pass


def scratch_dir(spark: SparkSession, label: str, sf_dir: str) -> str:
    """Session-unique scratch path for sink-roundtrip queries, keyed by
    ``applicationId`` so concurrent sessions (bench alongside pytest,
    parallel CI lanes) never race on the same directory with
    ``mode=overwrite`` — two writers on one path can corrupt the
    read-back and the file-layout audits. Every path handed out is
    removed at interpreter exit; stale trees from crashed prior runs
    are pruned (age-gated) on first use."""
    sf = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    app = spark.sparkContext.applicationId.replace("-", "_")
    tmp = tempfile.gettempdir()
    _heartbeat_scratch()
    _prune_stale_scratch(tmp)
    path = os.path.join(tmp, f"mtdp_{label}_{sf}_{app}")
    _scratch_created.add(path)
    # Ownership sentinel: marks the tree as belonging to a LIVE process so
    # _prune_stale_scratch in a concurrent session never removes it, even
    # if this session outlives the age gate (ADVICE r8). Removed by the
    # same atexit hook as the tree itself.
    owner = path + ".owner"
    try:
        with open(owner, "w", encoding="ascii") as fh:
            fh.write(str(os.getpid()))
        _scratch_created.add(owner)
    except OSError:
        pass
    return path


@lru_cache(maxsize=256)
def _scan_layout(path: str) -> tuple[int, int]:
    """(num_rows, num_row_groups) from the parquet footer — driver-side,
    cached. Parquet splits at ROW-GROUP granularity: maxPartitionBytes can
    slice a file into byte ranges, but a range with no row-group midpoint
    yields zero rows, so a single-row-group file is read by exactly one
    task no matter the split config."""
    md = pq.ParquetFile(path).metadata
    return md.num_rows, md.num_row_groups


# Floor on rows per task for the post-scan repartition: below this the
# per-task setup cost outweighs the parallelism. Measured on this host
# (sf0.1, 32 cores): every task pays a fixed ~45ms CPU floor (task
# deserialization + per-task projection/codegen-source construction)
# that grows with expression complexity, so 5000-row documents split 32
# ways burned 12x the serial CPU for the same wall. 512 rows/task keeps
# lineitem/events at full width while tiny doc/embedding tables get
# single-digit task counts whose setup amortizes. Tiny dims like
# nation/region stay single-partition and broadcast-join as before.
_MIN_ROWS_PER_TASK = 512


def _parallelize_scan(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Input-skew mitigation (spark_optimization_guide §2.5: "one huge
    unsplittable file ... repartition immediately after the read").

    The local testdata parquet files carry a SINGLE row group each, so
    every scan — and with it the tokenize/md5/decimal-heavy first stage
    of every query — ran as ONE task on a 32-core master (measured r16
    baseline: suite wall 18.1s vs 34.4 CPU-s, wall/cpu ≈ 1-2.5 on 32
    cores; x2 3.05s wall / 4.18 CPU-s is ~75% serial). A round-robin
    repartition right after the read moves the raw bytes once (tiny:
    the whole sf0.1 corpus is <20 MB) and parallelizes everything
    downstream.

    Scale-adaptive, not a local[32] constant: the gate compares the
    file's actual row-group count against the cluster's default
    parallelism — at 100 TB (≈800k row groups) the gate never fires and
    the scan keeps its natural splits with zero added shuffle. Filters
    and column pruning pass through a Repartition node
    (PushDownPredicates/ColumnPruning), so PushedFilters/ReadSchema at
    the scan are unchanged — pinned by tests/test_plan_shapes.py.
    Result-safe by construction: no query derives values from physical
    partitioning (no rand/sample-by-partition/monotonically_increasing_id
    anywhere in the package). There is no switch to turn it off: the
    row-group gate already leaves a scan alone once its file has as many
    row groups as the cluster has cores."""
    try:
        rows, row_groups = _scan_layout(path)
    except Exception:  # unreadable footer: leave the scan alone
        return df
    par = spark.sparkContext.defaultParallelism
    if row_groups >= par or rows < 2 * _MIN_ROWS_PER_TASK:
        return df
    return df.repartition(min(par, rows // _MIN_ROWS_PER_TASK))


@lru_cache(maxsize=256)
def _nanos_timestamp_cols(path: str) -> tuple[str, ...]:
    """Columns stored as parquet TIMESTAMP(NANOS) — Spark reads them as
    nanosecond longs under ``nanosAsLong``; we convert back to proper
    timestamps (µs truncation, matching DuckDB's ns→µs behavior).
    Footer-only read, driver-side, cached."""
    import pyarrow as pa

    schema = pq.read_schema(path)
    return tuple(
        f.name for f in schema if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan of one testdata table (column pruning + predicate
    pushdown are Catalyst's job — callers just select/filter)."""
    ensure_package_shipped(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    nanos_cols = _nanos_timestamp_cols(path)
    if nanos_cols:
        # defensively set per-session: the caller's session (e.g. the
        # driver's) may not carry this; it is runtime-settable.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Naive parquet timestamp[us] would infer as TIMESTAMP_NTZ in Spark 4,
    # which rejects cast-to-double and withWatermark; read it as the
    # session-zone TIMESTAMP the rest of the engine (and the DuckDB oracle's
    # wall-clock values) expects.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    df = spark.read.parquet(path)
    for col in nanos_cols:
        # integer div (not float: 1e18 ns exceeds double's 2^53 exactness)
        df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    df = normalize_ntz(df)
    return _parallelize_scan(spark, df, path)


def normalize_ntz(df: DataFrame) -> DataFrame:
    """Cast any TIMESTAMP_NTZ column to session-zone TIMESTAMP (wall-clock
    preserved). Backstop for sources that bypass the parquet-inference conf."""
    from pyspark.sql.types import TimestampNTZType

    for field in df.schema.fields:
        if isinstance(field.dataType, TimestampNTZType):
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, names: list[str]) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(spark: SparkSession, sf_dir: str, names: list[str]) -> None:
    """Register each table as a temp view so operators can be written in
    SQL where that is clearer (Catalyst produces the same plan)."""
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)


def write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """Parquet sink (S4). ``partition_by`` covers the reference's
    dynamic-name sink (S6, ``04_cluster_refiner.R:686-693``) idiomatically:
    partition columns instead of filename templating."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
