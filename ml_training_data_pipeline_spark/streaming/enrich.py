"""Structured Streaming surface (SURVEY.md §2.10 engine note).

The reference has no streaming — its chunked batch loop
(``01_extract_features.R:338-341,479-491``) is the only incremental
notion. Structured Streaming is its idiomatic upgrade: the SAME stateless
operators (enrichment, cleaning, quality scoring) run unchanged on a
stream, because batch/stream parity is the point of the DataFrame API.

Everything here is exercised in tests with bounded file streams + memory
sinks (``processAllAvailable``), matching how a real deployment would
swap in Kafka sources without touching operator code.
"""

from __future__ import annotations

import os
import shutil
import threading
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io.sources import load_table

# _drain mutates session-global SQL confs (checksums, checkpoint manager,
# shuffle partitions) around each bounded run and restores them after.
# Restore-after is only correct single-flight: two concurrent bounded
# streams on one session would race the save/restore and could leave the
# overrides pinned (r16 VERDICT). Every bounded drive serializes here —
# the operators drive streams to completion sequentially anyway, so the
# lock documents and enforces the invariant rather than changing behavior.
_DRAIN_LOCK = threading.Lock()


def _ephemeral_checkpoint_dir() -> str | None:
    """Checkpoint location for the BOUNDED stream harnesses below — runs
    driven to completion with ``processAllAvailable`` whose checkpoints
    are discarded by design (Spark itself force-deletes the auto temp
    checkpoint it would otherwise create in ``java.io.tmpdir``).

    Why it exists: every micro-batch pays a WAL commit plus one state
    store commit per (operator x partition) — each a small-file create,
    checksum, and rename on whatever filesystem holds the checkpoint.
    Measured on the st6 stream-stream join at sf0.1 (warm JVM): default
    tmpdir 4.9 s wall vs RAM-backed checkpoint 3.0 s, pure I/O placement,
    byte-identical results. So the bounded harness puts its ephemeral
    checkpoint on a RAM-backed fs when one exists.

    ``SPARK_GRAFT_STREAM_CKPT_DIR`` overrides the base (a RESTARTABLE
    production query must instead pass a durable dfs location through its
    own ``checkpointLocation`` — this helper is only wired into the
    bounded drive-to-completion wrappers, never a long-running sink).
    Returns None when no RAM-backed base is available, which falls back
    to Spark's own temp-checkpoint behavior."""
    base = os.environ.get("SPARK_GRAFT_STREAM_CKPT_DIR")
    if base is None and os.access("/dev/shm", os.W_OK):
        base = "/dev/shm/spark_graft_stream_ckpt"
    if base is None:
        return None
    path = os.path.join(base, uuid.uuid4().hex)
    os.makedirs(path, exist_ok=True)
    return path


def _drain(writer, ckpt: str | None):
    """start() -> processAllAvailable() -> stop(), removing the ephemeral
    checkpoint afterwards (with an explicit checkpointLocation Spark
    would otherwise leave it behind — on a RAM fs that leaks memory
    across a long sweep).

    Two checkpoint-I/O overrides apply while the bounded query runs (set
    at query start, restored after, so a durable restartable deployment
    keeps the session defaults) — measured on the st6 stream-stream join
    at sf0.1, 32 state partitions, warm JVM; byte-identical results:

    - Checkpoint-file checksums (Spark 4.1's ChecksumCheckpointFileManager,
      on by default) exist to detect corruption when a RESTARTED query
      re-reads its checkpoint. A drive-to-completion run discards the
      checkpoint on stop — no reader ever verifies those checksums —
      while paying double file-create traffic plus a spawned thread per
      checkpoint file on every state-store commit: 5.1 s wall / 82 CPU-s
      with checksums vs 3.2 s / 35 CPU-s without. Disabled for every
      bounded run.
    - The default FileContext-based checkpoint manager routes local-fs
      metadata calls through Hadoop Shell (a fork+exec of readlink/stat
      per file operation when the native Hadoop library is absent —
      thread dumps showed 46/55 RUNNABLE executor samples inside
      ProcessImpl.forkAndExec). The FileSystemBasedCheckpointFileManager
      uses java.io rename, which IS atomic on the posix fs the ephemeral
      checkpoint lives on: 3.9 s / 37 CPU-s -> 2.2 s / 10 CPU-s. Applied
      only when the checkpoint is OURS (a local/RAM path) — an operator-
      supplied dfs checkpoint keeps the rename-safety default."""
    _CK = "spark.sql.streaming.checkpoint.fileChecksum.enabled"
    _FM = "spark.sql.streaming.checkpointFileManagerClass"
    _SP = "spark.sql.shuffle.partitions"
    _FM_POSIX = (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    )
    if ckpt is not None:
        writer = writer.option("checkpointLocation", ckpt)
    spark = SparkSession.getActiveSession()
    with _DRAIN_LOCK:
        prev_ck = spark.conf.get(_CK) if spark is not None else None  # effective value
        try:  # optional conf: absent unless an operator pinned a manager
            prev_fm = spark.conf.get(_FM) if spark is not None else None
        except Exception:
            prev_fm = None
        prev_sp = spark.conf.get(_SP) if spark is not None else None
        if spark is not None:
            spark.conf.set(_CK, "false")
            if ckpt is not None:
                spark.conf.set(_FM, _FM_POSIX)
            # State-partition count for THIS bounded run (guide §2.2):
            # every micro-batch pays one state-store commit (and, for
            # Python-stateful operators, one Arrow worker round-trip) per
            # (stateful operator × partition), so 32 state partitions on
            # micro-batch-sized data is pure per-partition overhead —
            # measured st4 at sf0.1: 43 CPU-s at 32 partitions vs 17 at 8,
            # byte-identical output (partition count only routes keys; all
            # stateful merges here are per-key). Scale-adaptive, never a
            # local[32] constant: defaultParallelism/4 floored at 4.
            # Applies only while a bounded drive-to-completion run holds
            # the lock; the session value is restored after.
            dp = spark.sparkContext.defaultParallelism
            spark.conf.set(_SP, str(max(4, dp // 4)))
        q = writer.start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            if spark is not None:
                spark.conf.set(_CK, prev_ck)
                if prev_sp is not None:
                    spark.conf.set(_SP, prev_sp)
                if ckpt is not None:
                    if prev_fm is None:
                        spark.conf.unset(_FM)
                    else:
                        spark.conf.set(_FM, prev_fm)
            if ckpt is not None:
                shutil.rmtree(ckpt, ignore_errors=True)
    return q


def stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """File-stream source over one testdata table. Schema comes from the
    batch reader (including the nanos→timestamp conversion), then the
    stream replays the same files."""
    batch = load_table(spark, sf_dir, name)
    path = os.path.join(sf_dir, f"{name}.parquet")
    # load_table sets inferTimestampNTZ=false on this session, so this
    # schema carries TIMESTAMP (not NTZ) — required for withWatermark.
    raw_schema = spark.read.parquet(path).schema
    # file-stream sources take a directory; glob-filter to this table
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", f"{name}.parquet")
        .parquet(sf_dir)
    )
    # re-apply nanos conversion on the stream (same contract as load_table)
    from ..io.sources import _nanos_timestamp_cols

    for col in _nanos_timestamp_cols(path):
        stream = stream.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    _ = batch  # schema provenance only
    return stream


def streaming_enrich(docs_stream: DataFrame) -> DataFrame:
    """EP1 as a stream: the enrichment plan is stateless, so the batch
    operator applies verbatim (S8/M8/M9 via the same mockable client)."""
    from ..functions.llm import enrich_documents

    return enrich_documents(docs_stream)


def streaming_sessionize(events_stream: DataFrame) -> DataFrame:
    """W2 as a stream: native session_window (gap-based), the streaming
    twin of the batch lag/cumsum sessionization."""
    return (
        events_stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select("user_id", F.col("session_window.start").alias("session_start"), "n_events")
    )


def enrich_stream_to_parquet(docs_stream: DataFrame, out_dir: str) -> None:
    """EP1's chunk-file loop (chunk_*.csv per chunk + consolidation,
    01_extract_features.R:479-495) upgraded to ``foreachBatch``: each
    micro-batch runs the SAME batch enrichment operator and appends to
    one parquet dataset — per-chunk durability (a crashed batch replays)
    without a manual consolidation step, and the sink can be swapped for
    any batch writer (JDBC, Delta, ...) that streams don't support
    natively. Drives the bounded stream to completion."""
    from ..functions.llm import enrich_documents

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        enrich_documents(batch_df).write.mode("append").parquet(out_dir)

    _drain(
        docs_stream.writeStream.foreachBatch(write_batch).outputMode("append"),
        _ephemeral_checkpoint_dir(),
    )


def run_bounded_foreach(stream_df: DataFrame, batch_fn) -> None:
    """Drive a bounded stream to completion through ``foreachBatch`` —
    the harness for plans whose per-batch logic needs full batch
    DataFrame semantics (multi-join verification, per-doc aggregation)
    that in-plan streaming operators would have to hold as state. The
    batch function owns its side effects; nothing is stateful across
    batches."""
    _drain(
        stream_df.writeStream.foreachBatch(batch_fn).outputMode("update"),
        _ephemeral_checkpoint_dir(),
    )


def streaming_user_stats(events_stream: DataFrame) -> DataFrame:
    """§2.10 custom stateful operator via ``applyInPandasWithState``:
    per-user running profile (distinct event types, event count, first
    event id) held in explicit group state across micro-batches — the
    stateful-streaming form of a groupBy profile, and the pattern a
    streaming dedup/quality gate builds on. Every state merge is
    commutative (set-union, sum, min), so emitted values are independent
    of arrival order — what keeps the operator oracle-checkable.

    State is bounded: each key's state carries an EVENT-TIME TTL of
    60 minutes past the key's latest event (refreshed on every update) and is
    dropped on expiry — without it, per-user state grows monotonically
    with the key universe, the one unbounded-memory failure mode of keyed
    streaming state at 100-TB ingest. Event-time (not processing-time)
    timeout keeps the operator deterministic under replay AND lets a
    bounded run drain: expiry advances with the data's own watermark, so
    ``processAllAvailable`` terminates (a processing-time timeout keeps
    scheduling wall-clock timeout batches forever). The caller must set
    ``withWatermark`` on the input — ``stream_table`` events carry ``ts``."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = "user_id long, n_event_types long, n_events long, first_event_id long"
    state_schema = "types array<string>, n long, first_id long, max_ts long"

    return (
        events_stream.withWatermark("ts", "10 minutes")
        .select("user_id", "event_type", "event_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            make_profile_update(60 * 60_000),
            out_schema,
            state_schema,
            "update",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def make_profile_update(ttl_ms: int):
    """The ``applyInPandasWithState`` group function behind
    ``streaming_user_stats``, exposed as a factory so the state-eviction
    contract is unit-testable against a fake GroupState (a timed-out call
    must ``remove()`` and emit nothing)."""
    import pandas as pd

    def update(key, pdfs, state):
        if state.hasTimedOut:
            # expiry call: no input rows for this key this batch — drop
            # the state, emit nothing (profile rows are update-mode).
            state.remove()
            return
        if state.exists:
            types, n, first = set(state.get[0]), int(state.get[1]), int(state.get[2])
            max_ts_ms = int(state.get[3])
        else:
            types, n, first, max_ts_ms = set(), 0, None, 0
        for pdf in pdfs:
            n += len(pdf)
            types.update(str(t) for t in pdf["event_type"])
            mn = int(pdf["event_id"].min())
            first = mn if first is None else min(first, mn)
            ts_max = pdf["ts"].max()
            if pd.notna(ts_max):
                max_ts_ms = max(max_ts_ms, int(ts_max.timestamp() * 1000))
        # the TTL anchor is the key's all-time max event ts, PERSISTED in
        # the state tuple: anchoring on only the current batch's max would
        # let an out-of-order batch of older events pull the timeout
        # EARLIER than 'latest event + TTL'.
        state.update((sorted(types), n, first, max_ts_ms))
        # expire once the watermark passes this key's latest event + TTL;
        # floored at the current watermark (Spark requires the timeout
        # timestamp to be strictly ahead of it — guards very-late data).
        state.setTimeoutTimestamp(max(max_ts_ms, state.getCurrentWatermarkMs() + 1) + ttl_ms)
        yield pd.DataFrame(
            {
                "user_id": [int(key[0])],
                "n_event_types": [len(types)],
                "n_events": [n],
                "first_event_id": [first],
            }
        )

    return update


_RUN_SEQ = 0


def run_bounded(stream_df: DataFrame, query_name: str, output_mode: str) -> DataFrame:
    """Drive a bounded file stream to completion through a memory sink and
    return the materialized result — the deterministic smoke harness.
    ``output_mode`` is explicit at every call site (aggregations want
    "complete"/"update", stateless plans "append") — inferring it from
    the logical plan needed a private ``_jdf`` peek that breaks on Spark
    Connect. Sink names get a per-process sequence suffix so re-invoking
    the same query in one session can't clobber a result another caller
    still holds a lazy reference to."""
    global _RUN_SEQ
    _RUN_SEQ += 1
    query_name = f"{query_name}_{_RUN_SEQ}"
    spark = stream_df.sparkSession
    _drain(
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name),
        _ephemeral_checkpoint_dir(),
    )
    return spark.table(query_name)
