"""Benchmark workloads and the checks on their outputs.

A workload is a list of registered queries (``plans.registry.QUERIES``)
run back to back on inputs generated from the seed. Every run's output is
checked: against the DuckDB oracle where the query has one, otherwise
against the untimed warm run's row hash plus the query's invariants.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass

ORACLE_QUERIES = ("d23_dedup_cascade",)
# mean recall@5 that n18's PQ-ADC top-5 must keep against the exact top-5
# on the generated embeddings: 0.36-0.52 over seeds 1-20 at 500 vectors,
# where a broken index scores about 5/500
ANN_RECALL_FLOOR = 0.15
ANN_PROBES, ANN_K = 10, 5


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    docs: int  # documents table rows (0: not generated)
    vecs: int  # embeddings table rows (0: not generated)


WORKLOADS = {
    w.name: w
    for w in (
        # sizes chosen so a timed run fits several reps (6-12 s each on a
        # 4-vCPU VM): both pipelines are latency-bound, and a median over
        # one or two reps was not steady on a shared host
        Workload("build_models", ("ep2_build_models",), docs=500, vecs=0),
        # n18 rather than n19 (IVF-PQ): n19 runs 57 Spark jobs (9 s warm, 24 s
        # cold) to n18's 20 (2-3 s warm)
        Workload(
            "dedup_ann", ("d23_dedup_cascade", "n18_pq_adc_audit"), docs=2000, vecs=500
        ),
    )
}


def normalize(rows) -> list[tuple]:
    """Rows as sorted tuples, floats rounded to 6 places (the oracle
    contract), so two runs compare independent of row order."""
    def cell(v):
        return round(v, 6) if isinstance(v, float) else v

    return sorted((tuple(cell(v) for v in r) for r in rows), key=repr)


def row_hash(rows) -> str:
    """Order-insensitive hash of a result."""
    h = hashlib.sha256()
    for r in normalize(rows):
        h.update(repr(r).encode())
        h.update(b"\n")
    return h.hexdigest()


def oracle_path(input_dir: str, query: str) -> str:
    return os.path.join(input_dir, f"oracle_{query}.json")


def compute_oracles(wl: Workload, input_dir: str, threads: int) -> None:
    """Run each of the workload's oracle queries in DuckDB over the
    generated tables, once per input set (kept beside the inputs)."""
    todo = [q for q in wl.queries if q in ORACLE_QUERIES]
    if not todo or all(os.path.exists(oracle_path(input_dir, q)) for q in todo):
        return
    import duckdb

    from ml_training_data_pipeline_spark.plans import registry

    registry._load_all()
    con = duckdb.connect()
    try:
        con.execute(f"SET threads = {int(threads)}")
        con.execute(f"SET temp_directory = '{os.path.join(input_dir, 'duckdb.tmp')}'")
        for table in ("documents", "embeddings"):
            path = os.path.join(input_dir, f"{table}.parquet")
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
        for q in todo:
            rows = [list(r) for r in con.execute(registry.ORACLE_SQL[q]).fetchall()]
            tmp = oracle_path(input_dir, q) + ".tmp"
            with open(tmp, "w") as fh:
                json.dump(rows, fh)
            os.replace(tmp, oracle_path(input_dir, q))
    finally:
        con.close()


def load_oracle(input_dir: str, query: str) -> list[tuple] | None:
    try:
        with open(oracle_path(input_dir, query)) as fh:
            return normalize(json.load(fh))
    except FileNotFoundError:
        return None


def check(query: str, rows, ref: dict) -> list[str]:
    """Problems with one query's output (empty when correct).

    ``ref`` holds the reference facts for the input set: ``hash`` (the
    warm run's row hash, absent while checking the warm run itself),
    ``oracle`` (normalized oracle rows), ``keyword_docs`` (docs whose
    keywords give at least one term) and ``labels`` (allowed labels)."""
    problems = []
    if not rows:
        return [f"{query}: empty result"]
    if ref.get("oracle") is not None and normalize(rows) != ref["oracle"]:
        problems.append(f"{query}: rows differ from the DuckDB oracle")
    if ref.get("hash") and row_hash(rows) != ref["hash"]:
        problems.append(f"{query}: row hash differs from the warm run")
    if query == "ep2_build_models":
        total = sum(r["documents"] for r in rows)
        if total != ref["keyword_docs"]:
            problems.append(
                f"{query}: cluster sizes sum to {total}, not {ref['keyword_docs']} keyword docs"
            )
        bad = sorted({r["label"] for r in rows} - set(ref["labels"]), key=str)
        if bad:
            problems.append(f"{query}: labels outside CLUSTER_LABELS: {bad}")
    elif query == "n18_pq_adc_audit":
        if len(rows) != ANN_PROBES or any(r["n_exact"] != ANN_K for r in rows):
            problems.append(f"{query}: expected {ANN_PROBES} probes x {ANN_K} exact neighbours")
        recall = sum(r["recall_at_5"] for r in rows) / len(rows)
        if recall < ANN_RECALL_FLOOR:
            problems.append(f"{query}: mean recall@5 {recall:.3f} < {ANN_RECALL_FLOOR}")
    return problems
