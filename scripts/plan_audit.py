"""Physical-plan anti-pattern audit over the whole registry.

For every registered query, build the DataFrame at a small SF and scan its
executed plan for the scale-killers the 100 TB design forbids:

- ``CartesianProduct``      — an unconditioned join that enumerates pairs
- ``BatchEvalPython``       — a row-at-a-time Python UDF in the plan
  (Arrow-batched pandas UDFs compile to ArrowEvalPython /
  FlatMapGroupsInPandas / MapInPandas and are allowed)
- ``BroadcastNestedLoopJoin`` carrying a non-trivial build side is reported
  as a WARNING count only: every intended use in this repo broadcasts a
  singleton/≤10-row frame (crossJoin of a stats row), which is the correct
  shape; the count is printed so a reviewer can diff it round-over-round.

Constructing a DataFrame executes any eager ``localCheckpoint`` inside the
query (and st-family queries run their bounded stream to completion), so a
full audit costs about as much as a correctness sweep — run it from /tmp
like the driver would:

    cd /tmp && python /root/repo/scripts/plan_audit.py            # all
    cd /tmp && python /root/repo/scripts/plan_audit.py --names d4_minhash_dedup

``--ledger PATH`` additionally writes a per-query shuffle ledger
``{name: {exchanges, broadcasts, bnlj, scans, aqe_shuffle_reads,
checkpointed, segments, pre_exchanges, pre_broadcasts, pre_bnlj,
pre_scans}}`` to PATH for round-over-round diffing (committed as
PLANS_r{N}.json). The ``pre_*`` columns sum the counters over every
pre-checkpoint plan segment (see ``CkptRecorder``) — without them an
eager ``localCheckpoint`` truncates the visible plan and a regression
upstream of the checkpoint is invisible (ep12 read ``{exchanges: 0,
scans: 0}`` in PLANS_r13.json despite two upstream aggregation scans). The
remaining regression class the correctness suite cannot catch is a quiet
plan change that adds a shuffle without changing answers; an Exchange-count
diff settles such drift questions instantly. ``exchanges``/``broadcasts``/
``bnlj``/``scans`` are counted on the PRE-MATERIALIZATION
``executedPlan()`` string — EnsureRequirements has inserted the Exchanges
but AQE has not yet locally re-planned them away for a 1 MB input — so
the fingerprint reflects what Catalyst would ship to a real cluster.
(NOT ``sparkPlan()``: that predates EnsureRequirements and contains zero
Exchange nodes by construction.) ``aqe_shuffle_reads`` is counted on the
executed final plan after materialization as evidence the runtime
coalescing path is actually exercised.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FORBIDDEN = ("CartesianProduct", "BatchEvalPython")

# a shuffle Exchange, as printed in a physical-plan tree; deliberately
# excludes BroadcastExchange (counted separately — broadcasts are the
# shuffle-AVOIDANCE mechanism, not a shuffle)
_SHUFFLE_RE = re.compile(
    r"Exchange (hashpartitioning|rangepartitioning|SinglePartition"
    r"|RoundRobinPartitioning)"
)


def ledger_counts(static_plan: str, final_plan: str = "") -> dict[str, int]:
    """Count the plan-shape fingerprint for one query (see module doc)."""
    return {
        "exchanges": len(_SHUFFLE_RE.findall(static_plan)),
        "broadcasts": static_plan.count("BroadcastExchange"),
        "bnlj": static_plan.count("BroadcastNestedLoopJoin"),
        "scans": len(re.findall(r"FileScan|BatchScan", static_plan)),
        "aqe_shuffle_reads": final_plan.count("AQEShuffleRead"),
    }


PRE_KEYS = ("exchanges", "broadcasts", "bnlj", "scans")


class CkptRecorder:
    """Close the ledger's checkpoint blind spot (VERDICT r13): an eager
    ``localCheckpoint()`` truncates the visible plan at an ExistingRDD
    scan, so a query like ep12 read ``{exchanges: 0, scans: 0}`` in
    PLANS_r13.json despite its two upstream aggregation scans — a plan
    regression upstream of a checkpoint was invisible to plan_diff (and
    a CartesianProduct there escaped the violation scan entirely).

    While active, every ``DataFrame.localCheckpoint`` call first records
    THAT DataFrame's pre-materialization ``executedPlan()`` string, then
    delegates. Segments never double count each other or the final
    plan: a segment built on an earlier checkpoint starts at the earlier
    ExistingRDD boundary (not counted by any counter), exactly as the
    final plan starts at the last ones. Iterative operators (connected
    components) and per-micro-batch checkpoints record one segment per
    call — the honest total cost of what actually ran."""

    @staticmethod
    def _target():
        # PySpark 4 dispatches to the CONCRETE class — patching the
        # pyspark.sql.DataFrame facade is invisible because
        # classic.dataframe.DataFrame overrides localCheckpoint
        try:
            from pyspark.sql.classic.dataframe import DataFrame
        except ImportError:  # older PySpark: one class only
            from pyspark.sql import DataFrame
        return DataFrame

    def __init__(self) -> None:
        self.plans: list[str] = []

    def __enter__(self) -> "CkptRecorder":
        cls = self._target()
        # Recorders patch the class process-globally; interleaved (non-nested)
        # or concurrent recorders would restore a stale wrapper and
        # cross-attribute segments — fail loudly instead (r14 ADVICE).
        if getattr(cls.localCheckpoint, "_ckpt_recorder_wrapper", False):
            raise RuntimeError(
                "CkptRecorder is not reentrant: another recorder is already "
                "active on DataFrame.localCheckpoint"
            )
        # BOTH materialization entry points: operators/materialize.py routes
        # to df.checkpoint() under SPARK_GRAFT_MATERIALIZE=reliable — if only
        # localCheckpoint were patched, auditing a reliable-configured
        # deployment would silently re-open the pre-checkpoint blind spot
        # this recorder exists to close (round-15 review finding). The
        # 'parquet' strategy truncates via a write+read-back that no patch
        # can see — main() refuses to audit under it.
        self._origs = {
            "localCheckpoint": cls.localCheckpoint,
            "checkpoint": cls.checkpoint,
        }
        rec = self

        def make_wrapper(orig):
            def wrapper(df, *a, **kw):
                try:
                    rec.plans.append(
                        df._jdf.queryExecution().executedPlan().toString()
                    )
                except Exception:  # noqa: BLE001 — recording must never break the query
                    pass
                return orig(df, *a, **kw)

            wrapper._ckpt_recorder_wrapper = True
            return wrapper

        for meth, orig in self._origs.items():
            setattr(cls, meth, make_wrapper(orig))
        return self

    def __exit__(self, *exc) -> None:
        cls = self._target()
        for meth, orig in self._origs.items():
            setattr(cls, meth, orig)

    def pre_counts(self) -> dict[str, int]:
        """{checkpointed, segments, pre_exchanges, ..., pre_scans} summed
        across the recorded pre-checkpoint segments."""
        per = [ledger_counts(p) for p in self.plans]
        out = {"checkpointed": 1 if per else 0, "segments": len(per)}
        for k in PRE_KEYS:
            out[f"pre_{k}"] = sum(p[k] for p in per)
        return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--names", nargs="*", default=None)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--cores", type=int, default=8)
    ap.add_argument(
        "--ledger",
        default=None,
        help="write the per-query shuffle ledger JSON to this path "
        "(materializes every query: costs one full sweep)",
    )
    args = ap.parse_args()

    # the parquet materialize strategy truncates plans via a write +
    # read-back that no method patch can observe — an audit under it
    # would record pre_* = 0 for every checkpoint site and silently
    # re-open the blind spot. Refuse loudly; audit under local/reliable.
    if os.environ.get("SPARK_GRAFT_MATERIALIZE", "local").strip().lower() == "parquet":
        raise SystemExit(
            "plan_audit cannot see pre-materialization segments under "
            "SPARK_GRAFT_MATERIALIZE=parquet — run the audit with the "
            "local (default) or reliable strategy"
        )

    import __spark_entry__ as entry_mod
    from driver_sweep import driver_session

    qs = entry_mod.queries()
    names = args.names or list(qs)
    spark = driver_session(args.cores)

    violations: dict[str, list[str]] = {}
    bnlj_counts: dict[str, int] = {}
    errors: dict[str, str] = {}
    ledger: dict[str, dict[str, int]] = {}
    for i, name in enumerate(names):
        t0 = time.time()
        try:
            # canonical, ORDER-INDEPENDENT fingerprints: an earlier query's
            # .cache() (the m-family caches tf-idf subtrees) makes Spark's
            # CacheManager substitute InMemoryRelations into any later plan
            # containing the same subtree, and the plan STRING prints the
            # cached subtree under every InMemoryTableScan — counts would
            # then depend on where the rotation placed the query (v3 read
            # x=3/s=2 in isolation but x=6/s=4 after the m-family in the
            # first r14 sweep). Audit every query against a cold cache.
            spark.catalog.clearCache()
            with CkptRecorder() as rec:
                df = qs[name](spark, args.sf_dir)
                qe = df._jdf.queryExecution()
                # pre-materialization executedPlan: EnsureRequirements has
                # inserted the Exchanges but AQE has not yet re-planned them
                # away for a 1 MB input — the static, scale-honest fingerprint
                # (sparkPlan() is NO use here: it predates EnsureRequirements,
                # so it contains zero Exchange nodes by construction)
                plan = qe.executedPlan().toString()
                if args.ledger is not None:
                    # collect(), not count(): count() builds a NEW
                    # QueryExecution (agg-on-top), leaving THIS plan's
                    # AdaptiveSparkPlan forever isFinalPlan=false — collect()
                    # executes this exact plan so the AQE final plan exists.
                    # Bounded: ledger runs at sf0.001 only.
                    df.collect()
                    ledger[name] = ledger_counts(plan, qe.executedPlan().toString())
                    ledger[name].update(rec.pre_counts())
        except Exception as e:  # noqa: BLE001 — audit must cover the rest
            errors[name] = repr(e)[:200]
            print(f"[{i+1}/{len(names)}] {name}: ERROR {errors[name]}", flush=True)
            continue
        # the violation AND warning scans cover the pre-checkpoint
        # segments too — a CartesianProduct (or a new non-singleton BNLJ)
        # upstream of a localCheckpoint is just as fatal at 100 TB as a
        # visible one
        full = "\n".join([plan, *rec.plans])
        bad = [p for p in FORBIDDEN if p in full]
        nb = full.count("BroadcastNestedLoopJoin")
        if bad:
            violations[name] = bad
        if nb:
            bnlj_counts[name] = nb
        status = f"VIOLATION {bad}" if bad else "ok"
        led = ledger.get(name)
        led_s = (
            " x={exchanges}/b={broadcasts}/s={scans}".format(**led) if led else ""
        )
        print(
            f"[{i+1}/{len(names)}] {name}: {status}"
            f"{f' (bnlj={nb})' if nb else ''}{led_s}"
            f" ({round(time.time() - t0, 2)}s)",
            flush=True,
        )

    if args.ledger is not None:
        with open(args.ledger, "w") as f:
            json.dump(
                {
                    "sf_dir": args.sf_dir,
                    "cores": args.cores,
                    # a partial run must be visible IN the artifact: totals
                    # from an errored sweep understate, and a diff would
                    # read the missing query as "removed" not "errored"
                    "audited": len(ledger),
                    "errors": errors,
                    "totals": {
                        k: sum(v[k] for v in ledger.values())
                        for k in ("exchanges", "broadcasts", "bnlj", "scans",
                                  "aqe_shuffle_reads", "checkpointed",
                                  "segments", "pre_exchanges",
                                  "pre_broadcasts", "pre_bnlj", "pre_scans")
                    }
                    if ledger
                    else {},
                    "queries": dict(sorted(ledger.items())),
                },
                f,
                indent=1,
                sort_keys=False,
            )
        print(f"# ledger written: {args.ledger} ({len(ledger)} queries)")

    print(
        json.dumps(
            {
                "audited": len(names) - len(errors),
                "violations": violations,
                "errors": errors,
                "bnlj_total": sum(bnlj_counts.values()),
                "bnlj_queries": len(bnlj_counts),
            }
        )
    )
    return 1 if (violations or errors) else 0


if __name__ == "__main__":
    raise SystemExit(main())
