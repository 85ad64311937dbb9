"""Rotating sf1 CORRECTNESS probe (VERDICT r14 #3).

The driver's oracle gate runs at sf0.01; round 14's first sf1 spot-check
proved why that is not enough: h1's sum_charge landed one double ULP
apart at 6M rows (Spark's decimal-product precision cap + DuckDB's
non-correctly-rounded decimal→double cast) — a hazard class INVISIBLE at
every smaller scale. This probe re-runs the driver comparison on
/tmp/sf1 for ~12 names per round, rotating by sf1-probe staleness
(never-probed first, then oldest probe stamp), with the known hazard
classes promoted to the front of the never-probed pool:

- decimal-aggregate TPC-H shapes (sums/ratios of decimal products);
- round(x, 6) float families (tf-idf weights, cosines, decay sums)
  whose accumulation order differs cross-engine.

Usage:
    python scripts/make_sf1.py                     # build /tmp/sf1 once
    python scripts/sf1_probe.py --round 15         # auto-rotate 12 names
    python scripts/sf1_probe.py --round 15 --names h13_market_share ...

Writes SF1_PROBE_r{N}.json next to the other round artifacts; the
rotation folds every SF1_PROBE_r*.json (and the hardcoded round-14
ad-hoc sample) for the newest stamp per name — artifacts, not comments,
drive the rotation.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Round 14's probe predates this script (documented in SURVEY §6, no
# artifact file) — seed the fold so those names rotate like any others.
R14_ADHOC = (
    "h1_lineitem_pricing_summary", "h2_revenue_per_nation", "c3_group_withinss",
    "w2_sessionization", "g1_rollup_totals", "mix9_budget_waterfill",
    "ep13_dedup_budget_roadmap", "d23_dedup_cascade", "d24_span_scrub",
    "d25_cascade_quality_survivors", "ep14_scrub_budget_roadmap",
    "st16_stream_cascade_admission",
)

# Hazard-ordered priority for names that have never had an sf1 probe row:
# decimal-aggregate shapes first (the h1 ulp class), then cross-engine
# float-accumulation families. Names not listed rotate after these, in
# registry order.
HAZARD_FIRST = (
    # decimal products / conditional decimal aggregates (h1's class)
    "h13_market_share", "h15_small_qty_revenue", "h18_nation_profit",
    "h9_customer_distribution", "h16_disjunctive_revenue",
    "h14_top_supplier_revenue", "h12_two_nation_volume",
    "h17_sole_final_supplier", "h10_large_volume_customers",
    "h20_late_shipping_priority", "h11_dormant_high_balance",
    "h19_ship_latency_quantiles",
    # float accumulation across engines (round(x,6) families)
    "v3_tfidf_unigram", "c4_centroid_cosine_pairs", "x15_zipf_alpha",
    "w6_decayed_engagement", "n8_prototype_silhouette",
    "mix3_temperature_weights", "x13_zipf_profile", "w15_daily_autocorr",
    "x28_length_drift_ks", "x29_token_psi", "g6_source_lang_chi2",
    "x21_heaps_law",
)


def fold_probe_stamps() -> dict[str, int]:
    newest = {n: 14 for n in R14_ADHOC}
    for f in glob.glob(os.path.join(REPO, "SF1_PROBE_r*.json")):
        r = int(re.search(r"r(\d+)", os.path.basename(f)).group(1))
        try:
            data = json.load(open(f))
        except Exception:
            continue
        for name in data.get("results", {}):
            newest[name] = max(newest.get(name, 0), r)
    return newest


def pick_names(n: int) -> list[str]:
    import __spark_entry__ as entry_mod

    osql = entry_mod.oracle_sql()
    stamps = fold_probe_stamps()
    # oracle-backed only: the probe IS an oracle comparison
    pool = [q for q in entry_mod.queries() if q in osql]
    never = [q for q in pool if q not in stamps]
    # hazard-priority names first within the never-probed pool
    never.sort(key=lambda q: (HAZARD_FIRST.index(q) if q in HAZARD_FIRST else len(HAZARD_FIRST),))
    probed = sorted((q for q in pool if q in stamps), key=lambda q: stamps[q])
    return (never + probed)[:n]


def _write_artifact(results: dict, args) -> str:
    """Merge ``results`` into the round's artifact on disk and rewrite it.

    Called after EVERY probed name (idempotent merge-on-write), so a
    mid-batch crash loses at most the in-flight comparison — a round-15
    ENOSPC killed the JVM at name 47/50 and the old end-of-run write
    lost all 46 finished rows. ``fails`` is always recomputed from the
    merged result set (the round gate reads the merged artifact)."""
    if getattr(args, "rows_only", False):
        note = (
            "sf1 EXECUTION probe for the rows-only (no-oracle) queries: "
            f"each runs driver-style on {args.sf_dir} and records row count "
            "+ schema + elapsed. No value comparison exists for these by "
            "design (SURVEY §5) — the probe exists because the cur14/cur17 "
            "hazard class (ANSI arithmetic on replica-corpus shapes) only "
            "shows up when the query actually EXECUTES at this scale."
        )
    else:
        note = (
            "rotating sf1 correctness probe: driver-style DuckDB comparison "
            f"on {args.sf_dir} (make_sf1.py replica corpus). Names rotate by "
            "sf1-probe staleness with decimal/float hazard classes promoted; "
            "the fold reads SF1_PROBE_r*.json artifacts (r14's ad-hoc sample "
            "is seeded in scripts/sf1_probe.py)."
        )
    artifact = {
        "note": note,
        "round": args.round,
        "sf_dir": args.sf_dir,
        "results": dict(results),
        "fails": [],
    }
    prefix = "SF1_ROWSONLY" if getattr(args, "rows_only", False) else "SF1_PROBE"
    out = os.path.join(REPO, f"{prefix}_r{args.round:02d}.json")
    # a round may probe several batches (e.g. decimal family early, float
    # family after later additions land): MERGE into the round's artifact
    # instead of clobbering the earlier batch
    if os.path.exists(out):
        try:
            prior = json.load(open(out))
            artifact["results"] = {**prior.get("results", {}), **results}
        except Exception:
            pass  # unreadable prior artifact: write this batch alone
    if getattr(args, "rows_only", False):
        artifact["fails"] = [
            n for n, r in artifact["results"].items() if r.get("err") is not None
        ]
    else:
        artifact["fails"] = [
            n for n, r in artifact["results"].items() if not r.get("hash_match")
        ]
    tmp = out + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(artifact, fh, indent=1)
    os.replace(tmp, out)  # atomic: a crash mid-dump cannot corrupt the artifact
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--round", type=int, required=True)
    ap.add_argument("--names", nargs="*", default=None)
    ap.add_argument(
        "--n",
        type=int,
        default=None,
        help="batch size: default 12 for the rotating oracle probe, the "
        "FULL no-oracle pool for --rows-only (a silent 12-name cap there "
        "would record a 'clean' round while skipping the expensive "
        "pipelines most likely to crash at scale).",
    )
    ap.add_argument("--sf-dir", default="/tmp/sf1")
    ap.add_argument("--cores", type=int, default=32)
    ap.add_argument(
        "--rows-only",
        action="store_true",
        help="probe the NO-ORACLE queries instead: execute at sf1, record "
        "row count + schema + elapsed (crash detection — the cur14/cur17 "
        "ANSI-arithmetic class — not value comparison). Writes "
        "SF1_ROWSONLY_r{N}.json.",
    )
    args = ap.parse_args()

    import duckdb

    import __spark_entry__ as entry_mod
    from driver_sweep import TABLES, compare, driver_session

    qs, osql = entry_mod.queries(), entry_mod.oracle_sql()
    if args.rows_only:
        pool = [q for q in qs if q not in osql]
        names = args.names or (pool if args.n is None else pool[: args.n])
    else:
        names = args.names or pick_names(args.n if args.n is not None else 12)

    spark = driver_session(args.cores, "48g")
    con = duckdb.connect()
    # Spill guard: before the materialize() fix, a CTE-inlined oracle at
    # sf1 wrote >80 GB of duckdb temp into ./.tmp INSIDE THE REPO until
    # the disk filled (and a stray .tmp dir dirtied the tree). Pin temp
    # to /tmp and cap it so a future pathological oracle fails fast with
    # a clear error instead of taking the filesystem down.
    con.execute("SET temp_directory='/tmp/duckdb_sf1_probe_tmp'")
    try:
        con.execute("SET max_temp_directory_size='40GiB'")
    except Exception:
        pass  # older duckdb: the explicit temp dir alone still protects the repo
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf_dir}/{t}.parquet')"
        )

    results, fails = {}, []
    for i, name in enumerate(names):
        t0 = time.time()
        try:
            if args.rows_only:
                df = qs[name](spark, args.sf_dir)
                # toPandas(), NOT count(): Catalyst prunes columns a
                # count never reads, so a scale-only crash inside a
                # projected expression (the ANSI class this probe hunts)
                # would pass a count() unexercised — and the grading
                # driver's rows-only check materializes every column.
                sp = df.toPandas()
                r = {
                    "mode": "rows_only",
                    "spark_rows": len(sp),
                    "schema": df.schema.simpleString()[:400],
                }
                ok = True
            else:
                sp = qs[name](spark, args.sf_dir).toPandas()
                od = con.execute(osql[name]).fetchdf()
                r = compare(sp, od)
                r["spark_rows"], r["oracle_rows"] = len(sp), len(od)
                ok = bool(r["hash_match"])
        except Exception as e:  # noqa: BLE001 — probe must report, not die
            r, ok = {"err": f"{type(e).__name__}: {e}"[:300]}, False
        r["sec"] = round(time.time() - t0, 2)
        results[name] = r
        if not ok:
            fails.append(name)
        print(f"[{i + 1}/{len(names)}] {name}: {'OK' if ok else 'FAIL'} ({r['sec']}s)", flush=True)
        # flush after EVERY name: a 50-name sf1 batch runs for an hour,
        # and a mid-batch crash (a round-15 ENOSPC killed the JVM at
        # name 47/50) must not lose the 46 finished comparisons — the
        # merge-on-write below makes incremental flushes idempotent
        _write_artifact(results, args)

    out = _write_artifact(results, args)
    print(json.dumps({"checked": len(names), "fails": fails, "artifact": out}))
    artifact = json.load(open(out))
    # gate on the MERGED round artifact, not just this batch: a green
    # batch 2 must not exit 0 while the artifact still records a batch-1
    # failure (round-15 review finding)
    return 1 if artifact["fails"] else 0


if __name__ == "__main__":
    raise SystemExit(main())
