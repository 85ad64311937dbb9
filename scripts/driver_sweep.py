"""Driver-style correctness sweep — round-end insurance.

Mimics the grading driver: for each registry name (a PRIORITY prefix or
the whole registry), run the Spark query AND its DuckDB oracle at the
driver's scale (sf0.01), compare row count, sorted-column schema, and
order-insensitive values. Oracle-less names get the driver's weaker
rows-only check. ALWAYS run from a non-repo cwd (the driver does):

    cd /tmp && python /root/repo/scripts/driver_sweep.py --prefix 50
    cd /tmp && python /root/repo/scripts/driver_sweep.py --all
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def driver_session(cores: int, driver_mem: str | None = None):
    """A session built the way the grading driver builds its own:
    local[cores], one shuffle partition per core, UTC, UI off, and Spark's
    default 100-entry codegen cache, because the driver's session does not
    resize it (``session.get_spark`` does, so it is not used here).
    ``SPARK_GRAFT_DRIVER_MEM`` overrides ``driver_mem``; with neither set
    the driver memory is Spark's default."""
    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", driver_mem)
    if mem:
        builder = builder.config("spark.driver.memory", mem)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def compare(sp_df, od_df) -> dict:
    cols = sorted(sp_df.columns)
    out = {
        "rows_match": len(sp_df) == len(od_df),
        "schema_match": cols == sorted(od_df.columns),
        "hash_match": False,
    }
    if not (out["rows_match"] and out["schema_match"]):
        return out
    import pandas as pd

    # Canonicalize to STRING FORM before sorting, then compare positionally:
    # numpy's == (and Series.equals, and sort keys) treats -0.0 == 0.0, but
    # the driver's value-hash is byte-level and DOES distinguish them
    # (round-10's ep9 red row was exactly a -0.0-vs-0.0 split the old
    # float-compare waved through). repr keeps the sign ('-0.0' != '0.0')
    # and makes NaN==NaN ('nan'); sorting the STRINGS makes tie order
    # deterministic on both sides (a numeric sort leaves -0.0/0.0 ties in
    # input order, which would flag identical multisets as mismatched).
    float_cols = {
        c for c in cols if sp_df[c].dtype.kind == "f" or od_df[c].dtype.kind == "f"
    }

    def canon(df: "pd.DataFrame") -> "pd.DataFrame":
        o = {
            c: (
                df[c].astype(float).round(6).map(repr)
                if c in float_cols
                else df[c].astype(str)
            )
            for c in cols
        }
        return pd.DataFrame(o).sort_values(by=cols, ignore_index=True)

    out["hash_match"] = canon(sp_df).equals(canon(od_df))
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--prefix", type=int, default=None, help="sweep first N PRIORITY names")
    ap.add_argument("--all", action="store_true", help="sweep every registered name")
    ap.add_argument("--names", nargs="*", default=None, help="explicit names")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--cores", type=int, default=16)
    args = ap.parse_args()

    import duckdb

    import __spark_entry__ as entry_mod

    qs, osql = entry_mod.queries(), entry_mod.oracle_sql()
    if args.names:
        names = args.names
    elif args.all:
        names = list(qs)
    else:
        names = list(qs)[: args.prefix or 50]

    spark = driver_session(args.cores, "16g")
    con = duckdb.connect()
    # keep duckdb temp out of the repo (it spills to ./.tmp under cwd);
    # see sf1_probe.py for the sf1 incident this guards against
    con.execute("SET temp_directory='/tmp/duckdb_sweep_tmp'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf_dir}/{t}.parquet')"
        )

    results, fails = {}, []
    for i, name in enumerate(names):
        t0 = time.time()
        try:
            sp = qs[name](spark, args.sf_dir).toPandas()
            if name in osql:
                od = con.execute(osql[name]).fetchdf()
                r = compare(sp, od)
                r["spark_rows"], r["oracle_rows"] = len(sp), len(od)
                ok = r["hash_match"]
            else:
                r = {"rows_only": True, "spark_rows": len(sp)}
                # every rows-only (estimator) query returns data; an empty
                # result is a silent regression the sweep must surface
                ok = len(sp) > 0
        except Exception as e:  # noqa: BLE001 — sweep must report, not die
            r, ok = {"err": f"{type(e).__name__}: {e}"[:300]}, False
        r["sec"] = round(time.time() - t0, 2)
        results[name] = r
        if not ok:
            fails.append(name)
        print(f"[{i+1}/{len(names)}] {name}: {'OK' if ok else 'FAIL'} ({r['sec']}s)", flush=True)

    print(json.dumps({"checked": len(names), "fails": fails}))
    out_path = os.environ.get("SWEEP_OUT", "/tmp/driver_sweep_results.json")
    with open(out_path, "w") as fh:
        json.dump(results, fh, indent=1)
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
