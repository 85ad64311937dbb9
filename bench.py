"""Benchmark harness (driver contract): runs the engine's headline queries
at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The headline set covers every engine family: heavy aggregation, star-join,
n-gram TF-IDF, vocabulary ranking, cluster term scores, MinHash-LSH dedup,
ANN top-k, sessionization, quality scoring, and the KMeans flagship.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "h1_lineitem_pricing_summary",
    "h2_revenue_per_nation",
    "v1_tfidf_ngram",
    "v4_vocab_top2000",
    "c1_cluster_term_scores",
    "d4_minhash_dedup",
    "n1_ann_brute_topk",
    "w2_sessionization",
    "x2_quality_scores",
    "m2_kmeans_cluster_sizes",
    # ADDED r17 (never removed/renamed an existing entry): a core-bound
    # scaling probe. PERF_r16's scaling block flagged suspect_cpus_ignored
    # because at sf0.1 every small-table query is row-floored to
    # single-digit task counts and per-stage fixed costs dominate, so the
    # 8-vs-32-core ratios read ~1. h25 is core-bound by construction
    # (256-step integer fold per lineitem row, oracle-checked), so one
    # headline row tracks the core ratio and the driver can tell
    # "not core-bound at this SF" from "env var ignored". It adds ~1.4 s
    # (32 cores) to the suite total — exclude it when comparing totals
    # against rounds <= 16 (the r16 10-query subtotal stays comparable via
    # the per-query entries).
    "h25_cpu_scaling_probe",
]


def sample_load(
    threshold: float = 0.05,
    max_wait_s: float = 120.0,
    poll_s: float = 10.0,
    _loadavg=None,
    _sleep=None,
    _monotonic=None,
) -> tuple[float, bool]:
    """(normalized 1-min loadavg, contended) — sampled BEFORE Spark starts
    so it reflects pre-existing load, not our own executors.

    Three straight rounds (r7 load 0.112, r8 0.077, r9 0.223) the bench
    artifact was polluted by host contention and each apparent regression
    (r9: n1 3.1×, x2 2.6×) had to be disproven by a hand re-probe on a
    quiet host (VERDICT r9 #6). So: if the host is loaded, sleep-poll up
    to ``max_wait_s`` for it to go quiet; if it never does, run anyway
    but mark the artifact ``contended`` so nobody reads a 3× delta off a
    loaded host as a code regression. The _-prefixed params are unit-test
    injection points only."""
    loadavg = _loadavg or (lambda: os.getloadavg()[0] / (os.cpu_count() or 1))
    sleep = _sleep or time.sleep
    monotonic = _monotonic or time.monotonic
    deadline = monotonic() + max_wait_s
    while True:
        try:
            load1 = loadavg()
        except OSError:
            return -1.0, False
        if load1 <= threshold:
            return load1, False
        if monotonic() >= deadline:
            return load1, True
        print(
            f"# host_load {round(load1, 3)} > {threshold}: waiting for a quiet host",
            file=sys.stderr,
        )
        sleep(poll_s)


def read_proc_stat(_path: str = "/proc/stat") -> tuple[int, int] | None:
    """(steal_ticks, total_ticks) from the aggregate cpu line, or None
    (non-Linux / unreadable). The _-prefixed param is a test injection
    point."""
    try:
        with open(_path) as fh:
            parts = fh.readline().split()
    except OSError:
        return None
    if not parts or parts[0] != "cpu":
        return None
    try:
        vals = [int(v) for v in parts[1:]]
    except ValueError:
        return None  # malformed field: degrade like every other failure
    if not vals:
        return None
    steal = vals[7] if len(vals) > 7 else 0
    # total covers user..steal ONLY (fields 1-8): the kernel already counts
    # guest/guest_nice time inside user/nice, so summing all ten columns
    # double-counts guest ticks and systematically understates steal% on
    # any host running KVM guests (r15 ADVICE)
    return steal, sum(vals[:8])


def steal_pct(before: tuple[int, int] | None, after: tuple[int, int] | None) -> float:
    """Hypervisor steal share (%) of ALL cpu time between two
    read_proc_stat samples; -1.0 when unavailable.

    loadavg only sees THIS machine's runnable tasks — on a virtualized
    host the bench can read host_load 0.01, contended false, and still
    run 2x slow because a co-tenant holds the physical cores (this
    session: identical code read 12.4 wall one day and 25.4 the next at
    host_load 0.007; steal was the only visible difference). Sampled
    across the whole timed suite so the artifact records the honest
    environment."""
    if before is None or after is None:
        return -1.0
    dt = after[1] - before[1]
    if dt <= 0:
        return -1.0
    return round(100.0 * (after[0] - before[0]) / dt, 3)


REP_STEAL_GATE = 1.0  # % of all cpu time stolen during the rep's window

# Host-speed canary: two consecutive rounds produced official BENCH
# artifacts dominated by cross-boot host speed (r15: 18.48s on a boot the
# same-host A/B read ~1.3x slow; r14's 12.39s on a fast boot), and each
# took a session of forensics to disprove as code drift. A fixed,
# deterministic, single-thread CPU-bound microbenchmark timed on the same
# boot makes the artifact self-normalizing: value_per_canary =
# suite_total / canary_s is comparable across boots because both sides
# scale with the host. md5-chain over a constant seed: pure CPU, no
# allocation growth, no I/O, identical instruction stream every run.
CANARY_ITERS = 2_000_000


def host_canary_s(iters: int = CANARY_ITERS, best_of: int = 3) -> float:
    """Seconds for the pinned md5-chain on this host — min over
    ``best_of`` runs (an interrupt can only ever slow a run, so min
    self-selects the cleanest; same logic as the suite's min-wall)."""
    import hashlib

    best = float("inf")
    digest = b""
    for _ in range(best_of):
        h = b"spark-graft-canary"
        t0 = time.perf_counter()
        for _ in range(iters):
            h = hashlib.md5(h).digest()
        best = min(best, time.perf_counter() - t0)
        digest = h
    if len(digest) != 16:  # the chain is load-bearing, not dead code
        raise RuntimeError("canary digest corrupted")
    return round(best, 4)


def per_canary(total: float, canary_s: float) -> float:
    """Canary-normalized suite statistic (dimensionless); -1.0 when either
    side is a sentinel. THIS is the cross-round comparable — raw wall/CPU
    columns move with boot speed, total/canary does not."""
    if total < 0 or canary_s <= 0:
        return -1.0
    return round(total / canary_s, 3)


def pick_cpu_stats(
    reps: "list[tuple[float, float, float]]",
) -> "tuple[float, float, float, str]":
    """(min_wall, cpu_of_min_wall_family, cpu_median, source_tag) from
    per-rep (wall_s, cpu_s, steal_pct) samples.

    The session-2 forensics showed the virtualized runner suffers
    multi-minute host-contention episodes (5-9% steal) during which
    process-CPU readings inflate up to 35x on shuffle-heavy queries —
    h23 read 657 CPU-s where a steal-gated rep reads 18. A suite-level
    contended flag can't save a per-query column when the episode spans
    only some reps, so the CPU statistics prefer CLEAN reps (steal <
    REP_STEAL_GATE and a valid sample); only when no rep is clean do
    they fall back to all valid reps, and the source tag says which.
    Wall keeps the min over ALL reps (an episode only ever slows a rep,
    so min-wall already self-selects the cleanest execution)."""
    min_wall = min(w for w, _, _ in reps)
    valid = [(w, c, s) for w, c, s in reps if c >= 0]
    clean = [(w, c, s) for w, c, s in valid if 0 <= s < REP_STEAL_GATE]
    pool = clean if clean else valid
    # three distinct sources: steal-gated reps; reps that EXCEEDED the
    # gate (read with suspicion); reps with no steal sample at all
    # (non-Linux — healthy data, just ungated)
    if clean:
        tag = f"clean-{len(clean)}/{len(reps)}"
    elif any(s >= 0 for _, _, s in valid):
        tag = f"all-{len(valid)}/{len(reps)}"
    else:
        tag = f"nosteal-{len(valid)}/{len(reps)}"
    if not pool:
        return min_wall, -1.0, -1.0, f"none-0/{len(reps)}"
    src_wall, cpu, _ = min(pool)
    # mixed pairing stays visible (r15 ADVICE): wall is the min over ALL
    # reps but cpu comes from the min-wall rep of the (possibly smaller)
    # steal-clean pool — when those are different executions, append the
    # cpu-source rep's wall so the artifact says whose cpu this is
    if src_wall != min_wall:
        tag += f"@{src_wall}s"
    cs = sorted(c for _, c, _ in pool)
    med = round((cs[(len(cs) - 1) // 2] + cs[len(cs) // 2]) / 2, 3)
    return min_wall, cpu, med, tag


def parse_sf(sf_dir: str) -> float | str:
    """sf label from a data dir: numeric when the dir is a plain sf
    scale (/root/testdata/sf0.1 -> 0.1), the raw suffix string otherwise
    (/tmp/sf1_lowdup -> "1_lowdup"). A probe dir with a non-numeric
    suffix must not kill the run AFTER every query already executed
    (r15: the low-dup floor probe lost its artifact to exactly that)."""
    raw = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # PEP-515 lets float() accept digit underscores, so float('1_2') ==
    # 12.0 — an underscore-style probe suffix (sf1_lowdup, sf1_2) must
    # stay a string, never mislabel as a wrong NUMERIC scale
    if "_" in raw:
        return raw
    try:
        return float(raw)
    except ValueError:
        return raw


def proc_tree_cpu_s() -> float:
    """CPU seconds consumed so far by this process and every live
    descendant — in local mode that is the py4j-spawned JVM plus its
    Python UDF workers — including already-reaped descendants via each
    process's cutime/cstime. Wall time swings 0.8×-1.4× with host
    contention on identical code (three judge rounds re-litigated such
    deltas); CPU seconds are the contention-insensitive ground truth a
    round-over-round comparison can trust. Linux /proc only; returns
    -1.0 where unavailable."""
    try:
        tick = float(os.sysconf("SC_CLK_TCK"))
        children: dict[int, list[int]] = {}
        stats: dict[int, float] = {}
        for pid_s in os.listdir("/proc"):
            if not pid_s.isdigit():
                continue
            try:
                with open(f"/proc/{pid_s}/stat") as f:
                    # comm (field 2) may contain spaces/parens: split
                    # AFTER the closing paren, so field N is parts[N-3]
                    parts = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue  # raced a process exit
            pid = int(pid_s)
            children.setdefault(int(parts[1]), []).append(pid)
            # utime+stime+cutime+cstime: fields 14-17
            stats[pid] = sum(int(parts[i]) for i in (11, 12, 13, 14)) / tick
        total, stack = 0.0, [os.getpid()]
        while stack:
            pid = stack.pop()
            total += stats.get(pid, 0.0)
            stack.extend(children.get(pid, ()))
        return total
    except Exception:
        return -1.0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # scale probes time other query sets with the same warm/rep/CPU
    # harness (e.g. the 5 most expensive registry queries at sf1);
    # the driver's per-round artifact always uses the default HEADLINE
    headline = HEADLINE
    if os.environ.get("SPARK_GRAFT_BENCH_QUERIES"):
        headline = [
            n.strip()
            for n in os.environ["SPARK_GRAFT_BENCH_QUERIES"].split(",")
            if n.strip()
        ]
    # a custom set must not masquerade as the official headline record in
    # round-over-round artifact tooling
    metric = "headline_suite_total" if headline == HEADLINE else "custom_suite_total"
    sf = parse_sf(sf_dir)
    load1, contended = sample_load(
        max_wait_s=float(os.environ.get("SPARK_GRAFT_BENCH_WAIT", "120"))
    )
    # canary BEFORE Spark starts: measures the bare host, not contention
    # from our own executors
    canary_s = host_canary_s()
    print(f"# host canary: {canary_s}s", file=sys.stderr)
    stat_before = read_proc_stat()

    from ml_training_data_pipeline_spark.session import codegen_compiles, get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", cpus)
    spark = get_spark("bench", shuffle_partitions=int(cpus))
    from ml_training_data_pipeline_spark.plans import registry

    registry._load_all()
    unknown = [n for n in headline if n not in registry.QUERIES]
    if unknown:  # fail fast, not mid-way through an hour-long sf1 probe
        raise SystemExit(f"unknown query names in SPARK_GRAFT_BENCH_QUERIES: {unknown}")

    # Warm the JVM + whole-stage-codegen cache per PLAN SHAPE by running
    # each headline query once at the tiny SF before timing it at the
    # target SF. Janino compile + JIT is a fixed per-shape cost (5-10s for
    # the complex dedup/TF-IDF plans); timing it would benchmark the
    # compiler, not the engine, and it dominated run-to-run variance (d4:
    # 10.6s cold vs 3.8s warm, identical plan). The cost is paid once per
    # shape only while the generated-class cache holds every shape in use:
    # Spark's 100-entry default evicted a pipeline's classes before their
    # next use (ep2 recompiled ~320 per run), so get_spark sizes it to the
    # engine's working set, and each query's codegen_compiles below counts
    # the compiles its timed reps still paid. Set SPARK_GRAFT_NO_WARM=1
    # for cold-start numbers.
    spark.range(1000).selectExpr("sum(id)").collect()

    def run(df) -> None:
        """The timed action: a noop-sink write, NOT count(). count() lets
        Catalyst prune every unused column and eliminate left joins whose
        right side is unique on the join key — a per-doc report query
        like x2 (select quality per doc) compiled to a parquet
        count-star (0.4 CPU-s at sf1 where the real computation is
        28.9), and d24's entire scrub pipeline behind its checkpoints
        was join-eliminated (2.0 vs 70.4 CPU-s). The noop sink computes
        EVERY output column with zero driver transfer and no disk —
        what a real deployment pays. (Round-14 find; bench numbers
        before this are comparable only for aggregate-shaped queries.)"""
        df.write.format("noop").mode("overwrite").save()

    if not os.environ.get("SPARK_GRAFT_NO_WARM"):
        warm_dir = os.environ.get("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
        t0 = time.time()
        for name in headline:
            run(registry.QUERIES[name](spark, warm_dir))
        print(f"# warmup pass ({warm_dir}): {round(time.time() - t0, 1)}s", file=sys.stderr)

    # min-of-N (default 3): with the shape-warmup removing codegen cost,
    # the min isolates residual run-to-run noise (GC, page cache, host
    # contention — observed swinging identical code 13.0s↔15.6s) so
    # round-over-round deltas are pure code signal.
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    times: dict[str, float] = {}
    cpu: dict[str, float] = {}
    cpu_med: dict[str, float] = {}
    cpu_src: dict[str, str] = {}
    compiles: dict[str, int] = {}
    # adaptive top-up (r15: m2's CPU column rested on a single clean rep,
    # clean-1/3): when steal-gating leaves fewer than 2 clean reps, run up
    # to this many EXTRA reps — bounded, same pattern as the sf1 probes'
    # `tries` — so no BENCH row rests on one rep just because a
    # contention episode straddled the initial three
    max_extra = max(0, int(os.environ.get("SPARK_GRAFT_BENCH_EXTRA_REPS", "3")))
    for name in headline:
        fn = registry.QUERIES[name]
        rep_times: list[tuple[float, float, float]] = []  # (wall, cpu, steal%)
        n = fn(spark, sf_dir).count()  # row count for the log line, UNTIMED
        if not os.environ.get("SPARK_GRAFT_NO_WARM"):
            # target-SF warm pass (r16): the sf0.001 warmup compiles the
            # INITIAL plan shapes, but AQE's final per-stage plans (and
            # their codegen + JIT) depend on runtime partition sizes, so
            # the first target-SF rep still paid compiler cost (d4: 17.3s
            # first rep vs 3.1s settled, steal-clean — pure JIT, and it
            # skewed the cpu-median column). One untimed noop run at the
            # target SF warms the scale-dependent shapes; timed reps stay
            # cache-cold (one_rep still clears cache + unpersists first).
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

        def one_rep() -> None:
            # cache-cold reps: a query's .cache() is intra-query design
            # (two consumers, one materialization); CROSS-rep/cross-query
            # reuse made readings depend on rep order and storage-memory
            # pressure (m2 read 3.7 CPU-s alone but 26.9 median inside
            # the full suite when earlier queries' state evicted its
            # entry mid-reps). Every rep pays its own full cost.
            # clearCache only drops SQL-catalog entries; localCheckpoint'd
            # RDD blocks (tfidf_long, minhash_dedup, d24) from the untimed
            # pre-pass and earlier reps stay persisted until ContextCleaner
            # GC, so ALSO unpersist every lingering RDD — otherwise later
            # reps of checkpoint-heavy queries see storage-memory pressure
            # and eviction noise (r14 ADVICE). unpersist must be BLOCKING:
            # the default async removal runs INSIDE the next timed window
            # (measured r15: +2s wall / +3 CPU-s on the headline suite —
            # the cleanup meant to remove noise was injecting it).
            spark.catalog.clearCache()
            try:
                for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
                    jrdd.unpersist(True)
            except Exception:
                pass  # best-effort: a failed unpersist must never kill a rep
            rep_stat0 = read_proc_stat()
            c0 = proc_tree_cpu_s()
            t0 = time.time()
            df = fn(spark, sf_dir)
            run(df)  # noop sink: every column computed, nothing shipped
            c1 = proc_tree_cpu_s()
            rep_steal = steal_pct(rep_stat0, read_proc_stat())
            # keep the -1.0 'unavailable' sentinel intact: a failed sample
            # must not masquerade as 0.0 CPU seconds. A negative DELTA is
            # also a failed sample, not data: if an intermediate process
            # exits between c0 and c1 its children reparent to PID 1 and
            # leave the tree, so c1-c0 can go negative on a valid host.
            delta = round(c1 - c0, 3)
            cpu_rep = delta if (c0 >= 0 and c1 >= 0 and delta >= 0) else -1.0
            rep_times.append((round(time.time() - t0, 3), cpu_rep, rep_steal))

        compiles0 = codegen_compiles(spark)
        for _ in range(reps):
            one_rep()
        # top up ONLY when steal sampling works at all (on a host with no
        # /proc/stat every rep is nosteal and extra reps can't help) and
        # the clean pool is starved
        def clean_count() -> int:
            return sum(
                1 for _, c, s in rep_times if c >= 0 and 0 <= s < REP_STEAL_GATE
            )

        extra = 0
        while (
            extra < max_extra
            and any(s >= 0 for _, _, s in rep_times)
            and clean_count() < min(2, reps)
        ):
            extra += 1
            print(f"# {name}: clean reps {clean_count()} < 2, extra rep {extra}",
                  file=sys.stderr)
            one_rep()
        # Janino compiles (generated-class cache misses) over the timed
        # reps: near 0 when the warm passes left every shape compiled
        compiles[name] = codegen_compiles(spark) - compiles0
        # per-rep steal gating: CPU stats prefer reps whose own window
        # was quiet (see pick_cpu_stats); min wall stays over all reps
        times[name], cpu[name], cpu_med[name], src = pick_cpu_stats(rep_times)
        cpu_src[name] = src
        print(
            f"# {name}: {times[name]}s wall / {cpu[name]}s cpu "
            f"/ {cpu_med[name]}s cpu-median [{src}] ({n} rows; reps {rep_times})",
            file=sys.stderr,
        )

    total = round(sum(times.values()), 3)
    # a single sentinel per-query value must poison the total visibly
    # (-1.0), not silently drag it negative-by-N or understate it
    total_cpu = (
        -1.0 if any(c < 0 for c in cpu.values()) else round(sum(cpu.values()), 3)
    )
    total_cpu_med = (
        -1.0
        if any(c < 0 for c in cpu_med.values())
        else round(sum(cpu_med.values()), 3)
    )
    steal = steal_pct(stat_before, read_proc_stat())
    print(
        json.dumps(
            {
                "metric": metric,
                "value": total,
                "unit": "sec",
                "queries": times,
                "cpu_s": cpu,
                "cpu_median_s": cpu_med,
                # which reps fed each query's CPU stats: "clean-k/n"
                # (steal-gated) or "all-k/n" (no quiet rep available —
                # read that query's CPU with suspicion)
                "cpu_rep_source": cpu_src,
                "codegen_compiles": compiles,
                "total_cpu_s": total_cpu,
                "total_cpu_median_s": total_cpu_med,
                "sf": sf,
                # echo the effective parallelism contract (r16 VERDICT):
                # the scaling ratios at tiny SFs read ~1 for queries that
                # are not core-bound there, and without these fields the
                # artifact cannot prove $SPARK_GRAFT_CPUS was honored
                "cpus": int(cpus),
                "default_parallelism": spark.sparkContext.defaultParallelism,
                "host_load": round(load1, 3),
                "steal_pct": steal,
                # host-speed canary (see host_canary_s): raw seconds for a
                # pinned single-thread CPU microbenchmark on THIS boot,
                # plus canary-normalized suite statistics — the
                # cross-round comparables (r15: two rounds of apparent
                # regressions were boot speed, proven by same-host A/Bs)
                "canary_s": canary_s,
                "value_per_canary": per_canary(total, canary_s),
                "cpu_median_per_canary": per_canary(total_cpu_med, canary_s),
                # loadavg can't see co-tenant pressure on a virtualized
                # host; >2% of all cpu time stolen across the suite makes
                # wall/CPU deltas environment, not code
                "contended": contended or steal > 2.0,
            }
        )
    )


if __name__ == "__main__":
    main()
