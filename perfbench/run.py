"""Pipeline benchmark: the engine's registered pipelines on seeded inputs.

Run from the root of a checkout::

    python3 perfbench/run.py --workload build_models --seed 1 --seconds 20 --trace 0

It generates the workload's inputs from the seed (kept under
``.perfbench/`` in the checkout), computes oracle results once per input
set, and starts one worker process (``worker.py``) that owns a fresh
``local[N]`` Spark session, N = the host's cores. The load is a closed
loop: one pipeline at a time, back to back, each run cache-cold. The last
line of output is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics``.

``--trace 0`` reports the end-to-end metrics of the timed runs, and keeps
each run's wall time and peak memory under ``.perfbench/untraced/``.
``--trace 1`` starts a traced worker instead (layer functions wrapped,
Spark event log on): after the warm run it runs the workload traced once
and reports the per-layer metrics. Its tracing overhead is the traced
run's wall time minus the median ``wall_s`` of the untraced runs kept so
far in the checkout; when there are none, it first makes one untraced
run itself.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
PKG = "ml_training_data_pipeline_spark"
# pinned so runs compare across hosts and commits: the engine's 48g driver
# default exceeds a 15 GB host, and memory settings move peak RSS
DRIVER_MEM = "2g"
RUN_LIMIT_S = 170  # a run must end within 180 s
PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 2**20


def cores() -> int:
    return len(os.sched_getaffinity(0))


def process_tree(root: int) -> dict[int, int]:
    """Resident pages of ``root`` and each of its live descendants, by pid.
    (``bench.proc_tree_cpu_s`` sums CPU over the same tree, but only from
    its own process and with no memory.)"""
    children: dict[int, list[int]] = defaultdict(list)
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                parts = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while we looked
        children[int(parts[1])].append(int(name))
        rss[int(name)] = int(parts[21])  # field 24: rss in pages
    tree, stack = {}, [root]
    while stack:
        pid = stack.pop()
        tree[pid] = rss.get(pid, 0)
        stack.extend(children.get(pid, ()))
    return tree


def running(pid: int) -> bool:
    """Whether ``pid`` still runs; a zombie has ended."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_all(pids: set[int], grace_s: float = 10.0) -> None:
    """Wait for every process of the worker's tree to end; kill those left
    after ``grace_s`` (the JVM and the Python workers, whose daemon runs in
    a process group of its own, exit once the worker process does)."""
    deadline = time.time() + grace_s
    while any(running(p) for p in pids) and time.time() < deadline:
        time.sleep(0.1)
    for pid in pids:
        if running(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    while any(running(p) for p in pids):
        time.sleep(0.1)


def prepare_inputs(workload: str, seed: int) -> tuple[str, dict]:
    """The workload's input set for ``seed``: generated once, kept under
    .perfbench/inputs, oracle results beside it."""
    import gen
    import workloads

    wl = workloads.WORKLOADS[workload]
    d = os.path.join(STATE, "inputs", f"{wl.docs}d-{wl.vecs}v-s{seed}")
    if not os.path.exists(os.path.join(d, "inputs.json")):
        gen.write_inputs(d, seed, wl.docs, wl.vecs)
    workloads.compute_oracles(wl, d, cores())
    with open(os.path.join(d, "inputs.json")) as fh:
        return d, json.load(fh)


def run_worker(cfg: dict, deadline: float) -> dict:
    """Start worker.py with a pinned environment, sample its process
    tree's RSS until it ends, and return its result (plus ``spawn`` time
    and ``rss`` samples)."""
    work = os.path.join(STATE, "work", cfg["tag"])
    shutil.rmtree(work, ignore_errors=True)  # the previous run's files
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cfg.update(root=ROOT, result=os.path.join(work, "result.json"))
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    n = str(cores())
    env.update(
        SPARK_GRAFT_CPUS=n,
        SPARK_GRAFT_SHUFFLE=n,
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
    )
    confs = [
        "spark.ui.showConsoleProgress=false",
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}",
    ]
    if cfg["trace"]:
        logs = os.path.join(work, "eventlog")
        os.makedirs(logs)
        cfg.update(eventlog_dir=logs, spans=os.path.join(work, "spans.jsonl"))
        confs += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{logs}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(c)}" for c in confs
    ) + " pyspark-shell"
    cfg_path = os.path.join(work, "config.json")
    with open(cfg_path, "w") as fh:
        json.dump(cfg, fh)
    samples: list[tuple[float, float]] = []
    seen: set[int] = set()
    spawn = time.time()
    with open(os.path.join(work, "worker.log"), "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
            cwd=work,
            env=env,
            stdout=log,
            stderr=subprocess.STDOUT,
        )
        seen.add(proc.pid)
        try:
            while proc.poll() is None:
                if time.time() > deadline:
                    proc.kill()
                    break
                tree = process_tree(proc.pid)
                seen.update(tree)
                samples.append((time.time(), sum(tree.values()) * PAGE_MB))
                time.sleep(0.2)
            proc.wait()
        finally:
            stop_all(seen)
    if proc.returncode != 0 or not os.path.exists(cfg["result"]):
        with open(os.path.join(work, "worker.log")) as fh:
            tail = fh.read()[-3000:]
        raise RuntimeError(f"worker exited with {proc.returncode}:\n{tail}")
    with open(cfg["result"]) as fh:
        res = json.load(fh)
    res.update(spawn=spawn, rss=samples)
    return res


def peak_rss_mb(res: dict, reps: list[dict]) -> float:
    """Peak resident memory of the worker's process tree during ``reps``."""
    return max(
        (mb for t, mb in res["rss"] if any(r["t0"] <= t <= r["t1"] for r in reps)),
        default=-1.0,
    )


def end_to_end(res: dict) -> dict[str, float]:
    """Medians over the timed reps that passed their check."""
    reps = res["reps"]
    ok = [r for r in reps if r["ok"]] or reps
    cpu = [r["cpu_s"] for r in ok if r["cpu_s"] is not None]
    return {
        "wall_s": statistics.median(r["wall_s"] for r in ok),
        "cpu_s": statistics.median(cpu) if cpu else -1.0,
        "setup_s": res["setup_end"] - res["spawn"],
        "peak_rss_mb": peak_rss_mb(res, reps),  # reported by the traced run
    }


def untraced_log(workload: str) -> str:
    return os.path.join(STATE, "untraced", f"{workload}.jsonl")


def untraced_run(cfg: dict, deadline: float) -> dict:
    """One untraced worker; its figures are added to the workload's log."""
    res = run_worker({**cfg, "trace": 0, "tag": f"{cfg['workload']}-trace0"}, deadline)
    m = end_to_end(res)
    entry = {
        "seed": cfg["seed"],
        "wall_s": m["wall_s"],
        "peak_rss_mb": m["peak_rss_mb"],
        "attempted": len(res["reps"]),
        "failed": sum(not r["ok"] for r in res["reps"]),
    }
    os.makedirs(os.path.dirname(untraced_log(cfg["workload"])), exist_ok=True)
    with open(untraced_log(cfg["workload"]), "a") as fh:
        fh.write(json.dumps(entry) + "\n")
    res["metrics"] = m
    return res


def read_untraced(workload: str) -> list[dict]:
    try:
        with open(untraced_log(workload)) as fh:
            return [json.loads(line) for line in fh]
    except FileNotFoundError:
        return []


def traced(res: dict, untraced: list[dict]) -> dict[str, float]:
    """The traced worker's per-layer metrics plus the run-level extras.
    ``untraced`` holds the figures of the workload's untraced runs."""
    [rep] = res["reps"]
    out = dict(res["layers"])
    out["trace.rep_wall_s"] = rep["wall_s"]
    out["trace.overhead_s"] = rep["wall_s"] - statistics.median(u["wall_s"] for u in untraced)
    out["peak_rss_mb"] = statistics.median(u["peak_rss_mb"] for u in untraced)
    failed = sum(u["failed"] for u in untraced) + (not rep["ok"])
    out["failed_share"] = failed / (sum(u["attempted"] for u in untraced) + 1)
    return out


def declared_metrics(trace: int) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them for the mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Pipeline benchmark (see module docstring).")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    t_start = time.time()
    if not (os.path.isfile(os.path.join(ROOT, "bench.py")) and os.path.isdir(os.path.join(ROOT, PKG))):
        print(f"error: run from a checkout of the repo; {PKG}/ and bench.py not found in {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import workloads

    if a.workload not in workloads.WORKLOADS:
        print(f"error: unknown workload {a.workload!r}; have {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    import bench  # the repo's harness: host load and speed probes
    import spans

    declared = declared_metrics(a.trace)
    input_dir, props = prepare_inputs(a.workload, a.seed)
    print(f"# inputs {json.dumps(props, sort_keys=True)}", file=sys.stderr)
    # pre-existing load, sampled before Spark starts; never waits
    load, contended = bench.sample_load(max_wait_s=0)
    host = {"host.load": load, "host.canary_s": bench.host_canary_s() if a.trace else -1.0}
    print(f"# host {json.dumps({**host, 'contended': contended})}", file=sys.stderr)
    deadline = t_start + RUN_LIMIT_S
    cfg = {"workload": a.workload, "seed": a.seed, "input_dir": input_dir, "seconds": a.seconds}
    if a.trace:
        runs = [] if read_untraced(a.workload) else [untraced_run(cfg, deadline)]
        runs.append(run_worker({**cfg, "trace": 1, "tag": f"{a.workload}-trace1"}, deadline))
        metrics = {**traced(runs[-1], read_untraced(a.workload)), **host}
        gap = metrics["trace.unattributed_share"]
        if abs(gap) > spans.SELF_SUM_TOLERANCE:
            print(
                f"# warning: layer self times miss {gap:.2%} of the traced run's wall time "
                f"(tolerance {spans.SELF_SUM_TOLERANCE:.0%})",
                file=sys.stderr,
            )
    else:
        runs = [untraced_run(cfg, deadline)]
        metrics = runs[0]["metrics"]
    res = runs[-1]
    reps = [r for run in runs for r in run["reps"]]
    missing = sorted(set(declared) - set(metrics))
    if missing:
        raise RuntimeError(f"metrics declared in BENCHMARK.json but not measured: {missing}")
    for r in reps:
        if not r["ok"]:
            print(f"# failed rep: {r.get('error', '')[-2000:]}", file=sys.stderr)
    failed = sum(not r["ok"] for r in reps)
    out = {
        "correct": failed == 0,
        "attempted": len(reps),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in declared.items()},
    }
    walls = [(round(r["wall_s"], 3), r["steal_pct"]) for r in reps]
    print(f"# rep (wall s, steal %): {json.dumps(walls)}", file=sys.stderr)
    print(f"# measured {json.dumps(metrics, sort_keys=True)}", file=sys.stderr)
    marks = {k: round(t - res["spawn"], 2) for k, t in res["marks"].items()}
    print(f"# worker phases, s after spawn: {json.dumps(marks)}", file=sys.stderr)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
