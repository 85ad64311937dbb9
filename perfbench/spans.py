"""Driver-side spans around the engine's layer functions.

A :class:`Tracer` wraps every public function of each layer module (see
:data:`LAYERS`). Each call becomes a span with a name, start, end, parent
and run id. While a span is open it owns a unique Spark job group, so the
jobs it launches can be counted per span; on exit the parent's group is
restored. Side threads started with ``InheritableThread`` (or
``inheritable_thread_target``) inherit the group and the open span as
local properties, so their spans get the right parent.

Lazy operators only build a plan, so their spans measure driver-side plan
building; the executor work lands in the eager span that runs it.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import itertools
import json
import sys
import threading
import time
from dataclasses import asdict, dataclass

PKG = "ml_training_data_pipeline_spark"
# layer name -> module (relative to the package); "plans" has no module of
# its own: the benchmark opens a "plans" span around each query call and
# its sink action
LAYERS = {
    "session": "session",
    "io.sources": "io.sources",
    "operators.pos_keywords": "operators.pos_keywords",
    "operators.tfidf": "operators.tfidf",
    "operators.vectorize": "operators.vectorize",
    "operators.cluster": "operators.cluster",
    "operators.refine": "operators.refine",
    "operators.coherence": "operators.coherence",
    "operators.materialize": "operators.materialize",
    "operators.dedup": "operators.dedup",
    "operators.similarity": "operators.similarity",
}
ALL_LAYERS = (*LAYERS, "plans")

GROUP_PROP = "spark.jobGroup.id"
SPAN_PROP = "perfbench.span"
# dedup functions whose result frames a run keeps: the LSH candidate pairs
# and the verified near-duplicate pairs, counted after the run
DEDUP_FRAMES = ("lsh_candidate_pairs", "minhash_dedup")
# the layer self times must cover the traced run's wall time to within this
# share (trace.unattributed_share); the loop between queries is all they miss
SELF_SUM_TOLERANCE = 0.01


@dataclass
class Span:
    id: int
    name: str  # "<layer>:<function>"
    layer: str
    parent: int | None
    run: str
    start: float
    end: float = 0.0
    thread: str = ""

    @property
    def group(self) -> str:
        return f"perfbench-{self.id}"


class Tracer:
    """Records spans in memory; :meth:`write` saves them at the end.

    ``run`` is the current run id; spans are recorded only while it is
    set, so untimed passes can call the wrapped functions without adding
    spans. :meth:`begin` starts a run and resets what the wrappers keep of
    it for counts taken afterwards: the K-means iterations of each
    ``operators.cluster`` fit, and the frames the dedup functions in
    :data:`DEDUP_FRAMES` return."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.run: str | None = None
        self.sc = None  # SparkContext, once the session exists
        self.kmeans_iterations = 0
        self.frames: dict[str, list] = {n: [] for n in DEDUP_FRAMES}
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def begin(self, run: str) -> None:
        self.run = run
        self.kmeans_iterations = 0
        self.frames = {n: [] for n in DEDUP_FRAMES}

    # -- installing --------------------------------------------------------

    def install(self) -> int:
        """Wrap every public function of every layer module, on the defining
        module and on each loaded package module that imported it by name.
        Returns the number of functions wrapped."""
        wrapped: dict[int, object] = {}
        for layer, rel in LAYERS.items():
            mod = importlib.import_module(f"{PKG}.{rel}")
            for name, fn in list(vars(mod).items()):
                if name.startswith("_") or not inspect.isfunction(fn):
                    continue
                if fn.__module__ != mod.__name__:
                    continue  # imported from elsewhere: wrapped at its home
                wrapped[id(fn)] = self._wrap(layer, fn)
        for modname, mod in list(sys.modules.items()):
            if mod is None or not (modname == PKG or modname.startswith(PKG + ".")):
                continue
            for name, obj in list(vars(mod).items()):
                w = wrapped.get(id(obj))
                if w is not None:
                    setattr(mod, name, w)
        return len(wrapped)

    def _wrap(self, layer: str, fn):
        tracer = self
        label = f"{layer}:{fn.__name__}"

        # functools.wraps keeps __module__/__qualname__, so cloudpickle still
        # ships the function to executors by reference (to the original)
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if tracer.run is None:
                return fn(*args, **kwargs)
            with tracer.span(label, layer):
                out = fn(*args, **kwargs)
            if layer == "operators.cluster":
                model = getattr(out, "model", None)  # a ClusterResult
                if model is not None and model.hasSummary:
                    with tracer._lock:  # fits may run on side threads
                        tracer.kmeans_iterations += model.summary.numIter
            elif layer == "operators.dedup" and fn.__name__ in DEDUP_FRAMES:
                tracer.frames[fn.__name__].append(out)
            return out

        return wrapper

    # -- spans -------------------------------------------------------------

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str, layer: str) -> "_SpanCtx":
        return _SpanCtx(self, name, layer)

    def _enter(self, name: str, layer: str) -> tuple[Span, str | None, str | None]:
        stack = self._stack()
        sc = self.sc
        prev_group = prev_span = None
        if sc is not None:
            prev_group = sc.getLocalProperty(GROUP_PROP)
            prev_span = sc.getLocalProperty(SPAN_PROP)
        if stack:
            parent = stack[-1].id
        else:  # first span on a side thread: parent comes from the creator
            parent = int(prev_span) if prev_span else None
        s = Span(
            id=next(self._ids),
            name=name,
            layer=layer,
            parent=parent,
            run=self.run or "",
            start=time.perf_counter(),
            thread=threading.current_thread().name,
        )
        stack.append(s)
        if sc is not None:
            sc.setLocalProperty(GROUP_PROP, s.group)
            sc.setLocalProperty(SPAN_PROP, str(s.id))
        return s, prev_group, prev_span

    def _exit(self, s: Span, prev_group: str | None, prev_span: str | None) -> None:
        s.end = time.perf_counter()
        self._stack().pop()
        if self.sc is not None:
            self.sc.setLocalProperty(GROUP_PROP, prev_group)
            self.sc.setLocalProperty(SPAN_PROP, prev_span)
        with self._lock:
            self.spans.append(s)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s.start):
                fh.write(json.dumps(asdict(s)) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, layer: str) -> None:
        self.tracer, self.name, self.layer = tracer, name, layer

    def __enter__(self) -> Span:
        self.span, *self.prev = self.tracer._enter(self.name, self.layer)
        return self.span

    def __exit__(self, *exc) -> None:
        self.tracer._exit(self.span, *self.prev)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time of each span: its duration minus the time its child spans
    cover. Where spans on different threads overlap, the overlapped time
    is split evenly between the innermost open spans, so the self times
    of a trace always sum to the time covered by its spans (the union of
    their intervals).

    A sweep over span boundaries: between two consecutive boundaries, the
    open spans that have no open child each get an equal share."""
    by_id = {s.id: s for s in spans}
    timed = [s for s in spans if s.end > s.start]  # empty spans own no time
    events = sorted(
        [(s.start, 1, s.id) for s in timed] + [(s.end, 0, s.id) for s in timed]
    )  # ends (0) before starts (1) at equal times
    open_children: dict[int, int] = {}
    leaves: set[int] = set()
    out = {s.id: 0.0 for s in spans}
    last = events[0][0] if events else 0.0
    for t, is_start, sid in events:
        if leaves and t > last:
            share = (t - last) / len(leaves)
            for leaf in leaves:
                out[leaf] += share
        last = t
        parent = by_id[sid].parent
        parent_open = parent in open_children
        if is_start:
            open_children[sid] = 0
            leaves.add(sid)
            if parent_open:
                open_children[parent] += 1
                leaves.discard(parent)
        else:
            leaves.discard(sid)
            del open_children[sid]
            if parent_open:
                open_children[parent] -= 1
                if open_children[parent] == 0:
                    leaves.add(parent)
    return out


LAYER_METRICS = (
    "calls",
    "self_s",
    "jobs",
    "stages",
    "single_task_stages",
    "exec_cpu_s",
    "shuffle_write_mb",
    "failed_tasks",
)


def fold_layers(
    spans: list[Span], jobs: dict[int, int], stats: dict, wall: float
) -> dict[str, float]:
    """Per-layer metrics of one traced run, named ``<layer>.<metric>``.

    ``jobs`` maps span id to the jobs its group launched (status tracker);
    ``stats`` maps job group to executor counters (``eventlog.fold``);
    ``wall`` is the traced run's wall time. ``session`` is folded from the
    ``setup`` run, where the session starts; every other layer from the
    ``traced`` run. Whole-run totals are ``trace.*``."""
    out: dict[str, float] = {f"{l}.{m}": 0 for l in ALL_LAYERS for m in LAYER_METRICS}
    traced = [s for s in spans if s.run == "traced"]
    for sel in ([s for s in spans if s.run == "setup" and s.layer == "session"], traced):
        own = self_times(sel)
        for s in sel:
            p = s.layer + "."
            out[p + "calls"] += 1
            out[p + "self_s"] += own[s.id]
            out[p + "jobs"] += jobs.get(s.id, 0)
            g = stats.get(s.group)
            if g is not None:
                out[p + "stages"] += g.stages
                out[p + "single_task_stages"] += g.single_task_stages
                out[p + "exec_cpu_s"] += g.exec_cpu_s
                out[p + "shuffle_write_mb"] += g.shuffle_write_bytes / 2**20
                out[p + "failed_tasks"] += g.failed_tasks
    groups = [stats[s.group] for s in traced if s.group in stats]
    self_sum = sum(out[f"{l}.self_s"] for l in ALL_LAYERS if l != "session")
    out["trace.self_sum_s"] = self_sum
    # the share of the run's wall time no span accounts for: the loop's own
    # time between queries, or time the tracer lost
    out["trace.unattributed_share"] = 1 - self_sum / wall if wall else 0.0
    out["trace.jobs"] = sum(jobs.get(s.id, 0) for s in traced)
    out["trace.stages"] = sum(g.stages for g in groups)
    out["trace.single_task_stages"] = sum(g.single_task_stages for g in groups)
    out["trace.exec_cpu_s"] = sum(g.exec_cpu_s for g in groups)
    out["trace.spill_mb"] = sum(g.spill_bytes for g in groups) / 2**20
    out["plans.effective_cores"] = sum(g.exec_run_s for g in groups) / wall if wall else 0.0
    return out
