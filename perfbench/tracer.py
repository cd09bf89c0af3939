"""Outside-in tracer for the traced benchmark run.

Nothing here edits the library.  Spans come from wrappers installed at
the module attributes where each layer's callers look its public
functions up: ``run_wcc`` finds ``triangles`` in ``refinement``'s
namespace, ``prepare`` finds ``run_wcc`` and ``community_adjacency``
in ``incremental``'s, and ``dedup_groups`` finds
``connected_components`` in ``components``', so those are the
attributes wrapped.  Every span sets
a Spark job group on entry and restores the parent's on exit, so
Spark's event log (enabled through a benchmark-owned ``SPARK_CONF_DIR``,
never through ``session.py``) attributes each job, task and shuffle
byte to the span that was innermost when the job was submitted.

Landings are counted with a ``Materializer`` subclass that the
benchmark passes as ``mat=`` (and that the wrappers pass to the two
functions that a layer calls without one: ``prepare`` calls ``run_wcc``
and ``dedup_groups`` calls ``connected_components`` that way).  A
landing is a span too, but a transparent one: the lazy plan it executes
was built by the enclosing layer, so its jobs and time are charged to
that layer, and the ``iteration`` layer is an overlay that counts them
a second time.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import itertools
import json
import os
import time
from dataclasses import dataclass, field

from community_detection_flink_spark.plans.iteration import Materializer

GROUP_PREFIX = "perfbench-"
_GROUP_KEYS = ("spark.jobGroup.id", "spark.job.description")


def _rounds(args, kwargs, out) -> dict:
    return {"rounds": out[4]}


def _state_bytes(args, kwargs, out) -> dict:
    path = args[1] if len(args) > 1 else kwargs["path"]
    return {"bytes": dir_bytes(path)}


# (module, attribute, layer, inject_mat, attrs): inject_mat marks the one
# function that a layer calls without ``mat=``, so that it would build
# its own Materializer; passing a fresh traced one instead changes
# nothing but the class.  ``attrs`` adds figures read off the call's
# result to its span.
_PKG = "community_detection_flink_spark"
_REF = f"{_PKG}.operators.refinement"
_INC = f"{_PKG}.operators.incremental"
WRAP_POINTS = [
    (_PKG, "co_purchase_edges", "sources", False, None),
    (_REF, "triangles", "triangles", False, None),
    (_REF, "preprocess", "preprocess", False, None),
    (_REF, "initial_partition", "partition", False, None),
    (_REF, "refine_partition", "refinement", False, _rounds),
    (_INC, "prepare", "pipeline", False, None),
    (_INC, "run_wcc", "pipeline", True, None),
    (_REF, "best_movement", "community", False, None),
    (_REF, "community_adjacency", "community", False, None),
    (_REF, "community_stats", "community", False, None),
    (_REF, "global_wcc", "community", False, None),
    (_INC, "community_adjacency", "community", False, None),
    (_INC, "wccv_by_community", "community", False, None),
    (_INC, "save_state", "incremental.state", False, _state_bytes),
    (_INC, "load_state", "incremental.state", False, None),
    (f"{_PKG}.operators.dedup", "minhash_lsh_pairs", "dedup", False, None),
    (_PKG, "dedup_groups", "components", False, None),
    (f"{_PKG}.operators.components", "connected_components", "components", True, None),
]

LAYERS = [
    "sources",
    "triangles",
    "preprocess",
    "partition",
    "refinement",
    "pipeline",
    "community",
    "incremental.state",
    "dedup",
    "components",
    "iteration",
]
LAYER_FIELDS = ["calls", "self_s", "jobs", "tasks", "task_s", "shuffle_mb"]
SPARK_FIELDS = ["jobs", "tasks", "task_s", "shuffle_mb", "failed_tasks", "driver_gap_s"]


def per_layer_names() -> list[str]:
    """Every per-layer metric name, in report order."""
    names = [f"{layer}.{f}" for layer in LAYERS for f in LAYER_FIELDS]
    names += [
        "refinement.rounds",
        "refinement.jobs_per_round",
        "incremental.state.bytes_mb",
        "iteration.landings",
        "iteration.light_landings",
        "iteration.landed_mb",
    ]
    names += [f"spark.{f}" for f in SPARK_FIELDS]
    names += ["trace.wall_s", "trace.overhead_s", "trace.unspanned_s"]
    return names


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


@dataclass
class Span:
    sid: int
    layer: str
    name: str
    parent: int | None
    start: float  # epoch seconds, comparable with the event log's
    end: float = 0.0
    landing: bool = False  # transparent: charged to the enclosing layer
    counted: bool = True  # False for output materialization spans
    attrs: dict = field(default_factory=dict)


class TracingMaterializer(Materializer):
    """``Materializer`` that records each landing as a transparent span."""

    tracer: "Tracer"

    def __call__(self, df, name="state", light=False):
        tr = self.tracer
        with tr.span("iteration", name, landing=True) as sp:
            out = super().__call__(df, name, light)
            t0 = time.perf_counter()
            path = self._by_df.get(id(out), (None, None))[1]
            sp.attrs["light"] = path is None
            sp.attrs["bytes"] = dir_bytes(path) if path else 0
            tr.overhead += time.perf_counter() - t0
        return out


class Tracer:
    """Span recorder.  ``install()`` wraps the layer entry points;
    ``uninstall()`` restores the originals.  Spans are kept in memory
    and written to a JSON-lines file by ``dump``."""

    def __init__(self, spark, work_dir: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.work_dir = work_dir
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.ids = itertools.count(1)
        self.mats = itertools.count(1)
        self.overhead = 0.0  # seconds of tracer bookkeeping
        self._saved: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, layer, name, landing=False, counted=True):
        """Record a span; jobs submitted inside it carry its job group."""
        t0 = time.perf_counter()
        parent = self.stack[-1].sid if self.stack else None
        sp = Span(next(self.ids), layer, name, parent, 0.0, landing=landing, counted=counted)
        self.spans.append(sp)
        self.stack.append(sp)
        prev = [self.sc.getLocalProperty(k) for k in _GROUP_KEYS]
        self.sc.setLocalProperty(_GROUP_KEYS[0], f"{GROUP_PREFIX}{sp.sid}")
        self.sc.setLocalProperty(_GROUP_KEYS[1], f"{layer}:{name}")
        self.overhead += time.perf_counter() - t0
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            t0 = time.perf_counter()
            self.stack.pop()
            for k, v in zip(_GROUP_KEYS, prev):
                self.sc.setLocalProperty(k, v)
            self.overhead += time.perf_counter() - t0

    def new_mat(self) -> TracingMaterializer:
        m = TracingMaterializer(
            self.spark, base_dir=os.path.join(self.work_dir, f"mat-{next(self.mats)}")
        )
        m.tracer = self
        return m

    # -- wrapping ------------------------------------------------------
    def install(self) -> None:
        for mod_name, attr, layer, inject, attrs in WRAP_POINTS:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            self._saved.append((mod, attr, orig))
            setattr(mod, attr, self._wrap(orig, layer, inject, attrs))

    def uninstall(self) -> None:
        for mod, attr, orig in reversed(self._saved):
            setattr(mod, attr, orig)
        self._saved.clear()

    def _wrap(self, fn, layer, inject, attrs):
        sig = inspect.signature(fn)
        mat_pos = list(sig.parameters).index("mat") if inject else None
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if (
                inject
                and kwargs.get("mat") is None
                and (len(args) <= mat_pos or args[mat_pos] is None)
            ):
                kwargs["mat"] = tracer.new_mat()
            with tracer.span(layer, fn.__name__) as sp:
                out = fn(*args, **kwargs)
                if attrs is not None:
                    t0 = time.perf_counter()
                    sp.attrs.update(attrs(args, kwargs, out))
                    tracer.overhead += time.perf_counter() - t0
                return out

        return wrapper

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(sp.__dict__) + "\n")


# -- event log ---------------------------------------------------------
@dataclass
class Job:
    jid: int
    group: str | None
    submit: float
    end: float = 0.0
    tasks: int = 0
    task_s: float = 0.0
    shuffle_mb: float = 0.0
    failed_tasks: int = 0


def read_event_log(log_dir: str) -> list[Job]:
    """Jobs with their task totals from the (single) event log in
    ``log_dir``; tasks are charged to the job that ran their stage."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    with open(os.path.join(log_dir, names[0])) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = Job(ev["Job ID"], props.get("spark.jobGroup.id"),
                          ev["Submission Time"] / 1000.0)
                jobs[job.jid] = job
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, job.jid)
            elif kind == "SparkListenerJobEnd":
                job = jobs[ev["Job ID"]]
                job.end = max(job.submit, ev["Completion Time"] / 1000.0)
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                if jid is None:
                    continue
                job = jobs[jid]
                job.tasks += 1
                info = ev.get("Task Info") or {}
                if info.get("Failed"):
                    job.failed_tasks += 1
                m = ev.get("Task Metrics") or {}
                job.task_s += m.get("Executor Run Time", 0) / 1000.0
                sw = m.get("Shuffle Write Metrics") or {}
                job.shuffle_mb += sw.get("Shuffle Bytes Written", 0) / 1e6
    return sorted(jobs.values(), key=lambda j: j.jid)


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def aggregate(
    spans: list[Span],
    jobs: list[Job],
    windows: list[tuple[float, float]],
    n_reps: int,
    overhead_s: float,
) -> dict:
    """Per-layer metrics as a mean over the ``n_reps`` measured reps.
    ``windows`` are the (start, end) epoch stretches the reps timed;
    spans are only recorded inside them.  ``overhead_s`` is the tracer's
    own bookkeeping time summed over the reps."""
    by_id = {sp.sid: sp for sp in spans}
    n_reps = max(1, n_reps)
    w = 1.0 / n_reps

    def layer_span(sp: Span | None) -> Span | None:
        while sp is not None and sp.landing:
            sp = by_id.get(sp.parent)
        return sp

    def span_at(t: float) -> Span | None:
        best = None
        for sp in spans:
            if sp.start <= t <= sp.end and (best is None or sp.start >= best.start):
                best = sp
        return best

    out = {n: 0.0 for n in per_layer_names()}
    # self time: duration minus the layer-span children it covers
    child_time: dict[int, float] = {}
    for sp in spans:
        if sp.landing:
            continue
        owner = layer_span(by_id.get(sp.parent))
        if owner is not None:
            child_time[owner.sid] = child_time.get(owner.sid, 0.0) + (sp.end - sp.start)
    for sp in spans:
        if sp.landing:
            out["iteration.calls"] += w
            out["iteration.self_s"] += w * (sp.end - sp.start)
            out["iteration.landings"] += w
            if sp.attrs.get("light"):
                out["iteration.light_landings"] += w
            out["iteration.landed_mb"] += w * sp.attrs.get("bytes", 0) / 1e6
            continue
        if sp.counted:
            out[f"{sp.layer}.calls"] += w
        out[f"{sp.layer}.self_s"] += w * (sp.end - sp.start - child_time.get(sp.sid, 0.0))
        if sp.layer == "refinement":
            out["refinement.rounds"] += w * sp.attrs.get("rounds", 0)
        if sp.layer == "incremental.state":
            out["incremental.state.bytes_mb"] += w * sp.attrs.get("bytes", 0) / 1e6

    # inclusive jobs per layer (for per-round / per-batch ratios)
    incl_jobs: dict[str, float] = {}
    for job in jobs:
        sp = None
        if job.group and job.group.startswith(GROUP_PREFIX):
            sp = by_id.get(int(job.group[len(GROUP_PREFIX):]))
        if sp is None:
            sp = span_at(job.submit)
        if sp is None:
            continue
        owner = layer_span(sp)
        targets = [] if owner is None else [owner.layer]
        if sp.landing:
            targets.append("iteration")
        for layer in targets:
            out[f"{layer}.jobs"] += w
            out[f"{layer}.tasks"] += w * job.tasks
            out[f"{layer}.task_s"] += w * job.task_s
            out[f"{layer}.shuffle_mb"] += w * job.shuffle_mb
        seen = set()
        anc = owner
        while anc is not None:
            if not anc.landing and anc.layer not in seen:
                seen.add(anc.layer)
                incl_jobs[anc.layer] = incl_jobs.get(anc.layer, 0.0) + w
            anc = by_id.get(anc.parent)

    rounds = out["refinement.rounds"]
    out["refinement.jobs_per_round"] = incl_jobs.get("refinement", 0.0) / rounds if rounds else 0.0

    # session-wide, timed stretches of the measured reps only
    rep_wall = sum(e - s for s, e in windows)
    rep_jobs = [j for j in jobs if any(s <= j.submit <= e for s, e in windows)]
    out["spark.jobs"] = len(rep_jobs) / n_reps
    out["spark.tasks"] = sum(j.tasks for j in rep_jobs) / n_reps
    out["spark.task_s"] = sum(j.task_s for j in rep_jobs) / n_reps
    out["spark.shuffle_mb"] = sum(j.shuffle_mb for j in rep_jobs) / n_reps
    out["spark.failed_tasks"] = sum(j.failed_tasks for j in rep_jobs) / n_reps
    busy = 0.0
    for s, e in windows:
        busy += _union_len(
            [(max(s, j.submit), min(e, j.end)) for j in rep_jobs if j.end > s and j.submit < e]
        )
    out["spark.driver_gap_s"] = (rep_wall - busy) / n_reps
    top = [sp for sp in spans if sp.parent is None]
    out["trace.wall_s"] = rep_wall / n_reps
    out["trace.overhead_s"] = overhead_s / n_reps
    out["trace.unspanned_s"] = (rep_wall - sum(sp.end - sp.start for sp in top)) / n_reps
    return out
