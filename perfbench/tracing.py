"""Traced mode: spans recorded from outside the program, plus Spark's event log.

:func:`install` wraps each layer's public entry points at runtime, before
``load_registry()`` imports the query modules (they bind ``load_table`` and
the kernel functions at import). Each wrapper records a span (name, layer,
start, end, parent, op) and labels the Spark jobs it launches with
``setJobGroup(<span id>)``, so jobs started from prefetch-pool threads are
labelled too. Spans stay in memory and are written out at exit.

:func:`read_event_log` reads Spark's uncompressed event log and charges each
task to the span that labelled its stage (the innermost one open on the
submitting thread). :func:`layer_metrics` turns spans and tasks into the
per-layer metrics of one pass.

Self time is attributed by sweeping the pass: every instant is charged to
the innermost open spans, split evenly when prefetch threads overlap, so
the layers' self times add up to the pass wall.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import json
import sys
import threading
import time
from collections import defaultdict
from pathlib import Path

PKG = "hive_similarity_join_spark"

#: layer -> module whose public functions are that layer's entry points
LAYER_MODULES = {
    "session": f"{PKG}.session",
    "sources": f"{PKG}.sources.loader",
    "plans": f"{PKG}.plans.inspect",
    "cache": f"{PKG}.operators.cache",
    "similarity": f"{PKG}.operators.similarity",
    "dedup": f"{PKG}.operators.dedup",
    "knn": f"{PKG}.operators.knn",
    "ivf": f"{PKG}.operators.ivf",
}
#: entry points wrapped per layer; ``None`` means every public function
#: defined in the module except Column/SQL-string helpers
ENTRY_POINTS = {
    "session": ("get_spark",),
    "sources": ("load_table",),
    "plans": ("explain_str",),
    "cache": ("session_ckpt", "session_state"),
}
NOT_ENTRY_POINTS = {"tokenize", "bucket_expr", "parallelism", "ranked_by"}

#: extra per-layer metrics the run adds to :func:`layer_metrics`'s
RUN_METRICS = ("session.start_s", "trace.overhead_s")

#: layers a pass's wall is attributed to ("bench" is the harness itself)
LAYERS = ("bench", "queries", "sources", "plans", "cache", "similarity", "dedup",
          "knn", "ivf")
EXECUTOR_LAYERS = ("queries", "cache")


class Recorder:
    """Spans of one process, kept in memory."""

    def __init__(self):
        self.spans: list[dict] = []
        self.enabled = False
        self.sc = None  # set once the SparkContext exists
        self.op = None  # id of the op span now running (one op at a time)
        self.main_stack: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self.cache_events: list[dict] = []
        self.wrapped: dict[int, tuple] = {}  # id(original) -> (original, wrapper)

    def _stack(self) -> list[dict]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = (
                self.main_stack if threading.current_thread() is threading.main_thread() else []
            )
        return stack

    def _label(self, span: dict | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(str(span["id"]), f"{span['layer']}:{span['name']}")

    def begin(self, layer: str, name: str) -> dict:
        stack = self._stack()
        if stack:
            parent = stack[-1]["id"]
        else:  # a prefetch-pool thread: caused by the main thread's open span
            parent = self.main_stack[-1]["id"] if self.main_stack else None
        with self._lock:
            span = {"id": len(self.spans), "layer": layer, "name": name,
                    "parent": parent, "op": self.op,
                    "thread": threading.get_ident(), "start": time.time(), "end": None}
            self.spans.append(span)
        stack.append(span)
        self._label(span)
        return span

    def end(self, span: dict) -> None:
        span["end"] = time.time()
        stack = self._stack()
        stack.pop()
        self._label(stack[-1] if stack else None)

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        s = self.begin(layer, name)
        try:
            yield s
        finally:
            self.end(s)

    def dump(self, path: Path) -> None:
        path.write_text("\n".join(json.dumps(s) for s in self.spans))


def _wrap(rec: Recorder, layer: str, fn):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if not rec.enabled:
            return fn(*args, **kwargs)
        with rec.span(layer, fn.__name__):
            return fn(*args, **kwargs)

    return wrapper


def _wrap_cache(rec: Recorder, fn, mod):
    """``session_ckpt``/``session_state(name, scope, build)``: a lookup is a
    hit when the scope is already stored, a build when this call runs
    ``build``, and otherwise a wait on another thread's build."""

    @functools.wraps(fn)
    def wrapper(name, scope, build):
        if not rec.enabled:
            return fn(name, scope, build)
        cur = mod._SESSION_STATE.get(name)  # rebound by release_session_state
        hit = cur is not None and cur[0] == scope
        built = []

        def noted_build():
            built.append(True)
            return build()

        try:
            with rec.span("cache", f"{fn.__name__}:{name}") as span:
                return fn(name, scope, noted_build)
        finally:
            kind = "hit" if hit else ("build" if built else "wait")
            with rec._lock:
                rec.cache_events.append({
                    "span": span["id"], "kind": kind, "wall": span["end"] - span["start"],
                })

    return wrapper


def install(rec: Recorder) -> None:
    """Wrap every layer's entry points; call before ``load_registry()``."""
    for layer, modname in LAYER_MODULES.items():
        mod = importlib.import_module(modname)
        names = ENTRY_POINTS.get(layer) or [
            n for n, f in vars(mod).items()
            if inspect.isfunction(f) and f.__module__ == modname
            and not n.startswith(("_", "duck_")) and n not in NOT_ENTRY_POINTS
        ]
        for n in names:
            fn = getattr(mod, n)
            w = _wrap_cache(rec, fn, mod) if layer == "cache" else _wrap(rec, layer, fn)
            rec.wrapped[id(fn)] = (fn, w)
            setattr(mod, n, w)
    rebind(rec)


def rebind(rec: Recorder) -> None:
    """Point every package-module name still bound to an original entry
    point at its wrapper (modules imported before :func:`install`, or
    importing a layer function under another name, bound the original)."""
    for modname, mod in list(sys.modules.items()):
        if modname.startswith(PKG) and mod is not None:
            for name, v in list(vars(mod).items()):
                fw = rec.wrapped.get(id(v))
                if fw is not None and v is fw[0]:
                    setattr(mod, name, fw[1])


# ---------------------------------------------------------------- event log

def read_event_log(log_dir: Path) -> dict:
    """Jobs and tasks from Spark's event log (uncompressed, non-rolling)."""
    stage_group: dict[tuple[int, int], str | None] = {}
    jobs: list[dict] = []
    job_start: dict[int, dict] = {}
    tasks: list[dict] = []
    for path in sorted(log_dir.iterdir()):
        with path.open() as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    props = ev.get("Properties") or {}
                    stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = props.get(
                        "spark.jobGroup.id")
                elif kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    job_start[ev["Job ID"]] = {
                        "start": ev["Submission Time"] / 1000.0,
                        "group": props.get("spark.jobGroup.id"),
                    }
                elif kind == "SparkListenerJobEnd":
                    j = job_start.pop(ev["Job ID"], None)
                    if j is not None:
                        jobs.append({**j, "end": ev["Completion Time"] / 1000.0})
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.append({
                        "group": stage_group.get((ev["Stage ID"], ev["Stage Attempt ID"])),
                        "launch": info["Launch Time"] / 1000.0,
                        "failed": bool(info.get("Failed")),
                        "run_s": m.get("Executor Run Time", 0) / 1000.0,
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0),
                        "spill_bytes": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                        "input_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                    })
    return {"jobs": jobs, "tasks": tasks}


# ------------------------------------------------------------------ metrics

def _union(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def _length(intervals) -> float:
    return sum(b - a for a, b in intervals)


def _intersect(xs, ys) -> list[tuple[float, float]]:
    out, i, j = [], 0, 0
    while i < len(xs) and j < len(ys):
        a, b = max(xs[i][0], ys[j][0]), min(xs[i][1], ys[j][1])
        if a < b:
            out.append((a, b))
        if xs[i][1] < ys[j][1]:
            i += 1
        else:
            j += 1
    return out


def self_times(spans: list[dict]) -> dict[str, float]:
    """Sweep attribution of one pass's wall to layers (see module doc)."""
    by_id = {s["id"]: s for s in spans}
    points = sorted({s["start"] for s in spans} | {s["end"] for s in spans})
    starts = defaultdict(list)
    ends = defaultdict(list)
    for s in spans:
        starts[s["start"]].append(s["id"])
        ends[s["end"]].append(s["id"])
    active: set[int] = set()
    out: dict[str, float] = defaultdict(float)
    for a, b in zip(points, points[1:]):
        active.difference_update(ends[a])
        active.update(i for i in starts[a] if by_id[i]["end"] > a)
        if not active:
            continue
        inner = set(active)
        for i in active:
            p = by_id[i]["parent"]
            while p is not None and p in by_id:
                inner.discard(p)
                p = by_id[p]["parent"]
        share = (b - a) / len(inner)
        for i in inner:
            out[by_id[i]["layer"]] += share
    return dict(out)


def layer_metrics(spans: list[dict], cache_events: list[dict], log: dict,
                  cores: int) -> dict[str, float]:
    """Per-layer metrics of one pass, ``spans`` rooted at its pass span."""
    ids = {s["id"] for s in spans}
    root = min(spans, key=lambda s: s["id"])
    wall = root["end"] - root["start"]
    selfs = self_times(spans)
    m: dict[str, float] = {"trace.pass_s": wall}

    def total(layer, pred=lambda s: True):
        # inclusive time of the layer's outermost spans on each thread
        return _length(_union([(s["start"], s["end"]) for s in spans
                               if s["layer"] == layer and pred(s)]))

    def calls(layer):
        return sum(1 for s in spans if s["layer"] == layer)

    for layer in LAYERS:
        m[f"{layer}.self_s"] = selfs.get(layer, 0.0)
    m["trace.self_sum_error"] = abs(sum(selfs.values()) - wall) / wall
    m["queries.build_s"] = total("queries", lambda s: s["name"] == "build")
    m["queries.action_s"] = total("queries", lambda s: s["name"] == "action")
    m["sources.load_calls"] = calls("sources")
    m["sources.load_s"] = total("sources")
    m["plans.explain_calls"] = calls("plans")
    m["plans.explain_s"] = total("plans")
    for layer in ("similarity", "dedup", "knn", "ivf"):
        m[f"{layer}.calls"] = calls(layer)
        m[f"{layer}.plan_s"] = total(layer)

    ev = [e for e in cache_events if e["span"] in ids]
    m["cache.lookups"] = len(ev)
    m["cache.builds"] = sum(e["kind"] == "build" for e in ev)
    m["cache.hit_ratio"] = sum(e["kind"] == "hit" for e in ev) / len(ev) if ev else 0.0
    # wall with a building lookup open, the generator's plan gate and
    # checkpoint included (builds nest and overlap in pool threads)
    building = {e["span"] for e in ev if e["kind"] == "build"}
    m["cache.build_s"] = total("cache", lambda s: s["id"] in building)
    # thread-seconds spent blocked on another thread's build
    m["cache.wait_s"] = sum(e["wall"] for e in ev if e["kind"] == "wait")

    ops = _union([(s["start"], s["end"]) for s in spans if s["layer"] == "bench"
                  and s["parent"] == root["id"]])
    jobs = [j for j in log["jobs"] if j["group"] is not None and int(j["group"]) in ids]
    busy = _intersect(ops, _union([(j["start"], j["end"]) for j in jobs]))
    m["spark.jobs"] = len(jobs)
    m["spark.driver_s"] = _length(ops) - _length(busy)

    layer_of = {s["id"]: s["layer"] for s in spans}
    agg: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    unattributed = 0.0
    for t in log["tasks"]:
        g = t["group"]
        if g is None or int(g) not in ids:
            if g is None and root["start"] <= t["launch"] <= root["end"]:
                unattributed += t["run_s"]
            continue
        a = agg[layer_of[int(g)]]
        a["tasks"] += 1
        a["failed_tasks"] += t["failed"]
        for k in ("run_s", "cpu_s", "gc_s", "shuffle_write_bytes",
                  "shuffle_read_bytes", "spill_bytes", "input_bytes"):
            a[k] += t[k]
    for layer in EXECUTOR_LAYERS:
        a = agg[layer]
        m[f"{layer}.tasks"] = a["tasks"]
        m[f"{layer}.failed_tasks"] = a["failed_tasks"]
        m[f"{layer}.task_run_s"] = a["run_s"]
        m[f"{layer}.task_cpu_s"] = a["cpu_s"]
        m[f"{layer}.gc_s"] = a["gc_s"]
        for k in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "input_bytes"):
            m[f"{layer}.{k}"] = a[k]
        busy_s = selfs.get(layer, 0.0)
        m[f"{layer}.slot_util"] = a["run_s"] / (busy_s * cores) if busy_s else 0.0
    m["spark.unattributed_task_run_s"] = unattributed
    m["spark.other_task_run_s"] = sum(
        a["run_s"] for layer, a in agg.items() if layer not in EXECUTOR_LAYERS)
    return m


def unit(metric: str) -> str:
    """Unit of a per-layer metric, from its name."""
    name = metric.rsplit(".", 1)[1]
    if name.endswith("_bytes"):
        return "B"
    if name in ("hit_ratio", "slot_util", "self_sum_error"):
        return "ratio"
    if name.endswith("_s"):
        return "s"
    return "count"
