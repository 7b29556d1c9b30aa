"""Spans and counts recorded from the benchmark's own files.

The traced run wraps public functions of the engine's modules with timers
*before* the query modules import them (they bind those functions by name at
import), and registers a ``StreamingQueryListener``. Spans (name, layer,
start, end, parent, run id) and counts stay in memory and are written out
when the run ends. Nothing here is imported by an untraced run's hot path:
an untraced run never installs a wrapper.
"""

from __future__ import annotations

import functools
import inspect
import json
import sys
import threading
import time
from collections import defaultdict
from dataclasses import dataclass

# (module, function names or None for every public function defined there,
#  layer). Order matters only for readability.
LAYER_FUNCTIONS = [
    ("masd_spark.sources.tables", ["load_table"], "sources"),
    ("masd_spark.operators.validate", ["classify_validity"], "operators.validate"),
    ("masd_spark.operators.window_agg", ["windowed_metrics"], "operators.window_agg"),
    ("masd_spark.operators.nest", ["nest_sensor_document"], "operators.nest"),
    ("masd_spark.operators.relational", None, "operators.relational"),
    ("masd_spark.operators.dedup", None, "operators.dedup"),
    ("masd_spark.operators.similarity", None, "operators.similarity"),
]


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    run: str


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.enabled = True
        self._stack = threading.local()
        self._next = 0
        self._lock = threading.Lock()

    def _parents(self) -> list[int]:
        if not hasattr(self._stack, "ids"):
            self._stack.ids = []
        return self._stack.ids

    def span(self, name: str, layer: str):
        return _SpanCtx(self, name, layer)

    def record(self, name: str, layer: str, start: float, end: float) -> None:
        """A span measured elsewhere (e.g. a streaming trigger)."""
        with self._lock:
            self._next += 1
            self.spans.append(Span(self._next, name, layer, start, end, None, self.run_id))

    def wrap(self, fn, layer: str):
        name = f"{layer}.{fn.__name__}"

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        """Replace each listed function, in every already-imported
        ``masd_spark`` module that binds it, by a timing wrapper. Must run
        before the query and streaming modules are imported."""
        import importlib

        for mod_name, names, layer in LAYER_FUNCTIONS:
            mod = importlib.import_module(mod_name)
            if names is None:
                names = [
                    n for n, f in vars(mod).items()
                    if inspect.isfunction(f) and not n.startswith("_")
                    and f.__module__ == mod_name
                ]
            for n in names:
                orig = getattr(mod, n)
                wrapped = self.wrap(orig, layer)
                for m in list(sys.modules.values()):
                    if getattr(m, "__name__", "").startswith("masd_spark") and \
                            getattr(m, n, None) is orig:
                        setattr(m, n, wrapped)

    # ---- summaries -------------------------------------------------------

    def layer_totals(self) -> dict[str, tuple[float, float, int]]:
        """layer -> (time in outermost spans of the layer, self time of
        those spans, number of outermost spans). Self time is a span's
        duration minus the part its direct children cover."""
        by_id = {s.id: s for s in self.spans}
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] += s.end - s.start
        out: dict[str, list] = defaultdict(lambda: [0.0, 0.0, 0])
        for s in self.spans:
            p = by_id.get(s.parent) if s.parent is not None else None
            if p is not None and p.layer == s.layer:
                continue
            acc = out[s.layer]
            acc[0] += s.end - s.start
            acc[1] += s.end - s.start - child_time[s.id]
            acc[2] += 1
        return {k: (v[0], v[1], v[2]) for k, v in out.items()}

    def name_totals(self, name: str) -> tuple[float, int]:
        spans = [s for s in self.spans if s.name == name]
        return sum(s.end - s.start for s in spans), len(spans)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")
            fh.write(json.dumps({"counts": dict(self.counts)}) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, layer: str):
        self.t, self.name, self.layer = tracer, name, layer

    def __enter__(self):
        t = self.t
        with t._lock:
            t._next += 1
            self.id = t._next
        stack = t._parents()
        self.parent = stack[-1] if stack else None
        stack.append(self.id)
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc):
        end = time.perf_counter()
        t = self.t
        t._parents().pop()
        with t._lock:
            t.spans.append(Span(self.id, self.name, self.layer, self.start, end,
                                self.parent, t.run_id))
        return False


def job_stats(sc, group: str) -> dict[str, int]:
    """Jobs, stages, tasks and failed tasks Spark ran under a job group,
    from the public status tracker."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = failed = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for sid in info.stageIds:
            si = st.getStageInfo(sid)
            if si is None:
                continue
            stages += 1
            tasks += si.numTasks
            failed += si.numFailedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}


def progress_listener(tracer: Tracer, phase_of):
    """A StreamingQueryListener recording one span per trigger, tagged with
    the phase ``phase_of(query_id)`` returns."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            phase = phase_of(str(p.id))
            dur = (p.durationMs or {}).get("triggerExecution", 0) / 1000.0
            start = iso_ms(p.timestamp) / 1000.0
            tracer.record(f"streaming.{phase}.trigger", f"streaming.{phase}", start, start + dur)
            tracer.counts[f"streaming.{phase}.listener_events"] += 1

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()


def iso_ms(ts: str) -> float:
    """Epoch ms of a progress timestamp such as 2026-01-01T00:00:00.123Z."""
    from datetime import datetime, timezone

    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc).timestamp() * 1000.0
