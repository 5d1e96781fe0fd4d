"""Traced run: spans around the public functions of the library's layer
modules, attributed to Spark jobs through the event log.

``Tracer.install`` rebinds module attributes only (functions, their
re-exported aliases in every loaded library module, and public methods
of public classes); ``uninstall`` puts every original back.  No library
file is edited.

Every span gets its own Spark job group, set as a JVM thread-local
property on the thread that opens it, so the event log attributes each
job to its innermost open span.  ``ThreadPoolExecutor.submit`` is
wrapped to carry the submitter's span into the worker thread (as the
parent of spans opened there, and as the job group of jobs the worker
starts outside any span).
"""

from __future__ import annotations

import concurrent.futures
import contextvars
import functools
import importlib
import inspect
import json
import os
import sys
import threading
import time
from dataclasses import dataclass, field

from metrics import self_time

# Layer name -> library modules whose public callables get spans.
LAYERS = {
    "core.checkpoints": ["core.checkpoints"],
    "sources.ingestion": ["sources.ingestion"],
    "sources.artifacts": ["sources.artifacts"],
    "sources.shards": ["sources.shards"],
    "pipeline.tasks": ["pipeline.tasks", "pipeline.solution"],
    "ml.wrappers": ["ml.wrappers"],
    "ml.cv": ["ml.cv", "ml.folds"],
    "ml.hpo": ["ml.hpo"],
    "ml.feature_selection": ["ml.feature_selection"],
    "ml.ensembling": ["ml.ensembling"],
    "ml.metrics": ["ml.metrics"],
    "extensions.text": ["extensions.text"],
    "extensions.filtering": ["extensions.filtering"],
    "extensions.dedup": ["extensions.dedup"],
    "extensions.similarity": ["extensions.similarity"],
    "extensions.curation": ["extensions.curation"],
    "streaming": ["streaming.dedup", "streaming.joins"],
}
PKG = "fastmlframework_spark"
GROUP_KEY = "spark.jobGroup.id"

_current: contextvars.ContextVar = contextvars.ContextVar("fmlbench_span", default=None)


@dataclass
class Span:
    sid: str
    layer: str
    name: str
    parent: "Span | None"
    t0: float = 0.0
    t1: float = 0.0
    error: bool = False
    attrs: dict = field(default_factory=dict)
    children: list = field(default_factory=list)

    @property
    def interval(self) -> tuple[float, float]:
        return (self.t0, self.t1)


class Tracer:
    """Collects spans in memory; one instance per traced run."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.aliases: dict[str, Span] = {}  # extra job groups -> span
        self._lock = threading.Lock()
        self._saved: list[tuple[object, str, object]] = []
        self.hooks: dict[str, callable] = {}
        # parent for spans opened on threads without a span context
        # (a streaming query's foreachBatch callbacks)
        self.fallback_parent: Span | None = None

    # ------------------------------------------------------------ spans

    def _set_group(self, span: Span | None) -> None:
        self.sc.setLocalProperty(GROUP_KEY, span.sid if span else None)

    def span(self, layer: str, name: str, **attrs):
        return _SpanCtx(self, layer, name, attrs)

    def open(self, layer: str, name: str, attrs: dict) -> Span:
        parent = _current.get() or self.fallback_parent
        with self._lock:
            s = Span(f"fmlbench-{len(self.spans)}", layer, name, parent, attrs=dict(attrs))
            self.spans.append(s)
            if parent is not None:
                parent.children.append(s)
        s.t0 = time.time()
        return s

    def alias(self, group_id: str, span: Span) -> None:
        """Attribute jobs of another job group (a streaming query's run
        id) to ``span``."""
        self.aliases[group_id] = span

    # ---------------------------------------------------------- install

    def _wrap_fn(self, layer: str, qual: str, fn):
        tracer = self
        hook = self.hooks.get(qual)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(layer, qual) as s:
                out = fn(*args, **kwargs)
                if hook is not None:
                    hook(s, args, kwargs, out)
                return out

        return wrapper

    def _rebind(self, obj, attr: str, new) -> None:
        self._saved.append((obj, attr, obj.__dict__[attr]))
        setattr(obj, attr, new)

    def install(self) -> None:
        originals: dict[int, object] = {}
        for layer, mods in LAYERS.items():
            for short in mods:
                mod = importlib.import_module(f"{PKG}.{short}")
                for name, obj in list(vars(mod).items()):
                    if name.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
                        continue
                    if inspect.isclass(obj):
                        for mname, m in list(vars(obj).items()):
                            if inspect.isfunction(m) and not mname.startswith("_"):
                                self._rebind(obj, mname, self._wrap_fn(layer, f"{obj.__name__}.{mname}", m))
                    elif inspect.isfunction(obj):
                        w = self._wrap_fn(layer, name, obj)
                        originals[id(obj)] = w
                        self._rebind(mod, name, w)
        # re-exported aliases (``from x import f``) in every library module
        for mname, mod in list(sys.modules.items()):
            if mod is None or not mname.startswith(PKG):
                continue
            for name, obj in list(vars(mod).items()):
                w = originals.get(id(obj))
                if w is not None and getattr(mod, name) is not w:
                    self._rebind(mod, name, w)
        self._rebind(concurrent.futures.ThreadPoolExecutor, "submit", _carrying_submit(self))

    def uninstall(self) -> None:
        while self._saved:
            obj, attr, orig = self._saved.pop()
            setattr(obj, attr, orig)
        self._set_group(None)

    # ------------------------------------------------------ attribution

    def owner(self, group: str | None) -> Span | None:
        if group is None:
            return None
        if group in self.aliases:
            return self.aliases[group]
        try:
            return self.spans[int(group.rsplit("-", 1)[1])] if group.startswith("fmlbench-") else None
        except (IndexError, ValueError):
            return None


class _SpanCtx:
    def __init__(self, tracer: Tracer, layer: str, name: str, attrs: dict):
        self.tracer, self.layer, self.name, self.attrs = tracer, layer, name, attrs

    def __enter__(self) -> Span:
        self.span = self.tracer.open(self.layer, self.name, self.attrs)
        self.token = _current.set(self.span)
        self.tracer._set_group(self.span)
        return self.span

    def __exit__(self, exc_type, exc, tb) -> None:
        self.span.t1 = time.time()
        self.span.error = exc_type is not None
        _current.reset(self.token)
        self.tracer._set_group(self.span.parent)


def _carrying_submit(tracer: Tracer):
    orig = concurrent.futures.ThreadPoolExecutor.submit

    def submit(self, fn, /, *args, **kwargs):
        ctx = contextvars.copy_context()
        parent = _current.get()

        def run():
            tracer._set_group(parent)
            try:
                return ctx.run(fn, *args, **kwargs)
            finally:
                tracer._set_group(None)

        return orig(self, run)

    return submit


# ---------------------------------------------------------- event log


@dataclass
class Job:
    jid: int
    group: str | None
    t0: float
    t1: float = 0.0
    stages: list = field(default_factory=list)
    failed: bool = False


def read_event_log(path: str) -> tuple[dict[int, Job], dict[int, dict]]:
    """Parse an uncompressed, non-rolling Spark event log into jobs and
    per-stage summed task metrics (seconds and bytes)."""
    jobs: dict[int, Job] = {}
    stages: dict[int, dict] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                j = Job(ev["Job ID"], props.get(GROUP_KEY), ev["Submission Time"] / 1000.0)
                j.stages = list(ev.get("Stage IDs", []))
                jobs[j.jid] = j
            elif kind == "SparkListenerJobEnd":
                j = jobs.get(ev["Job ID"])
                if j is not None:
                    j.t1 = ev["Completion Time"] / 1000.0
                    j.failed = ev.get("Job Result", {}).get("Result") != "JobSucceeded"
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                st = stages.setdefault(ev["Stage ID"], _zero_stage())
                st["tasks"] += 1
                st["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                st["deserialize_s"] += m.get("Executor Deserialize Time", 0) / 1000.0
                sr = m.get("Shuffle Read Metrics") or {}
                st["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                st["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                st["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return jobs, stages


def _zero_stage() -> dict:
    return dict.fromkeys(
        ("tasks", "task_s", "gc_s", "deserialize_s", "shuffle_read_bytes",
         "shuffle_write_bytes", "spill_bytes", "output_bytes"),
        0,
    )


def find_event_log(log_dir: str) -> str:
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])


def layer_self_times(spans: list[Span]) -> dict[str, float]:
    """Self time summed per layer: each span's duration minus the union
    of its children's intervals."""
    out: dict[str, float] = {}
    for s in spans:
        out[s.layer] = out.get(s.layer, 0.0) + self_time(s.interval, [c.interval for c in s.children])
    return out
