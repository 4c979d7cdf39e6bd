"""Spans around calls into the engine's layers, and their arithmetic.

The benchmark records spans from its own files only: it wraps the
public functions and lifecycle methods of the engine modules at run
time (``Instrumentation``) and opens spans around its own steps. The
engine's source is never changed. A span is (name, start, end, parent,
operation); spans are kept in memory and summarised when the run ends.

A layer's self time is the duration of its spans minus the part of each
span's interval covered by its child spans (``self_times``).
"""

from __future__ import annotations

import functools
import inspect
import sys
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: str | None = None
    jobs: int = 0  # Spark jobs started inside the span, children included
    children: list[int] = field(default_factory=list)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Per span: its duration minus the union of its children's intervals."""
    return [
        (s.end - s.start)
        - covered([(spans[c].start, spans[c].end) for c in s.children], s.start, s.end)
        for s in spans
    ]


def self_jobs(spans: list[Span]) -> list[int]:
    """Per span: jobs started inside it and not inside one of its children."""
    return [max(0, s.jobs - sum(spans[c].jobs for c in s.children)) for s in spans]


class Tracer:
    """Collects spans. ``job_count`` returns the number of Spark jobs
    submitted so far (a monotone counter), or is None to skip job
    attribution."""

    def __init__(self, job_count=None, clock=time.perf_counter) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._jobs = job_count
        self._clock = clock
        self.op: str | None = None
        self.bookkeeping_s = 0.0  # time spent inside the tracer itself

    def open(self, name: str) -> int:
        t0 = self._clock()
        parent = self._stack[-1] if self._stack else None
        i = len(self.spans)
        span = Span(name, 0.0, parent=parent, op=self.op)
        if parent is not None:
            self.spans[parent].children.append(i)
        if self._jobs is not None:
            span.jobs = -self._jobs()
        self.spans.append(span)
        self._stack.append(i)
        span.start = self._clock()
        self.bookkeeping_s += span.start - t0
        return i

    def close(self, i: int) -> None:
        end = self._clock()
        span = self.spans[i]
        span.end = end
        if self._jobs is not None:
            span.jobs += self._jobs()
        popped = self._stack.pop()
        if popped != i:  # pragma: no cover - spans are strictly nested
            raise RuntimeError(f"span {span.name} closed out of order")
        self.bookkeeping_s += self._clock() - end

    def span(self, name: str):
        return _SpanCtx(self, name)

    def reset(self) -> None:
        """Forget every span and the bookkeeping time (no span open)."""
        self.spans.clear()
        self.bookkeeping_s = 0.0

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            i = self.open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.close(i)

        return traced


class _SpanCtx:
    __slots__ = ("_t", "_name", "_i")

    def __init__(self, tracer: Tracer, name: str) -> None:
        self._t, self._name = tracer, name

    def __enter__(self):
        self._i = self._t.open(self._name)
        return self

    def __exit__(self, *exc):
        self._t.close(self._i)
        return False


# ---------------------------------------------------------------------------
# Which engine calls become spans. Module-level functions are grouped
# under one metric name per module (``graphq.build`` …); lifecycle
# methods are named ``<module>.<Class>.<method>``.

PACKAGE = "lp_etl_plugins_spark"

MODULE_GROUPS = {
    "tables": ("load", ("load_table", "load_all")),
    "graphq": ("build", None),  # None: every public function
    "cube": ("compile", None),
    "dcat": ("build", None),
}

LIFECYCLE_CLASSES = {
    "textops": ("TrigramLM",),
    "vectorops": ("VectorIndex",),
}
LIFECYCLE_METHODS = (
    "save", "load", "update", "retract", "append_saved", "retract_saved",
    "compact", "search", "score", "live_lists",
)

MAINTENANCE_GROUPS = {"vacuum": ("vacuum",), "check": None}  # None: check_*


class Instrumentation:
    """Replaces engine callables with span-recording wrappers for the
    life of the object; ``restore`` puts the originals back."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer
        self._undo: list[tuple[object, str, object]] = []

    def _set(self, holder, attr: str, value) -> None:
        self._undo.append((holder, attr, holder.__dict__[attr] if isinstance(holder, type) else getattr(holder, attr)))
        setattr(holder, attr, value)

    def _rebind(self, fn, wrapped) -> None:
        """Replace ``fn`` in every loaded engine module that imported it,
        and in the module-level dicts that dispatch to it."""
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == PACKAGE or mod_name.startswith(PACKAGE + ".")):
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    self._set(mod, attr, wrapped)
                elif isinstance(val, dict) and not attr.startswith("__"):
                    for key, item in list(val.items()):
                        if item is fn:
                            self._undo.append((val, key, fn))
                            val[key] = wrapped

    def functions(self, module, names, span_name: str) -> None:
        if names is None:
            names = [
                n for n, v in vars(module).items()
                if inspect.isfunction(v) and not n.startswith("_") and v.__module__ == module.__name__
            ]
        for n in names:
            fn = getattr(module, n)
            self._rebind(fn, self.tracer.wrap(fn, span_name))

    def methods(self, cls, module_short: str) -> None:
        for m in LIFECYCLE_METHODS:
            raw = cls.__dict__.get(m)
            if raw is None:
                continue
            name = f"{module_short}.{cls.__name__}.{m}"
            if isinstance(raw, classmethod):
                self._set(cls, m, classmethod(self.tracer.wrap(raw.__func__, name)))
            elif isinstance(raw, staticmethod):
                self._set(cls, m, staticmethod(self.tracer.wrap(raw.__func__, name)))
            elif inspect.isfunction(raw):
                self._set(cls, m, self.tracer.wrap(raw, name))

    def lease(self, lease_mod) -> None:
        """``dir_lease`` is a context manager: time acquire and release,
        not the holder's work inside the ``with`` block."""
        fn = lease_mod.dir_lease
        tracer = self.tracer

        class _Timed:
            def __init__(self, cm):
                self._cm = cm

            def __enter__(self):
                i = tracer.open("lease.dir_lease")
                try:
                    return self._cm.__enter__()
                finally:
                    tracer.close(i)

            def __exit__(self, *exc):
                i = tracer.open("lease.dir_lease")
                try:
                    return self._cm.__exit__(*exc)
                finally:
                    tracer.close(i)

        @functools.wraps(fn)
        def dir_lease(*args, **kwargs):
            return _Timed(fn(*args, **kwargs))

        self._rebind(fn, dir_lease)

    def install(self) -> "Instrumentation":
        import importlib

        for short, (label, names) in MODULE_GROUPS.items():
            mod = importlib.import_module(f"{PACKAGE}.{short}")
            self.functions(mod, names, f"{short}.{label}")
        for short, classes in LIFECYCLE_CLASSES.items():
            mod = importlib.import_module(f"{PACKAGE}.{short}")
            for c in classes:
                self.methods(getattr(mod, c), short)
        maint = importlib.import_module(f"{PACKAGE}.maintenance")
        for label, names in MAINTENANCE_GROUPS.items():
            if names is None:
                names = [n for n in vars(maint) if n.startswith("check_") and inspect.isfunction(getattr(maint, n))]
            self.functions(maint, names, f"maintenance.{label}")
        self.lease(importlib.import_module(f"{PACKAGE}.lease"))
        return self

    def restore(self) -> None:
        for holder, attr, val in reversed(self._undo):
            if isinstance(holder, dict):
                holder[attr] = val
            else:
                setattr(holder, attr, val)
        self._undo.clear()


class NullTracer:
    """Stands in for ``Tracer`` in untraced runs: spans cost one call."""

    op = None

    def span(self, name: str):
        return _NULL_SPAN


class _NullSpan:
    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


_NULL_SPAN = _NullSpan()


class CacheProbe:
    """Counts calls into the inventory's session-cache accessors, and
    how many of them had to build (the cache dict grew)."""

    def __init__(self) -> None:
        self.calls = 0
        self.builds = 0
        self._undo: list[tuple[object, str, object]] = []

    def install(self) -> "CacheProbe":
        import importlib

        from perfbench.workloads import CACHES

        for short, accessors in CACHES.items():
            mod = importlib.import_module(f"{PACKAGE}.inventory.{short}")
            for acc, cache_name in accessors.items():
                fn, cache = getattr(mod, acc), getattr(mod, cache_name)
                self._undo.append((mod, acc, fn))
                setattr(mod, acc, self._wrap(fn, cache))
        return self

    def reset(self) -> None:
        self.calls = self.builds = 0

    def _wrap(self, fn, cache: dict):
        @functools.wraps(fn)
        def probed(*args, **kwargs):
            before = len(cache)
            try:
                return fn(*args, **kwargs)
            finally:
                self.calls += 1
                self.builds += len(cache) > before

        return probed

    def restore(self) -> None:
        for mod, attr, fn in reversed(self._undo):
            setattr(mod, attr, fn)
        self._undo.clear()


class FsWatch:
    """The index directories as seen from outside: after each operation,
    files that are new or changed since the last scan count as written."""

    def __init__(self, root: str) -> None:
        self.root = root
        self._seen: dict[str, tuple[int, int, int]] = {}
        self.bytes_written = 0
        self.files_written = 0
        self.per_op: dict[str, tuple[int, int]] = {}

    def scan(self, op: str) -> None:
        import os

        now: dict[str, tuple[int, int, int]] = {}
        for d, _, files in os.walk(self.root):
            for f in files:
                p = os.path.join(d, f)
                try:
                    st = os.stat(p)
                except FileNotFoundError:
                    continue
                now[p] = (st.st_size, st.st_mtime_ns, st.st_ino)
        new = [(p, v) for p, v in now.items() if self._seen.get(p) != v]
        b = sum(v[0] for _, v in new)
        self.bytes_written += b
        self.files_written += len(new)
        self.per_op[op] = (b, len(new))
        self._seen = now


def read_event_log(path: str, windows: list[tuple[str, float, float]]) -> dict[str, dict]:
    """Per operation: Spark jobs, stages, tasks, task-time totals,
    shuffle and spill bytes, and the wall times of single-task jobs. A
    job belongs to the operation whose ``(op, start, end)`` window (epoch
    seconds) holds its submission time."""
    import bisect
    import json
    from collections import defaultdict

    starts = [w[1] for w in windows]

    def owner(ms: float) -> str | None:
        i = bisect.bisect_right(starts, ms / 1e3) - 1
        return windows[i][0] if i >= 0 and ms / 1e3 <= windows[i][2] else None

    job_op: dict[int, str] = {}
    job_start: dict[int, float] = {}
    job_tasks: dict[int, int] = {}
    stage_op: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    floors: dict[str, list[float]] = defaultdict(list)
    with open(path) as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                op = owner(e["Submission Time"])
                if op is None:
                    continue
                jid = e["Job ID"]
                job_op[jid], job_start[jid] = op, e["Submission Time"]
                job_tasks[jid] = sum(s["Number of Tasks"] for s in e["Stage Infos"])
                for s in e["Stage Infos"]:
                    stage_op.setdefault(s["Stage ID"], op)
                out[op]["jobs"] += 1
            elif kind == "SparkListenerJobEnd" and e["Job ID"] in job_op:
                jid = e["Job ID"]
                if job_tasks[jid] == 1:
                    floors[job_op[jid]].append((e["Completion Time"] - job_start[jid]) / 1e3)
            elif kind == "SparkListenerStageCompleted":
                op = stage_op.get(e["Stage Info"]["Stage ID"])
                if op is not None:
                    out[op]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                op = stage_op.get(e["Stage ID"])
                if op is None:
                    continue
                row = out[op]
                row["tasks"] += 1
                m = e.get("Task Metrics") or {}
                row["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                row["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                row["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                rd = m.get("Shuffle Read Metrics") or {}
                row["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                row["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                row["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                for a in (e.get("Task Info") or {}).get("Accumulables", []):
                    if a.get("Name") == "time to run Python workers":  # a millisecond timing
                        row["python_eval_s"] += float(a.get("Update", 0)) / 1e3
    result = {op: dict(v) for op, v in out.items()}
    for op, f in floors.items():
        result.setdefault(op, {})["single_task_job_s"] = f
    return result
