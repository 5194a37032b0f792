"""Spans around the package's layer boundaries, and Spark jobs attributed
to them.

A span has an id, a parent, a name, a layer, and perf-counter start and end
times. While a span is open on a thread, that thread's Spark job description
is ``pb:<span id>``, so every job it launches, and every job Spark launches
on its behalf (broadcasts, subqueries), can be attributed to the innermost
open span afterwards by reading ``statusStore().jobsList()``. That works with
the UI disabled.

Spans live in memory until the run is over, when ``run.per_layer`` turns
them into layer metrics. With tracing off, :meth:`Tracer.span` records nothing
and touches no Spark state, so the untraced run pays for none of this.

The package's public functions that the workloads reach are wrapped in the
traced run only (:meth:`Tracer.install`). A wrapped function that returns a
DataFrame is marked ``eager_only``: its span covers the jobs the call runs
eagerly (log replay, index probes, broadcast fingerprints), while the jobs of
the DataFrame it returns run later, under the caller's ``execute`` span.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PKG = "mysoftware_nocnetintel_spark"

# (module, functions, layer) wrapped in the traced run
WRAPPED = (
    ("operators.ann_index", ("build_ivf_index", "query_ivf_index"), "index"),
    ("operators.dedup_index", ("build_minhash_index",
                               "dedup_against_minhash_index",
                               "append_to_minhash_index"), "index"),
    ("streaming.ops", ("dedup_gate_batch",), "gate"),
    ("sources.delta", ("write_delta_append", "merge_delta_rows",
                       "optimize_delta_table"), "delta"),
    ("sources.iceberg", ("write_iceberg_append", "merge_iceberg_rows",
                         "rewrite_iceberg_table"), "iceberg"),
    ("sources.readers", ("read_delta_snapshot", "read_iceberg_snapshot"),
     "readers"),
)


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    layer: str
    op: int  # id of the root span of this operation
    t0: float
    t1: float = 0.0
    eager_only: bool = False
    result: object = None  # a reader's returned snapshot DataFrame

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


@dataclass
class Job:
    span: int | None
    submit_ms: int
    first_task_ms: int | None
    tasks: int
    run_ms: int  # summed executor run time of its stages
    shuffle_bytes: int
    spill_bytes: int


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part its own children cover. Children
    are matched by parent id, never by time overlap, so spans of other
    clients running at the same time do not reduce a span's self time, and
    overlapping children of one span are counted once."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.t0, s.t1))
    return {
        s.id: s.dur - union_length(kids.get(s.id, []), s.t0, s.t1)
        for s in spans
    }


def attribute_jobs(jobs: list[Job], spans: list[Span]) -> dict[int, list[Job]]:
    """Span id -> the jobs whose description named it."""
    known = {s.id for s in spans}
    out: dict[int, list[Job]] = {}
    for j in jobs:
        if j.span in known:
            out.setdefault(j.span, []).append(j)
    return out


def parse_description(desc: str | None) -> int | None:
    if desc and desc.startswith("pb:"):
        try:
            return int(desc[3:])
        except ValueError:
            return None
    return None


@dataclass
class Tracer:
    spark: object
    enabled: bool
    spans: list[Span] = field(default_factory=list)
    overhead_s: float = 0.0
    _local: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _ids: itertools.count = field(default_factory=lambda: itertools.count(1))
    _patched: list = field(default_factory=list)

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _describe(self, stack: list[Span]) -> None:
        self.spark.sparkContext.setJobDescription(
            f"pb:{stack[-1].id}" if stack else None
        )

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        s = Span(next(self._ids), parent.id if parent else None, name, layer,
                 parent.op if parent else 0, 0.0)
        if parent is None:
            s.op = s.id
        stack.append(s)
        self._describe(stack)
        s.t0 = time.perf_counter()
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            stack.pop()
            self._describe(stack)
            with self._lock:
                self.spans.append(s)
                self.overhead_s += (s.t0 - t_in) + (time.perf_counter() - s.t1)

    # -- wrapping the package's public functions -------------------------

    def _wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name, layer) as s:
                out = fn(*args, **kwargs)
            if hasattr(out, "_jdf"):
                s.eager_only = True
                if layer == "readers":
                    # its files are counted after the run, outside every span
                    s.result = out
            return out

        return wrapper

    def install(self) -> None:
        """Replace each function in ``WRAPPED`` with a traced wrapper in
        every loaded module of the package that holds it, so callers that
        imported it by name see the wrapper too."""
        if not self.enabled:
            return
        for mod_name, names, layer in WRAPPED:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            for n in names:
                orig = getattr(mod, n)
                wrapper = self._wrap(orig, f"{mod_name.split('.')[-1]}.{n}", layer)
                for m in list(sys.modules.values()):
                    if getattr(m, "__name__", "").startswith(PKG):
                        for attr, val in list(vars(m).items()):
                            if val is orig:
                                setattr(m, attr, wrapper)
                                self._patched.append((m, attr, orig))

    def uninstall(self) -> None:
        for m, attr, orig in reversed(self._patched):
            setattr(m, attr, orig)
        self._patched.clear()

    # -- reading Spark's job records -------------------------------------

    def jobs(self) -> list[Job]:
        """Every job in the status store, with its stages' task metrics."""
        from py4j.protocol import Py4JError

        jsc = self.spark.sparkContext._jsc.sc()
        try:
            jsc.listenerBus().waitUntilEmpty()
        except Py4JError:  # private API; fall back to a pause
            time.sleep(1.0)
        store = jsc.statusStore()
        stage_cache: dict[int, tuple] = {}

        def stage(sid: int) -> tuple:
            if sid not in stage_cache:
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JError:  # evicted, or never ran
                    stage_cache[sid] = (0, 0, 0, 0, None)
                else:
                    first = st.firstTaskLaunchedTime()
                    stage_cache[sid] = (
                        st.numCompleteTasks(),
                        st.executorRunTime(),
                        st.shuffleReadBytes() + st.shuffleWriteBytes(),
                        st.memoryBytesSpilled() + st.diskBytesSpilled(),
                        first.get().getTime() if first.isDefined() else None,
                    )
            return stage_cache[sid]

        out = []
        seq = store.jobsList(None)
        for i in range(seq.size()):
            j = seq.apply(i)
            desc = j.description()
            sub = j.submissionTime()
            if not sub.isDefined():
                continue
            ids = j.stageIds()
            st = [stage(ids.apply(k)) for k in range(ids.size())]
            firsts = [s[4] for s in st if s[4] is not None]
            out.append(Job(
                span=parse_description(desc.get() if desc.isDefined() else None),
                submit_ms=sub.get().getTime(),
                first_task_ms=min(firsts) if firsts else None,
                tasks=sum(s[0] for s in st),
                run_ms=sum(s[1] for s in st),
                shuffle_bytes=sum(s[2] for s in st),
                spill_bytes=sum(s[3] for s in st),
            ))
        return out
