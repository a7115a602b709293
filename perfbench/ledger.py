"""Measurement primitives: interval unions, span tracing and the Spark job ledger.

Nothing here imports the engine. ``Tracer`` wraps the public functions of
the engine's layers from the outside (see ``layers.py`` for the list), and
``JobLedger`` reads Spark's job and stage accounting from the in-process
status store, which exists whether or not the Spark UI is enabled.
"""

from __future__ import annotations

import functools
import inspect
import math
import sys
import threading
import time
from dataclasses import dataclass, field


def union_length(intervals, lo: float = -math.inf, hi: float = math.inf) -> float:
    """Length of the union of ``(start, end)`` intervals, clipped to ``[lo, hi]``.

    Overlapping intervals count once, so two jobs that run side by side for
    the same second add one second, not two.
    """
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def tail_rank(n: int, q: float = 0.9, min_beyond: int = 10) -> int:
    """1-based nearest rank of the ``q`` percentile of ``n`` samples, lowered
    until at least ``min_beyond`` samples lie above it.

    Raises ``ValueError`` when ``n`` cannot leave ``min_beyond`` samples above
    even the smallest one.
    """
    rank = min(math.ceil(q * n), n - min_beyond)
    if rank < 1:
        raise ValueError(f"{n} samples cannot leave {min_beyond} beyond any percentile")
    return rank


def tail_percentile(samples, q: float = 0.9, min_beyond: int = 10) -> tuple[float, float, int]:
    """``(value, percentile, n)``: the highest percentile up to ``q`` that has
    at least ``min_beyond`` of the ``n`` samples beyond it."""
    ordered = sorted(samples)
    rank = tail_rank(len(ordered), q, min_beyond)
    return ordered[rank - 1], rank / len(ordered), len(ordered)


@dataclass
class Span:
    id: int
    parent: int | None
    layer: str
    name: str
    start: float
    end: float = math.nan
    error: str | None = None
    returned_none: bool = False
    arg0_len: int | None = None
    children: list = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start

    def self_time(self) -> float:
        """Duration minus the part of it that child spans cover."""
        kids = [(c.start, c.end) for c in self.children]
        return self.duration - union_length(kids, self.start, self.end)


class Tracer:
    """Records a span around every call to the functions it is given.

    Spans nest per thread. A span opened on another thread with nothing
    open there (a worker of a thread pool, a streaming trigger) takes as
    parent the innermost span open on the main thread, so work fanned out
    by ``run_overlapped`` stays under the call that fanned it out.
    """

    def __init__(self):
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._stacks: dict[int, list[Span]] = {}
        self._main = threading.main_thread().ident
        self._patches: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------------
    def call(self, layer: str, name: str, fn, args, kwargs):
        with self._lock:
            stack = self._stacks.setdefault(threading.get_ident(), [])
            main = self._stacks.get(self._main, [])
            parent = stack[-1] if stack else (main[-1] if main else None)
            span = Span(len(self.spans), parent.id if parent else None, layer, name, time.time())
            if args and isinstance(args[0], (list, tuple)):
                span.arg0_len = len(args[0])
            self.spans.append(span)
            if parent is not None:
                parent.children.append(span)
            stack.append(span)
        try:
            result = fn(*args, **kwargs)
        except BaseException as exc:
            span.error = type(exc).__name__
            raise
        finally:
            span.end = time.time()
            with self._lock:
                stack.pop()
        span.returned_none = result is None
        return result

    # -- patching ----------------------------------------------------------
    def wrap(self, layer: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return tracer.call(layer, fn.__qualname__, fn, args, kwargs)

        return traced

    def install(self, targets, package: str) -> None:
        """Wrap every target.

        ``targets`` yields ``(layer, owner, attr)``: a module-level function
        or a class attribute (plain method or property). A module function
        is also rebound in every loaded module of ``package`` that imported
        it by name, so ``from x import f`` call sites are traced too.
        """
        modules = [m for n, m in list(sys.modules.items()) if m and (n == package or n.startswith(package + "."))]
        for layer, owner, attr in targets:
            raw = inspect.getattr_static(owner, attr)
            if isinstance(raw, property):
                self._set(owner, attr, property(self.wrap(layer, raw.fget), raw.fset, raw.fdel, raw.__doc__))
                continue
            if not inspect.isfunction(raw):
                continue
            wrapped = self.wrap(layer, raw)
            self._set(owner, attr, wrapped)
            if inspect.ismodule(owner):
                for mod in modules:
                    if mod is owner:
                        continue
                    for name, val in list(vars(mod).items()):
                        if val is raw:
                            self._set(mod, name, wrapped)

    def _set(self, owner, attr, value) -> None:
        self._patches.append((owner, attr, inspect.getattr_static(owner, attr)))
        setattr(owner, attr, value)

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches = []


def innermost_span(spans: list[Span], t: float) -> Span | None:
    """The open span at time ``t`` that started last (the innermost one)."""
    best = None
    for s in spans:
        if s.start <= t <= s.end and (best is None or s.start >= best.start):
            best = s
    return best


def layer_totals(spans: list[Span]) -> dict[str, dict]:
    """Per layer: calls, wall seconds (outermost spans of the layer only, so
    recursion and same-layer nesting count once), self seconds, errors by
    type and calls that returned ``None``."""
    by_id = {s.id: s for s in spans}
    out: dict[str, dict] = {}
    for s in spans:
        t = out.setdefault(s.layer, {"calls": 0, "s": 0.0, "self_s": 0.0, "none": 0, "errors": {}})
        t["calls"] += 1
        t["self_s"] += s.self_time()
        t["none"] += s.returned_none
        if s.error:
            t["errors"][s.error] = t["errors"].get(s.error, 0) + 1
        p = by_id.get(s.parent)
        while p is not None and p.layer != s.layer:
            p = by_id.get(p.parent)
        if p is None:
            t["s"] += s.duration
    return out


# ---------------------------------------------------------------------------
# Spark job accounting
# ---------------------------------------------------------------------------


@dataclass
class Job:
    id: int
    start: float
    end: float
    tasks: int
    failed_tasks: int
    stage_ids: tuple


STAGE_FIELDS = (
    "inputBytes",
    "outputBytes",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
    "executorCpuTime",
)


class JobLedger:
    """Reads finished jobs and stages from ``SparkContext``'s status store.

    Jobs are selected by id range: every job a query starts, on any thread,
    gets an id between the scheduler's next id before the query and after
    it. ``setJobGroup`` would miss the jobs started from pool threads and
    streaming triggers.
    """

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._no_status = sc._jvm.java.util.ArrayList()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)

    def next_job_id(self) -> int:
        return int(self._jsc.dagScheduler().nextJobId())

    def _settle(self, timeout: float = 30.0) -> None:
        """Wait until the listener bus has delivered every event posted so far."""
        self._jsc.listenerBus().waitUntilEmpty(int(timeout * 1000))

    def jobs(self, lo: int, hi: int) -> list[Job]:
        """Jobs with ``lo <= id < hi``, waiting until each has finished."""
        out = []
        deadline = time.time() + 60
        for jid in range(lo, hi):
            while True:
                self._settle()
                data = self._store.job(jid)
                if data.completionTime().isDefined() or time.time() > deadline:
                    break
                time.sleep(0.05)
            sub = data.submissionTime()
            done = data.completionTime()
            start = sub.get().getTime() / 1000.0 if sub.isDefined() else math.nan
            end = done.get().getTime() / 1000.0 if done.isDefined() else math.nan
            ids = data.stageIds()
            out.append(
                Job(
                    jid,
                    start,
                    end,
                    int(data.numTasks()) - int(data.numSkippedTasks()),
                    int(data.numFailedTasks()),
                    tuple(int(ids.apply(i)) for i in range(ids.length())),
                )
            )
        return out

    def stage_totals(self, stage_ids) -> dict[str, int]:
        """Sums of the ``STAGE_FIELDS`` over every attempt of the stages that ran."""
        tot = {f: 0 for f in STAGE_FIELDS}
        tot["stages"] = 0
        for sid in sorted(set(stage_ids)):
            attempts = self._store.stageData(sid, False, self._no_status, False, self._no_quantiles)
            for i in range(attempts.length()):
                st = attempts.apply(i)
                if st.status().toString() == "SKIPPED":
                    continue
                tot["stages"] += 1
                for f in STAGE_FIELDS:
                    tot[f] += int(getattr(st, f)())
        return tot
