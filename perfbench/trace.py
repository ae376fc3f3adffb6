"""Spans, counters and Spark/py4j probes for the traced benchmark run.

A span is recorded around each call from the benchmark into an engine layer
(``name``, ``start``, ``end``, ``parent`` and the id of the op it belongs
to); counts are taken at the same boundaries. Spans stay in memory and are
written out once, when the run ends. With tracing off every entry point
here is a cheap no-op, so the untraced run measures the engine alone.

Spans opened on a thread with no open span (the engine's own commit pool)
take the innermost span of the thread that opened the op as their parent,
so threaded chains nest under the call that started them.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import sys
import threading
import time


class Py4jCounter:
    """Counts py4j round trips by wrapping the gateway client's
    ``send_command``: ``calls`` over all threads and ``thread_calls`` for
    the calling thread alone. A thread inside ``paused()`` is not counted —
    the benchmark's own probes use that, so they never count themselves."""

    def __init__(self, client):
        self.client = client
        self._orig = client.send_command
        self._calls = 0
        self._local = threading.local()
        self._lock = threading.Lock()

        def send_command(*args, **kwargs):
            if not getattr(self._local, "paused", 0):
                self._local.calls = getattr(self._local, "calls", 0) + 1
                with self._lock:
                    self._calls += 1
            return self._orig(*args, **kwargs)

        client.send_command = send_command

    @property
    def calls(self) -> int:
        return self._calls

    @property
    def thread_calls(self) -> int:
        return getattr(self._local, "calls", 0)

    @contextlib.contextmanager
    def paused(self):
        self._local.paused = getattr(self._local, "paused", 0) + 1
        try:
            yield
        finally:
            self._local.paused -= 1

    def close(self) -> None:
        self.client.send_command = self._orig


class SparkProbe:
    """Job/stage watermarks and per-stage totals from the JVM status store.

    ``stageList`` and ``jobsList`` come back newest first, so the newest id
    is one element read and the stages after a watermark are read until the
    first older id. Every call here runs with the py4j counter paused."""

    def __init__(self, spark, counter: Py4jCounter):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.jvm = self.sc._jvm
        self.counter = counter

    def _stages(self):
        jvm = self.jvm
        return self.store.stageList(
            jvm.java.util.ArrayList(), False, False,
            self.sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        )

    def watermark(self) -> tuple[int, int]:
        """(newest job id, newest stage id); -1 when there is none yet."""
        with self.counter.paused():
            jobs = self.store.jobsList(None)
            job = jobs.apply(0).jobId() if jobs.size() else -1
            stages = self._stages()
            stage = stages.apply(0).stageId() if stages.size() else -1
        return job, stage

    def stage_totals(self, after: int, upto: int, skip=()) -> dict:
        """Tasks, executor run time and shuffle bytes of the stages with
        ``after < stageId <= upto``, leaving out ids inside any ``skip``
        (lo, hi] range."""
        out = {"stages": 0, "tasks": 0, "executor_run_ms": 0, "shuffle_write_bytes": 0}
        with self.counter.paused():
            stages = self._stages()
            for i in range(stages.size()):
                s = stages.apply(i)
                sid = s.stageId()
                if sid <= after:
                    break
                if sid > upto or any(lo < sid <= hi for lo, hi in skip):
                    continue
                out["stages"] += 1
                out["tasks"] += s.numCompleteTasks()
                out["executor_run_ms"] += s.executorRunTime()
                out["shuffle_write_bytes"] += s.shuffleWriteBytes()
        return out


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time per span id: its duration minus the part of its interval
    covered by its children (overlapping children are merged first, and
    each child is clipped to the parent's interval)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        p = s.get("parent")
        if p is not None and p in by_id:
            lo = max(s["start"], by_id[p]["start"])
            hi = min(s["end"], by_id[p]["end"])
            if hi > lo:
                kids.setdefault(p, []).append((lo, hi))
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(kids.get(s["id"], [])):
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


class Tracer:
    """Span recorder. ``enabled=False`` makes ``span``/``probe`` no-ops
    and ``op`` a bare timer."""

    def __init__(self, enabled: bool, counter: Py4jCounter | None = None,
                 probe: SparkProbe | None = None):
        self.enabled = enabled
        self.counter = counter
        self.spark_probe = probe
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._op: dict | None = None
        self._op_stack: list[int] | None = None

    # ------------------------------------------------------------ spans
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _calls(self) -> tuple[int, int]:
        if self.counter is None:
            return 0, 0
        return self.counter.calls, self.counter.thread_calls

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        if stack:
            parent = stack[-1]
        elif self._op_stack:
            parent = self._op_stack[-1]  # engine pool thread: nest under the op
        else:
            parent = None
        rec = {"id": next(self._ids), "name": name, "parent": parent,
               "op": self._op["id"] if self._op else None,
               "thread": threading.get_ident(), **attrs}
        calls0, own0 = self._calls()
        stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            calls1, own1 = self._calls()
            rec["py4j"] = calls1 - calls0  # every thread, children included
            rec["py4j_thread"] = own1 - own0  # the span's own thread
            with self._lock:
                self.spans.append(rec)

    @contextlib.contextmanager
    def op(self, kind: str):
        """One unit op of the closed loop. Yields a dict that receives
        ``latency_s`` (and, traced, the op's py4j and Spark totals)."""
        rec: dict = {"kind": kind}
        if not self.enabled:
            t0 = time.perf_counter()
            yield rec
            rec["latency_s"] = time.perf_counter() - t0
            self.ops.append(rec)
            return
        rec["id"] = len(self.ops) + 1
        rec["skip"] = []
        wm0 = self.spark_probe.watermark() if self.spark_probe else (-1, -1)
        self._op = rec
        self._op_stack = self._stack()
        calls0 = self._calls()[0]
        t0 = time.perf_counter()
        try:
            with self.span(f"op.{kind}"):
                yield rec
        finally:
            rec["latency_s"] = time.perf_counter() - t0
            rec["py4j"] = self._calls()[0] - calls0
            self._op = None
            self._op_stack = None
            if self.spark_probe:
                wm1 = self.spark_probe.watermark()
                rec["jobs"] = wm1[0] - wm0[0] - sum(s[2] for s in rec["skip"])
                rec.update(self.spark_probe.stage_totals(
                    wm0[1], wm1[1], [(lo, hi) for lo, hi, _ in rec["skip"]]))
            self.ops.append(rec)

    @contextlib.contextmanager
    def probe(self):
        """The benchmark's own measurement work: py4j calls are not counted
        and the Spark jobs/stages it runs are left out of the op totals."""
        if not self.enabled:
            yield
            return
        with self.counter.paused():
            wm0 = self.spark_probe.watermark() if self.spark_probe else (-1, -1)
            try:
                yield
            finally:
                if self.spark_probe and self._op is not None:
                    wm1 = self.spark_probe.watermark()
                    self._op["skip"].append((wm0[1], wm1[1], wm1[0] - wm0[0]))

    # ---------------------------------------------------------- patching
    def wrap(self, fn, name: str):
        """``fn`` recorded as a span named ``name`` on every call."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def patch(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a traced wrapper everywhere it is
        bound: the defining module and every loaded module of the engine
        package that imported the same object by name."""
        package = "callio_etl_spark"
        orig = getattr(module, attr)
        traced = self.wrap(orig, name)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == package or mod_name.startswith(package + ".")):
                continue
            for k, v in list(vars(mod).items()):
                if v is orig:
                    setattr(mod, k, traced)

    def self_times(self) -> dict[int, float]:
        return self_times(self.spans)
