"""Traced mode: spans around the calls into each layer.

``install`` replaces public functions and methods at the names their
callers look up (``plans.scheduler.apply_operation``,
``plans.calc.translate_ch_sql``, ``TableStore.append`` …) with wrappers
that record a span each, and returns an ``uninstall`` callable. An
untraced run never calls it, so it runs the program unmodified.

Spans live in memory. Each thread keeps its own stack of open spans;
the thread pools the scheduler and the calc engine use are swapped for
pools that hand the submitting thread's open span to the worker, so
work done on a pool thread keeps its request id and parent. Server-side
work starts on threads the service spawns; it is tied to the client's
request through ``Tracer.inflight``, which the client sets before each
POST (one client per endpoint, so one request per endpoint is open).
"""

from __future__ import annotations

import concurrent.futures
import functools
import itertools
import threading
import time
from contextlib import contextmanager

from stats import Span

import ora_ch_spark.api as api
import ora_ch_spark.plans.calc as calc
import ora_ch_spark.plans.scheduler as scheduler
from ora_ch_spark.store import StoreConflict, TableStore

STORE_WRITES = ("write", "append", "delete_where", "replace_files")
STORE_READS = ("read", "read_with_file", "read_files")
STORE_META = ("row_count", "max_value", "prune_files", "table_exists")


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self.inflight: dict[str, tuple[str, int]] = {}
        # keyed by (name, request id of the span open at the time)
        self.counts: dict[tuple[str, str | None], int] = {}
        self.values: dict[tuple[str, str | None], list[float]] = {}

    def open_spans(self) -> list[Span]:
        """This thread's open spans, innermost last."""
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current(self) -> Span | None:
        st = self.open_spans()
        return st[-1] if st else None

    @contextmanager
    def span(self, name: str, layer: str, endpoint: str | None = None):
        """Open a span under the thread's current span, or — for the
        first span of server-side work — under the client's open
        request on ``endpoint``."""
        parent = self.current()
        if parent is not None:
            rid, pid = parent.rid, parent.id
        elif endpoint is not None and endpoint in self.inflight:
            rid, pid = self.inflight[endpoint]
        else:
            rid, pid = None, None
        s = Span(next(self._ids), pid, name, layer, time.perf_counter(), 0.0, rid)
        st = self.open_spans()
        st.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            st.pop()
            with self._lock:
                self.spans.append(s)

    @contextmanager
    def adopt(self, parent: Span | None):
        """Run a block on this thread as if ``parent`` were open here."""
        st = self.open_spans()
        if parent is not None:
            st.append(parent)
        try:
            yield
        finally:
            if parent is not None:
                st.pop()

    def _rid(self) -> str | None:
        cur = self.current()
        return cur.rid if cur is not None else None

    def count(self, key: str, n: int = 1) -> None:
        k = (key, self._rid())
        with self._lock:
            self.counts[k] = self.counts.get(k, 0) + n

    def record(self, key: str, value: float) -> None:
        k = (key, self._rid())
        with self._lock:
            self.values.setdefault(k, []).append(value)


def _propagating_pool(tracer: Tracer):
    class Pool(concurrent.futures.ThreadPoolExecutor):
        def submit(self, fn, /, *args, **kwargs):
            parent = tracer.current()

            def run():
                with tracer.adopt(parent):
                    return fn(*args, **kwargs)

            return super().submit(run)

    return Pool


def install(tracer: Tracer, engine: calc.CalcEngine):
    """Wrap every traced call site; returns ``uninstall``."""
    saved: list[tuple[object, str, object]] = []

    def patch(owner, attr: str, make):
        orig = getattr(owner, attr)
        saved.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def spanned(name: str, layer: str, endpoint: str | None = None, after=None):
        def make(fn):
            @functools.wraps(fn)
            def wrapper(*args, **kwargs):
                with tracer.span(name, layer, endpoint):
                    out = fn(*args, **kwargs)
                if after is not None:
                    after(out)
                return out

            return wrapper

        return make

    # ---- api: server side of the two endpoints + GET /state -------
    S = api.OraChSparkService
    patch(S, "start_task", spanned("api.start_task", "api", "task"))
    patch(S, "start_calc", spanned("api.start_calc", "api", "calc"))
    patch(S, "state", spanned("api.state", "api"))

    # ---- plans.scheduler ------------------------------------------
    patch(scheduler.TaskScheduler, "run_task",
          spanned("scheduler.run_task", "plans.scheduler", "task"))
    patch(scheduler, "ThreadPoolExecutor", lambda _orig: _propagating_pool(tracer))

    def op_span(fn):
        @functools.wraps(fn)
        def wrapper(store, spec, source, key_columns=None):
            with tracer.span(f"load_ops.{spec.operation.value}", "operators.load_ops"):
                return fn(store, spec, source, key_columns=key_columns)

        return wrapper

    patch(scheduler, "apply_operation", op_span)

    # ---- store ----------------------------------------------------
    def store_span(method: str, kind: str):
        def make(fn):
            @functools.wraps(fn)
            def wrapper(*args, **kwargs):
                outer = not any(s.layer == "store" for s in tracer.open_spans())
                try:
                    with tracer.span(f"store.{method}", "store"):
                        out = fn(*args, **kwargs)
                except StoreConflict:
                    if outer:
                        tracer.count("store.conflicts")
                    raise
                if outer and kind == "write":
                    tracer.count("store.commits")
                    if method == "write" and any(
                        s.name == "load_ops.update" for s in tracer.open_spans()
                    ):
                        tracer.count("load_ops.update_full_merges")
                if method == "replace_files" and outer:
                    tracer.count("load_ops.update_files_rewritten", len(args[3]))
                return out

            return wrapper

        return make

    for m in STORE_WRITES:
        patch(TableStore, m, store_span(m, "write"))
    for m in STORE_READS + STORE_META:
        patch(TableStore, m, store_span(m, "read"))

    # ---- functions.params / functions.dialect (as plans.calc sees them)
    patch(calc, "bind_params", spanned("params.bind", "functions.params"))
    patch(calc, "translate_ch_sql", spanned("dialect.translate", "functions.dialect"))

    # ---- plans.calc -----------------------------------------------
    C = calc.CalcEngine
    patch(C, "run", spanned("calc.run", "plans.calc", "calc"))
    patch(C, "materialize", spanned("calc.materialize", "plans.calc"))
    patch(C, "export", spanned(
        "calc.export", "plans.calc",
        after=lambda n: tracer.record("calc.export_rows", n)))
    patch(C, "promote_local_cache", spanned("calc.promote", "plans.calc"))
    patch(calc, "ThreadPoolExecutor", lambda _orig: _propagating_pool(tracer))
    # Catalyst analysis of the bound text: the engine's only use of
    # its session is ``spark.sql`` inside ``materialize``
    patch(engine, "spark", lambda spark: _PlanningSession(spark, tracer))

    def uninstall() -> None:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)

    return uninstall


class _PlanningSession:
    def __init__(self, spark, tracer: Tracer):
        self._spark, self._tracer = spark, tracer

    def sql(self, text, *args, **kwargs):
        with self._tracer.span("calc.plan", "plans.calc"):
            return self._spark.sql(text, *args, **kwargs)

    def __getattr__(self, name):
        return getattr(self._spark, name)


def wrapper_cost_s(n: int = 20_000) -> float:
    """Seconds one traced call adds, measured on a no-op function."""
    t = Tracer()

    def f():
        return None

    def g():
        with t.span("x", "x"):
            return f()

    t0 = time.perf_counter()
    for _ in range(n):
        f()
    base = time.perf_counter() - t0
    t0 = time.perf_counter()
    for _ in range(n):
        g()
    return max(0.0, (time.perf_counter() - t0 - base) / n)
