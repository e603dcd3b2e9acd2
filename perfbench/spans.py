"""Outside-in tracing for the benchmark's traced run.

Nothing here changes the program: :meth:`Tracer.install` replaces the
public functions of each ``blaze_spark`` layer with wrappers that time
the call, in every module that holds a reference to them, so calls made
by the registry, by the library itself and by the benchmark all pass
through.  A span is ``(id, parent, op, name, layer, start, end,
main_thread)``; the layers are named after the package's modules:

- ``sources``: ``blaze_spark.sources.data`` / ``load_star``
- ``core``: ``Table`` / ``ColExpr`` / ``Reduction`` methods, the
  ``blaze_spark.core`` functions, ``blaze_spark.functions.*`` and
  ``blaze_spark.operators.*`` -- only when called outside another
  layer's span, so ``core`` self time is the construction done by the
  caller, not by a pipeline operator
- ``pipeline``: the public functions of every ``blaze_spark.pipeline``
  submodule (sub-layer = submodule name)
- ``streaming``: ``ingest_*_batch``, ``read_*_counts``,
  ``process_batch`` and ``compact_*`` in ``blaze_spark.streaming``
- ``client``: ``Client._request`` (one span per HTTP round trip); in a
  traced run ``/compute`` requests ask for the server's opt-in profile,
  which is read back from the response

Spark work is read from the driver's status store by job id
(:class:`JobReader`): every job id after the previous op's is the
current op's, whichever thread submitted it, so jobs started on
library pool threads or server handler threads are counted too.
"""

from __future__ import annotations

import functools
import inspect
import itertools
import json
import sys
import threading
import time

_SKIP_DUNDERS = {"__init__", "__new__", "__repr__", "__str__",
                 "__hash__", "__init_subclass__", "__class_getitem__",
                 "__getstate__", "__setstate__", "__reduce__",
                 "__reduce_ex__", "__del__", "__dir__", "__bool__",
                 "__len__", "__iter__", "__contains__", "__copy__",
                 "__deepcopy__", "__format__", "__sizeof__"}
_PERF_TO_EPOCH = time.time() - time.perf_counter()


class Span:
    __slots__ = ("id", "parent", "op", "name", "layer", "sub", "t0", "t1",
                 "main")

    def __init__(self, sid, parent, op, name, layer, sub, t0, main):
        self.id, self.parent, self.op = sid, parent, op
        self.name, self.layer, self.sub = name, layer, sub
        self.t0, self.t1, self.main = t0, t0, main

    def as_dict(self) -> dict:
        return {"id": self.id, "parent": self.parent, "op": self.op,
                "name": self.name, "layer": self.layer, "sub": self.sub,
                "start": self.t0 + _PERF_TO_EPOCH,
                "end": self.t1 + _PERF_TO_EPOCH, "main_thread": self.main}


class _NullSpan:
    def __enter__(self):
        return None

    def __exit__(self, *exc):
        return False


NULL_SPAN = _NullSpan()


class NullTracer:
    """Tracing off: the same calls, no recording."""

    enabled = False

    def span(self, name, layer, sub=None):
        return NULL_SPAN


class Tracer:
    enabled = True

    def __init__(self):
        self.spans: list[Span] = []
        self.op: int | None = None
        self.persists = 0
        self.profiles: list[dict] = []
        self.response_bytes = 0
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main = threading.main_thread().ident
        self._lock = threading.Lock()

    # -- spans -----------------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str, layer: str, sub: str | None = None):
        return _SpanCtx(self, name, layer, sub)

    def _open(self, name, layer, sub) -> Span | None:
        st = self._stack()
        # a ``core`` call inside another layer's span (or another core
        # call) is that span's own work; every other layer nests
        if layer == "core" and st and st[-1].layer != "bench":
            return None
        with self._lock:
            sid = next(self._ids)
        s = Span(sid, st[-1].id if st else None, self.op, name, layer, sub,
                 time.perf_counter(),
                 threading.get_ident() == self._main)
        st.append(s)
        return s

    def _close(self, s: Span) -> None:
        s.t1 = time.perf_counter()
        self._stack().pop()
        with self._lock:
            self.spans.append(s)

    def take(self) -> list[Span]:
        with self._lock:
            out, self.spans = self.spans, []
        return out

    # -- installation ----------------------------------------------------
    def wrap(self, fn, layer: str, sub: str | None = None):
        name = getattr(fn, "__qualname__", getattr(fn, "__name__", "?"))
        tracer = self

        @functools.wraps(fn)
        def traced(*a, **kw):
            s = tracer._open(name, layer, sub)
            if s is None:
                return fn(*a, **kw)
            try:
                return fn(*a, **kw)
            finally:
                tracer._close(s)

        traced.__perfbench_wrapped__ = fn
        return traced

    def install(self, spark) -> None:
        """Wrap every layer's public functions and count persists."""
        import blaze_spark  # noqa: F401 -- load the package first
        import blaze_spark.client as client_mod

        targets: dict[int, tuple] = {}

        def add(fn, layer, sub=None):
            if not hasattr(fn, "__perfbench_wrapped__"):
                targets[id(fn)] = (fn, self.wrap(fn, layer, sub))

        mods = {n: m for n, m in list(sys.modules.items())
                if m is not None and (n == "blaze_spark"
                                      or n.startswith("blaze_spark."))}
        for name, mod in mods.items():
            for attr, fn in _own_functions(mod):
                if name == "blaze_spark.sources":
                    if attr in ("data", "load_star"):
                        add(fn, "sources")
                elif name == "blaze_spark.core" or name.startswith(
                        ("blaze_spark.functions.",
                         "blaze_spark.operators.")):
                    add(fn, "core")
                elif name.startswith("blaze_spark.pipeline."):
                    add(fn, "pipeline", name.rsplit(".", 1)[1])
                elif name.startswith("blaze_spark.streaming.") and (
                        attr.startswith(("ingest_", "read_", "compact_"))
                        or attr == "process_batch"):
                    add(fn, "streaming")
        self._patch_modules(targets)
        from blaze_spark.core import ColExpr, Reduction, Table
        for cls in (Table, ColExpr, Reduction):
            self._patch_class(cls, "core")
        self._patch_client(client_mod.Client)
        self._count_persists(spark)

    def _patch_modules(self, targets: dict) -> None:
        """Point every module-level reference to a target at its wrapper
        (the package re-exports, ``from x import y`` copies, the
        registry's imports)."""
        for name, mod in list(sys.modules.items()):
            if mod is None or not (name.startswith("blaze_spark")
                                   or name == "__spark_entry__"):
                continue
            for attr, val in list(vars(mod).items()):
                hit = targets.get(id(val))
                if hit is not None and hit[0] is val:
                    setattr(mod, attr, hit[1])

    def _patch_class(self, cls, layer: str) -> None:
        for attr, val in list(vars(cls).items()):
            if not inspect.isfunction(val) or attr in _SKIP_DUNDERS:
                continue
            if attr.startswith("_") and not (attr.startswith("__")
                                             and attr.endswith("__")):
                continue
            setattr(cls, attr, self.wrap(val, layer))

    def _patch_client(self, client_cls) -> None:
        orig = client_cls._request
        tracer = self

        @functools.wraps(orig)
        def _request(client, path, payload=None, **kw):
            if path == "/compute" and isinstance(payload, dict):
                payload = {**payload, "profile": True}
            with tracer.span("Client._request", "client"):
                out = orig(client, path, payload, **kw)
            tracer._read_response(out)
            return out

        _request.__perfbench_wrapped__ = orig
        client_cls._request = _request

    def _read_response(self, out) -> None:
        prof = None
        if isinstance(out, tuple):  # (body bytes, content type)
            body = out[0]
            self.response_bytes += len(body)
            if "arrow" in (out[1] or ""):
                import pyarrow as pa

                meta = pa.ipc.open_stream(body).schema.metadata or {}
                raw = meta.get(b"blaze:profile")
                prof = json.loads(raw) if raw else None
        elif isinstance(out, dict):
            self.response_bytes += len(json.dumps(out))
            prof = out.get("profile")
        elif isinstance(out, str):
            self.response_bytes += len(out)
        if prof:
            with self._lock:
                self.profiles.append({"op": self.op, **prof})

    def _count_persists(self, spark) -> None:
        df_cls = type(spark.range(0))
        tracer = self
        # a local checkpoint persists its RDD too (the library's chunk
        # loops use it)
        for meth in ("persist", "cache", "localCheckpoint"):
            orig = getattr(df_cls, meth)

            def counted(df, *a, _orig=orig, **kw):
                with tracer._lock:
                    tracer.persists += 1
                return _orig(df, *a, **kw)

            functools.update_wrapper(counted, orig)
            setattr(df_cls, meth, counted)


class _SpanCtx:
    __slots__ = ("tracer", "args", "span")

    def __init__(self, tracer, name, layer, sub):
        self.tracer, self.args = tracer, (name, layer, sub)

    def __enter__(self):
        self.span = self.tracer._open(*self.args)
        return self.span

    def __exit__(self, *exc):
        if self.span is not None:
            self.tracer._close(self.span)
        return False


def _own_functions(mod):
    """Public functions defined in ``mod`` (its ``__all__`` if it has
    one)."""
    names = getattr(mod, "__all__", None)
    for attr, val in list(vars(mod).items()):
        if not inspect.isfunction(val):
            continue
        if names is not None and attr not in names:
            continue
        if attr.startswith("_"):
            continue
        home = getattr(getattr(val, "__wrapped__", val), "__module__", None)
        if home == mod.__name__:
            yield attr, val


# -- Spark status store ------------------------------------------------------

class JobReader:
    """New Spark jobs since the last call, read from the status store by
    job id.  Job ids are allocated in order, so the ids after the last
    one seen belong to the op that just ran -- no job group needed."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self.next_id = self._max_id() + 1

    def _max_id(self) -> int:
        self._bus.waitUntilEmpty()
        jobs = self._store.jobsList(None)
        n = jobs.size()
        if n == 0:
            return -1
        return max(jobs.apply(0).jobId(), jobs.apply(n - 1).jobId())

    def new_jobs(self) -> list[dict]:
        from py4j.protocol import Py4JJavaError

        self._bus.waitUntilEmpty()
        out = []
        top = None
        while True:
            try:
                j = self._store.job(self.next_id)
            except Py4JJavaError:
                # an id whose job never started (stage creation failed)
                # leaves a gap; skip it only if later ids exist
                top = self._max_id() if top is None else top
                if self.next_id < top:
                    self.next_id += 1
                    continue
                break
            out.append(self._job(j))
            self.next_id += 1
        return out

    def _job(self, j) -> dict:
        sub = j.submissionTime()
        stages = j.stageIds()
        return {"id": j.jobId(),
                "submitted": (sub.get().getTime() / 1000.0
                              if sub.isDefined() else None),
                "status": j.status().toString(),
                "stage_ids": [stages.apply(i) for i in range(stages.size())]}

    def stage(self, sid: int) -> dict | None:
        from py4j.protocol import Py4JJavaError

        try:
            s = self._store.lastStageAttempt(sid)
        except Py4JJavaError:
            return None
        return {"status": s.status().toString(), "tasks": s.numTasks(),
                "failed_tasks": s.numFailedTasks(),
                "run_s": s.executorRunTime() / 1e3,
                "cpu_s": s.executorCpuTime() / 1e9,
                "gc_s": s.jvmGcTime() / 1e3,
                "shuffle_read_mb": s.shuffleReadBytes() / 1e6,
                "shuffle_write_mb": s.shuffleWriteBytes() / 1e6,
                "spill_mb": (s.memoryBytesSpilled()
                             + s.diskBytesSpilled()) / 1e6}
