"""Spans around the calls the benchmark makes into each layer.

A :class:`Tracer` keeps spans (name, start, end, parent) and counts in
memory; :meth:`Tracer.dump` writes them once, at the end of a run. Each
workload operation is a parent span (:meth:`Tracer.op`). Calls into the
package made while it runs -- store opens, reads and commits, ``load_pos``
and the HDF5 reader and writer -- become its children through wrappers that
:func:`instrument` installs on the ``Store`` and ``Table`` classes and on
every ``nimhdfstore_spark.*`` module that bound one of the wrapped functions
by name. Calls made from worker threads attach to the current operation.

Spark-side figures come from the driver's own status store: the job count
before and after a call gives the jobs it fired, and the stages of those
jobs give task time, CPU, shuffle and spill. Catalyst phase times are those
of the query execution an action really ran (for a ``noop`` write, the
write command's, not the DataFrame's own), as Spark reports it to a
``QueryExecutionListener`` registered around that action only.

When ``enabled`` is false every wrapper calls straight through, so a run
can interleave traced and untraced operations and measure the overhead.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import os
import sys
import threading
import time
from contextlib import contextmanager

#: Store / Table methods wrapped, by span name
STORE_METHODS = {"put": "store.put", "table": "store.open"}
READ_METHODS = ("row", "slice", "hyperslab", "elements", "lookup_eq", "scan_between")
COMMIT_METHODS = (
    "append", "insert", "update", "delete", "delete_deferred", "compact", "build_bloom",
)
#: module functions wrapped: (defining module, name) -> span name
MODULE_FUNCS = {
    ("nimhdfstore_spark.tables", "load_pos"): "tables.load_pos",
    ("nimhdfstore_spark.sources.hdf5", "write_hdf5_table"): "sources.hdf5.write",
    ("nimhdfstore_spark.sources.hdf5", "read_hdf5_table"): "sources.hdf5.read",
}
PHASES = ("analysis", "optimization", "planning")


class Tracer:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.enabled = False
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._op: int | None = None
        self._lock = threading.Lock()
        self._sc = spark.sparkContext._jsc.sc()
        self._listener: _LastQuery | None = None

    # -- spans ----------------------------------------------------------------

    def _parent(self) -> int | None:
        stack = getattr(self._local, "stack", None)
        return stack[-1] if stack else self._op

    @contextmanager
    def span(self, name: str, **attrs):
        """Record one span; yields its record (attributes may be added) or
        ``None`` when tracing is off."""
        if not self.enabled:
            yield None
            return
        rec = {"id": next(self._ids), "parent": self._parent(), "name": name}
        rec.update(attrs)
        stack = self._local.__dict__.setdefault("stack", [])
        stack.append(rec["id"])
        rec["t0"] = time.perf_counter()
        try:
            yield rec
        except BaseException as e:
            rec["error"] = type(e).__name__
            raise
        finally:
            rec["t1"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    @contextmanager
    def op(self, name: str, **attrs):
        """A workload operation: the parent of every span recorded while it
        runs, on any thread."""
        with self.span(name, kind="op", **attrs) as rec:
            self._op = rec["id"] if rec else None
            try:
                yield rec
            finally:
                self._op = None

    def of(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f)

    # -- Spark ------------------------------------------------------------------

    def jobs(self) -> int:
        """Jobs submitted so far in this application."""
        return int(self._sc.dagScheduler().numTotalJobs())

    def stage_stats(self, j0: int, j1: int) -> dict:
        """Sums over the completed stages of jobs ``j0 .. j1-1``."""
        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        out = dict.fromkeys(
            ("stages", "task_run_s", "task_cpu_s", "shuffle_read_mb",
             "shuffle_write_mb", "spill_mb", "input_records"), 0.0,
        )
        for j in range(j0, j1):
            try:
                ids = store.job(j).stageIds()
            except Exception:  # py4j: the job was never registered
                continue
            it = ids.iterator()
            while it.hasNext():
                s = store.lastStageAttempt(it.next())
                if s.status().toString() != "COMPLETE":
                    continue
                out["stages"] += 1
                out["task_run_s"] += s.executorRunTime() / 1e3
                out["task_cpu_s"] += s.executorCpuTime() / 1e9
                out["shuffle_read_mb"] += s.shuffleReadBytes() / 1e6
                out["shuffle_write_mb"] += s.shuffleWriteBytes() / 1e6
                out["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 1e6
                out["input_records"] += s.inputRecords()
        return out

    @staticmethod
    def analysis_ms(df) -> float:
        """How long Catalyst took to analyze ``df`` when it was made, read
        from its own tracker before any action adds to that phase."""
        o = df._jdf.queryExecution().tracker().phases().get("analysis")
        return float(o.get().durationMs()) if o.isDefined() else 0.0

    @contextmanager
    def last_query(self):
        """Yield a dict that, when the block has ended, holds the Catalyst
        phase times (ms) of the last query execution that finished inside
        it. Empty when tracing is off; nothing is registered then."""
        out: dict[str, float] = {}
        if not self.enabled:
            yield out
            return
        if self._listener is None:
            from pyspark.java_gateway import ensure_callback_server_started

            ensure_callback_server_started(self.spark.sparkContext._gateway)
            self._listener = _LastQuery()
        self._listener.phases = None
        manager = self.spark._jsparkSession.listenerManager()
        manager.register(self._listener)
        try:
            yield out
        finally:
            self._sc.listenerBus().waitUntilEmpty()
            manager.unregister(self._listener)
        out.update(self._listener.phases or dict.fromkeys(PHASES, 0.0))

    def pinned(self) -> tuple[int, float]:
        """(persisted RDDs, MB they hold in memory and on disk)."""
        jsc = self.spark.sparkContext._jsc
        mb = sum(
            (i.memSize() + i.diskSize()) / 1e6 for i in jsc.sc().getRDDStorageInfo()
        )
        return int(jsc.getPersistentRDDs().size()), mb


class _LastQuery:
    """A ``QueryExecutionListener`` implemented in Python, which the JVM
    calls through the py4j callback server: it keeps the phase times of the
    last query execution that succeeded."""

    def __init__(self) -> None:
        self.phases: dict[str, float] | None = None

    def onSuccess(self, func_name, qe, duration_ns) -> None:  # noqa: N802
        ph = qe.tracker().phases()
        out = {}
        for name in PHASES:
            o = ph.get(name)
            out[name] = float(o.get().durationMs()) if o.isDefined() else 0.0
        self.phases = out

    def onFailure(self, func_name, qe, exception) -> None:  # noqa: N802
        self.phases = None

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _wrap(tracer: Tracer, fn, name: str, on_return=None):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if not tracer.enabled:
            return fn(*args, **kwargs)
        with tracer.span(name) as rec:
            out = fn(*args, **kwargs)
            if on_return is not None:
                on_return(rec, args, kwargs, out)
            return out

    return wrapper


def _h5_bytes(rec, args, kwargs, out) -> None:
    path = kwargs.get("path", args[1] if len(args) > 1 else None)
    rec["bytes"] = os.path.getsize(path) if path and os.path.exists(path) else 0


def _files_scanned(rec, args, kwargs, out) -> None:
    _, rec["files_scanned"], rec["files_total"] = out


def instrument(tracer: Tracer) -> None:
    """Install the wrappers for the rest of the process. Call it after every
    query module is imported, so that names bound by ``from ... import``
    are found."""
    from nimhdfstore_spark.store import Store, Table

    for meth, name in STORE_METHODS.items():
        setattr(Store, meth, _wrap(tracer, getattr(Store, meth), name))
    for meth in READ_METHODS:
        hook = _files_scanned if meth in ("lookup_eq", "scan_between") else None
        setattr(Table, meth, _wrap(tracer, getattr(Table, meth), f"store.read.{meth}", hook))
    for meth in COMMIT_METHODS:
        setattr(Table, meth, _wrap(tracer, getattr(Table, meth), f"store.commit.{meth}"))
    for (modname, fname), name in MODULE_FUNCS.items():
        target = getattr(importlib.import_module(modname), fname)
        hook = _h5_bytes if fname == "write_hdf5_table" else None
        wrapper = _wrap(tracer, target, name, hook)
        for mname, mod in list(sys.modules.items()):
            if mname != "nimhdfstore_spark" and not mname.startswith("nimhdfstore_spark."):
                continue
            for attr, val in list(vars(mod).items()):
                if val is target:
                    setattr(mod, attr, wrapper)
