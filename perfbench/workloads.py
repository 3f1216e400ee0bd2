"""The benchmark's workloads.

Each workload runs in one process with one closed-loop client: the next
operation starts when the previous one has returned. A workload sets up
(``setup_s``), then runs whole cycles of operations until ``--seconds``
have passed, and returns an :class:`Outcome`.

* ``store_mixed`` -- a 30,000-row positional table store. Every commit is
  followed by a read that plans against the snapshot the commit made; some
  are followed by a second read of the same snapshot.
* ``suite_mixed`` -- registry rows run through the ``noop`` sink: two rows
  whose DataFrame construction dominates (q14 with its HDF5 leg, x178), one
  whose Spark execution does (x126) and a ``load_pos`` scan (q01).

Every store read is compared with a :class:`model.PositionalModel` that
replays every mutation; every suite row is compared once, untimed, with its
DuckDB oracle. Each mismatch or exception is a failed operation.

Each operation and each set-up step records its wall time and the CPU time
of the run's process tree (:func:`stats.cpu_now`).
"""

from __future__ import annotations

import os
import random
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

import datagen
import stats
from model import ROWID, PositionalModel, as_rows

STORE_SF = 0.005  # 30,000 lineitem rows
STORE_ROWS_PER_FILE = 2_500
STORE_ORDER = ["l_orderkey", "l_linenumber"]
FIXTURE_BUILDS = 3

SUITE_SF = 0.001
#: set-up passes per run, the first on a cold JVM; setup_s takes their
#: median. Two, not three, keep a suite run near a minute on a busy host.
SETUP_PASSES = 2
#: fewest timed passes per run: a row's median of three rejects one pass
#: that a garbage collection or a late compilation made costly
TIMED_PASSES = 3
#: Construction/execution seconds per row at SUITE_SF on 4 cores, warm, from
#: a traced run: q14 2.7/0.65 and x178 1.0/0.22 are construction-bound,
#: x126 0.21/1.3 is execution-bound; q01 (0.12/0.10) is the row that reads
#: through ``tables.load_pos``. x178 leaves checkpoint blocks pinned.
SUITE_ROWS = [
    "q14_hdf5_suite",            # store put, HDF5 write and read, eager jobs
    "x178_mutual_knn_clusters",  # iterative clustering built on the driver
    "x126_asof_cogrouped",       # cogrouped pandas UDF in Python workers
    "q01_full_scan",             # load_pos over lineitem
]


@dataclass
class Op:
    """One timed operation and what tracing learned about it."""

    kind: str        # "read", "commit" or "row"
    name: str        # op type: "slice", "append", "q01_full_scan", ...
    ms: float
    cpu_ms: float = 0.0  # CPU of this process tree while the op ran
    traced: bool = False
    ok: bool = True
    dv_pending: bool = False  # a deletion vector was pending during the op
    layer: dict = field(default_factory=dict)


@dataclass
class Outcome:
    workload: str
    setup_s: float  # CPU seconds
    setup_wall_s: float
    window_s: float
    ops: list[Op]
    attempted: int
    failed: int
    failures: list[str]
    layer: dict = field(default_factory=dict)


class Ctx:
    """What every workload gets: the session, tracer, run directory and
    arguments. ``check`` runs one checked step, counting its failure."""

    def __init__(self, spark, tracer, run_dir, seed, seconds, trace, session):
        self.spark, self.tracer, self.run_dir = spark, tracer, run_dir
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.session_s, self.session_cpu_s = session  # wall and CPU seconds
        self.attempted = 0
        self.failures: list[str] = []
        self._seen: dict[str, list[int]] = {}

    def trace_next(self, name: str) -> bool:
        """Whether to trace the next ``name`` operation: in a traced run,
        every other one of each type, so each type also has untraced samples
        to measure the tracing overhead against. Every second type starts
        untraced, so a warm-up trend over a run does not all count as
        overhead."""
        seen = self._seen.setdefault(name, [len(self._seen), -1])
        seen[1] += 1
        return self.trace and (seen[0] + seen[1]) % 2 == 0

    def check(self, what: str, fn) -> bool:
        """Run ``fn``; an exception or a False result is a failure, which is
        recorded with its operation and never dropped."""
        self.attempted += 1
        try:
            ok = fn() is not False
            if not ok:
                self.failures.append(f"{what}: output differs from the expected result")
        except Exception as e:  # noqa: BLE001 - every failure is counted
            ok = False
            tb = traceback.format_exception_only(type(e), e)[-1].strip()
            self.failures.append(f"{what}: {tb[:400]}")
        return ok

    def outcome(self, name, setup, window_s, ops, layer=None) -> Outcome:
        """``setup`` is ``(cpu_s, wall_s)`` of the set-up after the session
        started; the session's own start is added here."""
        return Outcome(
            name, self.session_cpu_s + setup[0], self.session_s + setup[1], window_s,
            ops, self.attempted, len(self.failures), self.failures, layer or {},
        )

    def loop(self, cycle: int, min_cycles: int = 1):
        """Yield operation indices until the window is over, at the end of a
        whole cycle of ``cycle`` operations and after at least
        ``min_cycles`` cycles; a run stops early only if it reaches four
        times the window."""
        t0 = time.perf_counter()
        k = 0
        while True:
            el = time.perf_counter() - t0
            done = el >= self.seconds and k % cycle == 0 and k >= min_cycles * cycle
            if done or el >= 4 * self.seconds:
                self.window_s = el
                return
            yield k
            k += 1


# -- store workloads --------------------------------------------------------


class StoreRun:
    """The store fixture, its model, and checked reads and commits."""

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        spark = ctx.spark
        from nimhdfstore_spark.store import Store

        size = datagen.sizes(STORE_SF)
        self.parts = size["part"]
        self.source = datagen.lineitem(ctx.seed, size["orders"], self.parts, size["supplier"])
        data = datagen.write({"lineitem": self.source}, os.path.join(ctx.run_dir, "data"))
        self.src_path = os.path.join(data, "lineitem.parquet")
        self.put_s: list[float] = []
        self.put_cpu_s: list[float] = []
        for k in range(FIXTURE_BUILDS):
            root = os.path.join(ctx.run_dir, f"store{k}")
            c0, t0 = stats.cpu_now(), time.perf_counter()
            store = Store(spark, root, rows_per_file=STORE_ROWS_PER_FILE)
            tbl = store.put(
                "lineitem", spark.read.parquet(self.src_path), order_by=STORE_ORDER
            )
            self.put_s.append(time.perf_counter() - t0)
            self.put_cpu_s.append(stats.cpu_now() - c0)
            if k:
                shutil.rmtree(os.path.join(ctx.run_dir, f"store{k - 1}"))
        self.store = store
        self.table_dir = os.path.join(root, "lineitem")
        self.model = PositionalModel.from_source(self.source, STORE_ORDER)
        self.columns = [ROWID] + self.model.rows.column_names
        self.schema = tbl.schema
        self.rng = random.Random(ctx.seed * 7919 + 1)
        self.orders = size["orders"]
        self.next_key = 10**9
        self.dv_pending = False
        self.recent: int | None = None  # a position the last commit wrote
        self.user_bytes = self.bytes_new = 0  # write amplification
        self.conflicts = 0

    # -- reads --

    def read_args(self, op: str, n: int, near: int | None = None):
        """Arguments for read ``op`` on ``n`` rows; ``near`` aims it at a
        recently written position."""
        r = self.rng
        if op == "row":
            return (near if near is not None else r.randrange(n),)
        if op == "slice":
            a = r.randrange(max(1, n - 1000)) if near is None else max(0, near - 500)
            return (a, min(n - 1, a + 999))
        if op == "hyperslab":
            stride = r.randint(50, 200)
            off = r.randrange(max(1, n - 50 * stride))
            return (off, 50, stride)
        if op == "elements":
            coords = r.sample(range(n), 20)
            if near is not None:
                coords[0] = near
            return (sorted(set(coords)),)
        if op == "lookup_eq":
            return ("l_partkey", r.randrange(self.parts))
        if op == "scan_between":
            lo = r.randrange(self.orders - 20)
            return ("l_orderkey", lo, lo + 19)
        raise ValueError(op)

    def read(self, op: str, near: int | None = None) -> Op:
        ctx, tr = self.ctx, self.ctx.tracer
        rec = Op("read", op, 0.0, traced=tr.enabled, dv_pending=self.dv_pending)
        args = self.read_args(op, self.model.nrows, near)
        got: dict = {}

        def run() -> bool:
            with tr.op(f"read.{op}") as span:
                c0 = stats.cpu_now()
                t0 = time.perf_counter()
                j0 = tr.jobs() if rec.traced else 0
                tbl = self.store.table("lineitem")
                open_ms = (time.perf_counter() - t0) * 1e3
                out = getattr(tbl, op)(*args)
                df, scanned = (out[0], out[1:]) if isinstance(out, tuple) else (out, None)
                with tr.last_query() as phases:
                    rows = df.collect()
                    rec.ms = (time.perf_counter() - t0) * 1e3
                    rec.cpu_ms = (stats.cpu_now() - c0) * 1e3
            got.update(
                span=span, phases=phases, j0=j0, open_ms=open_ms, rows=len(rows),
                scanned=scanned,
            )
            want = getattr(self.model, op)(*args)
            return sorted(tuple(r[c] for c in self.columns) for r in rows) == as_rows(
                want, self.columns
            )

        rec.ok = ctx.check(f"read {op}{args}", run)
        if rec.traced and "phases" in got:
            j1 = tr.jobs()
            rec.layer = {
                "open_ms": got["open_ms"], "jobs": j1 - got["j0"], "rows": got["rows"],
                **tr.stage_stats(got["j0"], j1),
                **{f"catalyst.{ph}_ms": v for ph, v in got["phases"].items()},
            }
            if got["scanned"] is not None:
                rec.layer["files_scanned"], rec.layer["files_total"] = got["scanned"]
            got["span"].update(rec.layer)
        return rec

    # -- commits --

    def payload(self, k: int):
        """``k`` new seeded lineitem rows with keys above every generated key,
        as an Arrow table and as a Spark frame in the table's schema."""
        import pyarrow as pa

        base = datagen.lineitem(self.rng.randrange(2**31), k, self.parts, 10).slice(0, k)
        keys = pa.array(range(self.next_key, self.next_key + k), pa.int64())
        self.next_key += k
        arrow = base.set_column(0, "l_orderkey", keys)
        rows = [tuple(d[c] for c in arrow.column_names) for d in arrow.to_pylist()]
        return arrow, self.ctx.spark.createDataFrame(rows, self.schema)

    def commit(self, op: str) -> Op:
        ctx, tr, model = self.ctx, self.ctx.tracer, self.model
        n = model.nrows
        if op == "append":
            arrow, df = self.payload(89)
            args, replay, user = (df,), (arrow,), arrow.nbytes
        elif op == "update":
            i = self.rng.randrange(n)
            arrow, df = self.payload(1)
            args, replay, user = (i, df), (i, arrow), arrow.nbytes
        elif op == "insert":
            i = n // 2 + self.rng.randrange(-1000, 1000)
            arrow, df = self.payload(5)
            args, replay, user = (i, df), (i, arrow), arrow.nbytes
        elif op in ("delete", "delete_deferred"):
            a = n - 1 - self.rng.randrange(5) if op == "delete" else self.rng.randrange(100)
            b = min(n - 1, a + 2)
            args = replay = (a, b)
            user = model.rows.slice(a, b - a + 1).nbytes
        elif op == "compact":
            args = replay = ()
            user = 0
        elif op == "build_bloom":
            args = replay = ("l_partkey",)
            user = 0
        else:
            raise ValueError(op)
        rec = Op("commit", op, 0.0, traced=tr.enabled)
        before = stats.inodes(self.table_dir)
        with tr.op(f"commit.{op}") as span:
            c0 = stats.cpu_now()
            t0 = time.perf_counter()
            j0 = tr.jobs() if rec.traced else 0
            tbl = self.store.table("lineitem")
            open_ms = (time.perf_counter() - t0) * 1e3

            def run() -> None:
                from nimhdfstore_spark.store import StoreConflictError

                try:
                    getattr(tbl, op)(*args)
                except StoreConflictError:
                    self.conflicts += 1
                    raise

            rec.ok = ctx.check(f"commit {op}{replay if op != 'append' else ''}", run)
            rec.ms = (time.perf_counter() - t0) * 1e3
            rec.cpu_ms = (stats.cpu_now() - c0) * 1e3
        if rec.traced:
            j1 = tr.jobs()
            rec.layer = {"open_ms": open_ms, "jobs": j1 - j0, **tr.stage_stats(j0, j1)}
        if rec.ok:
            getattr(model, op)(*replay)
            self.dv_pending = op == "delete_deferred"
            if op == "append":
                self.recent = n
            elif op in ("update", "insert", "delete_deferred"):
                self.recent = replay[0]
            else:
                self.recent = None
            new, reused, nbytes = stats.file_delta(before, stats.inodes(self.table_dir))
            self.bytes_new += nbytes
            self.user_bytes += user
            rec.layer.update(files_new=new, files_reused=reused, bytes_new=nbytes)
        if span is not None:
            span.update(rec.layer)
        return rec

    def check_full(self) -> None:
        """Compare the whole table with the model (untimed)."""
        want = self.model.slice(0, self.model.nrows - 1)

        def same() -> bool:
            got = self.store.table("lineitem").df().toArrow().sort_by(ROWID)
            return got.select(want.column_names).cast(want.schema).equals(want)

        self.ctx.check("full table", same)

    def store_layer(self) -> dict:
        disk = stats.disk_bytes(self.store.root)
        return {
            "rowid.put_s": stats.median(self.put_s),
            "store.space_amp": disk / self.model.nbytes,
            "store.write_amp": self.bytes_new / self.user_bytes if self.user_bytes else 0.0,
            "store.commit.conflicts": self.conflicts,
        }


#: One cycle of store_mixed. Each commit is followed by a read aimed at a
#: position the commit wrote, when it wrote one, planned against the new
#: snapshot; four are followed by a second read of the same snapshot.
#: Every read type comes twice, so a traced run traces one of each.
#: ``build_bloom`` enables ``lookup_eq`` until the next physical commit
#: drops the index. The deferred delete lands near the front of the table;
#: the reads after it see the deletion vector pending, and the append after
#: them flushes it, rewriting most files.
STORE_CYCLE = (
    ("build_bloom", ("lookup_eq", "lookup_eq")),
    ("append", ("row", "slice")),
    ("update", ("hyperslab",)),
    ("insert", ("elements",)),
    ("delete", ("scan_between",)),
    ("delete_deferred", ("row", "slice")),
    ("append", ("hyperslab",)),
    ("compact", ("elements", "scan_between")),
)
STORE_PLAN = [
    step
    for commit, reads in STORE_CYCLE
    for step in [("commit", commit)] + [("read", r) for r in reads]
]


def store_mixed(ctx: Ctx) -> Outcome:
    s = StoreRun(ctx)
    c0, t0 = stats.cpu_now(), time.perf_counter()
    s.commit("build_bloom")
    for op in ("row", "slice", "hyperslab", "elements", "lookup_eq", "scan_between"):
        s.read(op)  # warm pass
    warm, warm_cpu = time.perf_counter() - t0, stats.cpu_now() - c0
    ops = []
    first = False  # the next read is the first after a commit
    for k in ctx.loop(len(STORE_PLAN)):
        kind, op = STORE_PLAN[k % len(STORE_PLAN)]
        if kind == "commit":
            ctx.tracer.enabled = ctx.trace
            ops.append(s.commit(op))
            first = True
            continue
        ctx.tracer.enabled = ctx.trace_next(op)
        near = s.recent if first and s.recent is not None else None
        if near is not None:
            near = min(near, s.model.nrows - 1)
        first = False
        ops.append(s.read(op, near=near))
    ctx.tracer.enabled = False
    setup = (
        stats.median(s.put_cpu_s) + warm_cpu, stats.median(s.put_s) + warm
    )
    window = ctx.window_s
    s.check_full()
    return ctx.outcome("store_mixed", setup, window, ops, s.store_layer())


# -- suite --------------------------------------------------------------------


def _hygiene(spark) -> None:
    """Per-row clean-up, as ``bench.py`` does it: drop cached tables and
    temporary views. Checkpoint blocks the package leaves pinned are left
    alone, so that ``spark.pinned_rdds_after`` shows them."""
    spark.catalog.clearCache()
    for t in spark.catalog.listTables():
        if t.isTemporary:
            spark.catalog.dropTempView(t.name)


def _copy_inputs(src: str, dst: str) -> str:
    """``src``'s files under a new path, by hard link: the package memoizes
    some verdicts by input path, so a new path sees none of them."""
    shutil.copytree(src, dst, copy_function=os.link)
    return dst


def suite_mixed(ctx: Ctx) -> Outcome:
    spark, tr = ctx.spark, ctx.tracer
    root = os.getcwd()
    sys.path.insert(0, os.path.join(root, "tests"))
    from _compare import canonicalize, run_oracle

    from nimhdfstore_spark import queries as registry

    # the inputs are generated once, and that time is no part of setup_s
    inputs = datagen.write(
        datagen.generate(ctx.seed, SUITE_SF), os.path.join(ctx.run_dir, "inputs")
    )
    scratch = os.environ["NIMHDFSTORE_SCRATCH"]

    def matches(got, sql) -> bool:
        want = run_oracle(sql, inputs)
        return (
            sorted(got.columns) == sorted(want.columns)
            and len(got) == len(want)
            and canonicalize(got) == canonicalize(want)
        )

    # set-up passes: each runs every row once on a new path of the inputs
    # and an empty scratch directory, as a first run over new data does.
    # The first pass, on a cold JVM, collects each row's result instead of
    # writing it to the noop sink, and compares it with the row's DuckDB
    # oracle off the clock.
    setup_cpu, setup_wall = [], []
    for k in range(SETUP_PASSES):
        sf_dir = _copy_inputs(inputs, os.path.join(ctx.run_dir, f"sf{k}"))
        shutil.rmtree(scratch, ignore_errors=True)
        cpu = wall = 0.0
        for name in SUITE_ROWS:
            holder = {}

            def run(fn=registry.QUERIES[name], holder=holder, first=k == 0) -> None:
                df = fn(spark, sf_dir)
                if first:
                    holder["got"] = df.toPandas()
                else:
                    _noop(df)

            c0, t0 = stats.cpu_now(), time.perf_counter()
            ok = ctx.check(f"setup {name}", run)
            cpu, wall = cpu + stats.cpu_now() - c0, wall + time.perf_counter() - t0
            if k == 0 and ok:
                sql, got = registry.ORACLE[name], holder["got"]
                ctx.check(f"oracle {name}", lambda got=got, sql=sql: matches(got, sql))
            _hygiene(spark)
        setup_cpu.append(cpu)
        setup_wall.append(wall)

    ops: list[Op] = []
    # three passes at least, so the median of each row can reject one
    # stalled pass, even when a slow host stretches a pass past the window
    for k in ctx.loop(len(SUITE_ROWS), min_cycles=TIMED_PASSES):
        name = SUITE_ROWS[k % len(SUITE_ROWS)]
        tr.enabled = ctx.trace_next(name)
        rec = Op("row", name, 0.0, traced=tr.enabled)
        before = stats.inodes(scratch) if rec.traced else None
        holder = {}

        def run(name=name, holder=holder):
            with tr.op(f"row.{name}") as span:
                c0 = stats.cpu_now()
                t0 = time.perf_counter()
                j0 = tr.jobs() if rec.traced else 0
                with tr.span("queries.build"):
                    df = registry.QUERIES[name](spark, sf_dir)
                tb = time.perf_counter()
                jb = tr.jobs() if rec.traced else 0
                # the DataFrame was analyzed when it was made; the write
                # optimizes and plans it again, as a command of its own
                analysis_ms = tr.analysis_ms(df) if rec.traced else 0.0
                with tr.last_query() as phases:
                    with tr.span("exec"):
                        _noop(df)
                    t1 = time.perf_counter()
                    c1 = stats.cpu_now()
            holder.update(
                span=span, phases=phases, analysis_ms=analysis_ms,
                t0=t0, tb=tb, t1=t1, c0=c0, c1=c1, j0=j0, jb=jb,
            )

        rec.ok = ctx.check(f"row {name}", run)
        if "t1" in holder:
            rec.ms = (holder["t1"] - holder["t0"]) * 1e3
            rec.cpu_ms = (holder["c1"] - holder["c0"]) * 1e3
        if rec.traced and rec.ok:
            j1 = tr.jobs()
            rec.layer = {
                "build_s": holder["tb"] - holder["t0"],
                "build_jobs": holder["jb"] - holder["j0"],
                "exec_s": holder["t1"] - holder["tb"],
                "exec_jobs": j1 - holder["jb"],
                **tr.stage_stats(holder["jb"], j1),
                "catalyst.analysis_ms": holder["analysis_ms"],
                "catalyst.optimization_ms": holder["phases"]["optimization"],
                "catalyst.planning_ms": holder["phases"]["planning"],
            }
            new, reused, nbytes = stats.file_delta(before, stats.inodes(scratch))
            rec.layer.update(files_new=new, files_reused=reused, bytes_new=nbytes)
        _hygiene(spark)
        if rec.traced and rec.ok:
            rec.layer["pinned"], rec.layer["storage_mb"] = tr.pinned()
            holder["span"].update(rec.layer)
        ops.append(rec)
    tr.enabled = False
    window = ctx.window_s
    setup = (stats.median(setup_cpu), stats.median(setup_wall))
    return ctx.outcome("suite_mixed", setup, window, ops)


def _noop(df) -> None:
    """Run ``df`` to the end through the ``noop`` sink."""
    df.write.format("noop").mode("overwrite").save()


WORKLOADS = {"store_mixed": store_mixed, "suite_mixed": suite_mixed}
