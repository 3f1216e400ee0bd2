"""Turn a workload :class:`~workloads.Outcome` into named metrics.

``end_to_end`` gives the metrics a user of the store sees, measured with
tracing off. Its times are CPU seconds of the benchmark's process tree (the
Python driver, the Spark JVM and its Python workers), not wall time: on a
shared 4-core host, wall time of the same work varied by up to half between
runs, CPU by a sixth at most. Wall times are reported among the per-layer
figures (``wall.*``).

``per_layer`` gives one figure per layer from a traced run;
every name in ``LAYER_UNITS`` is always reported, and a layer the workload
does not exercise reads 0. Per-operation figures are means over the traced
operations unless the name says ``p50`` or ``tail``.
"""

from __future__ import annotations

from collections import defaultdict

import stats
from workloads import Outcome

END_TO_END_UNITS = {
    "setup_s": "s",
    "pass_cpu_s": "s",
    "ok_rate": "share",
    "peak_rss_mb": "MB",
}

READ_OPS = ("row", "slice", "hyperslab", "elements", "lookup_eq", "scan_between")
COMMIT_OPS = (
    "append", "update", "insert", "delete", "delete_deferred", "compact", "build_bloom",
)
LAYER_UNITS = {
    "wall.setup_s": "s",
    "wall.pass_s": "s",
    "wall.op_p50_ms": "ms",
    "wall.ops_per_s": "1/s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.cpu_share": "share",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "store.open_ms": "ms",
    "store.read.cpu_s": "s",
    **{f"store.read.{op}.p50_ms": "ms" for op in READ_OPS},
    **{f"store.read.{op}.rows_examined_per_row": "count" for op in READ_OPS},
    "store.read.files_scanned_share": "share",
    "store.read.jobs_per_op": "count",
    "store.read.dv_pending_p50_ms": "ms",
    "store.read.p50_ms": "ms",
    "store.read.tail_ms": "ms",
    **{f"store.commit.{op}.p50_ms": "ms" for op in COMMIT_OPS},
    "store.commit.cpu_s": "s",
    "store.commit.p50_ms": "ms",
    "store.commit.tail_ms": "ms",
    "store.commit.jobs_per_op": "count",
    "store.commit.files_new": "count",
    "store.commit.files_reused": "count",
    "store.commit.bytes_new": "bytes",
    "store.commit.conflicts": "count",
    "store.write_amp": "ratio",
    "store.space_amp": "ratio",
    "error_rate": "share",
    "rowid.put_s": "s",
    "tables.load_pos.s": "s",
    "sources.hdf5.write_s": "s",
    "sources.hdf5.read_s": "s",
    "sources.hdf5.bytes": "bytes",
    "spark.pinned_rdds_after": "count",
    "spark.storage_mb_after": "MB",
    "host.steal_s": "s",
    "host.iowait_s": "s",
    "trace.overhead_pct": "%",
    "trace.spans": "count",
}


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _p(xs, pct: float = 50.0) -> float:
    xs = list(xs)
    return stats.percentile(xs, pct) if xs else 0.0


def _ratio(num, den) -> float:
    den = sum(den)
    return sum(num) / den if den else 0.0


def p50_by_type(ops, key: str = "ms") -> dict[str, float]:
    """Median latency (``ms``) or CPU (``cpu_ms``) of the successful
    operations of each type."""
    by_type = defaultdict(list)
    for op in ops:
        if op.ok:
            by_type[op.name].append(getattr(op, key))
    return {k: stats.median(v) for k, v in by_type.items()}


def build_exec_by_row(ops) -> dict[str, tuple[float, float]]:
    """Mean (construction s, execution s) of each suite row over its traced
    operations: which of the two a row is bound by."""
    by_row = defaultdict(list)
    for op in ops:
        if op.kind == "row" and op.ok and "build_s" in op.layer:
            by_row[op.name].append((op.layer["build_s"], op.layer["exec_s"]))
    return {
        k: (_mean(b for b, _ in v), _mean(e for _, e in v)) for k, v in by_row.items()
    }


def pass_s(ops, key: str = "ms") -> float:
    """Seconds of one pass over every operation type: the sum of the types'
    median latency (``ms``) or CPU (``cpu_ms``)."""
    return sum(p50_by_type(ops, key).values()) / 1e3


def ops_per_s(o: Outcome) -> float:
    """Completed operations per second of the timed window."""
    return sum(op.ok for op in o.ops) / o.window_s


def end_to_end(o: Outcome, peak_rss_mb: float) -> dict[str, float]:
    return {
        "setup_s": o.setup_s,
        "pass_cpu_s": pass_s(o.ops, "cpu_ms"),
        "ok_rate": 1.0 - o.failed / o.attempted,
        "peak_rss_mb": peak_rss_mb,
    }


def per_layer(o: Outcome, tracer, host: dict, pinned: tuple[int, float]) -> dict[str, float]:
    m = dict.fromkeys(LAYER_UNITS, 0.0)
    ok = [op for op in o.ops if op.ok]
    m["wall.setup_s"] = o.setup_wall_s
    m["wall.pass_s"] = pass_s(ok)
    m["wall.op_p50_ms"] = _p(op.ms for op in ok)
    m["wall.ops_per_s"] = ops_per_s(o)
    traced = [op for op in ok if op.traced and op.layer.get("stages") is not None]
    reads = [op for op in ok if op.kind == "read"]
    commits = [op for op in ok if op.kind == "commit"]
    t_reads = [op for op in traced if op.kind == "read"]
    t_commits = [op for op in traced if op.kind == "commit"]
    t_rows = [op for op in traced if op.kind == "row"]
    t_work = t_rows or t_reads  # the ops whose results are materialized

    for ph in ("analysis", "optimization", "planning"):
        m[f"catalyst.{ph}_ms"] = _p(op.layer[f"catalyst.{ph}_ms"] for op in t_work)
    exec_ops = t_rows or t_reads + t_commits
    jobs_key = "exec_jobs" if t_rows else "jobs"
    m["exec.jobs"] = _mean(op.layer[jobs_key] for op in exec_ops)
    for k in ("stages", "task_run_s", "task_cpu_s", "shuffle_read_mb",
              "shuffle_write_mb", "spill_mb"):
        m[f"exec.{k}"] = _mean(op.layer[k] for op in exec_ops)
    m["exec.cpu_share"] = _ratio(
        [op.layer["task_cpu_s"] for op in exec_ops],
        [op.layer["task_run_s"] for op in exec_ops],
    )
    if t_rows:
        m["queries.build_s"] = _mean(op.layer["build_s"] for op in t_rows)
        m["queries.build_jobs"] = _mean(op.layer["build_jobs"] for op in t_rows)
        m["exec.s"] = _mean(op.layer["exec_s"] for op in t_rows)
        n = len(t_rows)
        m["tables.load_pos.s"] = _span_s(tracer, "tables.load_pos") / n
        m["sources.hdf5.write_s"] = _span_s(tracer, "sources.hdf5.write") / n
        m["sources.hdf5.read_s"] = _span_s(tracer, "sources.hdf5.read") / n
        m["sources.hdf5.bytes"] = sum(
            s.get("bytes", 0) for s in tracer.of("sources.hdf5.write")
        ) / n
    writers = t_rows or [op for op in commits if "files_new" in op.layer]
    for k in ("files_new", "files_reused", "bytes_new"):
        m[f"store.commit.{k}"] = _mean(op.layer.get(k, 0) for op in writers)

    m["store.open_ms"] = _p(op.layer["open_ms"] for op in t_reads + t_commits)
    for op_name in READ_OPS:
        mine = [op for op in reads if op.name == op_name]
        m[f"store.read.{op_name}.p50_ms"] = _p(op.ms for op in mine)
        t_mine = [op for op in t_reads if op.name == op_name]
        m[f"store.read.{op_name}.rows_examined_per_row"] = _ratio(
            [op.layer["input_records"] for op in t_mine],
            [op.layer["rows"] for op in t_mine],
        )
    scanned = [op for op in t_reads if "files_total" in op.layer]
    m["store.read.files_scanned_share"] = _ratio(
        [op.layer["files_scanned"] for op in scanned],
        [op.layer["files_total"] for op in scanned],
    )
    m["store.read.jobs_per_op"] = _mean(op.layer["jobs"] for op in t_reads)
    m["store.read.cpu_s"] = pass_s(reads, "cpu_ms")
    m["store.commit.cpu_s"] = pass_s(commits, "cpu_ms")
    m["store.read.dv_pending_p50_ms"] = _p(op.ms for op in reads if op.dv_pending)
    m["store.read.p50_ms"] = _p(op.ms for op in reads)
    m["store.read.tail_ms"] = _p((op.ms for op in reads), stats.tail_percentile(len(reads)))
    for op_name in COMMIT_OPS:
        m[f"store.commit.{op_name}.p50_ms"] = _p(op.ms for op in commits if op.name == op_name)
    m["store.commit.p50_ms"] = _p(op.ms for op in commits)
    m["store.commit.tail_ms"] = _p(
        (op.ms for op in commits), stats.tail_percentile(len(commits))
    )
    m["store.commit.jobs_per_op"] = _mean(op.layer["jobs"] for op in t_commits)
    m.update(o.layer)
    m["error_rate"] = o.failed / o.attempted
    m["spark.pinned_rdds_after"], m["spark.storage_mb_after"] = pinned
    m["host.steal_s"], m["host.iowait_s"] = host["steal_s"], host["iowait_s"]
    m["trace.overhead_pct"] = overhead_pct(o.ops)
    m["trace.spans"] = len(tracer.spans)
    return m


def _span_s(tracer, name: str) -> float:
    return sum(s["t1"] - s["t0"] for s in tracer.of(name))


def overhead_pct(ops) -> float:
    """Cost of tracing: per op type, the mean CPU of traced operations
    against untraced ones of the same run, summed over the types that have
    both, as a percentage."""
    traced, plain = defaultdict(list), defaultdict(list)
    for op in ops:
        if op.ok:
            (traced if op.traced else plain)[op.name].append(op.cpu_ms)
    both = [n for n in traced if n in plain]
    base = sum(_mean(plain[n]) for n in both)
    return 100.0 * (sum(_mean(traced[n]) for n in both) / base - 1.0) if base else 0.0
