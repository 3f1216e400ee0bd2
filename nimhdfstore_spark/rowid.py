"""Stable row-position (``_rowid``) assignment.

Every read/mutation in the reference is positional (nimtables.nim:149-233);
Spark DataFrames have no inherent row order, so the engine materializes a
0-based ``_rowid`` column defined as the rank of a row under a *canonical
total order* (a unique key list, e.g. ``(l_orderkey, l_linenumber)``).

Two strategies:

- ``window`` — ``row_number().over(Window.orderBy(keys)) - 1``. Simple, but
  the empty-partition window forces a single-task global sort: fine for tiny
  tables, a non-starter at 100 TB.
- ``offsets`` (default) — range-partition + sort-within-partitions on the
  canonical keys, count rows per partition (tiny job), broadcast the prefix
  sums, and assign per-partition sequential ids in one Arrow-batched
  ``mapInPandas`` pass. No global single-task sort; the only full-data
  movement is the range shuffle that a sorted write needs anyway. This is the
  public "zipWithIndex prefix-sum" pattern expressed DataFrame-side.

Determinism requires the canonical key to be unique — then partition
boundaries cannot change the resulting rank. The driver's lineitem data
VIOLATES this (~24% of (l_orderkey, l_linenumber) keys repeat with distinct
rows). Measured tie semantics (tests/test_properties_ops.py):

- The RANK SET is always correct: both strategies agree with the global
  window rank on every unique key at every scale.
- WITHIN a duplicate-key group, order follows the scan/arrival order of a
  single materialization (stable TimSort; a tie group lands in one range
  partition). One materialization is internally consistent — and
  ``Store.put`` freezes positions at write time, so stored tables are
  stable by construction.
- Across INDEPENDENT materializations of multi-split inputs, tie order can
  flip (shuffle fetch interleaving). At the driver's correctness scale the
  input is a single split, where scan order is deterministic and matches
  DuckDB's row_number scan-order ties — pinned by test. A faster
  window-keyed-on-partition-id variant broke exactly that and was
  rejected; do not "optimize" the Arrow assign pass without re-running the
  tie tests.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

ROWID = "_rowid"

# Row bound under which the single-task window sort is acceptable (a few
# seconds of skinny-row sorting) — used by the auto-strategy probe below.
_PROBE_ROWS = 2_000_000


def _auto_strategy(df: DataFrame) -> str:
    """Choose ``window`` vs ``offsets`` for ``strategy='auto'``.

    Decided from plan metadata where the estimate is trustworthy; probed
    with a bounded job where it is not. Catalyst's ``sizeInBytes`` for a
    Join node is the PRODUCT of the sides' estimates, so a skinny
    join-derived frame (an incremental-view delta, an index-probe result)
    looks enormous and used to get pushed onto the ``offsets`` path — whose
    range-sampling + materialization re-executes the join ~3×. This cost
    two 30s+ in-bench regressions (q45 round-5-internal, x189 round-7-
    internal) while guarded only by a call-site convention. Mechanism fix
    (round-4 verdict ask #1): when the estimate says "big" but the
    optimized plan contains a Join, distrust it and run a
    ``limit(N+1).count()`` probe — bounded (Spark's CollectLimit stops
    after N+1 rows), one cheap job vs. the 3× re-execution it prevents.
    Scan-derived estimates (no Join) stay metadata-only: footer-based
    sizes are reliable and big scans must not pay a probe job.
    """
    _UNKNOWN = (1 << 63) - 1
    if df.isLocal():
        return "window"
    join_derived = False
    try:
        qe = df._jdf.queryExecution()
        size = int(qe.optimizedPlan().stats().sizeInBytes())
        join_derived = "Join" in qe.optimizedPlan().toString()
    except Exception:
        size = _UNKNOWN
    if size < (256 << 20):
        return "window"
    if join_derived:
        probe = df.limit(_PROBE_ROWS + 1).count()
        return "window" if probe <= _PROBE_ROWS else "offsets"
    return "offsets"


def with_rowid(
    df: DataFrame,
    order_by: Sequence[str],
    strategy: str = "auto",
    num_partitions: int | None = None,
    start: int = 0,
) -> DataFrame:
    """Return ``df`` with a ``_rowid`` column = 0-based rank under ``order_by``.

    The output is range-partitioned and sorted by ``order_by`` (hence also by
    ``_rowid``), so writing it produces Parquet files whose ``_rowid`` min/max
    row-group stats enable pushdown pruning for positional reads.
    """
    order_by = list(order_by)
    if not order_by:
        raise ValueError("with_rowid requires a canonical order (unique key columns)")
    if ROWID in df.columns:
        df = df.drop(ROWID)
    if strategy == "auto":
        # Small data ⇒ the single-task window sort beats spinning up
        # Arrow/Python workers; big or unknown ⇒ a global window would
        # serialize on one task, so use the prefix-sum path. Join-derived
        # estimates are distrusted and probed — see _auto_strategy.
        strategy = _auto_strategy(df)
    if strategy == "window":
        w = Window.orderBy(*[F.col(c) for c in order_by])
        out = df.withColumn(
            ROWID, (F.row_number().over(w) - 1 + F.lit(start)).cast("long")
        )
        return out.select(ROWID, *df.columns)
    if strategy != "offsets":
        raise ValueError(f"unknown rowid strategy: {strategy}")

    sort_cols = [F.col(c) for c in order_by]
    if not num_partitions:
        # Pin an explicit partition count: the counts job and the assign job
        # execute this shuffle twice, and an unpinned range shuffle lets AQE
        # re-coalesce — identical here only by deterministic replanning.
        # Explicit N makes both executions identical by construction.
        # Sized from plan stats at ~128 MB per partition.
        _UNKNOWN = (1 << 63) - 1
        try:
            size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        except Exception:
            size = _UNKNOWN
        parallelism = df.sparkSession.sparkContext.defaultParallelism
        if size == _UNKNOWN:
            num_partitions = parallelism * 4
        else:
            num_partitions = max(parallelism, min(20_000, size // (128 << 20) + 1))
    part = df.repartitionByRange(num_partitions, *sort_cols)
    # CORRECTNESS: persist before the two passes. Range-partitioning samples
    # with a seed derived from the physical plan's RDD id, so two separate
    # actions over an unmaterialized range shuffle can see *different*
    # partition boundaries — the counts below would then disagree with the
    # assign pass (duplicate/skipped ranks). Materializing pins one set of
    # partitions for both jobs; at 100 TB this is a disk-spill of the sort
    # output — the same IO a sort would spill anyway. The cache is released
    # to Spark's LRU (consumers typically write the result immediately).
    from pyspark import StorageLevel

    sorted_df = part.sortWithinPartitions(*sort_cols).persist(
        StorageLevel.MEMORY_AND_DISK
    )

    counts = (
        sorted_df.groupBy(F.spark_partition_id().alias("_pid"))
        .count()
        .collect()
    )
    sizes = {r["_pid"]: r["count"] for r in counts}
    offsets: dict[int, int] = {}
    acc = start
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]

    schema = sorted_df.withColumn(ROWID, F.lit(0).cast("long")).schema

    def assign(iterator):
        from pyspark import TaskContext

        import numpy as np

        pid = TaskContext.get().partitionId()
        nxt = offsets.get(pid, start)
        for pdf in iterator:
            n = len(pdf)
            pdf[ROWID] = np.arange(nxt, nxt + n, dtype="int64")
            nxt += n
            yield pdf

    out = sorted_df.mapInPandas(assign, schema=schema)
    return out.select(ROWID, *df.columns)


def _file_keys_sorted(f: str, keys: Sequence[str]) -> bool:
    """In-file order check, STREAMED in record batches: batch-local
    sortedness plus a one-row carry across batch boundaries is the same
    predicate as whole-column order with O(batch) memory. The earlier
    whole-column ``read_table(...).to_pandas()`` materialized every key
    value of the file in one Python worker — on the sf10 sweep's 1 GB
    60M-row file that crashed the worker, and the JVM task then waited on
    the dead worker forever. Early-exits on the first violation, so
    unsorted files cost one batch."""
    import pandas as pd
    import pyarrow.parquet as pq

    keylist = list(keys)
    pf = pq.ParquetFile(f)
    prev_tail = None
    for batch in pf.iter_batches(batch_size=1 << 16, columns=keylist):
        cols = batch.to_pandas()
        if len(cols) == 0:
            continue
        if not cols.equals(cols.sort_values(keylist, ignore_index=True)):
            return False
        if prev_tail is not None:
            edge = pd.concat(
                [prev_tail, cols.iloc[:1]], ignore_index=True
            )
            if not edge.equals(edge.sort_values(keylist, ignore_index=True)):
                return False
        prev_tail = cols.iloc[-1:].reset_index(drop=True)
    return True


def _keys_sorted_distributed(spark, files: list[str], keys: Sequence[str]) -> bool:
    """Run the per-file key-order check as a cluster job: one task per file,
    executors stream only the key columns of their file in record batches
    (``_file_keys_sorted`` — bounded memory at any file size), the driver
    collects one boolean per file. At 100 TB this is the only acceptable
    shape — the driver never reads data pages."""
    from nimhdfstore_spark.tables import local_frame

    spec = local_frame(spark, [(f,) for f in files], "path string").repartition(
        len(files)
    )
    keylist = list(keys)

    def check(batches):
        import pandas as pd

        from nimhdfstore_spark.rowid import _file_keys_sorted as _check_one

        for pdf in batches:
            for f in pdf["path"]:
                yield pd.DataFrame({"ok": [_check_one(f, keylist)]})

    return all(r["ok"] for r in spec.mapInPandas(check, "ok boolean").collect())


def sorted_parquet_bases(
    path: str, keys: Sequence[str], spark=None
) -> list[tuple[str, int, int]] | None:
    """If the Parquet data at ``path`` is provably sorted by ``keys``, return
    ``[(file_path, base_rowid, rows)]``; else ``None``.

    Verification is two-level: (a) footer row-group min/max stats must be
    non-overlapping in key order across and within files (conservative on
    multi-column keys: a first-key tie at a boundary must be disambiguated by
    the second key's stats, else reject) — metadata-only, no data pages
    touched on the driver; (b) the key columns of every file are scanned to
    confirm within-row-group order. With ``spark`` given, (b) runs as a
    distributed per-file job (``_keys_sorted_distributed``); without it
    (pure-library callers, tests) the driver loops the same per-file check.
    Callers memoize the verdict (tables._SORTED_CACHE) per (path, keys)
    and the files' signature, so it re-runs only when the files change.
    """
    import glob as _glob

    import pyarrow.parquet as pq

    files = sorted(_glob.glob(os.path.join(path, "*.parquet"))) if os.path.isdir(path) else [path]
    if not files:
        return None
    per_file = []  # ((min_k0, min_k1), (max_k0, max_k1), file, rows)
    nonempty = []
    try:
        for f in files:
            pf = pq.ParquetFile(f)
            md = pf.metadata
            if md.num_rows == 0:
                continue
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
            prev0 = None  # max_k0 of previous row group
            for rg in range(md.num_row_groups):
                st0 = md.row_group(rg).column(idx[keys[0]]).statistics
                if st0 is None or not st0.has_min_max:
                    return None
                # Necessary-condition filter ONLY: first-key order across
                # row-group boundaries. A first-key TIE is NOT checked
                # against second-key stats here — rg-level k1 min/max bound
                # ALL the group's rows, not the boundary rows, so that
                # comparison falsely rejected every file where a k0 run
                # straddles a boundary (the key-sorted sf10 replica: 379 of
                # 489 boundaries). Within-file order is PROVEN by phase
                # (b)'s streaming key scan regardless; cross-file overlap
                # keeps its own conservative check below.
                if prev0 is not None and st0.min < prev0:
                    return None
                prev0 = st0.max
            last_rg = md.num_row_groups - 1
            st1l = (
                md.row_group(last_rg).column(idx[keys[1]]).statistics
                if len(keys) > 1 else None
            )
            prev = (prev0, st1l.max if st1l is not None else None)
            first0 = md.row_group(0).column(idx[keys[0]]).statistics.min
            st1f = (
                md.row_group(0).column(idx[keys[1]]).statistics
                if len(keys) > 1 else None
            )
            first1 = st1f.min if st1f is not None and st1f.has_min_max else None
            per_file.append(((first0, first1), prev, f, md.num_rows))
            nonempty.append(f)
        # (b) in-file key-order check — distributed when a session is given
        if nonempty:
            if spark is not None:
                if not _keys_sorted_distributed(spark, nonempty, keys):
                    return None
            elif not all(_file_keys_sorted(f, keys) for f in nonempty):
                return None
    except (KeyError, TypeError, AttributeError):
        return None
    # Cross-file non-overlap: sort files by their first-key min, then require
    # each file's min to clear the previous file's max. Two internally-sorted
    # files with interleaved key ranges (A: 1-10, B: 5-15) would otherwise get
    # contiguous bases and a _rowid that is not the global rank. First-key
    # boundary ties are disambiguated by the second key's stats (conservative:
    # the stats bound the true boundary rows, so this can only falsely
    # reject, never falsely accept).
    try:
        per_file.sort(key=lambda t: (t[0][0], t[0][1] if t[0][1] is not None else 0, t[2]))
    except TypeError:
        return None
    prev_max = None
    for mn, mx, _f, _rows in per_file:
        if prev_max is not None:
            if mn[0] < prev_max[0]:
                return None
            if mn[0] == prev_max[0] and len(keys) > 1:
                if mn[1] is None or prev_max[1] is None or mn[1] < prev_max[1]:
                    return None
        prev_max = mx
    out, base = [], 0
    for _mn, _mx, f, rows in per_file:
        out.append((f, base, rows))
        base += rows
    return out


def rowid_from_sorted_parquet(
    spark, path: str, keys: Sequence[str], bases: list[tuple[str, int, int]]
) -> DataFrame:
    """``_rowid`` for key-sorted Parquet with **no shuffle and no Python**:
    rank = per-file base offset (driver prefix-sum over footer row counts) +
    the scan-provided ``_metadata.row_index``. The pattern a 1000-executor
    cluster wants: rowid becomes a pure projection on the scan."""
    from nimhdfstore_spark.tables import local_frame, read_parquet

    df = read_parquet(spark, path)
    cols = df.columns
    if len(bases) == 1:
        out = df.select(
            F.col("_metadata.row_index").cast("long").alias(ROWID), *cols
        )
        return out
    # joined by file name: ``bases`` lists one directory's files, and
    # ``_metadata.file_path`` is a URI whose spelling (``file:/…``) no
    # local path reproduces
    base_df = local_frame(
        spark,
        [(os.path.basename(f), b) for f, b, _ in bases],
        "__fn string, __base long",
    )
    m = df.select(F.col("_metadata.file_name").alias("__fn"),
                  F.col("_metadata.row_index").alias("__ri"), *cols)
    joined = m.join(F.broadcast(base_df), "__fn")
    return joined.select(
        (F.col("__base") + F.col("__ri")).cast("long").alias(ROWID), *cols
    )
