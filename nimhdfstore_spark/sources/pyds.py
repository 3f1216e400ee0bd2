"""Python DataSource (Spark 4 DSv2-python) connector for the store:
``spark.read.format("nimhdfstore").option("store", root).option("table", t)``.

This is the connector boundary SURVEY §4.2 sketched for format
pluggability, done as a first-class source instead of a library call. It is
a thin adapter over :mod:`nimhdfstore_spark.store`, the only module that
knows the catalog format:

- **planning**: partitions come from ``Store``'s catalog, opened through a
  session-free read-only ``Store`` handle (hardlinks resolved, inline or
  sharded file catalog) — one input partition per snapshot Parquet file,
  each carrying its ``_rowid`` (lo, hi) span. No file listing, no footer
  reads at plan time (the manifest IS the index).
- **pushdown**: ``pushFilters`` (Spark 4.1) captures ``_rowid`` bounds
  from the query's predicates and DROPS whole partitions whose span
  cannot intersect — positional reads prune at the planner, exactly like
  the reference's chunk-index behavior (nimtables.nim:149-171 via HDF5
  chunk pruning). A pending deletion vector widens the upper bound by the
  deleted count, as ``Table._span_base`` does. All filters are returned to
  Spark for re-evaluation, so pruning can only skip files, never change
  results.
- **execution**: each partition yields PyArrow RecordBatches straight from
  its one file, with the pending deletion vector applied by
  ``Table._dv_overlay_arrow`` — the same rows and ``_rowid`` numbering as
  ``Table.df()``, columnar end-to-end, no Python row objects.

The write path is ``Store.put`` expressed as a DSv2 two-phase commit
(``StoreWriter`` below): tasks stage files in a ``Store._staged_snap``
directory, and the driver's commit publishes it through the store's CAS
pointer flip and snapshot retention.
"""

from __future__ import annotations

import os
import shutil
import weakref

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)

from nimhdfstore_spark.rowid import ROWID
from nimhdfstore_spark.store import Store, Table


def _target(options) -> tuple[str, str]:
    root, table = options.get("store"), options.get("table")
    if not root or not table:
        raise ValueError("nimhdfstore needs .option('store', ...) "
                         "and .option('table', ...)")
    return root, table


def _open(options) -> Table:
    root, table = _target(options)
    return Store(None, root, mode="r").table(table)


class _FilePartition(InputPartition):
    def __init__(self, path: str, lo: int, hi: int):
        self.path, self.lo, self.hi = path, lo, hi


class StoreReader(DataSourceReader):
    def __init__(self, options, schema_names: list[str]):
        t = _open(options)
        self._files = [
            (os.path.join(t.snapshot_path, e["name"]), e["lo"], e["hi"])
            for e in t._ranges()
        ]
        self._dv = t.deletion_vector
        self._names = schema_names
        self._lo, self._hi = None, None  # pushed _rowid bounds (inclusive)

    def pushFilters(self, filters):
        for f in filters:
            attr = getattr(f, "attribute", None)
            if not (attr and len(attr) == 1 and attr[0] == ROWID):
                continue
            if isinstance(f, EqualTo):
                self._narrow(f.value, f.value)
            elif isinstance(f, GreaterThanOrEqual):
                self._narrow(f.value, None)
            elif isinstance(f, GreaterThan):
                self._narrow(f.value + 1, None)
            elif isinstance(f, LessThanOrEqual):
                self._narrow(None, f.value)
            elif isinstance(f, LessThan):
                self._narrow(None, f.value - 1)
            # other filter shapes (IsNotNull, ...) just pass through
        # hand every filter back: pruning only skips files, Spark still
        # evaluates the predicates row-exactly on what we emit
        return filters

    def _narrow(self, lo, hi):
        if lo is not None:
            self._lo = lo if self._lo is None else max(self._lo, lo)
        if hi is not None:
            self._hi = hi if self._hi is None else min(self._hi, hi)

    def partitions(self):
        # the bounds are logical positions; a row's raw position is at
        # least its logical one and at most the deleted count above it
        hi = self._hi
        if hi is not None:
            hi += sum(b - a + 1 for a, b in self._dv)
        # an empty list is accepted and yields an empty scan
        return [
            _FilePartition(path, lo, fhi)
            for path, lo, fhi in self._files
            if not (self._lo is not None and fhi < self._lo)
            and not (hi is not None and lo > hi)
        ]

    def read(self, partition: _FilePartition):
        import pyarrow.parquet as pq

        if partition is None:
            # an empty partitions() list still gets one read(None) call
            return
        raw = pq.read_table(partition.path, columns=self._names)
        yield from (
            Table._dv_overlay_arrow(raw, self._dv).select(self._names)
            .to_batches()
        )


_REGISTERED = weakref.WeakSet()


def ensure_registered(spark) -> None:
    """Register the source once per session: ``spark.dataSource.register``
    costs ~1 s of Py4J + pickling per call, and repeated registration of
    the same class is a no-op semantically. Tracked in a WeakSet of the
    session OBJECTS — registration is per-SparkSession (newSession() under
    the same applicationId needs its own), and weak references can never
    alias a dead session's recycled ``id()``."""
    try:
        if spark in _REGISTERED:
            return
        spark.dataSource.register(StoreDataSource)
        _REGISTERED.add(spark)
    except TypeError:  # non-weakref-able session object: just register
        spark.dataSource.register(StoreDataSource)


class StoreDataSource(DataSource):
    """``spark.dataSource.register(StoreDataSource)`` then
    ``spark.read.format("nimhdfstore")``."""

    @classmethod
    def name(cls) -> str:
        return "nimhdfstore"

    def schema(self):
        # plan-time schema from the persisted catalog entry: no footer read
        # (and a zero-file table — delete-to-empty — stays readable)
        t = _open(self.options)
        stored = t._stored_schema()
        if stored is not None:
            return stored
        # tables written before schema persistence: the first file's footer
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema

        files = t._ranges()
        if not files:
            raise ValueError("empty table")
        return from_arrow_schema(
            pq.read_schema(os.path.join(t.snapshot_path, files[0]["name"]))
        )

    def reader(self, schema) -> StoreReader:
        return StoreReader(self.options, [f.name for f in schema.fields])

    def writer(self, schema, overwrite: bool) -> "StoreWriter":
        return StoreWriter(self.options, overwrite, schema)


# --------------------------------------------------------------------------
# Write path: df.write.format("nimhdfstore") — Store.put as the DSv2
# two-phase write. Construction plans the put (key check, next snapshot,
# expected catalog version) and makes its staging directory; executors
# write staged files and return commit messages; the driver's commit()
# publishes through Store._publish_put (file catalog, schema sidecar, CAS
# pointer flip, snapshot retention), so a commit that landed since
# construction raises StoreConflictError. abort() leaves the current
# snapshot untouched. Input must carry _rowid (positions are data — the
# caller picks the canonical order, typically rowid.with_rowid upstream).
# --------------------------------------------------------------------------


class _StagedFile(WriterCommitMessage):
    def __init__(self, name: str):
        self.name = name


class StoreWriter(DataSourceArrowWriter):
    def __init__(self, options, overwrite: bool, schema):
        self._root, self._table = _target(options)
        if ROWID not in schema.names:
            raise ValueError("input has no _rowid column; assign the "
                             "canonical order first (rowid.with_rowid)")
        store = Store(None, self._root)
        self._meta, self._expected, self._replacing = store._begin_put(
            self._table, overwrite, codec=options.get("codec", "snappy")
        )
        self._meta["schema"] = schema.json()
        self._staged = store._staged_snap(self._meta["current"])
        self._dir = os.path.join(store._table_dir(self._table), self._staged)
        os.makedirs(self._dir)

    def write(self, batches):
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        batches = list(batches)
        if not batches:
            return _StagedFile("")
        table = pa.Table.from_batches(batches)
        name = f"part-{uuid.uuid4().hex}.parquet"
        codec = self._meta["codec"]
        pq.write_table(
            table, os.path.join(self._dir, name),
            compression=Store._LOCAL_WRITE_CODECS.get(codec, codec),
        )
        return _StagedFile(name)

    def commit(self, messages):
        # only files reported by successful tasks belong to the snapshot: a
        # failed or speculative attempt may have left its own file behind
        names = {m.name for m in messages if m is not None and m.name}
        for fn in os.listdir(self._dir):
            if fn not in names:
                os.remove(os.path.join(self._dir, fn))
        try:
            Store(None, self._root)._publish_put(
                self._table, self._meta, self._staged, self._expected,
                self._replacing,
            )
        finally:
            # published: renamed away already; failed: discard the staging
            shutil.rmtree(self._dir, ignore_errors=True)

    def abort(self, messages):
        shutil.rmtree(self._dir, ignore_errors=True)
