"""Python DataSource connector (sources/pyds.py): schema mapping, value
round-trip vs the library read path, catalog-based partition pruning under
filter pushdown, hardlink resolution, and array-column support; pending
deletion vectors, catalog version/uid, retention and the CAS conflict come
from ``Store`` itself."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import GreaterThanOrEqual, LessThanOrEqual

from nimhdfstore_spark.rowid import ROWID
from nimhdfstore_spark.sources.pyds import (
    StoreDataSource, StoreReader, ensure_registered,
)
from nimhdfstore_spark.store import Store


@pytest.fixture()
def pstore(spark, tmp_path):
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(StoreDataSource)
    store = Store(spark, str(tmp_path / "pstore"), rows_per_file=10)
    df = spark.createDataFrame(
        [(i, i * 2, float(i) / 4, f"n{i}") for i in range(50)],
        f"{ROWID} long, v long, x double, s string",
    )
    store.put("t", df)
    return store


def _read(spark, store, table):
    return (
        spark.read.format("nimhdfstore")
        .option("store", store.root)
        .option("table", table)
        .load()
    )


class TestPythonDataSource:
    def test_values_match_library_path(self, spark, pstore):
        back = _read(spark, pstore, "t")
        lib = pstore.table("t").df()
        assert sorted(map(tuple, back.collect())) == sorted(
            map(tuple, lib.collect())
        )

    def test_filtered_read_exact(self, spark, pstore):
        out = _read(spark, pstore, "t").where(
            F.col(ROWID).between(12, 17)
        ).orderBy(ROWID)
        assert [r["v"] for r in out.collect()] == [24, 26, 28, 30, 32, 34]

    def test_partition_pruning(self, pstore):
        r = StoreReader(
            {"store": pstore.root, "table": "t"}, [ROWID, "v", "x", "s"]
        )
        assert len(r.partitions()) == 5
        kept = r.pushFilters(
            [GreaterThanOrEqual((ROWID,), 12), LessThanOrEqual((ROWID,), 17)]
        )
        # every filter handed back to Spark for row-exact re-evaluation
        assert len(list(kept)) == 2
        assert len(r.partitions()) == 1

    def test_disjoint_bounds_empty(self, spark, pstore):
        r = StoreReader({"store": pstore.root, "table": "t"}, [ROWID])
        r.pushFilters([GreaterThanOrEqual((ROWID,), 1000)])
        assert r.partitions() == []
        out = _read(spark, pstore, "t").where(F.col(ROWID) >= 1000)
        assert out.count() == 0

    def test_hardlink_resolves(self, spark, pstore):
        pstore.link("t", "alias")
        assert _read(spark, pstore, "alias").count() == 50

    def test_array_column(self, spark, pstore):
        df = spark.createDataFrame(
            [(i, [float(i), float(i + 1)]) for i in range(20)],
            f"{ROWID} long, vec array<double>",
        )
        pstore.put("arr", df)
        back = _read(spark, pstore, "arr").orderBy(ROWID)
        rows = back.collect()
        assert rows[3]["vec"] == [3.0, 4.0]
        assert back.schema["vec"].dataType.simpleString() == "array<double>"


class TestPythonDataSourceWriter:
    def _write(self, spark, root, mode="overwrite", n=40):
        from nimhdfstore_spark.rowid import with_rowid

        df = spark.createDataFrame(
            [(i, i * 3, f"z{i}") for i in range(n)], "k long, v long, s string"
        )
        body = with_rowid(df, ["k"]).repartitionByRange(4, F.col(ROWID))
        (
            body.write.format("nimhdfstore")
            .option("store", root)
            .option("table", "t")
            .mode(mode)
            .save()
        )

    def test_connector_write_library_read(self, spark, tmp_path):
        spark.dataSource.register(StoreDataSource)
        root = str(tmp_path / "wstore")
        self._write(spark, root)
        t = Store(spark, root).table("t")
        assert t.nrows == 40
        # positional semantics intact through the foreign write path
        assert [r["k"] for r in t[5:9].collect()] == [5, 6, 7, 8]
        # multi-file catalog sorted by lo
        los = [e["lo"] for e in t._meta["files"]]
        assert los == sorted(los)

    def test_no_clobber_without_overwrite(self, spark, tmp_path):
        spark.dataSource.register(StoreDataSource)
        root = str(tmp_path / "wstore2")
        self._write(spark, root)
        with pytest.raises(Exception, match="exists"):
            self._write(spark, root, mode="append")
        # original intact
        assert Store(spark, root).table("t").nrows == 40

    def test_overwrite_bumps_snapshot(self, spark, tmp_path):
        spark.dataSource.register(StoreDataSource)
        root = str(tmp_path / "wstore3")
        self._write(spark, root)
        self._write(spark, root, n=10)
        store = Store(spark, root)
        assert store.table("t").nrows == 10
        assert len(store.snapshots("t")) >= 1

    def test_staging_cleaned(self, spark, tmp_path):
        import os

        spark.dataSource.register(StoreDataSource)
        root = str(tmp_path / "wstore4")
        self._write(spark, root)
        assert Store(spark, root).snapshots("t")  # the write committed
        # commits stage under Store._staged_snap's ".tmp-" prefix
        left = [d for d in os.listdir(os.path.join(root, "t"))
                if d.startswith(".tmp-")]
        assert left == []


class TestConnectorThroughStore:
    """The connector reads and commits through ``Store``: pending deletion
    vectors, catalog version and uid, snapshot retention and the CAS."""

    def _kv(self, spark, n, scale=10):
        return spark.createDataFrame(
            [(i, i * scale) for i in range(n)], f"{ROWID} long, v long"
        )

    def test_pending_dv_reads_like_table_df(self, spark, tmp_path):
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
        ensure_registered(spark)
        store = Store(spark, str(tmp_path / "dv"), rows_per_file=3)
        t = store.put("t", self._kv(spark, 10))
        assert [(e["lo"], e["hi"]) for e in t._ranges()] == [
            (0, 2), (3, 5), (6, 8), (9, 9)
        ]
        t.delete_deferred(2, 4)
        assert t.deletion_vector == [[2, 4]]

        def rows(frame):
            return sorted(map(tuple, frame.collect()))

        back = _read(spark, store, "t")
        assert rows(back) == rows(t.df())
        assert [v for _, v in rows(back)] == [0, 10, 50, 60, 70, 80, 90]
        # logical 1..3 are raw 1, 5 and 6: raw 6 lies in a file above the
        # pushed bound, reached only by widening it by the deleted count
        span = F.col(ROWID).between(1, 3)
        assert rows(back.where(span)) == rows(t.df().where(span)) == [
            (1, 10), (2, 50), (3, 60)
        ]

    def test_overwrite_commits_like_put(self, spark, tmp_path):
        import os

        ensure_registered(spark)
        store = Store(spark, str(tmp_path / "ow"))
        store.put("t", self._kv(spark, 5))
        before = store._read_meta("t")
        for n in (8, 3):
            (
                self._kv(spark, n, scale=7).write.format("nimhdfstore")
                .option("store", store.root).option("table", "t")
                .mode("overwrite").save()
            )
        meta = store._read_meta("t")
        assert meta["version"] == before["version"] + 2
        assert meta["uid"] != before["uid"]
        tdir = os.path.join(store.root, "t")
        snaps = [d for d in os.listdir(tdir) if d.startswith("snap-")]
        assert snaps == [meta["current"]]
        assert len(snaps) == store.keep_snapshots
        assert not [d for d in os.listdir(tdir) if d.startswith(".tmp-")]
        assert [r["v"] for r in store.table("t").df().orderBy(ROWID).collect()] \
            == [0, 7, 14]

    def test_commit_after_concurrent_put_conflicts(self, spark, tmp_path):
        import os

        import pyarrow as pa

        from nimhdfstore_spark.store import StoreConflictError

        store = Store(spark, str(tmp_path / "cc"))
        body = self._kv(spark, 5)
        store.put("t", body)
        writer = StoreDataSource({"store": store.root, "table": "t"}).writer(
            body.schema, True
        )
        msg = writer.write(iter([pa.RecordBatch.from_pydict(
            {ROWID: pa.array([0, 1], pa.int64()),
             "v": pa.array([7, 8], pa.int64())}
        )]))
        store.put("t", self._kv(spark, 4), overwrite=True)
        with pytest.raises(StoreConflictError):
            writer.commit([msg])
        tdir = os.path.join(store.root, "t")
        assert not [d for d in os.listdir(tdir) if d.startswith(".tmp-")]
        assert store.table("t").nrows == 4

    def test_commit_keeps_only_reported_files(self, spark, tmp_path):
        """A file staged by a task attempt whose message never reached
        commit() (failed or speculative) is not part of the snapshot."""
        import pyarrow as pa

        store = Store(spark, str(tmp_path / "rep"))
        body = self._kv(spark, 1)
        writer = StoreDataSource({"store": store.root, "table": "t"}).writer(
            body.schema, False
        )

        def batch(ids):
            return iter([pa.RecordBatch.from_pydict(
                {ROWID: pa.array(ids, pa.int64()),
                 "v": pa.array(ids, pa.int64())}
            )])

        kept = writer.write(batch([0, 1, 2]))
        writer.write(batch([0, 1]))  # an attempt that was not reported
        writer.commit([kept])
        t = store.table("t")
        assert t.nrows == 3
        assert [r[ROWID] for r in t.df().orderBy(ROWID).collect()] == [0, 1, 2]
