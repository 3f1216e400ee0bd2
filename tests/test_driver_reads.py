"""Driver reads: positional and index reads whose opened files hold at most
``Store.LOCAL_REWRITE_MAX_ROWS`` rows run in pyarrow on the driver and
return a LocalRelation (``Table._read_local``). Each read must equal the
Spark path's read row for row, in order, under the same schema (nullability
included); the Spark path is forced by setting the gate to 0."""

from __future__ import annotations

import datetime
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from nimhdfstore_spark.plans import executed_plan
from nimhdfstore_spark.rowid import ROWID
from nimhdfstore_spark.store import Store, StoreError, Table
from nimhdfstore_spark.tables import local_frame

SCHEMA = "k bigint, n int, v double, s string, ts timestamp_ntz, d date, a array<bigint>"


def _row(i):
    return (
        i, i % 5, float(i), f"s{i % 7}",
        datetime.datetime(2024, 1, 1) + datetime.timedelta(hours=i),
        datetime.date(2020, 1, 1) + datetime.timedelta(days=i),
        None if i % 4 == 0 else [i, None, -i],
    )


def _jobs(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


@pytest.fixture(scope="module")
def handles(spark, tmp_path_factory):
    """One table in 13 files, read three ways: as written, with a deletion
    vector pending, and through a time-travel handle."""
    root = str(tmp_path_factory.mktemp("driver_reads") / "store")
    store = Store(spark, root, rows_per_file=8, keep_snapshots=3)
    # a Python-RDD frame: Spark's writer writes the files
    rows = [_row(i) for i in range(100)]
    t = store.put("t", spark.createDataFrame(rows, SCHEMA), order_by=["k"])
    t.build_bloom("s")
    plain = store.table("t")
    t.update(7, local_frame(spark, [_row(700)], SCHEMA))
    history = store.table("t", snapshot=0)
    t = store.table("t")
    t.delete_deferred(5, 9)
    t.delete_deferred(-3)
    t.build_bloom("s")
    return {"plain": plain, "dv": store.table("t"), "history": history}


READS = {
    "row": lambda t: t.row(50),
    "row_negative": lambda t: t.row(-3),
    "row_past_end": lambda t: t.row(500),
    "slice": lambda t: t.slice(10, 40),
    "slice_negative": lambda t: t.slice(-10, -1),
    "slice_empty": lambda t: t.slice(40, 10),
    "hyperslab": lambda t: t.hyperslab(3, 5, 7, 2),
    "hyperslab_columns": lambda t: t.hyperslab(3, 5, 7, 2, columns=["s", "a"]),
    "elements": lambda t: t.elements([5, -1, 33, 2]),
    "elements_empty": lambda t: t.elements([]),
    "getitem_empty": lambda t: t[5:5],
    "getitem_step": lambda t: t[2:30:4],
    "scan_between": lambda t: t.scan_between("v", 3.0, 20.0)[0],
    "lookup_eq": lambda t: t.lookup_eq("s", "s3")[0],
}


@pytest.mark.parametrize("state", ["plain", "dv", "history"])
@pytest.mark.parametrize("read", sorted(READS))
def test_driver_read_matches_spark_read(spark, handles, state, read):
    t = handles[state]
    if read == "lookup_eq" and state == "history":
        pytest.skip("a time-travel handle carries no bloom index")
    local = READS[read](t)
    assert "LocalTableScan" in executed_plan(local)
    before = _jobs(spark)
    got = local.collect()
    assert _jobs(spark) == before
    with pytest.MonkeyPatch.context() as m:
        m.setattr(Store, "LOCAL_REWRITE_MAX_ROWS", 0)
        distributed = READS[read](t)
        want = distributed.collect()
    assert "LocalTableScan" not in executed_plan(distributed) or not want
    assert local.schema == distributed.schema
    if read in ("lookup_eq", "scan_between"):
        # the Spark path leaves index reads in scan order
        want = sorted(want, key=lambda r: r[ROWID])
    assert got == want
    if read not in ("row_past_end", "slice_empty", "elements_empty",
                    "getitem_empty"):
        assert got


def test_gate_counts_the_opened_files_rows(spark, handles, monkeypatch):
    """The gate is the catalog's row count of the files a read opens: at
    one row under a point read's file, the read plans a Spark scan."""
    t = handles["plain"]
    entry = next(e for e in t._ranges() if e["lo"] <= 50 <= e["hi"])
    monkeypatch.setattr(Store, "LOCAL_REWRITE_MAX_ROWS", entry["rows"])
    assert "LocalTableScan" in executed_plan(t.row(50))
    monkeypatch.setattr(Store, "LOCAL_REWRITE_MAX_ROWS", entry["rows"] - 1)
    assert "LocalTableScan" not in executed_plan(t.row(50))


def test_schema_only_calls_plan_no_scan(spark, tmp_path, monkeypatch):
    """With a persisted schema, name and type checks and every read under
    the gate run without ``df()``."""
    store = Store(spark, str(tmp_path / "store"), rows_per_file=8)
    t = store.put(
        "t", local_frame(spark, [_row(i) for i in range(40)], SCHEMA),
        order_by=["k"],
    )

    def planned(self):
        raise AssertionError("df() planned a scan")

    monkeypatch.setattr(Table, "df", planned)
    t.build_bloom("s")
    with pytest.raises(StoreError):
        t.build_bloom(ROWID)
    assert len(t.zone_map("v")) == len(t._ranges())
    assert t.zone_map(ROWID)
    reads = [
        t.row(3), t.slice(2, 9), t.hyperslab(1, 4, 3), t.elements([0, -1]),
        t.lookup_eq("s", "s3")[0], t.scan_between("v", 3.0, 9.0)[0],
    ]
    assert [len(r.collect()) for r in reads] == [1, 8, 4, 2, 6, 7]
    t.set_policy("p", row_filter="n > 1", columns=["k"])
    t.add_constraint("u", unique=["k"])
    with pytest.raises(StoreError):
        t.add_constraint("bad", unique=["nope"])


@pytest.mark.parametrize(
    "op", ["append", "insert", "update", "merge", "add_records_from"]
)
def test_rejected_payload_keeps_pending_dv(spark, tmp_path, op):
    """A payload rejected by the type check commits nothing: the pending
    deletion vector is not flushed and ``current`` does not move."""
    store = Store(spark, str(tmp_path / "store"), rows_per_file=2)
    t = store.put(
        "t", local_frame(spark, [(i, i) for i in range(6)], "k int, v int"),
        order_by=["k"],
    )
    wide = local_frame(spark, [(7, 7)], "k bigint, v int")
    src = store.put("src", wide, order_by=["k"])
    t.delete_deferred(1)
    current, dv = t._meta["current"], t.deletion_vector
    calls = {
        "append": lambda: t.append(wide),
        "insert": lambda: t.insert(2, wide),
        "update": lambda: t.update(2, wide),
        "merge": lambda: t.merge(wide, "v"),
        "add_records_from": lambda: t.add_records_from(src, 0, 1),
    }
    with pytest.raises(StoreError, match="does not match"):
        calls[op]()
    fresh = store.table("t")
    assert fresh._meta["current"] == current
    assert fresh.deletion_vector == dv == [[1, 1]]
    assert [r["k"] for r in fresh.slice(0, -1).collect()] == [0, 2, 3, 4, 5]


def test_table_without_persisted_schema_reads_through_spark(spark, tmp_path):
    store = Store(spark, str(tmp_path / "store"), rows_per_file=8)
    t = store.put(
        "t", local_frame(spark, [_row(i) for i in range(20)], SCHEMA),
        order_by=["k"],
    )
    want = [r["k"] for r in t.slice(3, 12).collect()]
    del t._meta["schema"]
    df = t.slice(3, 12)
    assert "LocalTableScan" not in executed_plan(df)
    assert [r["k"] for r in df.collect()] == want
    assert len(t.zone_map("v")) == len(t._ranges())


@pytest.mark.parametrize(
    "schema, value",
    [
        ("m map<string,bigint>", {"x": 1}),
        ("b binary", bytearray(b"\x00\x01")),
        ("ts timestamp", datetime.datetime(1000, 1, 3, 12)),
    ],
)
def test_types_outside_the_gate_read_through_spark(spark, tmp_path, schema, value):
    store = Store(spark, str(tmp_path / "store"), rows_per_file=2)
    t = store.put(
        "t", spark.createDataFrame(
            [(i, value) for i in range(4)], f"{ROWID} long, {schema}"
        ),
    )
    for df in (t.row(1), t.slice(0, 2), t.elements([3])):
        assert "LocalTableScan" not in executed_plan(df)
    got = t.row(1).collect()
    assert [r[ROWID] for r in got] == [1] and got[0][1] == value


def test_legacy_rebase_files_read_through_spark(spark, tmp_path):
    """Files Spark wrote under LEGACY rebase carry Julian-calendar dates
    that Spark rebases on read and pyarrow would not: their reads take the
    Spark path and return the written pre-Gregorian values."""
    old = [datetime.date(1000, 1, d) for d in range(1, 5)]
    key = "spark.sql.parquet.datetimeRebaseModeInWrite"
    before = spark.conf.get(key)
    spark.conf.set(key, "LEGACY")
    try:
        store = Store(spark, str(tmp_path / "store"), rows_per_file=2)
        t = store.put("t", spark.createDataFrame(
            list(enumerate(old)), f"{ROWID} long, d date"
        ))
    finally:
        spark.conf.set(key, before)
    footer = pq.ParquetFile(
        os.path.join(t.snapshot_path, t._ranges()[0]["name"])
    ).metadata.metadata
    assert Table._LEGACY_REBASE_KEYS[0] in footer
    for df in (t.row(1), t.slice(0, 3)):
        assert "LocalTableScan" not in executed_plan(df)
    assert [r["d"] for r in t.slice(0, 3).collect()] == old
    assert [r["d"] for r in t.row(2).collect()] == [old[2]]


def test_local_frame_takes_arrow_rows(spark):
    """A pyarrow Table lands in a LocalRelation cast to the schema's arrow
    types: a naive timestamp for a ``timestamp`` field is a UTC instant."""
    rows = pa.table({
        "k": pa.array([1, 2], pa.int32()),
        "ts": pa.array([0, 3_600_000_000], pa.timestamp("us")),
    })
    df = local_frame(spark, rows, "k bigint, ts timestamp")
    assert df.isLocal() and dict(df.dtypes)["k"] == "bigint"
    got = df.select("k", F.unix_micros("ts").alias("us")).collect()
    assert [tuple(r) for r in got] == [(1, 0), (2, 3_600_000_000)]
