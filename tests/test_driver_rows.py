"""One driver-rows path: every DataFrame the package builds from driver-held
rows goes through ``tables.local_frame``, so the store's mutation payloads
are LocalRelations (``LocalTableScan``) that ``_write_local`` reads without
a Spark job — never Python-RDD-backed ``Scan ExistingRDD`` plans."""

from __future__ import annotations

import ast
import datetime
import json
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from nimhdfstore_spark.operators.dedup import connected_components
from nimhdfstore_spark.plans.inspect import executed_plan
from nimhdfstore_spark.rowid import ROWID
from nimhdfstore_spark.store import Store
from nimhdfstore_spark.tables import local_frame

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "nimhdfstore_spark",
)
SCHEMA = "k bigint, v double"
TS_SCHEMA = "k bigint, v timestamp"
NTZ_SCHEMA = "k bigint, v timestamp_ntz"
#: value of row ``i`` per payload schema
VALUE = {
    SCHEMA: float,
    TS_SCHEMA: lambda i: datetime.datetime(2024, 3, 9) + datetime.timedelta(hours=i),
    NTZ_SCHEMA: lambda i: datetime.datetime(2024, 3, 9) + datetime.timedelta(hours=i),
}
#: Parquet encoding of a timestamp_ntz column, as Spark's writer stores it
NTZ_ENCODING = ("INT64", "Timestamp", False, "microseconds")


def test_create_dataframe_only_inside_local_frame():
    tables = os.path.join(PKG, "tables.py")
    with open(tables) as f:
        fn = next(
            n for n in ast.parse(f.read()).body
            if isinstance(n, ast.FunctionDef) and n.name == "local_frame"
        )
    stray = []
    for root, _dirs, files in os.walk(PKG):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            with open(path) as f:
                for no, line in enumerate(f, 1):
                    if "createDataFrame(" in line and not (
                        path == tables and fn.lineno <= no <= fn.end_lineno
                    ):
                        stray.append(f"{os.path.relpath(path, PKG)}:{no}")
    assert not stray, f"createDataFrame( outside tables.local_frame: {stray}"


def _table(spark, tmp_path, n=20, schema=SCHEMA):
    store = Store(spark, str(tmp_path / "store"), rows_per_file=8)
    rows = [(i, VALUE[schema](i)) for i in range(n)]
    return store.put("t", local_frame(spark, rows, schema), order_by=["k"])


def _next_job_id(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _encoding(path, column):
    """(physical type, logical type, isAdjustedToUTC, time unit) of
    ``column`` in one Parquet file."""
    schema = pq.ParquetFile(path).schema
    col = next(
        schema.column(i) for i in range(len(schema))
        if schema.column(i).name == column
    )
    logical = json.loads(col.logical_type.to_json())
    return (
        col.physical_type, logical["Type"], logical.get("isAdjustedToUTC"),
        logical.get("timeUnit"),
    )


def _data_files(t):
    return [os.path.join(t.snapshot_path, e["name"]) for e in t._ranges()]


def test_append_of_driver_rows_fires_no_jobs(spark, tmp_path):
    for schema in (SCHEMA, TS_SCHEMA, NTZ_SCHEMA):
        t = _table(spark, tmp_path / schema.split()[-1], schema=schema)
        value = VALUE[schema]
        payload = local_frame(spark, [(100, value(1)), (101, value(2))], schema)
        before = _next_job_id(spark)
        t.append(payload)
        assert _next_job_id(spark) == before, schema
        assert t.nrows == 22
        assert [tuple(r)[1:] for r in t.slice(20, 21).collect()] == [
            (100, value(1)), (101, value(2)),
        ]


@pytest.mark.parametrize(
    "op, schema",
    [
        pytest.param("insert", SCHEMA, id="insert"),
        pytest.param("update", SCHEMA, id="update"),
        pytest.param("insert", TS_SCHEMA, id="insert-timestamp"),
        pytest.param("update", TS_SCHEMA, id="update-timestamp"),
    ],
)
def test_rewrite_body_scans_local_relation(spark, tmp_path, monkeypatch, op, schema):
    """Even a Python-RDD-backed payload is re-localized. Under the driver
    gate the body the commit writes is a pyarrow table the driver built
    from the touched file and the payload; a timestamp table keeps the
    Spark body, which unions the touched file with a LocalTableScan."""
    t = _table(spark, tmp_path, schema=schema)
    touched = sum(e["rows"] for e in t._ranges() if e["hi"] >= 10)
    if op == "update":  # nothing shifts: only the file holding row 10
        touched = next(e["rows"] for e in t._ranges() if e["lo"] <= 10 <= e["hi"])
    seen = []
    real = type(t)._commit_pruned

    def spy(self, keep, rewrite, *args, **kwargs):
        seen.append(
            rewrite if isinstance(rewrite, pa.Table) else executed_plan(rewrite)
        )
        return real(self, keep, rewrite, *args, **kwargs)

    monkeypatch.setattr(type(t), "_commit_pruned", spy)
    payload = spark.createDataFrame([(500, VALUE[schema](5))], schema)
    getattr(t, op)(10, payload)
    (body,) = seen
    if schema == TS_SCHEMA:
        assert "LocalTableScan" in body and "ExistingRDD" not in body, body
        assert "FileScan" in body, body  # the touched file really is unioned
    else:
        assert isinstance(body, pa.Table), body
        # the touched file's rows, less the replaced one, plus the payload
        assert body.num_rows == touched + (op == "insert"), body
        assert 500 in body.column("k").to_pylist()
    assert [r["k"] for r in t.row(10).collect()] == [500]


@pytest.fixture
def los_angeles_process_tokyo_session(spark):
    """Python process zone America/Los_Angeles, session zone Asia/Tokyo;
    both restored afterwards."""
    old_tz = os.environ.get("TZ")
    old_session = spark.conf.get("spark.sql.session.timeZone")
    os.environ["TZ"] = "America/Los_Angeles"
    time.tzset()
    spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    yield
    if old_tz is None:
        del os.environ["TZ"]
    else:
        os.environ["TZ"] = old_tz
    time.tzset()
    spark.conf.set("spark.sql.session.timeZone", old_session)


def test_local_frame_timestamps_across_zones(
    spark, tmp_path, los_angeles_process_tokyo_session
):
    """Naive datetimes, also inside arrays, structs and maps, read in the
    Python process's zone, not the session's and not UTC, exactly as the
    classic ``createDataFrame`` conversion reads them; a timestamp table's
    append and read-back keep the values."""
    winter = datetime.datetime(2024, 1, 2, 3, 4, 5, 6)
    # 01:30 happens twice in Los Angeles that night; fold=1 is the second,
    # PST one. The classic conversion (time.mktime) ignores fold and takes
    # the offset of its previous call, so a winter value precedes each one.
    ambiguous = datetime.datetime(2024, 11, 3, 1, 30, fold=1)
    plus5 = datetime.datetime(2024, 7, 1, 12, tzinfo=datetime.timezone(
        datetime.timedelta(hours=5)))
    rows = [
        (0, winter, [winter, None]),
        (1, plus5, None),
        (2, ambiguous, [winter, ambiguous]),
        (3, None, []),
    ]
    schema = "a bigint, ts timestamp, tss array<timestamp>"
    got = local_frame(spark, rows, schema)
    classic = spark.createDataFrame(rows, schema)
    assert got.isLocal()
    assert got.collect() == classic.collect()
    assert [r["s"] for r in got.select(F.col("ts").cast("long").alias("s")).collect()] == [
        1704193445, 1719817200, 1730626200, None,
    ]

    flat = "a bigint, ts timestamp"
    store = Store(spark, str(tmp_path / "store"))
    t = store.put("t", local_frame(spark, [(9, winter)], flat), order_by=["a"])
    t.append(local_frame(spark, [r[:2] for r in rows], flat))
    assert any("-local-" in e["name"] for e in t._ranges())
    back = t.df().orderBy(ROWID).select("a", "ts").collect()
    assert back == [(9, winter)] + [r[:2] for r in classic.collect()]

    # timestamps inside structs (tuple, Row or mapping values) and maps; a
    # null map stays null, with or without timestamps in it
    summer = datetime.datetime(2024, 7, 2, 3, 4, 5, 6)
    structs = "a bigint, s struct<t:timestamp,n:bigint>, l array<struct<t:timestamp>>"
    rows = [
        (0, (winter, 1), [(summer,), None]),
        (1, {"t": summer, "n": 2}, None),
        (2, Row(t=winter, n=3), []),
        (3, None, [{"t": None}]),
    ]
    got = local_frame(spark, rows, structs)
    assert got.isLocal()
    assert got.collect() == spark.createDataFrame(rows, structs).collect()
    assert [
        r["s"] for r in got.select(F.col("s.t").cast("long").alias("s")).collect()
    ] == [1704193445, 1719914645, 1704193445, None]

    maps = (
        "a bigint, m map<string,timestamp>, k map<timestamp,bigint>, "
        "v map<string,array<bigint>>"
    )
    rows = [
        (0, {"w": winter, "x": None}, {summer: 1}, {"a": [1, None]}),
        (1, None, None, None),
        (2, {}, {}, {}),
    ]
    got = local_frame(spark, rows, maps).collect()
    assert got == spark.createDataFrame(rows, maps).collect()
    assert got[1] == (1, None, None, None)

    # timestamp_ntz, top level or nested, keeps its type and its wall-clock
    # values: no zone applies
    ntz = (
        "a bigint, ts timestamp_ntz, tss array<timestamp_ntz>, "
        "s struct<t:timestamp_ntz>"
    )
    rows = [
        (0, winter, [winter, None], (summer,)),
        (1, ambiguous, None, {"t": winter}),
        (2, None, [], None),
    ]
    got = local_frame(spark, rows, ntz)
    classic = spark.createDataFrame(rows, ntz)
    assert got.isLocal()
    assert got.schema == classic.schema
    assert got.schema.simpleString() == (
        "struct<a:bigint,ts:timestamp_ntz,tss:array<timestamp_ntz>,"
        "s:struct<t:timestamp_ntz>>"
    )
    assert got.collect() == classic.collect()
    assert got.collect()[0] == (0, winter, [winter, None], Row(t=summer))


def test_ntz_table_keeps_its_type_through_mutations(
    spark, tmp_path, los_angeles_process_tokyo_session
):
    """A timestamp_ntz table stays timestamp_ntz through driver-direct
    commits: Spark-written and ``-local-`` files alike store INT64 micros
    not adjusted to UTC, and every read path returns the naive values
    written, whatever the process and session zones."""
    value = VALUE[NTZ_SCHEMA]
    want = [(i, value(i)) for i in range(40)]
    store = Store(spark, str(tmp_path / "store"), rows_per_file=8)
    # a Python-RDD frame: Spark's writer writes the base files, and the
    # mutations below leave some of them untouched
    t = store.put("t", spark.createDataFrame(want, NTZ_SCHEMA), order_by=["k"])

    def payload(*ks):
        return local_frame(spark, [(k, value(k)) for k in ks], NTZ_SCHEMA)

    t.append(payload(100, 101))
    want += [(100, value(100)), (101, value(101))]
    t.update(3, payload(103))
    want[3] = (103, value(103))
    t.insert(30, payload(130))
    want[30:30] = [(130, value(130))]
    t.delete(35)
    del want[35]

    files = _data_files(t)
    local = [f for f in files if "-local-" in f]
    assert local and len(local) < len(files), files
    assert {_encoding(f, "v") for f in files} == {NTZ_ENCODING}

    df = t.df()
    assert dict(df.dtypes)["v"] == "timestamp_ntz"
    assert [tuple(r) for r in df.orderBy(ROWID).select("k", "v").collect()] == want
    for gate in (Store.LOCAL_REWRITE_MAX_ROWS, 0):
        with pytest.MonkeyPatch.context() as m:
            m.setattr(Store, "LOCAL_REWRITE_MAX_ROWS", gate)
            for i in (3, 12, 30, len(want) - 1):
                r = t.row(i)
                assert dict(r.dtypes)["v"] == "timestamp_ntz"
                assert [(x["k"], x["v"]) for x in r.collect()] == [want[i]]
            s = t.slice(10, 35)
            assert dict(s.dtypes)["v"] == "timestamp_ntz"
            assert [(x["k"], x["v"]) for x in s.collect()] == want[10:36]
    # the local file alone, through the store and through schema inference
    entry = next(e for e in t._ranges() if "-local-" in e["name"])
    path = os.path.join(t.snapshot_path, entry["name"])
    for alone in (t._read_files([entry]), spark.read.parquet(path)):
        assert dict(alone.dtypes)["v"] == "timestamp_ntz"
        got = [(x["k"], x["v"]) for x in alone.collect()]
        assert got and set(got) <= set(want), got


def test_mixed_timestamp_types_take_sparks_writer(spark, tmp_path):
    """A body with both timestamp and timestamp_ntz columns has no single
    pyarrow encoding (its INT96 switch is per file): it writes no
    ``-local-`` file, and each column keeps one physical type."""
    schema = "k bigint, a timestamp, b timestamp_ntz"
    ts = datetime.datetime(2024, 3, 9, 1, 2, 3)
    store = Store(spark, str(tmp_path / "store"), rows_per_file=8)
    t = store.put(
        "t", local_frame(spark, [(i, ts, ts) for i in range(20)], schema),
        order_by=["k"],
    )
    t.append(local_frame(spark, [(20, ts, ts)], schema))
    t.update(3, local_frame(spark, [(103, ts, ts)], schema))
    files = _data_files(t)
    assert not any("-local-" in f for f in files), files
    assert {_encoding(f, "a")[0] for f in files} == {"INT96"}
    assert {_encoding(f, "b") for f in files} == {NTZ_ENCODING}
    assert t.df().select("a", "b").distinct().collect() == [(ts, ts)]
    assert t.nrows == 21


def test_connected_components_on_timestamp_ids(spark):
    """Timestamp node ids: components and their comp labels (min id cast
    to long, as for every id type) come out right."""
    day = [datetime.datetime(2024, 1, d) for d in range(1, 6)]
    nodes = local_frame(spark, [(d,) for d in day], "id timestamp")
    pairs = local_frame(
        spark, [(day[1], day[0]), (day[2], day[1])], "id_a timestamp, id_b timestamp"
    )
    got = {
        r["id"]: r["comp"]
        for r in connected_components(pairs, nodes).collect()
    }
    want_ts = {
        day[0]: day[0], day[1]: day[0], day[2]: day[0],
        day[3]: day[3], day[4]: day[4],
    }
    secs = {
        r["t"]: r["s"]
        for r in nodes.select(
            F.col("id").alias("t"), F.col("id").cast("long").alias("s")
        ).collect()
    }
    assert got == {i: secs[c] for i, c in want_ts.items()}
