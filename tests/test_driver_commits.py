"""Driver commits: a commit whose touched files hold at most
``Store.LOCAL_REWRITE_MAX_ROWS`` rows builds its rewrite body in pyarrow
on the driver (``Table._rewrite_local``) and writes it with no Spark plan,
and ``build_bloom`` hashes int/bigint columns on the driver with a numpy
port of Spark's ``xxhash64`` (``store._bloom_positions``). Each commit must
leave the table the Spark body leaves, and every index must survive every
commit kind equal to a fresh build."""

from __future__ import annotations

import datetime

import pyarrow as pa
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from nimhdfstore_spark.rowid import ROWID
from nimhdfstore_spark.store import Store, Table, _bloom_positions
from nimhdfstore_spark.tables import local_frame

SCHEMA = "k bigint, g int, s string"
TS_SCHEMA = "k bigint, g int, ts timestamp"
INT_RANGE = {"int": (-(2**31), 2**31 - 1), "bigint": (-(2**63), 2**63 - 1)}


def _jobs(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _row(i, schema=SCHEMA):
    if schema == TS_SCHEMA:
        start = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
        return (i, i % 7, start + datetime.timedelta(hours=i))
    return (i, i % 7, f"s{i % 5}")


def _table(spark, tmp_path, n=60, schema=SCHEMA):
    store = Store(spark, str(tmp_path / "store"), rows_per_file=8)
    rows = [_row(i, schema) for i in range(n)]
    return store.put("t", local_frame(spark, rows, schema), order_by=["k"])


def _rows(t):
    return [tuple(r) for r in t.df().orderBy(ROWID).collect()]


# -- the hash port ---------------------------------------------------------


def _spark_positions(spark, values, dtype, bits, k):
    frame = local_frame(spark, [(v,) for v in values], f"v {dtype}")
    got = frame.select(*[
        F.pmod(F.xxhash64(F.col("v"), F.lit(i)), F.lit(bits)).cast("int")
        .alias(f"p{i}")
        for i in range(k)
    ]).collect()
    return [[r[f"p{i}"] for r in got] for i in range(k)]


@pytest.mark.parametrize("dtype", ["int", "bigint"])
def test_hash_port_matches_spark(spark, dtype):
    lo, hi = INT_RANGE[dtype]
    arrow = pa.int32() if dtype == "int" else pa.int64()

    @settings(max_examples=30, deadline=None)
    @given(
        st.lists(st.one_of(st.none(), st.integers(lo, hi)), min_size=1, max_size=40),
        st.sampled_from([8, 64, 2048, 16384]),
        st.integers(1, 4),
    )
    @example([None, 0, 1, -1, lo, hi], 2048, 3)
    def check(values, bits, k):
        mine = _bloom_positions(pa.chunked_array([pa.array(values, arrow)]), bits, k)
        assert [list(p) for p in mine] == _spark_positions(spark, values, dtype, bits, k)

    check()


@pytest.mark.parametrize("column", ["k", "g"])
def test_driver_bitmaps_equal_spark_bitmaps(spark, tmp_path, monkeypatch, column):
    t = _table(spark, tmp_path)
    t.update(3, local_frame(spark, [(None, None, "n")], SCHEMA))
    driver = t._bloom_file_entries(column, 256, 3)
    monkeypatch.setattr(Store, "LOCAL_REWRITE_MAX_ROWS", 0)
    assert t._bloom_file_entries(column, 256, 3) == driver
    assert len(driver) == len(t._ranges())


# -- job counts ------------------------------------------------------------


def _payload(spark, keys, schema=SCHEMA):
    return local_frame(spark, [_row(k, schema) for k in keys], schema)


COMMITS = {
    "delete": lambda t, spark: t.delete(20, 22),
    "compact": lambda t, spark: t.compact(),
    "dv_flush": lambda t, spark: t._flush_dv(),
    "build_bloom": lambda t, spark: t.build_bloom("k"),
    "append": lambda t, spark: t.append(_payload(spark, [900, 901])),
    "insert": lambda t, spark: t.insert(30, _payload(spark, [800])),
    "update": lambda t, spark: t.update(12, _payload(spark, [700, 701]), 13),
}


@pytest.mark.parametrize("op", sorted(COMMITS))
def test_commit_under_gate_fires_no_job(spark, tmp_path, op):
    """With a bloom index to carry, a commit under the gate fires no Spark
    job: neither its rewrite nor the index's extension over its new files
    (the append's is the bloom carry of an append)."""
    t = _table(spark, tmp_path)
    t.build_bloom("k")
    t.delete_deferred(5, 6)
    if op != "dv_flush":
        t._flush_dv()
    before = _jobs(spark)
    COMMITS[op](t, spark)
    assert _jobs(spark) == before, op
    assert "k" in t._meta["bloom"]
    if op != "build_bloom":
        assert t.last_index_scan, op


# -- the Spark body above the gate -----------------------------------------


def _replay(model: pa.Table, op: str) -> pa.Table:
    """``op`` of :data:`SPLICES` on a pyarrow table of (k, g, third)."""
    def rows(keys, schema):
        return pa.Table.from_pylist(
            [dict(zip(model.column_names, _row(k, schema))) for k in keys],
            schema=model.schema,
        )

    schema = SCHEMA if "s" in model.column_names else TS_SCHEMA
    parts = {
        "update": [model.slice(0, 12), rows([700, 701], schema), model.slice(14)],
        "insert": [model.slice(0, 30), rows([800], schema), model.slice(30)],
        "delete": [model.slice(0, 20), model.slice(23)],
        "append_flush": [model.slice(0, 5), model.slice(7), rows([600], schema)],
        "compact": [model],
    }[op]
    return pa.concat_tables(parts)


SPLICES = {
    "update": lambda t, s, spark: t.update(12, _payload(spark, [700, 701], s), 13),
    "insert": lambda t, s, spark: t.insert(30, _payload(spark, [800], s)),
    "delete": lambda t, s, spark: t.delete(20, 22),
    "append_flush": lambda t, s, spark: (
        t.delete_deferred(5, 6), t.append(_payload(spark, [600], s))
    ),
    "compact": lambda t, s, spark: t.compact(),
}


@pytest.mark.parametrize("where", ["above_gate", "timestamp"])
@pytest.mark.parametrize("op", sorted(SPLICES))
def test_spark_body_matches_replay(spark, tmp_path, monkeypatch, op, where):
    schema = TS_SCHEMA if where == "timestamp" else SCHEMA
    t = _table(spark, tmp_path, schema=schema)
    model = t.df().orderBy(ROWID).drop(ROWID).toArrow()
    if where == "above_gate":
        monkeypatch.setattr(Store, "LOCAL_REWRITE_MAX_ROWS", 1)
    before = _jobs(spark)
    SPLICES[op](t, schema, spark)
    assert _jobs(spark) > before  # the Spark body ran
    want = _replay(model, op)
    got = t.df().orderBy(ROWID).toArrow()
    assert got.column(ROWID).to_pylist() == list(range(want.num_rows))
    assert got.drop([ROWID]).cast(want.schema).equals(want)


@pytest.mark.parametrize("op", sorted(SPLICES))
def test_driver_body_equals_spark_body(spark, tmp_path, op):
    """Both bodies, written by the same driver-direct writer, leave the
    same rows, the same file layout and the same persisted schema."""
    out = {}
    for body in ("driver", "spark"):
        with pytest.MonkeyPatch.context() as m:
            if body == "spark":
                m.setattr(Table, "_rewrite_local", lambda self, *a, **k: None)
            t = _table(spark, tmp_path / body)
            SPLICES[op](t, SCHEMA, spark)
        out[body] = (
            _rows(t), [(e["lo"], e["hi"], e["rows"]) for e in t._ranges()],
            t._meta["schema"],
        )
    assert out["driver"] == out["spark"]


# -- indexes survive every commit kind -------------------------------------


def test_bloom_survives_update_then_insert(spark, tmp_path):
    """update(3), insert(30), then a lookup: the index is carried, not
    dropped, so the lookup returns rows instead of raising."""
    t = _table(spark, tmp_path)
    t.build_bloom("k")
    t.update(3, _payload(spark, [103]))
    t.insert(30, _payload(spark, [130]))
    got, _scanned, _total = t.lookup_eq("k", 9)
    assert [r["k"] for r in got.collect()] == [9]


INDEXED = {
    **{op: SPLICES[op] for op in ("update", "insert", "delete", "compact")},
    "append": lambda t, s, spark: t.append(_payload(spark, [600])),
    "dv_flush": lambda t, s, spark: (t.delete_deferred(5, 6), t._flush_dv()),
    "update_rows": lambda t, s, spark: t.update_rows(local_frame(
        spark, [(12, *_row(700))], f"{ROWID} bigint, {SCHEMA}"
    )),
}


def _lookups(t):
    """Each probe's ``lookup_eq`` rows, checked against a full scan."""
    probes = [("k", v) for v in (9, 40, 600, 700, 800)] + [("s", "s2")]
    out = []
    for c, v in probes:
        got = sorted(tuple(r) for r in t.lookup_eq(c, v)[0].collect())
        assert got == sorted(tuple(r) for r in t.df().where(F.col(c) == v).collect())
        out.append(got)
    return out


@pytest.mark.parametrize("gate", ["driver", "spark"])
@pytest.mark.parametrize("op", sorted(INDEXED))
def test_index_carry_scans_only_new_files(spark, tmp_path, monkeypatch, op, gate):
    """Every commit kind carries the bloom and zone entries of the files it
    keeps and scans only the files it writes; the carried index equals a
    fresh build, and so do its lookups."""
    t = _table(spark, tmp_path)
    if gate == "spark":
        monkeypatch.setattr(Store, "LOCAL_REWRITE_MAX_ROWS", 0)
    t.build_bloom("k")
    t.build_bloom("s")
    t.zone_map("g")
    before = {e["name"] for e in t._ranges()}
    INDEXED[op](t, SCHEMA, spark)
    new = sorted({e["name"] for e in t._ranges()} - before)
    assert new and t.last_index_scan == new
    carried = {c: t._bloom_files(t._meta["bloom"][c]) for c in ("k", "s")}
    carried_zones = t.zone_map("g")
    lookups = _lookups(t)
    for c in ("k", "s"):
        t.build_bloom(c)
        assert t._bloom_files(t._meta["bloom"][c]) == carried[c], c
    assert _lookups(t) == lookups
    Table._ZONE_CACHE.pop((t.snapshot_path, "g"), None)
    assert t.zone_map("g") == carried_zones


def test_drop_field_drops_only_its_index(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.build_bloom("k")
    t.build_bloom("g")
    t.drop_field("g")
    assert set(t._meta["bloom"]) == {"k"}
    assert [r["k"] for r in t.lookup_eq("k", 9)[0].collect()] == [9]
