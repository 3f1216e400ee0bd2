"""HDF5 table connector — the reference's native format as a Spark source.

The reference reads packed compound-type records with ``H5TBread_records``
(nimtables.nim:140-171), and HDF5 itself only decompresses the chunks a
selection touches. The Spark-side mirror: the *driver* opens the file once
for catalog metadata (shape, dtype, chunk size — the ``H5TBget_table_info``
analog, nimtables.nim:111-131) and plans **chunk-aligned record ranges**, so
no chunk is decompressed by two reads. A driver-sized table (see
:data:`LOCAL_READ_MAX_RECORDS`) is read on the driver, range by range, into
a LocalRelation: no Spark job and no Python worker. A larger one becomes one
Spark partition per range, and executors each open the file independently
and read only their range. The write leg is a single-writer job (HDF5 has
no parallel write without MPI).

File I/O goes through ``h5lite``, the package's pure-Python implementation
of the format subset the reference's tables use (contiguous + chunked/gzip
compound datasets, VLEN via the global heap, scalar attributes).
"""

from __future__ import annotations

import os

from collections.abc import Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    ByteType,
    DataType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructField,
    StructType,
)

from nimhdfstore_spark.sources import h5lite
from nimhdfstore_spark.tables import local_frame

#: Largest table, in records, that :func:`read_hdf5_table` reads on the
#: driver. The driver decodes serially where the mapInPandas path decodes
#: one range per core but pays job and Python-worker start-up, so the
#: break-even is the size at which one serial decode costs what that
#: start-up does. Measured at ``local[4]`` on q14's interchange shape
#: (two bigint, two double, one fixed string), with the driver's wall time
#: against mapInPandas at 8 ranges: 0.38 s vs 0.89 s at 60k records, 0.92 s
#: vs 0.99 s at 131k, 0.97 s vs 0.73 s at 197k. The driver used less CPU at
#: every size up to 262k.
LOCAL_READ_MAX_RECORDS = 131_072
#: The same cut-over for a compound with a vlen member, whose cells h5lite
#: decodes one record at a time from the global heap. Measured on q14's
#: vlen shape (bigint + ``array<double>``, chunk 5000): 0.50 s vs 0.56 s at
#: 30k records, 0.69 s vs 0.68 s at 40k, 1.14 s vs 0.97 s at 60k.
LOCAL_READ_MAX_VLEN_RECORDS = 32_768

# -- type mapping (SURVEY §1.2; typeinspect.nim:28-41, datatypes.nim:247-364)

def numpy_to_spark_type(dt) -> DataType:
    """HDF5/numpy field dtype → Spark type. Unsigned types widen to the next
    signed type (Spark has no unsigned; typeinspect.nim:38-39 precedent).

    Variable-length data (reference datatypes.nim:376-382,424-453) arrives
    as h5py "special" dtypes — object dtypes tagged ``metadata={'vlen': …}``
    where the tag is ``str``/``bytes`` (var-width string) or a base numpy
    dtype (vlen sequence → ``ArrayType``). The tag convention is plain numpy
    metadata, so this mapping needs no h5py import."""
    import numpy as np

    dt = np.dtype(dt)
    meta = dt.metadata or {}
    if "vlen" in meta:
        base = meta["vlen"]
        if base is str or base is bytes:
            return StringType()
        return ArrayType(numpy_to_spark_type(base), True)
    if dt.kind in ("S", "U"):  # fixed-size HDF5 strings (H5T_C_S1)
        return StringType()
    table = {
        "int8": ByteType(), "int16": ShortType(), "int32": IntegerType(),
        "int64": LongType(),
        "uint8": ShortType(), "uint16": IntegerType(), "uint32": LongType(),
        "uint64": LongType(),  # documented narrowing; Decimal(20,0) variant possible
        "float32": FloatType(), "float64": DoubleType(),
    }
    if dt.name in table:
        return table[dt.name]
    raise TypeError(f"unsupported HDF5 field dtype: {dt}")


def compound_to_schema(dtype) -> StructType:
    """HDF5 compound dtype (numpy structured dtype) → StructType, field order
    preserved (field_names/field_offsets analog, nimtables.nim:122-130)."""
    if dtype.names is None:
        raise TypeError("expected a compound (structured) dtype")
    return StructType(
        [StructField(n, numpy_to_spark_type(dtype[n]), True) for n in dtype.names]
    )


# -- partition planning (pure; chunk-aligned like H5TBread_records chunk IO)

def plan_partitions(
    nrecords: int, chunk_size: int, target_records: int = 4_000_000
) -> list[tuple[int, int]]:
    """Split ``[0, nrecords)`` into ranges of ~``target_records``, aligned to
    ``chunk_size`` boundaries so no HDF5 chunk is read by two partitions.
    Returns ``[(start, stop), ...]`` half-open, covering, non-overlapping."""
    if nrecords < 0 or chunk_size <= 0 or target_records <= 0:
        raise ValueError("nrecords >= 0, chunk_size > 0, target_records > 0")
    if nrecords == 0:
        return []
    chunks_per_part = max(1, target_records // chunk_size)
    step = chunks_per_part * chunk_size
    return [(s, min(s + step, nrecords)) for s in range(0, nrecords, step)]


# -- read leg -----------------------------------------------------------------

def _attr_value(v):
    """JSON-safe Python value for an h5py attribute. Scalars via ``.item()``;
    bytes decoded; ARRAY-valued attributes (legal HDF5, written by foreign
    tools) via ``.tolist()`` — ``.item()`` on those raises ValueError and
    used to crash table_info for the whole dataset."""
    if isinstance(v, bytes):
        return v.decode("utf-8", "replace")
    if hasattr(v, "item"):
        try:
            if getattr(v, "size", 1) == 1:
                out = v.item()
                return out.decode("utf-8", "replace") if isinstance(out, bytes) else out
            return v.tolist()
        except (ValueError, AttributeError):
            return str(v)
    return v


def table_info(path: str, dataset: str) -> dict:
    """Driver-side catalog lookup: (nrecords, chunk_size, schema)."""
    info = h5lite.catalog(path)[dataset]
    dtype = info["dtype"]
    return {
        "nrecords": int(info["nrows"]),
        # chunked files align partitions to their real chunk size;
        # contiguous ones plan at the reference's default table chunk
        # (openHDFStore chunkSize=5000, nimtables.nim:60)
        "chunk_size": int(info.get("chunk_rows", 5000)),
        "schema": compound_to_schema(dtype),
        "columns": list(dtype.names),
        # every range read decodes all members, projected or not
        "vlen": any("vlen" in (dtype[n].metadata or {}) for n in dtype.names),
        "attrs": dict(info.get("attrs", {})),
    }


def _decoder(schema: StructType):
    """Record array → pandas frame of ``schema``'s columns: the one decoder
    of both read paths. HDF5 strings surface as bytes (fixed ``S*`` and
    vlen alike); Arrow needs str."""
    names = schema.names
    str_cols = {f.name for f in schema.fields if isinstance(f.dataType, StringType)}

    def to_frame(rec):
        import pandas as pd

        cols = {}
        for n in names:
            v = rec[n]
            if n in str_cols and v.dtype.kind in ("S", "O"):
                v = [x.decode("utf-8") if isinstance(x, bytes) else x for x in v]
            cols[n] = v
        return pd.DataFrame(cols)

    return to_frame


def _read_local(spark: SparkSession, path: str, dataset: str, parts, schema):
    """The planned ``parts`` read on the driver as one ``pyarrow.Table`` of
    ``to_arrow_schema(schema)``. Each range is decoded by :func:`_decoder`
    and converted column by column as ``mapInPandas`` converts its output
    (``ArrowStreamPandasSerializer._create_array`` with ``arrow_cast``),
    under the session's ``convertToArrowArraySafely``: with it off, a
    uint64 above 2^63 wraps as it does on executors; with it on, both paths
    raise."""
    import pyarrow as pa
    from pyspark.sql.pandas.serializers import ArrowStreamPandasSerializer
    from pyspark.sql.pandas.types import to_arrow_schema

    conf = spark.conf
    safe = conf.get("spark.sql.execution.pandas.convertToArrowArraySafely") == "true"
    ser = ArrowStreamPandasSerializer(conf.get("spark.sql.session.timeZone"), safe, False)
    arrow = to_arrow_schema(schema)
    to_frame = _decoder(schema)
    tables = []
    for start, stop in parts:
        pdf = to_frame(h5lite.read_range(path, dataset, start, stop))
        tables.append(pa.Table.from_arrays(
            [
                ser._create_array(pdf[f.name], t.type, spark_type=f.dataType,
                                  arrow_cast=True)
                for f, t in zip(schema.fields, arrow)
            ],
            schema=arrow,
        ))
    return pa.concat_tables(tables) if tables else arrow.empty_table()


def read_hdf5_table(
    spark: SparkSession,
    path: str,
    dataset: str,
    columns: Sequence[str] | None = None,
    target_records: int = 4_000_000,
    _info: dict | None = None,
) -> DataFrame:
    """Scan of an HDF5 compound table over chunk-aligned record ranges
    (mirrors ``H5TBread_records`` + chunk intersection). A driver-sized
    table (:data:`LOCAL_READ_MAX_RECORDS`, or the lower
    :data:`LOCAL_READ_MAX_VLEN_RECORDS` with a vlen member) is read on the
    driver, range by range, and returned as a LocalRelation: building and
    collecting it fire no job, and ``target_records`` only sets the read
    ranges. A larger one reads in parallel, one task per range, each
    executor reading only its hyperslab; both paths decode through one
    decoder and convert to arrow alike. Column projection keeps only the
    requested fields of each read range, the analog of
    ``H5TBread_fields_name`` (P8, hl/H5TBpublic.nim:73-76)."""
    info = _info if _info is not None else table_info(path, dataset)
    schema = info["schema"]
    if columns:
        keep = [f for f in schema.fields if f.name in set(columns)]
        schema = StructType(keep)
    parts = plan_partitions(info["nrecords"], info["chunk_size"], target_records)
    gate = LOCAL_READ_MAX_VLEN_RECORDS if info["vlen"] else LOCAL_READ_MAX_RECORDS
    if info["nrecords"] <= gate:
        return local_frame(
            spark, _read_local(spark, path, dataset, parts, schema), schema
        )
    to_frame = _decoder(schema)
    spec = local_frame(spark, parts, "start long, stop long").repartition(
        max(1, len(parts))
    )

    def read_range(batches: Iterator) -> Iterator:
        for pdf in batches:
            for start, stop in zip(pdf["start"], pdf["stop"]):
                yield to_frame(
                    h5lite.read_range(path, dataset, int(start), int(stop))
                )

    return spec.mapInPandas(read_range, schema=schema)


# -- write leg ----------------------------------------------------------------

def write_hdf5_table(
    df: DataFrame,
    path: str,
    dataset: str,
    chunk_size: int = 5000,
    compression: bool = False,
    attrs: dict | None = None,
) -> None:
    """Single-writer HDF5 table write (H5TBmake_table analog, nimtables.nim:
    94-104; default chunk 5000 and optional deflate match openHDFStore,
    nimtables.nim:60-67). HDF5 has no parallel non-MPI write, so the whole
    table materializes driver-side (``toArrow``) — the format's inherent
    bottleneck, documented rather than hidden. Scalar, string and
    VLEN-sequence columns: arrays go through h5lite's global heap writer
    (reference nimhdf5/datasets.nim:1023-1115); strings become EXACT-max-
    width fixed S members measured from the data (never a silent fixed-width
    truncation)."""
    import numpy as np

    fields = [(f.name, spark_to_numpy_descriptor(f.dataType)) for f in df.schema.fields]
    batches = list(df.toArrow().to_batches())
    cols: dict[str, list] = {name: [] for name, _ in fields}
    for batch in batches:
        for name, (kind, np_t) in fields:
            col = batch.column(name)
            if kind == "fixed":
                cols[name].append(col.to_numpy(zero_copy_only=False))
            elif kind == "vlen":
                cols[name].append(col.to_pylist())
            else:  # vlen_str -> exact-width fixed S
                cols[name].append(
                    ["" if v is None else v for v in col.to_pylist()]
                )
    n = sum(b.num_rows for b in batches)
    np_fields = []
    data = {}
    for name, (kind, np_t) in fields:
        if kind == "fixed":
            arr = (
                np.concatenate(cols[name]) if cols[name]
                else np.empty(0, dtype=np_t)
            )
            np_fields.append((name, np_t))
            data[name] = arr.astype(np_t, copy=False)
        elif kind == "vlen":
            base = np.dtype(np_t)
            vals = np.empty(n, dtype=object)
            vals[:] = [
                np.asarray([] if v is None else v, dtype=base)
                for chunk in cols[name] for v in chunk
            ]
            np_fields.append((name, np.dtype("O", metadata={"vlen": base})))
            data[name] = vals
        else:
            vals = [v for chunk in cols[name] for v in chunk]
            width = max([len(v.encode("utf-8")) for v in vals] or [0]) or 1
            np_fields.append((name, f"S{width}"))
            data[name] = np.array(
                [v.encode("utf-8") for v in vals], dtype=f"S{width}"
            )
    rec = np.empty(n, dtype=np.dtype(np_fields))
    for name, _ in np_fields:
        rec[name] = data[name]
    existing = {}
    all_attrs: dict[str, dict] = {}
    if os.path.exists(path):
        cat = h5lite.catalog(path)
        for k, info in cat.items():
            if k == dataset:
                continue
            existing[k] = h5lite.read(path, k)
            if info.get("attrs"):  # rewrite must not drop other datasets' attrs
                all_attrs[k] = info["attrs"]
    existing[dataset] = rec
    if attrs:
        all_attrs[dataset] = _scalar_attrs(attrs)
    # h5lite emits chunk B-trees of any depth, so the caller's chunk size
    # is preserved verbatim (reference chunkSize semantics, nimtables.nim:60)
    h5lite.write(
        path, existing,
        chunk_rows=max(1, int(chunk_size)),
        compress=6 if compression else None,
        attrs=all_attrs or None,
    )


def _scalar_attrs(attrs: dict | None) -> dict:
    """Store attrs → HDF5-attachable scalars: int/float/str/bool pass
    through, anything else (lists, dicts) JSON-stringifies — HDF5 scalar
    attributes can't hold them natively and dropping them silently would
    lose catalog metadata in a migration."""
    import json as _json

    out = {}
    for k, v in (attrs or {}).items():
        out[k] = v if isinstance(v, (int, float, str, bool)) else _json.dumps(v)
    return out


#: fixed-width Spark → numpy codes (unsigned never appears on the write leg);
#: both the DDL aliases and simpleString() spellings (bigint/smallint/...)
_FIXED_NP = {
    "byte": "i1", "tinyint": "i1",
    "short": "i2", "smallint": "i2",
    "int": "i4", "integer": "i4",
    "long": "i8", "bigint": "i8",
    "float": "f4", "double": "f8",
}


def spark_to_numpy_descriptor(t: DataType) -> tuple[str, str | None]:
    """Spark type → pure write-leg descriptor: ``('fixed', np_code)``,
    ``('vlen_str', None)`` for strings (variable-width — no S64 truncation),
    or ``('vlen', base_code)`` for ``array<fixed>`` columns (reference VLEN,
    datatypes.nim:376-382). Nested arrays / non-numeric elements are
    rejected explicitly."""
    if isinstance(t, ArrayType):
        base = t.elementType.simpleString()
        if base not in _FIXED_NP:
            raise TypeError(f"unsupported HDF5 vlen element type: {base}")
        return ("vlen", _FIXED_NP[base])
    s = t.simpleString()
    if s == "string":
        return ("vlen_str", None)
    if s in _FIXED_NP:
        return ("fixed", _FIXED_NP[s])
    raise TypeError(f"unsupported type for HDF5 write: {s}")


# -- migration path (reference user -> this engine, and back) -----------------

def hdf5_to_store(
    store,
    path: str,
    dataset: str,
    name: str | None = None,
    order_by: Sequence[str] | None = None,
    **put_kwargs,
):
    """Migrate one HDF5 compound table into the Parquet store: chunk-aligned
    read (``read_hdf5_table``: on the driver for a driver-sized table, in
    parallel above) →
    ``Store.put``. ``order_by`` defaults to the first column, mirroring how
    the reference's tables are keyed by their leading field in practice;
    pass the real unique key for stable positions. Returns the new
    :class:`Table`."""
    info = table_info(path, dataset)
    df = read_hdf5_table(store.spark, path, dataset, _info=info)
    keys = list(order_by) if order_by else [df.columns[0]]
    put_kwargs.setdefault("attrs", info.get("attrs"))
    return store.put(name or dataset, df, order_by=keys, **put_kwargs)


def store_to_hdf5(table, path: str, dataset: str, **write_kwargs) -> None:
    """Export a store table back to an HDF5 compound table (positions
    preserved: rows stream out in ``_rowid`` order, ``_rowid`` itself is
    dropped — HDF5 row order IS the position)."""
    from nimhdfstore_spark.rowid import ROWID

    df = table.df().orderBy(ROWID).drop(ROWID)
    write_kwargs.setdefault("attrs", table.attrs)
    write_hdf5_table(df, path, dataset, **write_kwargs)
