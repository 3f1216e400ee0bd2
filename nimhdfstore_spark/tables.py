"""Test-table bindings: canonical orders (FIXTURES.md F5) and loaders."""

from __future__ import annotations

import os
from datetime import timezone

from pyspark.sql import DataFrame, SparkSession

from nimhdfstore_spark.rowid import ROWID, with_rowid

#: canonical total order defining ``_rowid`` per driver table (FIXTURES.md F5)
CANONICAL: dict[str, list[str]] = {
    "lineitem": ["l_orderkey", "l_linenumber"],
    "orders": ["o_orderkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "nation": ["n_nationkey"],
    "region": ["r_regionkey"],
    "events": ["ts", "event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    if table == "events":
        return load_events(spark, sf_dir)
    return read_parquet(spark, f"{sf_dir}/{table}.parquet")


def _file_signature(path: str) -> tuple | None:
    """``(relative name, size, mtime_ns)`` of each file at ``path`` (a file,
    or a directory walked recursively), or None when ``path`` does not
    exist. A rewrite at the same path changes it."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not os.path.isdir(path):
        return (("", st.st_size, st.st_mtime_ns),)
    out = []
    for d, _dirs, files in os.walk(path):
        for n in files:
            f = os.path.join(d, n)
            st = os.stat(f)
            out.append((os.path.relpath(f, path), st.st_size, st.st_mtime_ns))
    return tuple(sorted(out))


def _memo(cache: dict, key, path: str, compute):
    """``compute()`` memoized under ``key`` while ``path``'s
    :func:`_file_signature` stays the same: one entry per key, replaced
    when the files change. The signature is taken first, so files
    rewritten while ``compute`` runs read as changed on the next call."""
    sig = _file_signature(path)
    hit = cache.get(key)
    if sig is not None and hit is not None and hit[0] == sig:
        return hit[1]
    value = compute()
    if sig is not None:
        cache[key] = (sig, value)
    return value


#: session confs that change what Spark infers from Parquet footers
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)

#: Spark's inferred schema per (path, inference confs), with the path's
#: file signature (see ``_memo``)
_SCHEMA_MEMO: dict[tuple, tuple] = {}


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, the package's one input reader, with
    the footer-inference job paid once per set of files: Spark's own
    inferred schema is memoized, and reads plan under it with
    ``spark.read.schema(s).parquet(path)``, which fires no job (inference
    costs one job and ~80-100 ms of driver CPU). The memo is keyed by the
    path and the session confs that change inference, and checked against
    the files' ``_file_signature``."""
    key = (path, *(spark.conf.get(c) for c in _INFERENCE_CONFS))
    schema = _memo(
        _SCHEMA_MEMO, key, path, lambda: spark.read.parquet(path).schema
    )
    return spark.read.schema(schema).parquet(path)


def normalize_events_ts(df: DataFrame):
    """events.ts is parquet TIMESTAMP(NANOS), which Spark's reader rejects;
    with ``nanosAsLong`` it arrives as bigint nanos. Truncate to micros —
    exactly what DuckDB's reader does — and make it a proper timestamp."""
    from pyspark.sql import functions as F

    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return normalize_events_ts(read_parquet(spark, f"{sf_dir}/events.parquet"))


#: sorted_parquet_bases verdicts per (path, keys), with the path's file
#: signature (see ``_memo``): the footer/key verification re-runs only when
#: the files change
_SORTED_CACHE: dict[tuple[str, tuple[str, ...]], tuple] = {}


def load_pos(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Table with its canonical ``_rowid`` attached.

    Fast path: when the Parquet is provably sorted by the canonical key
    (footer + key-column verification, memoized), ``_rowid`` is a pure
    projection of ``_metadata.row_index`` + per-file base offsets — no
    shuffle, no Python. ``events`` is excluded: its canonical key uses the
    micros-truncated timestamp, whose ties can reorder relative to the raw
    nanos file order."""
    from nimhdfstore_spark.rowid import rowid_from_sorted_parquet, sorted_parquet_bases

    keys = CANONICAL[table]
    if table != "events":
        path = f"{sf_dir}/{table}.parquet"
        bases = _memo(
            _SORTED_CACHE, (path, tuple(keys)), path,
            lambda: sorted_parquet_bases(path, keys, spark=spark),
        )
        if bases:
            return rowid_from_sorted_parquet(spark, path, keys, bases)
    return with_rowid(load(spark, sf_dir, table), keys)


def table_nrows(sf_dir: str, table: str) -> int:
    """Record count from Parquet footers — the catalog lookup the reference
    does with ``H5TBget_table_info`` (nimtables.nim:115): no scan job."""
    import pyarrow.parquet as pq

    return pq.ParquetFile(f"{sf_dir}/{table}.parquet").metadata.num_rows


def _arrow_values(dtype):
    """Value converter readying ``dtype``'s values for pyarrow, or None when
    they pass as they are. Timestamps (top level or inside arrays and
    structs) become aware UTC datetimes. Struct values become dicts, bound
    as ``StructType.toInternal`` binds them: a Mapping by name, a sequence
    by position; pyarrow takes either form but not a mix of the two in one
    column, where ``createDataFrame`` takes both."""
    from collections.abc import Mapping

    from pyspark.sql.types import ArrayType, StructType, TimestampType

    if isinstance(dtype, TimestampType):
        return lambda v: None if v is None else v.astimezone(timezone.utc)
    if isinstance(dtype, ArrayType):
        inner = _arrow_values(dtype.elementType)
        if inner is not None:
            return lambda v: None if v is None else [inner(x) for x in v]
    if isinstance(dtype, StructType):
        fields = [
            (f.name, _arrow_values(f.dataType) or (lambda x: x))
            for f in dtype.fields
        ]

        def struct(v):
            if v is None:
                return None
            if isinstance(v, Mapping):
                v = [v.get(n) for n, _c in fields]
            return {n: c(x) for (n, c), x in zip(fields, v)}

        return struct
    return None


def _rebuilt_maps(dtype) -> bool:
    """Whether ``dtype`` holds a map whose keys or values are timestamps or
    nested types. Spark's arrow reader rebuilds such maps and, before
    pyarrow 17, loses their nulls doing it (SPARK-48302): a null map would
    come back as an empty one."""
    from pyspark.sql.types import (
        ArrayType, MapType, StructType, TimestampNTZType, TimestampType,
    )

    rebuilt = (ArrayType, MapType, StructType, TimestampNTZType, TimestampType)
    if isinstance(dtype, MapType):
        return isinstance(dtype.keyType, rebuilt) or isinstance(
            dtype.valueType, rebuilt
        )
    if isinstance(dtype, ArrayType):
        return _rebuilt_maps(dtype.elementType)
    if isinstance(dtype, StructType):
        return any(_rebuilt_maps(f.dataType) for f in dtype.fields)
    return False


def arrow_rows(dicts: list[dict], schema):
    """pyarrow Table of ``schema`` (a StructType) from dict rows.

    pyarrow reads a naive datetime as UTC, Spark in the Python process's
    local zone: ``TimestampType.toInternal`` goes through ``time.mktime``,
    and ``collect()`` returns ``fromtimestamp`` values, ``fold`` set. So
    timestamps are first made aware with ``astimezone``, in that zone: the
    exact inverse of ``collect()``, and the classic ``createDataFrame``
    instant for input rows (on an ambiguous wall time ``mktime`` ignores
    ``fold`` and this honours it). Converts the dicts in place. Maps are
    left as they are: ``local_frame`` keeps maps of timestamps off this
    path (``_rebuilt_maps``), and the store's writer takes no maps.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    for f in schema.fields:
        convert = _arrow_values(f.dataType)
        if convert is not None:
            for d in dicts:
                d[f.name] = convert(d[f.name])
    return pa.Table.from_pylist(dicts, schema=to_arrow_schema(schema))


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """Driver rows as a DataFrame: the package's one driver-rows path.

    ``spark.createDataFrame(list)`` parallelizes the rows into a
    Python-RDD-backed plan (``Scan ExistingRDD``): ``isLocal()`` is False
    and every job that reads it runs a Python-worker stage (~0.3 s of fixed
    cost for a handful of rows). Building through a pyarrow Table instead
    lands the rows in a LocalRelation (``LocalTableScan``): ``isLocal()``
    is True and ``collect()`` is job-free (``toArrow()`` still fires one
    job), so the Store's payload gate (``_collect_payload``) and
    driver-direct writer (``_write_local``) take their zero-job branches.
    Works regardless of the Arrow session conf. The frame's types are
    ``schema``'s exactly: it is passed along with the arrow Table, which
    alone would read a naive arrow timestamp (``timestamp_ntz``'s arrow
    type) as ``timestamp``.

    Timestamps read as ``createDataFrame`` reads them (see
    ``arrow_rows``), so timestamp schemas are LocalRelations too. Schemas
    holding a map of timestamps or nested types take the classic
    ``createDataFrame`` conversion instead: the arrow route would turn
    their null maps into empty ones (``_rebuilt_maps``).

    Sequence rows bind positionally and must match the schema width;
    Mapping rows bind by name and must carry exactly the schema's field
    names (a short row would silently read null, an extra key would be
    silently dropped). ``rows`` may also be a ``pyarrow.Table`` with the
    schema's field names, e.g. rows a reader already holds in arrow. It is
    cast to ``to_arrow_schema(schema)``, so a naive arrow timestamp for a
    ``timestamp`` field reads as UTC; it always takes the arrow route, so
    it must hold no map of timestamps or nested types.
    """
    from collections.abc import Mapping

    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType, _parse_datatype_string

    if isinstance(schema, str):
        parsed = _parse_datatype_string(schema)
        if not isinstance(parsed, StructType):  # pragma: no cover
            raise ValueError(f"expected a struct schema, got {parsed}")
        schema = parsed
    if isinstance(rows, pa.Table):
        return spark.createDataFrame(rows.cast(to_arrow_schema(schema)), schema)
    names = schema.names

    def _as_dict(r):
        if isinstance(r, Mapping):
            if set(r) != set(names):
                raise ValueError(
                    f"local_frame mapping row keys {sorted(r)} differ from "
                    f"the schema fields {names}"
                )
            return dict(r)
        if len(r) != len(names):
            raise ValueError(
                f"local_frame row has {len(r)} values for "
                f"{len(names)} schema fields: {r!r}"
            )
        return dict(zip(names, r))

    dicts = [_as_dict(r) for r in rows]
    if any(_rebuilt_maps(f.dataType) for f in schema.fields):
        return spark.createDataFrame(dicts, schema)
    return spark.createDataFrame(arrow_rows(dicts, schema), schema)


def rowid_over(table: str) -> str:
    """DuckDB fragment: the table with ``_rowid`` in canonical order."""
    order = ", ".join(CANONICAL[table])
    return (
        f"SELECT CAST(row_number() OVER (ORDER BY {order}) - 1 AS BIGINT)"
        f" AS {ROWID}, * FROM {table}"
    )
