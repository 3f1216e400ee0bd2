"""Input loads (``tables.read_parquet``): Spark's inferred schema is
memoized per path, inference confs and file signature, so a repeated load
of unchanged files plans with no footer-inference job, and a changed file
or conf is inferred again. The ``load_pos`` sortedness memo is checked
against the same signature."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from nimhdfstore_spark.rowid import ROWID
from nimhdfstore_spark.tables import load_events, load_pos, read_parquet

NANOS = "spark.sql.legacy.parquet.nanosAsLong"


def _jobs(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def test_repeated_load_fires_no_job_and_rewrite_reads_new_schema(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": pa.array([1, 2, 3], pa.int64())}), path)
    j0 = _jobs(spark)
    first = read_parquet(spark, path)
    j1 = _jobs(spark)
    again = read_parquet(spark, path)
    assert j1 > j0 and _jobs(spark) == j1
    assert first.dtypes == again.dtypes == [("a", "bigint")]
    assert again.collect() == first.collect()
    # the same path rewritten with another schema
    pq.write_table(
        pa.table({"a": ["x", "y"], "b": pa.array([0.5, 1.5], pa.float64())}), path
    )
    back = read_parquet(spark, path)
    assert back.dtypes == [("a", "string"), ("b", "double")]
    assert [tuple(r) for r in back.collect()] == [("x", 0.5), ("y", 1.5)]


def test_nanos_as_long_is_part_of_the_memo_key(spark, tmp_path):
    """``events.ts`` stored as TIMESTAMP(NANOS) reads as bigint nanos under
    ``nanosAsLong`` and is rejected without it: flipping the conf infers
    again instead of serving the other setting's schema."""
    sf = tmp_path / "sf"
    sf.mkdir()
    path = str(sf / "events.parquet")
    pq.write_table(
        pa.table({
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(
                [1_700_000_000_123_456_789, 1_700_000_001_000_000_000],
                pa.timestamp("ns"),
            ),
        }),
        path, version="2.6",
    )
    prior = spark.conf.get(NANOS)
    try:
        spark.conf.set(NANOS, "true")
        assert dict(read_parquet(spark, path).dtypes)["ts"] == "bigint"
        assert dict(load_events(spark, str(sf)).dtypes)["ts"] == "timestamp"
        spark.conf.set(NANOS, "false")
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
            read_parquet(spark, path)
        spark.conf.set(NANOS, "true")
        assert dict(read_parquet(spark, path).dtypes)["ts"] == "bigint"
    finally:
        spark.conf.set(NANOS, prior)


def _sorted_dir(path: str, splits: list[range]) -> None:
    os.makedirs(path)
    for i, keys in enumerate(splits):
        pq.write_table(
            pa.table({
                "n_nationkey": pa.array(list(keys), pa.int64()),
                "n_name": [f"n{k}" for k in keys],
            }),
            os.path.join(path, f"part-{i}-{len(keys)}.parquet"),
        )


def test_load_pos_rereads_a_rewritten_directory(spark, tmp_path):
    """The sortedness verdict holds per-file bases keyed by file name; a
    directory rewritten at the same path must not reuse them (a stale
    entry joins on the old file paths and drops every row)."""
    import shutil

    sf = str(tmp_path / "sf")
    path = os.path.join(sf, "nation.parquet")
    _sorted_dir(path, [range(0, 10), range(10, 25)])
    first = load_pos(spark, sf, "nation").orderBy(ROWID).collect()
    assert [(r[ROWID], r.n_nationkey) for r in first] == [(k, k) for k in range(25)]
    shutil.rmtree(path)
    _sorted_dir(path, [range(0, 15), range(15, 40)])
    again = load_pos(spark, sf, "nation").orderBy(ROWID).collect()
    assert [(r[ROWID], r.n_nationkey) for r in again] == [(k, k) for k in range(40)]
