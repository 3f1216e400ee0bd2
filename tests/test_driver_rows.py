"""One driver-rows path: every DataFrame the package builds from driver-held
rows goes through ``tables.local_frame``, so the store's mutation payloads
are LocalRelations (``LocalTableScan``) that ``_write_local`` reads without
a Spark job — never Python-RDD-backed ``Scan ExistingRDD`` plans."""

from __future__ import annotations

import ast
import datetime
import os

import pytest
from pyspark.sql import functions as F

from nimhdfstore_spark.operators.dedup import connected_components
from nimhdfstore_spark.plans.inspect import executed_plan
from nimhdfstore_spark.store import Store
from nimhdfstore_spark.tables import local_frame

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "nimhdfstore_spark",
)
SCHEMA = "k bigint, v double"


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


def _table(spark, tmp_path, n=20):
    store = Store(spark, str(tmp_path / "store"), rows_per_file=8)
    rows = [(i, float(i)) for i in range(n)]
    return store.put("t", local_frame(spark, rows, SCHEMA), order_by=["k"])


def _next_job_id(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def test_append_of_driver_rows_fires_no_jobs(spark, tmp_path):
    t = _table(spark, tmp_path)
    payload = local_frame(spark, [(100, 1.0), (101, 2.0)], SCHEMA)
    before = _next_job_id(spark)
    t.append(payload)
    assert _next_job_id(spark) == before
    assert t.nrows == 22
    assert [r["k"] for r in t.slice(20, 21).collect()] == [100, 101]


@pytest.mark.parametrize("op", ["insert", "update"])
def test_rewrite_body_scans_local_relation(spark, tmp_path, monkeypatch, op):
    """Even a Python-RDD-backed payload is re-localized: the body the
    commit writes unions the touched files with a LocalTableScan."""
    t = _table(spark, tmp_path)
    seen = []
    real = type(t)._commit_pruned

    def spy(self, keep, rewrite, *args, **kwargs):
        seen.append(executed_plan(rewrite))
        return real(self, keep, rewrite, *args, **kwargs)

    monkeypatch.setattr(type(t), "_commit_pruned", spy)
    payload = spark.createDataFrame([(500, 5.0)], SCHEMA)
    getattr(t, op)(10, payload)
    (plan,) = seen
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    assert "FileScan" in plan, plan  # the touched file really is unioned
    assert [r["k"] for r in t.row(10).collect()] == [500]


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
