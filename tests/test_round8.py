"""Round-8 hardening (driver round-4 verdict + advice):

- with_rowid ``auto`` must not trust Catalyst's join-product size estimates
  (the twice-recurred q45/x189 regression): a skinny join-derived frame takes
  the window path via a bounded probe, with no call-site pin.
- update_rows payload gate + bisected touched-file probe (M13,
  nimhdf5/datasets.nim:1117-1275 — payloads stay driver-sized).
- _collect_payload executes the payload plan exactly once.
- snapshot-dir overwrite semantics on the driver-direct write path (a crashed
  prior attempt must not double-catalog rows or break hardlinks).
- driver-rows marker cross-check (a transformed marked frame must fail loudly,
  not silently write stale rows).
- array-valued HDF5 attributes degrade to lists instead of crashing.
"""

from __future__ import annotations

import os
import shutil

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from nimhdfstore_spark.rowid import ROWID, _auto_strategy, with_rowid
from nimhdfstore_spark.store import PAYLOAD_MAX_ROWS, Store, StoreError

SCRATCH = "/tmp/nimhdfstore_scratch/round8"


def _store(spark, name, **kw) -> Store:
    path = os.path.join(SCRATCH, name)
    shutil.rmtree(path, ignore_errors=True)
    return Store(spark, path, **kw)


# --------------------------------------------------------------------------
# with_rowid auto-strategy: join-derived estimates are probed, not trusted
# --------------------------------------------------------------------------

def test_auto_strategy_join_derived_skinny_takes_window(spark):
    """A 1k-row frame derived from a join whose Catalyst size estimate is a
    product of the sides (terabytes) must still choose the window path —
    the offsets path would re-execute the join ~3×."""
    a = spark.range(1_000_000)
    b = spark.range(1_000_000)
    j = a.join(b, "id").where(F.col("id") < 1000)
    # sanity: the estimate really is hopeless (else the test is vacuous)
    est = int(j._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    assert est >= (256 << 20), f"estimate {est} no longer join-inflated"
    assert _auto_strategy(j) == "window"
    out = with_rowid(j, ["id"])  # strategy defaults to auto
    rows = out.orderBy(ROWID).collect()
    assert [r[ROWID] for r in rows] == list(range(1000))
    assert [r["id"] for r in rows] == list(range(1000))


def test_auto_strategy_big_join_still_offsets(spark):
    """The probe must not misroute a genuinely big join output onto the
    single-task window sort."""
    from nimhdfstore_spark import rowid as _rowid_mod

    orig = _rowid_mod._PROBE_ROWS
    _rowid_mod._PROBE_ROWS = 500  # shrink the bound so the test stays fast
    try:
        a = spark.range(100_000)
        j = a.join(spark.range(100_000), "id")  # 100k actual rows > bound
        assert _auto_strategy(j) == "offsets"
    finally:
        _rowid_mod._PROBE_ROWS = orig


def test_auto_strategy_scan_estimates_trusted(spark, sf_dir):
    """No probe job for scan-derived frames: small scans go window by the
    metadata estimate alone."""
    df = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    assert _auto_strategy(df) == "window"


# --------------------------------------------------------------------------
# update_rows: gated payload + bisected file probe
# --------------------------------------------------------------------------

def test_update_rows_rejects_oversized_distributed_payload(spark, monkeypatch):
    import nimhdfstore_spark.store as store_mod

    st = _store(spark, "upd_gate")
    t = st.put(
        "t",
        spark.range(100).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v")),
        order_by=["k"],
    )
    monkeypatch.setattr(store_mod, "PAYLOAD_MAX_ROWS", 50)
    big = t.df()  # distributed plan, 100 rows > patched cap
    with pytest.raises(StoreError, match="payload exceeds"):
        t.update_rows(big)


def test_update_rows_bisect_probe_touches_right_files(spark):
    st = _store(spark, "upd_bisect", rows_per_file=10)
    t = st.put(
        "t",
        spark.range(100).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v")),
        order_by=["k"],
    )
    n_files_before = len(t._ranges())
    assert n_files_before == 10

    def inodes():
        return {
            e["name"]: os.stat(os.path.join(t.snapshot_path, e["name"])).st_ino
            for e in t._ranges()
        }

    before = inodes()
    pay = spark.createDataFrame(
        [(5, 5, 999), (95, 95, 888)], f"{ROWID} long, k long, v long"
    )
    t.update_rows(pay)
    got = {r["k"]: r["v"] for r in t.df().collect()}
    assert got[5] == 999 and got[95] == 888 and got[50] == 100
    assert t.nrows == 100
    after = inodes()
    rewritten = [n for n, ino in before.items() if after.get(n) != ino]
    assert len(rewritten) == 2, rewritten  # the files holding rows 5 and 95


# --------------------------------------------------------------------------
# _collect_payload: exactly one execution of the payload plan
# --------------------------------------------------------------------------

def test_collect_payload_single_execution(spark):
    """A nondeterministic distributed payload must be gated and collected in
    the SAME job — sample() twice would give different rows."""
    from nimhdfstore_spark.store import _collect_payload

    pay = (
        spark.range(10_000)
        .repartition(4)  # defeat isLocal
        .sample(0.5, seed=None)
        .select(F.col("id"))
    )
    rows = _collect_payload(pay, "test")
    # consistency of the single collected set (not vs. a second execution)
    ids = [r["id"] for r in rows]
    assert len(ids) == len(set(ids))
    assert 3000 < len(ids) < 7000


# --------------------------------------------------------------------------
# snapshot-dir overwrite semantics (ADVICE r4 medium)
# --------------------------------------------------------------------------

def test_local_write_clears_stale_snapshot_debris(spark):
    st = _store(spark, "debris")
    t = st.put("t", spark.range(5).select(F.col("id").alias("k")), order_by=["k"])
    # simulate a crashed prior attempt at the NEXT snapshot number: stale
    # uuid-named file already sitting in the dir the next commit will use
    cur = int(t._meta["current"].split("-")[1])
    next_dir = os.path.join(st._table_dir("t"), f"snap-{cur + 1:09d}")
    os.makedirs(next_dir, exist_ok=True)
    src = os.path.join(t.snapshot_path, t._ranges()[0]["name"])
    shutil.copy(src, os.path.join(next_dir, "part-99999-stale-deadbeef.parquet"))
    t.append(spark.createDataFrame([(100,)], "k long"))
    assert t.nrows == 6  # stale file not double-cataloged
    assert sorted(r["k"] for r in t.df().collect()) == [0, 1, 2, 3, 4, 100]


def test_commit_pruned_hardlink_survives_stale_dir(spark):
    st = _store(spark, "debris2", rows_per_file=5)
    t = st.put(
        "t", spark.range(20).select(F.col("id").alias("k")), order_by=["k"]
    )
    cur = int(t._meta["current"].split("-")[1])
    next_dir = os.path.join(st._table_dir("t"), f"snap-{cur + 1:09d}")
    os.makedirs(next_dir, exist_ok=True)
    # stale copy of a file that the commit will hardlink under the SAME name
    keep_name = t._ranges()[0]["name"]
    shutil.copy(os.path.join(t.snapshot_path, keep_name),
                os.path.join(next_dir, keep_name))
    t.delete(19)  # rewrites only the last file; hardlinks the first ones
    assert t.nrows == 19


# --------------------------------------------------------------------------
# rewrite row-count cross-check: the committer's expected count is checked
# against the rows a driver-direct write actually lands
# --------------------------------------------------------------------------

def test_local_rewrite_row_count_mismatch_fails_loudly(spark):
    from nimhdfstore_spark.tables import local_frame

    st = _store(spark, "rowcount")
    t = st.put("t", spark.range(3).select(F.col("id").alias("k")), order_by=["k"])
    frame = local_frame(spark, [(3, 30), (4, 40), (5, 50)], f"{ROWID} long, k long")
    assert frame.isLocal()
    with pytest.raises(
        StoreError, match="rewrite produced 3 rows but the commit expects 2"
    ):
        t._commit_pruned(t._ranges(), frame, 2)
    assert t.nrows == 3


# --------------------------------------------------------------------------
# HDF5 array-valued attribute degrade (ADVICE r4 low)
# --------------------------------------------------------------------------

def test_hdf5_attr_value_array_and_scalar():
    import numpy as np

    from nimhdfstore_spark.sources.hdf5 import _attr_value

    assert _attr_value(np.int64(7)) == 7
    assert _attr_value(np.float32(1.5)) == 1.5
    assert _attr_value(b"abc") == "abc"
    assert _attr_value(np.array([1, 2, 3])) == [1, 2, 3]
    assert _attr_value(np.array([b"x"], dtype=object)) == "x"
    assert _attr_value("plain") == "plain"


# --------------------------------------------------------------------------
# core suite frozen at ≤49 entries (round-4 verdict ask #2): the driver's
# sweep is a ~50-entry count cap, so slot 50 must stay with the first
# extension-family representative.
# --------------------------------------------------------------------------

def test_core_suite_frozen_at_49():
    import nimhdfstore_spark.queries as Q

    Q.load_all()
    order = Q.sweep_order()
    core = [n for n in order if n.startswith("q")]
    assert len(core) <= 49, (
        f"core suite grew to {len(core)}: the driver verifies ~50 entries "
        "total — a 50th core query permanently evicts every extension "
        "family from driver verification"
    )
    assert order[: len(core)] == core  # core first, then extension lanes
    assert order[len(core)].startswith("x")  # slot 50 = an extension rep


# --------------------------------------------------------------------------
# base-plan cache across TWO Store handles on one root (round-4 verdict
# ask #8): drop/recreate reuses snap-000000000 under the same path, and a
# (name, snapshot)-keyed cache in the OTHER handle would serve the
# pre-drop file listing. The key is content-addressed on the file catalog,
# so every physical rewrite is a fresh key in every handle.
# --------------------------------------------------------------------------

@given(st.lists(st.sampled_from(
    ["append_a", "append_b", "drop_recreate_a", "drop_recreate_b",
     "overwrite_a", "overwrite_b", "delete_first_a", "read_a", "read_b"],
), min_size=3, max_size=8))
@settings(max_examples=12, deadline=None)
def test_two_handle_cache_never_serves_stale_snapshot(spark, ops):
    path = os.path.join(SCRATCH, "two_handle")
    shutil.rmtree(path, ignore_errors=True)
    a = Store(spark, path)
    b = Store(spark, path)

    def frame(vals):
        return spark.createDataFrame(
            [(i, v) for i, v in enumerate(vals)], f"{ROWID} long, v long"
        )

    model = [100, 101]
    a.put("t", frame(model), overwrite=True)
    nxt = 200

    def check(handle):
        got = [r["v"] for r in handle.table("t").df().orderBy(ROWID).collect()]
        assert got == model, f"stale read: {got} != {model}"

    for op in ops:
        h = a if op.endswith("_a") else b
        if op.startswith("append"):
            h.table("t").append(
                spark.createDataFrame([(nxt,)], "v long"), n=1
            )
            model.append(nxt)
            nxt += 1
        elif op.startswith("drop_recreate"):
            h.drop("t")
            model = [nxt, nxt + 1]
            nxt += 2
            h.put("t", frame(model))
        elif op.startswith("overwrite"):
            model = [nxt, nxt + 1, nxt + 2]
            nxt += 3
            h.put("t", frame(model), overwrite=True)
        elif op.startswith("delete_first"):
            if len(model) > 1:
                h.table("t").delete(0)
                model = model[1:]
        check(a)
        check(b)


# --------------------------------------------------------------------------
# DV flush must not prune the snapshot a same-call lazy payload reads from
# --------------------------------------------------------------------------
def test_self_referential_payload_survives_dv_flush(spark):
    """``t.update(i, t.slice(...))`` with a deferred delete pending: the
    payload is a lazy plan over the pre-flush snapshot; the flush inside
    ``update`` must defer pruning to the mutation's own commit, or the
    payload collect hits FileNotFound on the pruned dir (found by the
    round-8 store-layer scale sweep)."""
    st_ = _store(spark, "dvflush")
    df = spark.range(0, 500).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    t = st_.put("t", df, order_by=["k"])

    t.delete_deferred(10, 19)  # pending DV, no physical rewrite yet
    payload = t.slice(100, 149).withColumn("v", F.col("v") + 1000)
    t.update(100, payload.drop(ROWID), 149)  # flushes DV mid-call

    assert t.nrows == 490
    got = t.slice(100, 149).select("v").orderBy("v").collect()
    assert all(r["v"] >= 1000 for r in got)

    # append with a pending DV and a self-referential payload, same hazard
    t.delete_deferred(0, 4)
    pay2 = t.slice(0, 9).drop(ROWID)
    t.append(pay2)
    assert t.nrows == 495
