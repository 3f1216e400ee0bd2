"""Round-14 (optimization round 2) pins: the r13 ADVICE fixes.

- ``put(local_max_rows=)``'s violation branch must fire LOUDLY and must be
  enforced through a bounded collect (a wrong caller promise must not
  materialize the whole frame on the driver before the error);
- ``local_frame``'s timestamp fallback and row-shape guards (a Mapping row
  silently zipping over its keys, or silently losing/gaining fields, was a
  corrupt frame, not an error);
- the bench minima table, source fingerprints included, is keyed by
  (sf, cpus) so a non-default-core run can never lower the 32-core
  reference minima nor mark another key's stale minima current.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


# --------------------------------------------------------------------------
# put(local_max_rows=): the promise is ENFORCED, not trusted
# --------------------------------------------------------------------------


def test_local_max_rows_violation_raises_loudly(spark, tmp_path):
    from nimhdfstore_spark.store import Store, StoreError

    store = Store(spark, str(tmp_path / "store"))
    body = spark.range(50).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    with pytest.raises(StoreError, match="local_max_rows=10 promised"):
        store.put("t", body, order_by=["k"], local_max_rows=10)


def test_local_max_rows_violation_is_bounded_collect(spark, tmp_path):
    """The enforcement itself must be limit-gated: the arrow table built
    for the bound check carries at most bound+1 rows (r13 ADVICE — the
    old path ran ``body.toArrow()`` on the full frame BEFORE validating,
    so a wrong promise materialized everything on the driver)."""
    import pyarrow as pa

    from nimhdfstore_spark.store import Store, StoreError

    store = Store(spark, str(tmp_path / "store"))
    body = spark.range(10_000).select(F.col("id").alias("k"))

    seen = {}
    orig = pa.parquet.write_table

    real_to_arrow = type(body).toArrow

    def spy_to_arrow(self):
        tbl = real_to_arrow(self)
        seen.setdefault("rows", []).append(tbl.num_rows)
        return tbl

    import unittest.mock as mock

    with mock.patch.object(type(body), "toArrow", spy_to_arrow):
        with pytest.raises(StoreError, match="local_max_rows"):
            store.put("t", body, order_by=["k"], local_max_rows=100)
    assert seen["rows"], "hinted put never went through toArrow"
    assert max(seen["rows"]) <= 101, (
        f"bound check materialized {max(seen['rows'])} rows on the driver; "
        "the limit gate must cap it at local_max_rows + 1"
    )
    assert orig is pa.parquet.write_table  # sanity: nothing wrote


def test_local_max_rows_within_bound_writes_full_table(spark, tmp_path):
    """Within the promise the limited table IS the full table: the write
    must land every row, sorted by _rowid, bit-identical to the
    distributed path's contract."""
    from nimhdfstore_spark.store import Store

    store = Store(spark, str(tmp_path / "store"))
    body = spark.range(64).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("v")
    )
    t = store.put("t", body, order_by=["k"], local_max_rows=64)
    got = sorted(r["k"] for r in t.df().collect())
    assert got == list(range(64))


# --------------------------------------------------------------------------
# local_frame row-shape guards
# --------------------------------------------------------------------------


def test_local_frame_timestamps_match_classic_conversion(spark):
    """Timestamp schemas stay LocalRelations with the same rows and types
    as ``spark.createDataFrame`` would give."""
    import datetime

    from nimhdfstore_spark.tables import local_frame

    ts = datetime.datetime(2024, 1, 2, 3, 4, 5)
    rows = [(1, ts, [ts]), {"a": 2, "ts": None, "tss": []}]
    df = local_frame(spark, rows, "a bigint, ts timestamp, tss array<timestamp>")
    assert df.isLocal()
    assert df.dtypes == [
        ("a", "bigint"), ("ts", "timestamp"), ("tss", "array<timestamp>"),
    ]
    assert sorted(map(tuple, df.collect()), key=lambda r: r[0]) == [
        (1, ts, [ts]), (2, None, []),
    ]


def test_local_frame_rejects_wrong_width_rows(spark):
    from nimhdfstore_spark.tables import local_frame

    with pytest.raises(ValueError, match="2 values for 3 schema fields"):
        local_frame(spark, [(1, "x")], "a bigint, b string, c bigint")


@pytest.mark.parametrize(
    "row", [{"a": 1}, {"a": 1, "b": "x", "c": 2}, {"a": 1, "c": "x"}]
)
def test_local_frame_rejects_mapping_rows_with_other_keys(spark, row):
    """A Mapping row must name exactly the schema's fields: a missing key
    would read as null and an extra one would be dropped, both silently."""
    from nimhdfstore_spark.tables import local_frame

    with pytest.raises(ValueError, match="differ from the schema fields"):
        local_frame(spark, [{"a": 0, "b": "ok"}, row], "a bigint, b string")


def test_local_frame_accepts_mapping_rows_by_name(spark):
    from nimhdfstore_spark.tables import local_frame

    rows = [{"b": "x", "a": 1}, {"a": 2, "b": "y"}]  # key order shuffled
    df = local_frame(spark, rows, "a bigint, b string")
    assert df.isLocal()
    assert sorted((r["a"], r["b"]) for r in df.collect()) == [
        (1, "x"), (2, "y"),
    ]


def test_local_frame_positional_rows_unchanged(spark):
    from nimhdfstore_spark.tables import local_frame

    df = local_frame(spark, [(1, "x"), (2, "y")], "a bigint, b string")
    assert df.isLocal()
    assert sorted((r["a"], r["b"]) for r in df.collect()) == [
        (1, "x"), (2, "y"),
    ]


# --------------------------------------------------------------------------
# bench minima: cross-core isolation
# --------------------------------------------------------------------------


def _bench():
    import importlib.util
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(root, "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_minima_key_is_cpu_scoped():
    b = _bench()
    assert b._minima_key("0.1", "32") == "0.1"  # 32-core history intact
    assert b._minima_key("0.1", 32) == "0.1"
    assert b._minima_key("0.1", "8") == "0.1@8cpu"
    assert b._minima_key("0.001", "16") == "0.001@16cpu"
    # distinct keys can never alias
    assert b._minima_key("0.1", "8") != b._minima_key("0.1", "32")


def test_minima_fingerprints_are_per_key(tmp_path, monkeypatch):
    """A run under ``0.1@8cpu`` after a source change must not let the bare
    ``0.1`` key's stale minimum survive: each key checks staleness against
    the fingerprints recorded with its own minima. A legacy shared ``_fp``
    map migrates into every present key."""
    import json

    import nimhdfstore_spark.queries as Q

    Q.load_all()
    b = _bench()
    monkeypatch.setattr(b, "REPO", str(tmp_path))
    q = "q01_full_scan"
    with open(tmp_path / "bench_minima.json", "w") as f:
        json.dump({"0.1": {q: 1.0}, "0.1@8cpu": {q: 2.0}, "_fp": {q: "old"}}, f)

    assert b._update_minima("0.1@8cpu", {q: 3.0}, {q: "new"}) == 3.0
    with open(tmp_path / "bench_minima.json") as f:
        table = json.load(f)
    assert "_fp" not in table
    assert table["_fp@0.1"] == {q: "old"} and table["_fp@0.1@8cpu"] == {q: "new"}
    assert b._load_minima("0.1", {q: "new"}) == {}, "stale 0.1 minimum survived"
    assert b._update_minima("0.1", {q: 5.0}, {q: "new"}) == 5.0
    assert b._load_minima("0.1", {q: "new"}) == {q: 5.0}


# --------------------------------------------------------------------------
# x196's cross-batch probe handle: the handle path (base checkpoint +
# driver-tracked extras) must produce IDENTICAL verdicts and index state
# to the handle-less per-batch table re-read, including under replay
# (the handle's own_already comes from set arithmetic, not the index scan)
# --------------------------------------------------------------------------


def test_ingest_dedup_index_state_matches_handleless_path(spark):
    from nimhdfstore_spark.operators.dedup import minhash_buckets
    from nimhdfstore_spark.queries.core import scratch_store
    from nimhdfstore_spark.streaming.windows import _ingest_dedup_batch

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today"),
         (2, "pack my box with five dozen liquor jugs right now")],
        "doc_id long, text string",
    )
    b1 = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog today"),
         (20, "a genuinely novel document nothing else resembles")],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        # 30 duplicates doc 20 — only found if b1's append is visible to
        # the probe (via the table on path A, via `extra` on path B)
        [(30, "a genuinely novel document nothing else resembles")],
        "doc_id long, text string",
    )
    num_hashes, bands, mod = 32, 8, 30

    def run(with_handle: bool):
        name = f"t-isx-{int(with_handle)}"
        store = scratch_store(spark, name)
        idx = minhash_buckets(corpus, "doc_id", "text", 3, num_hashes, bands)
        if "sig_index" in store:
            store.drop("sig_index")
        store.put("sig_index", idx, order_by=["id", "band"])
        state = None
        if with_handle:
            base = (
                store.table("sig_index").df()
                .select("id", "sig", "band", "bucket")
                .localCheckpoint(eager=False)
            )
            state = {"base": base, "extra": [], "schema": None}
        log: dict = {}
        for batch in (b1, b2, b2):  # third call = replay of b2
            _ingest_dedup_batch(
                store, batch, num_hashes, bands, 0.7, mod, log,
                index_state=state,
            )
        idx_rows = sorted(map(tuple, store.table("sig_index").df()
                              .select("id", "band", "bucket").collect()))
        return {k: v.asDict() for k, v in log.items()}, idx_rows

    log_a, idx_a = run(with_handle=False)
    log_b, idx_b = run(with_handle=True)
    assert log_a == log_b, "handle path changed the verdicts"
    assert idx_a == idx_b, "handle path changed the persisted index"
    assert log_b[10]["is_dup"] == 1 and log_b[10]["best_match_id"] == 1
    assert log_b[20]["is_dup"] == 0
    assert log_b[30]["is_dup"] == 1 and log_b[30]["best_match_id"] == 20
