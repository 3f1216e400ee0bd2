"""Round-5 operators: frequent pairs, BFS, curriculum order, hard
negatives, bigram-LM scoring, transitions, skew profile — plan gates and
semantic invariants beyond the oracle hash (tests/test_queries_oracle.py
covers value parity for all of these automatically)."""

from __future__ import annotations

from nimhdfstore_spark.queries import QUERIES, load_all

load_all()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_frequent_pairs_is_equi_join(spark, sf_dir):
    # x155: pair generation must come from the basket equi-join, never a
    # corpus-level pair scan.
    plan = _plan(QUERIES["x155_frequent_pairs"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bigram_lm_is_equi_join(spark, sf_dir):
    # x159: the scoring join hits the model on (w1, w2) — an equi-join.
    from nimhdfstore_spark.queries import text as _text
    plan = _plan(_text.x159(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bfs_frontier_property(spark, sf_dir):
    # Every node at dist d>0 must have an in-edge from a node at dist d-1,
    # and the source sits at dist 0.
    rows = QUERIES["x156_bfs_hops"](spark, sf_dir).collect()
    dist = {r["node"]: r["dist"] for r in rows}
    assert dist[0] == 0
    assert all(0 <= d <= 3 for d in dist.values())


def test_transition_probs_sum_to_one(spark, sf_dir):
    # Per from_type, floor-scaled probabilities sum to 1e6 minus at most
    # (n_targets - 1) of flooring loss.
    rows = QUERIES["x160_event_transitions"](spark, sf_dir).collect()
    by_from: dict[str, list[int]] = {}
    for r in rows:
        by_from.setdefault(r["from_type"], []).append(r["prob_ppm"])
    for k, ppms in by_from.items():
        assert 1_000_000 - len(ppms) < sum(ppms) <= 1_000_000, k


def test_skew_profile_invariants(spark, sf_dir):
    row = QUERIES["x161_key_skew_profile"](spark, sf_dir).collect()[0]
    assert 0 <= row["gini_ppm"] < 1_000_000
    # max >= mean  =>  max * n_keys / total >= 1
    assert row["skew_ratio_ppm"] >= 1_000_000
    assert row["max_key_rows"] <= row["total_rows"]


def test_curriculum_is_permutation_and_binned(spark, sf_dir):
    rows = QUERIES["x157_curriculum_order"](spark, sf_dir).collect()
    positions = sorted(r["pos"] for r in rows)
    assert positions == list(range(1, len(rows) + 1))
    # walking by pos, bins never decrease (easy -> hard), and each doc's
    # bin matches its fixed-width difficulty bucket
    by_pos = sorted(rows, key=lambda r: r["pos"])
    bins = [r["bin"] for r in by_pos]
    assert bins == sorted(bins)
    for r in rows:
        assert r["bin"] == min(r["n_tok"] // 16, 9)


def test_hard_negatives_cross_label_and_ranked(spark, sf_dir):
    rows = QUERIES["x158_hard_negative_mining"](spark, sf_dir).collect()
    assert rows, "no hard negatives mined"
    by_probe: dict[int, list] = {}
    for r in rows:
        assert r["probe_label"] != r["negative_label"]
        by_probe.setdefault(r["probe_id"], []).append(r)
    for probe, rs in by_probe.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        cosines = [r["cosine"] for r in rs]
        assert cosines == sorted(cosines, reverse=True), probe


# -- deletion vectors (merge-on-read deletes) -------------------------------

import os

from pyspark.sql import functions as F

from nimhdfstore_spark.rowid import ROWID
from nimhdfstore_spark.store import Store, StoreError


def _mk(spark, tmp_path, n=60, rows_per_file=20):
    st = Store(spark, str(tmp_path / "dv"), rows_per_file=rows_per_file)
    df = spark.range(n).select(
        F.col("id").cast("long").alias(ROWID), (F.col("id") * 3).alias("v")
    )
    return st, st.put("t", df)


def test_dv_delete_moves_zero_bytes(spark, tmp_path):
    st, t = _mk(spark, tmp_path)
    snap = t.snapshot_path
    before = sorted(os.listdir(snap))
    t.delete_deferred(5, 24)
    assert t.snapshot_path == snap and sorted(os.listdir(snap)) == before
    assert t.nrows == 40
    assert [r["v"] for r in t.df().orderBy(ROWID).limit(6).collect()] == [
        0, 3, 6, 9, 12, 75,
    ]


def test_dv_equals_eager_delete(spark, tmp_path):
    st, t = _mk(spark, tmp_path)
    st.put(
        "e",
        spark.range(60).select(
            F.col("id").cast("long").alias(ROWID), (F.col("id") * 3).alias("v")
        ),
    )
    e = st["e"]
    t.delete_deferred(10, 19)
    t.delete_deferred(10, 14)
    e.delete(10, 19)
    e.delete(10, 14)
    got = [tuple(r) for r in t.df().orderBy(ROWID).collect()]
    want = [tuple(r) for r in e.df().orderBy(ROWID).collect()]
    assert got == want and t.nrows == e.nrows == 45
    # materializing changes nothing logically
    t.compact()
    assert t.deletion_vector == []
    assert [tuple(r) for r in t.df().orderBy(ROWID).collect()] == want


def test_dv_flushes_before_physical_mutation(spark, tmp_path):
    st, t = _mk(spark, tmp_path)
    t.delete_deferred(0, 9)
    t.append(
        spark.range(2).select(
            (F.col("id") + 50).cast("long").alias(ROWID),
            F.lit(-1).cast("long").alias("v"),
        )
    )
    assert t.deletion_vector == [] and t.nrows == 52
    rows = t.df().orderBy(ROWID).collect()
    assert [r[ROWID] for r in rows] == list(range(52))
    assert rows[0]["v"] == 30 and rows[-1]["v"] == -1


def test_dv_autocompacts_past_limit(spark, tmp_path, monkeypatch):
    st, t = _mk(spark, tmp_path, n=40, rows_per_file=40)
    monkeypatch.setattr(type(t), "_DV_LIMIT", 2)
    t.delete_deferred(1)
    t.delete_deferred(4)
    assert len(t.deletion_vector) == 2  # at limit: still deferred
    t.delete_deferred(8)
    assert t.deletion_vector == []  # over limit: materialized
    assert t.nrows == 37


def test_dv_readonly_guard(spark, tmp_path):
    st, t = _mk(spark, tmp_path)
    ro = Store(spark, str(tmp_path / "dv"), mode="r")
    try:
        ro["t"].delete_deferred(0)
        raise AssertionError("read-only store accepted delete_deferred")
    except StoreError:
        pass


# -- bloom file index -------------------------------------------------------


def test_bloom_prunes_uncorrelated_layout(spark, tmp_path):
    st = Store(spark, str(tmp_path / "bl"), rows_per_file=200)
    df = spark.range(2000).select(
        F.col("id").cast("long").alias(ROWID),
        F.col("id").alias("k"),
        (F.col("id") % 7).alias("g"),
    )
    t = st.put("t", df)
    t.cluster_by(F.xxhash64("k"))
    t.build_bloom("k", bits=4096, k=3)
    out, scanned, total = t.lookup_eq("k", 1234)
    rows = out.collect()
    assert [r["k"] for r in rows] == [1234]
    assert total == 10 and scanned <= 3  # ~1 true file + rare false positives
    # absent value: typically zero files survive, never a wrong row
    out2, s2, t2 = t.lookup_eq("k", 10**9)
    assert out2.count() == 0 and s2 <= 2


def test_bloom_index_extends_on_append_stale_on_rewrite(spark, tmp_path):
    """Round-9: an append-only commit EXTENDS the bloom index by scanning
    only the new files (rebuilding over all files per append would be a
    full-scan tax at 100 TB); a rewriting commit carries the entries of the
    files it keeps and extends the index over the ones it writes."""
    st = Store(spark, str(tmp_path / "bl2"), rows_per_file=100)
    df = spark.range(300).select(
        F.col("id").cast("long").alias(ROWID), F.col("id").alias("k")
    )
    t = st.put("t", df)
    t.build_bloom("k")
    old_entries = dict(t._bloom_files(t._meta["bloom"]["k"]))
    t.append(
        spark.range(5).select(
            (F.col("id") + 300).cast("long").alias(ROWID),
            (F.col("id") + 300).alias("k"),
        )
    )
    # the index survived, old entries bit-identical, only new files scanned
    fmap = t._bloom_files(t._meta["bloom"]["k"])
    assert set(old_entries) < set(fmap)
    assert all(fmap[n] == h for n, h in old_entries.items())
    assert t.last_index_scan == sorted(
        set(fmap) - set(old_entries)
    ) and len(t.last_index_scan) >= 1
    # probes work for BOTH pre-existing and appended values, still pruning
    out, scanned, total = t.lookup_eq("k", 3)
    assert [r["k"] for r in out.collect()] == [3] and scanned < total
    out2, s2, _ = t.lookup_eq("k", 302)
    assert [r["k"] for r in out2.collect()] == [302] and s2 < total
    # a rewriting commit carries the index too: it survives and matches a
    # fresh build over the new snapshot
    t.delete(0)
    carried = t._bloom_files(t._meta["bloom"]["k"])
    out3, _, _ = t.lookup_eq("k", 3)
    assert [(r[ROWID], r["k"]) for r in out3.collect()] == [(2, 3)]
    t.build_bloom("k")
    assert t._bloom_files(t._meta["bloom"]["k"]) == carried


def test_bloom_respects_deletion_vector(spark, tmp_path):
    st = Store(spark, str(tmp_path / "bl3"), rows_per_file=100)
    df = spark.range(300).select(
        F.col("id").cast("long").alias(ROWID), F.col("id").alias("k")
    )
    t = st.put("t", df)
    t.build_bloom("k")
    t.delete_deferred(0, 9)  # metadata-only: bloom stays valid for raw files
    out, _, _ = t.lookup_eq("k", 5)
    assert out.count() == 0  # deleted row must not resurrect
    out2, _, _ = t.lookup_eq("k", 15)
    assert [(r[ROWID], r["k"]) for r in out2.collect()] == [(5, 15)]


# -- incremental join-view maintenance --------------------------------------


def test_ivm_appends_without_rewriting_base_files(spark, tmp_path):
    from pyspark.sql import Window

    from nimhdfstore_spark.operators.ivm import join_delta

    st = Store(spark, str(tmp_path / "ivm"), rows_per_file=50)
    a = spark.range(200).select(
        F.col("id").alias("ak"), (F.col("id") % 40).alias("k"),
        (F.col("id") * 2).alias("av"),
    )
    b = spark.range(40).select(
        F.col("id").alias("k"), (F.col("id") + 100).alias("bv")
    )
    base_a, delta_a = a.where("ak % 5 != 0"), a.where("ak % 5 = 0")
    base_b, delta_b = b.where("k % 8 != 0"), b.where("k % 8 = 0")
    v0 = base_a.join(base_b, "k")
    t = st.put("v", v0, order_by=["ak"])
    files_before = {e["name"] for e in t._meta["files"]}
    dv = join_delta(base_a, delta_a, base_b, delta_b, "k", "k")
    w = Window.orderBy("ak")
    from nimhdfstore_spark.rowid import ROWID

    t.append(dv.withColumn(ROWID, (F.row_number().over(w) - 1).cast("long")))
    files_after = {e["name"] for e in t._meta["files"]}
    assert files_before <= files_after, "append rewrote existing view files"
    # IVM result == full recompute (order-insensitive multiset compare)
    got = sorted(
        (r["ak"], r["k"], r["av"], r["bv"])
        for r in t.df().select("ak", "k", "av", "bv").collect()
    )
    want = sorted(
        (r["ak"], r["k"], r["av"], r["bv"])
        for r in a.join(b, "k").select("ak", "k", "av", "bv").collect()
    )
    assert got == want


# -- plan gates for the round-5 batch ---------------------------------------


def test_scd2_single_exchange(spark, sf_dir):
    # x168's two windows share the user_id partitioning: exactly one
    # shuffle of the fact table (the final presentation orderBy adds a
    # rangepartitioning exchange over the already-collapsed intervals).
    plan = _plan(QUERIES["x168_scd2_intervals"](spark, sf_dir))
    import re

    hash_exchanges = len(re.findall(r"Exchange hashpartitioning", plan))
    assert hash_exchanges == 1, f"expected 1 hash exchange:\n{plan[:1500]}"


def test_correlation_matrix_single_scan_per_branch(spark, sf_dir):
    # x170: all moment sums come from ONE aggregate; the three matrix rows
    # re-use it (union of projections). No join, no second fact aggregate
    # per pair.
    from nimhdfstore_spark.queries import relational as _rel
    df = _rel.x170(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in opt, opt[:1500]


def test_winsorize_broadcasts_thresholds(spark, sf_dir):
    from nimhdfstore_spark.queries import relational as _rel
    plan = _plan(_rel.x163(spark, sf_dir))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_novelty_no_pairwise_join(spark, sf_dir):
    from nimhdfstore_spark.queries import text as _text
    plan = _plan(_text.x171(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_twap_values_bounded_by_min_max(spark, sf_dir):
    from nimhdfstore_spark.queries import timeseries as _ts
    rows = _ts.x169(spark, sf_dir).collect()
    assert rows, "no TWAP rows"
    for r in rows:
        assert r["n_segments"] >= 5 and r["span_us"] > 0
        assert 0 <= r["twap_cents"] <= 100 * 100000


def test_scd2_intervals_partition_time(spark, sf_dir):
    # intervals per user must be contiguous: each valid_to equals the next
    # interval's valid_from, one open interval per user
    rows = QUERIES["x168_scd2_intervals"](spark, sf_dir).collect()
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    for u, rs in by_user.items():
        rs.sort(key=lambda r: r["valid_from"])
        assert sum(r["is_current"] for r in rs) == 1, u
        for a, b in zip(rs, rs[1:]):
            assert a["valid_to"] == b["valid_from"], u
            assert a["state"] != b["state"], u
        assert rs[-1]["valid_to"] == "current"


# -- multi-table transaction ------------------------------------------------


def test_transaction_commits_all_or_nothing(spark, tmp_path):
    st = Store(spark, str(tmp_path / "tx"))
    df = spark.range(10).select(
        F.col("id").cast("long").alias(ROWID), F.col("id").alias("v")
    )
    st.put("a", df)  # pre-existing state
    # failing transaction: nothing flips
    try:
        with st.transaction() as tx:
            tx.put("a", df.withColumn("v", F.col("v") * 10), overwrite=True)
            tx.put("b", df)
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert "b" not in st
    assert [r["v"] for r in st["a"].df().orderBy(ROWID).collect()] == list(range(10))
    # successful transaction: both visible, consistent
    with st.transaction() as tx:
        tx.put("a", df.withColumn("v", F.col("v") * 10), overwrite=True)
        tx.put("b", df)
    assert [r["v"] for r in st["a"].df().orderBy(ROWID).collect()] == [
        i * 10 for i in range(10)
    ]
    assert st["b"].nrows == 10
    # duplicate staging rejected
    try:
        with st.transaction() as tx:
            tx.put("c", df)
            tx.put("c", df)
        raise AssertionError("duplicate staged table accepted")
    except StoreError:
        pass
    assert "c" not in st  # the failed txn rolled c's staged snapshot back
