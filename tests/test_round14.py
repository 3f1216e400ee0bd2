"""Round-10 coverage: delete-to-empty semantics (round-9 verdict #1), the
schema-in-meta catalog entry (verdict #3/#8), and degenerate-input
hardening for the pipeline operators (verdict #5).

The reference's table stays readable at nrecords=0 (``toSeq`` on an empty
table yields an empty seq, nimtables.nim:140-147); a zero-file snapshot
must therefore read as a typed empty frame, not raise
UNABLE_TO_INFER_SCHEMA.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from nimhdfstore_spark.rowid import ROWID
from nimhdfstore_spark.store import Store, StoreError


@pytest.fixture()
def store(spark, tmp_path):
    return Store(spark, str(tmp_path / "s"), keep_snapshots=8)


def _kv(spark, rows):
    return spark.createDataFrame(rows, "k bigint, v double")


def _emptied(spark, store, name="t"):
    t = store.put(name, _kv(spark, [(i, float(i)) for i in range(5)]),
                  order_by=["k"])
    t.delete(0, 4)
    return t


class TestDeleteToEmpty:
    """The recorded round-9 falsifying sequence, explicitly."""

    def test_minimal_falsifying_sequence(self, spark, store):
        t = store.put("t", _kv(spark, [(1, 1.0), (2, 2.0), (3, 3.0)]),
                      order_by=["k"])
        t.delete(0, 2)
        assert t.nrows == 0
        assert t.df().count() == 0
        assert [f.name for f in t.df().schema.fields] == [ROWID, "k", "v"]
        assert [(f.name, f.dataType.simpleString()) for f in t.schema.fields] \
            == [("k", "bigint"), ("v", "double")]

    def test_append_after_empty_restarts_rowids_at_zero(self, spark, store):
        t = _emptied(spark, store)
        t.append(_kv(spark, [(10, 1.5), (11, 2.5)]))
        got = [(r[ROWID], r["k"]) for r in t.df().orderBy(ROWID).collect()]
        assert got == [(0, 10), (1, 11)]

    def test_insert_at_zero_on_empty(self, spark, store):
        t = _emptied(spark, store)
        t.insert(0, _kv(spark, [(7, 7.0)]))
        assert [(r[ROWID], r["k"]) for r in t.df().collect()] == [(0, 7)]

    def test_compact_and_cluster_by_on_empty_stay_empty(self, spark, store):
        t = _emptied(spark, store)
        t.compact()
        assert t.nrows == 0 and t.df().count() == 0
        t.cluster_by("k")
        assert t.nrows == 0 and t.df().count() == 0
        # still appendable afterwards
        t.append(_kv(spark, [(1, 1.0)]))
        assert t.nrows == 1

    def test_positional_mutations_on_empty_raise_cleanly(self, spark, store):
        t = _emptied(spark, store)
        payload = _kv(spark, [(1, 9.0)])
        with pytest.raises(StoreError, match="out of range"):
            t.delete(0)
        with pytest.raises(StoreError, match="out of range"):
            t.update(0, payload)
        with pytest.raises(StoreError, match="out of range"):
            t.delete_deferred(0)
        with pytest.raises(StoreError, match="out of range"):
            t.update_rows(spark.createDataFrame(
                [(0, 1, 9.0)], f"{ROWID} bigint, k bigint, v double"))

    def test_merge_into_empty_inserts(self, spark, store):
        t = _emptied(spark, store)
        res = t.merge(_kv(spark, [(1, 9.0), (2, 8.0)]), "k")
        assert res == {"updated": 0, "inserted": 2}
        assert t.nrows == 2

    def test_changes_since_pre_empty_snapshot(self, spark, store):
        t = store.put("t", _kv(spark, [(1, 1.0), (2, 2.0)]), order_by=["k"])
        base_snap = store.snapshots("t")[-1]
        t.delete(0, 1)
        # changes() emits inserts/updates only — deletions are positional by
        # contract (see docstring). The point here is the empty-frame path
        # doesn't crash and carries the op column.
        ch = t.changes(base_snap)
        assert ch.count() == 0
        assert "op" in ch.columns

    def test_copy_and_combine_of_empty(self, spark, store):
        _emptied(spark, store)
        store.copy("t", "t2")
        assert store.table("t2").nrows == 0
        assert store.table("t2").df().count() == 0
        c = store.combine("t", "t2", "t3")
        assert c.nrows == 0 and c.df().count() == 0

    def test_time_travel_to_empty_snapshot(self, spark, store):
        t = _emptied(spark, store)
        empty_snap = store.snapshots("t")[-1]
        t.append(_kv(spark, [(1, 1.0)]))
        h = store.table("t", snapshot=empty_snap)
        assert h.nrows == 0
        assert h.df().count() == 0
        assert [f.name for f in h.schema.fields] == ["k", "v"]

    def test_bloom_on_empty_extends_on_append(self, spark, store):
        t = _emptied(spark, store)
        idx = t.build_bloom("k")
        assert idx["files"] == {}
        got, kept, total = t.lookup_eq("k", 3)
        assert (got.count(), kept, total) == (0, 0, 0)
        t.append(_kv(spark, [(3, 3.0)]))
        got, kept, total = t.lookup_eq("k", 3)
        assert (got.count(), kept, total) == (1, 1, 1)
        assert t.last_index_scan  # incremental extend, not a rebuild

    def test_zone_scan_on_empty(self, spark, store):
        t = _emptied(spark, store)
        got, kept, total = t.scan_between("k", 1, 2)
        assert (got.count(), kept, total) == (0, 0, 0)

    def test_python_datasource_reads_empty(self, spark, store):
        _emptied(spark, store)
        from nimhdfstore_spark.sources.pyds import ensure_registered

        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
        ensure_registered(spark)
        r = (spark.read.format("nimhdfstore")
             .option("store", store.root).option("table", "t").load())
        assert r.count() == 0
        assert [f.name for f in r.schema.fields] == [ROWID, "k", "v"]


class TestSchemaInMeta:
    def test_schema_persisted_at_put(self, spark, store):
        store.put("t", _kv(spark, [(1, 1.0)]), order_by=["k"])
        meta = store._read_meta("t")
        assert "schema" in meta
        import json

        names = [f["name"] for f in json.loads(meta["schema"])["fields"]]
        assert set(names) == {ROWID, "k", "v"}

    def test_schema_property_reads_no_files(self, spark, store, monkeypatch):
        """Table.schema must not plan a scan (verdict #3): poison df() and
        read the schema anyway."""
        t = store.put("t", _kv(spark, [(1, 1.0)]), order_by=["k"])
        monkeypatch.setattr(
            t, "df", lambda: (_ for _ in ()).throw(AssertionError("df() called"))
        )
        assert [f.name for f in t.schema.fields] == ["k", "v"]

    def test_schema_tracks_evolution(self, spark, store):
        t = store.put("t", _kv(spark, [(1, 1.0)]), order_by=["k"])
        t.add_field("w", "int", 7)
        assert [f.name for f in t.schema.fields] == ["k", "v", "w"]
        assert [f.name for f in store.table("t").schema.fields] == ["k", "v", "w"]
        t.drop_field("v")
        assert [f.name for f in store.table("t").schema.fields] == ["k", "w"]

    def test_historical_schema_not_poisoned_by_evolution(self, spark, store):
        t = store.put("t", _kv(spark, [(1, 1.0)]), order_by=["k"])
        old = store.snapshots("t")[-1]
        t.add_field("w", "int", 7)
        h = store.table("t", snapshot=old)
        assert [f.name for f in h.schema.fields] == ["k", "v"]

    def test_legacy_meta_without_schema_still_reads(self, spark, store):
        """Pre-persistence tables (no meta schema) fall back to footers."""
        import json

        t = store.put("t", _kv(spark, [(1, 1.0)]), order_by=["k"])
        mp = store._meta_path("t")
        meta = json.load(open(mp))
        meta.pop("schema")
        json.dump(meta, open(mp, "w"))
        t2 = store.table("t")
        assert t2._stored_schema() is None  # Table._scan infers from footers
        assert [f.name for f in t2.schema.fields] == ["k", "v"]
        assert t2.df().count() == 1
        # and one mutation backfills the persisted schema
        t2.append(_kv(spark, [(2, 2.0)]))
        assert "schema" in store._read_meta("t")

    def test_scan_ranges_foreign_parquet_clear_error(self, spark, tmp_path):
        """ADVICE r9: a parquet file without _rowid must raise StoreError,
        not a bare StopIteration."""
        from nimhdfstore_spark.store import scan_rowid_ranges

        p = str(tmp_path / "foreign")
        _kv(spark, [(1, 1.0)]).write.parquet(p)
        with pytest.raises(StoreError, match=ROWID):
            scan_rowid_ranges(p)


# --------------------------------------------------------------------------
# Two-process writer-writer contention for BOTH committers (round-9 verdict
# ask #4): the flock committer was proven under real process races in
# test_round12; the conditional-PUT protocol only ever ran against the
# in-process MemoryCatalogBackend. FileCatalogBackend makes the catalog
# durable and cross-process — the same race must hold.
# --------------------------------------------------------------------------

_WORKER_SRC = '''
import sys
sys.path.insert(0, "/root/repo")
root, base, committer_kind, cat = (
    sys.argv[1], int(sys.argv[2]), sys.argv[3], sys.argv[4]
)
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[2]")
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
from nimhdfstore_spark.store import (
    ConditionalPutCommitter, FileCatalogBackend, LockfileCommitter, Store,
)
committer = (
    LockfileCommitter() if committer_kind == "lockfile"
    else ConditionalPutCommitter(FileCatalogBackend(cat))
)
t = Store(spark, root, committer=committer).table("t")
for i in range(5):
    df = spark.createDataFrame(
        [(base + i, 1, 100.0, 20.0)],
        "lati long, longi long, pressure double, temperature double",
    )
    t.append(df)  # auto-retries on StoreConflictError
spark.stop()
print("WORKER-OK", base)
'''


@pytest.mark.parametrize("kind", ["lockfile", "condput_file"])
def test_two_process_append_contention_both_committers(spark, tmp_path, kind):
    import subprocess
    import sys

    from nimhdfstore_spark.store import (
        ConditionalPutCommitter,
        FileCatalogBackend,
        LockfileCommitter,
    )

    root = str(tmp_path / "mpstore")
    cat = str(tmp_path / "catalog.json")
    committer = (
        LockfileCommitter() if kind == "lockfile"
        else ConditionalPutCommitter(FileCatalogBackend(cat))
    )
    seed = spark.createDataFrame(
        [(1, 1, 100.0, 20.0), (2, 1, 100.0, 20.0)],
        "lati long, longi long, pressure double, temperature double",
    )
    Store(spark, root, committer=committer).put("t", seed, order_by=["lati"])

    script = tmp_path / "worker.py"
    script.write_text(_WORKER_SRC)
    procs = [
        subprocess.Popen(
            [sys.executable, str(script), root, str(base), kind, cat],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        )
        for base in (1000, 2000)
    ]
    outs = [p.communicate(timeout=300) for p in procs]
    for p, (out, err) in zip(procs, outs):
        assert p.returncode == 0, f"worker failed:\n{out}\n{err[-2000:]}"
        assert "WORKER-OK" in out
    final = Store(spark, root, committer=committer).table("t")
    keys = sorted(r["lati"] for r in final.df().collect())
    assert keys == [1, 2] + list(range(1000, 1005)) + list(range(2000, 2005)), (
        f"a concurrently committed append was lost ({kind}): {keys}"
    )
    assert final.nrows == 12


def test_file_catalog_backend_realpath_keying(spark, tmp_path):
    """ADVICE r9: two handles spelling the same root differently must CAS
    against one catalog entry (keys are canonicalized via realpath)."""
    import os

    from nimhdfstore_spark.store import (
        ConditionalPutCommitter,
        FileCatalogBackend,
        StoreConflictError,
    )

    backend = FileCatalogBackend(str(tmp_path / "cat.json"))
    real = str(tmp_path / "store")
    os.makedirs(real)
    alias = str(tmp_path / "alias")
    os.symlink(real, alias)

    df = spark.createDataFrame([(1, 1.0)], "k bigint, v double")
    a = Store(spark, real, committer=ConditionalPutCommitter(backend))
    a.put("t", df, order_by=["k"])
    ta = a.table("t")
    b = Store(spark, alias, committer=ConditionalPutCommitter(backend))
    tb = b.table("t")

    ta.set_attrs(x=1)  # bumps the shared catalog entry
    with pytest.raises(StoreConflictError):
        tb.set_attrs(y=2)  # the symlink spelling must SEE that bump


def test_above_current_snapshot_is_debris(spark, tmp_path):
    """ADVICE r9: a crashed conditional-PUT attempt's never-committed
    snap-N-<hex> dir (N above current) must not resolve, list, or occupy a
    retention slot."""
    import os

    store = Store(spark, str(tmp_path / "s"), keep_snapshots=2)
    df = spark.createDataFrame([(1, 1.0)], "k bigint, v double")
    t = store.put("t", df, order_by=["k"])
    t.append(spark.createDataFrame([(2, 2.0)], "k bigint, v double"))
    cur = store.snapshots("t")[-1]
    # plant crash debris: a complete-looking dir numbered above current
    tdir = store._table_dir("t")
    debris = os.path.join(tdir, f"snap-{cur + 3:08d}-deadbeef")
    os.makedirs(debris)
    assert store.snapshots("t") == [cur - 1, cur]
    with pytest.raises(StoreError, match="not retained"):
        store.table("t", snapshot=cur + 3)
    # another commit prunes by number: the debris must not evict the real
    # retained history snapshot (and must itself survive for vacuum)
    t2 = store.table("t")
    t2.append(spark.createDataFrame([(3, 3.0)], "k bigint, v double"))
    snaps = store.snapshots("t")
    assert snaps == [cur, cur + 1]
    assert os.path.isdir(debris)  # in-flight-lookalike: left for vacuum
    # age-gated vacuum reclaims it
    os.utime(debris, (1, 1))
    store.vacuum()
    assert not os.path.isdir(debris)


# --------------------------------------------------------------------------
# Degenerate-input hardening for the LLM-pipeline operators (round-9
# verdict ask #5): every extension family's primary operator must behave
# (not crash) on zero-document and single-document corpora — the same
# hypothesis-style edge the mutation model surfaced for the store.
# --------------------------------------------------------------------------

_TEXTS = ["the quick brown fox jumps over the lazy dog and runs far away"]
_DIMS = 8


def _docs(spark, n):
    rows = [(i, _TEXTS[0]) for i in range(n)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _embs(spark, n):
    rows = [(i, [float(j + i) for j in range(_DIMS)]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _edges(spark, n):
    rows = [(0, 0, 1)] if n else []
    return spark.createDataFrame(rows, "src long, dst long, w long")


def _op_cases():
    from nimhdfstore_spark.operators import (
        decontam,
        dedup,
        graph,
        sampling,
        similarity,
        sketches,
        text,
    )

    def rows_eq(expect):
        return lambda out, n: out.count() == expect(n)

    none_ = rows_eq(lambda n: 0)
    n_ = rows_eq(lambda n: n)

    return {
        "exact_dedup": (
            lambda s, n: dedup.exact_dedup(_docs(s, n), ["text"], "doc_id"),
            rows_eq(lambda n: min(n, 1)),
        ),
        "ngram_jaccard_pairs": (
            lambda s, n: dedup.ngram_jaccard_pairs(
                _docs(s, n), "doc_id", "text"),
            none_,
        ),
        "minhash_lsh_pairs": (
            lambda s, n: dedup.minhash_lsh_pairs(_docs(s, n), "doc_id", "text"),
            none_,
        ),
        "simhash_pairs": (
            lambda s, n: dedup.simhash_pairs(_docs(s, n), "doc_id", "text"),
            none_,
        ),
        "embedding_lsh_pairs": (
            lambda s, n: dedup.embedding_lsh_pairs(
                _embs(s, n), "vec_id", "embedding", dims=_DIMS, num_planes=16,
                bands=4),
            none_,
        ),
        "duplicate_spans": (
            lambda s, n: dedup.duplicate_spans(_docs(s, n), k=8, sample_mod=2),
            lambda out, n: out.count() >= 0,
        ),
        "connected_components": (
            lambda s, n: dedup.connected_components(
                s.createDataFrame([], "id_a long, id_b long"),
                _docs(s, n).select(F.col("doc_id").alias("id"))),
            n_,
        ),
        "brute_force_topk": (
            lambda s, n: similarity.brute_force_topk(
                _embs(s, n), _embs(s, n), k=3),
            none_,  # include_self=False: a single vector has no neighbor
        ),
        "ivf_topk": (
            lambda s, n: similarity.ivf_topk(
                _embs(s, n), _embs(s, n), k=3, num_centroids=4, nprobe=2),
            lambda out, n: out.count() >= 0,
        ),
        "semantic_dedup": (
            lambda s, n: similarity.semantic_dedup(_embs(s, n), k=4),
            n_,  # nothing to drop without a smaller-id neighbor
        ),
        "lang_id_table": (
            lambda s, n: text.lang_id_table(_docs(s, n)),
            n_,
        ),
        "gopher_quality": (
            lambda s, n: text.gopher_quality(_docs(s, n)),
            n_,
        ),
        "fingerprint": (
            lambda s, n: _docs(s, n).select(
                text.fingerprint(F.col("text")).alias("fp")),
            n_,
        ),
        "ngram_decontaminate": (
            lambda s, n: decontam.ngram_decontaminate(
                _docs(s, n), _docs(s, 1)),
            n_,
        ),
        "ngram_decontaminate_empty_benchmark": (
            lambda s, n: decontam.ngram_decontaminate(
                _docs(s, n), _docs(s, 0)),
            n_,
        ),
        "decontaminate_spans": (
            lambda s, n: decontam.decontaminate_spans(_docs(s, n), _docs(s, 1)),
            n_,
        ),
        "decontaminate_spans_empty_benchmark": (
            lambda s, n: decontam.decontaminate_spans(_docs(s, n), _docs(s, 0)),
            n_,
        ),
        "hash_sample": (
            lambda s, n: sampling.hash_sample(_docs(s, n), "doc_id", 0.5),
            lambda out, n: out.count() <= n,
        ),
        "fixed_size_hash_sample": (
            lambda s, n: sampling.fixed_size_hash_sample(
                _docs(s, n), "doc_id", k=5),
            n_,  # k > n: all n rows
        ),
        "bloom_bitmap_probe": (
            # integer keys by contract (sample_hash hashes integer ids)
            lambda s, n: sketches.bloom_probe(
                _docs(s, n).select(F.col("doc_id").alias("key")),
                "key",
                sketches.bloom_bitmap(
                    _docs(s, n).select(F.col("doc_id").alias("key")), "key")),
            n_,
        ),
        "hll_estimate": (
            lambda s, n: sketches.hll_estimate(
                sketches.hll_registers(_docs(s, n), "doc_id")),
            rows_eq(lambda n: 1),  # one estimate row, even for zero keys
        ),
        "pagerank": (
            lambda s, n: graph.pagerank_fixed_point(
                _edges(s, n),
                s.createDataFrame([(max(n, 0),)], "n_nodes long")),
            lambda out, n: out.count() >= 0,
        ),
        "triangle_count": (
            lambda s, n: graph.triangle_count(
                _edges(s, n).select(
                    F.col("src").alias("u"), F.col("dst").alias("v"))),
            lambda out, n: out.count() >= 0,
        ),
        "bfs_hops": (
            lambda s, n: graph.bfs_hops(
                _edges(s, n).select("src", "dst"), source=0, max_hops=2),
            lambda out, n: out.count() >= 0,
        ),
    }


@pytest.mark.parametrize("n", [0, 1])
@pytest.mark.parametrize("name", sorted(_op_cases().keys()))
def test_pipeline_ops_degenerate_inputs(spark, name, n):
    fn, check = _op_cases()[name]
    out = fn(spark, n)
    assert check(out, n), (
        f"{name} at n={n}: got {out.count()} rows / {out.columns}"
    )


def test_open_schema_count_read_zero_footers(spark, tmp_path, monkeypatch):
    """Round-9 verdict ask #8: with the schema persisted in the catalog
    entry, open + schema + count of a SHARDED-manifest table must touch
    zero parquet footers (at 100k files each footer read is real IO; the
    open path used to read one per open and _new_rows another per append).
    Sharding is forced with a tiny inline threshold; footer reads are
    counted by intercepting pyarrow.parquet.ParquetFile."""
    import pyarrow.parquet as pq

    from nimhdfstore_spark.store import Store as S

    monkeypatch.setattr(S, "_MANIFEST_INLINE_MAX", 4)
    store = S(spark, str(tmp_path / "s"), rows_per_file=2)
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(20)], "k bigint, v double")
    store.put("t", df, order_by=["k"])  # 10 files > inline max -> sharded
    assert "manifests" in store._read_meta("t")

    calls: list[str] = []
    real = pq.ParquetFile

    def counting(path, *a, **kw):
        calls.append(str(path))
        return real(path, *a, **kw)

    monkeypatch.setattr(pq, "ParquetFile", counting)
    fresh = S(spark, store.root)  # new handle: no warm caches
    t = fresh.table("t")
    assert t.nrows == 20
    assert [f.name for f in t.schema.fields] == ["k", "v"]
    t.check_compatibility(t.schema)
    assert calls == [], f"open/schema path read footers: {calls}"
    # appends footer-scan ONLY their new files
    t.append(spark.createDataFrame([(100, 1.0)], "k bigint, v double"))
    assert len(calls) == 1, f"append must scan only its new file: {calls}"


# --------------------------------------------------------------------------
# Round-10 code-review regressions (three confirmed-by-repro bugs in the
# round's own diff, found by the post-hoc review pass).
# --------------------------------------------------------------------------

def test_add_field_on_emptied_table_sticks(spark, store):
    """Schema evolution on a zero-row table is a zero-row full rewrite and
    must not silently no-op (the old guard required rewrite_count > 0)."""
    t = _emptied(spark, store)
    t.add_field("w", "int", 7)
    assert [f.name for f in t.schema.fields] == ["k", "v", "w"]
    assert [f.name for f in store.table("t").schema.fields] == ["k", "v", "w"]
    # appends with the evolved schema now succeed
    t.append(spark.createDataFrame([(1, 1.0, 9)], "k bigint, v double, w int"))
    assert t.nrows == 1
    assert t.df().select("w").collect()[0][0] == 9
    # and drop_field on empty works symmetrically
    t.delete(0)
    t.drop_field("w")
    assert [f.name for f in store.table("t").schema.fields] == ["k", "v"]


def test_vacuum_retention_ignores_above_current_debris(spark, tmp_path):
    """vacuum's keep window must count committed snapshots only: fresh
    above-current debris occupied a kept slot and evicted a real retained
    history snapshot."""
    store = Store(spark, str(tmp_path / "s"), keep_snapshots=8)
    t = store.put("t", _kv(spark, [(1, 1.0)]), order_by=["k"])
    t.append(_kv(spark, [(2, 2.0)]))
    lo, hi = store.snapshots("t")[0], store.snapshots("t")[-1]
    debris = os.path.join(store._table_dir("t"), f"snap-{hi + 3:08d}-deadbeef")
    os.makedirs(debris)  # fresh: inside the 24h age gate
    report = store.vacuum(retain=2)
    assert store.snapshots("t") == [lo, hi], report
    assert os.path.isdir(debris)  # age gate protects a possible in-flight
    h = store.table("t", snapshot=lo)
    assert h.nrows == 1


def test_time_travel_to_empty_snapshot_pre_evolution_schema(spark, store):
    """An EMPTY history snapshot must serve the schema AT that snapshot,
    not the table's current evolved one (per-snapshot _schema.json)."""
    t = _emptied(spark, store)
    empty_snap = store.snapshots("t")[-1]
    t.append(_kv(spark, [(1, 1.0)]))
    t.add_field("w", "int", 7)
    h = store.table("t", snapshot=empty_snap)
    assert [f.name for f in h.schema.fields] == ["k", "v"]
    assert [f.name for f in h.df().schema.fields] == [ROWID, "k", "v"]
    assert h.df().count() == 0


# --------------------------------------------------------------------------
# Evolution-aware mutation model (the review's add_field-on-empty bug was
# exactly a model gap: the round-9 list-model never evolved the schema).
# Random interleavings of positional mutations WITH add_field/drop_field
# must keep the read view identical to a plain Python model — including
# through delete-to-empty states.
# --------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st

_EV_OPS = st.lists(
    st.tuples(
        st.sampled_from(
            ["append", "insert", "update", "delete", "delete_deferred",
             "compact", "add_field", "drop_field"]
        ),
        st.integers(0, 999),  # position seed
        st.integers(1, 3),    # op width
    ),
    min_size=1,
    max_size=6,
)


@settings(max_examples=8, deadline=None)
@given(ops=_EV_OPS)
def test_mutation_sequences_with_schema_evolution(spark, ops):
    import shutil

    path = "/tmp/nimhdfstore_scratch/round14_evmodel"
    shutil.rmtree(path, ignore_errors=True)
    store = Store(spark, path)
    nxt = 1000
    vs = [i * 10 for i in range(6)]
    ws: list | None = None  # None = column absent
    store.put(
        "t", spark.createDataFrame([(v,) for v in vs], "v long"),
        order_by=["v"],
    )
    t = store.table("t")

    def payload(vals):
        nonlocal ws
        if ws is None:
            return spark.createDataFrame([(v,) for v in vals], "v long")
        return spark.createDataFrame(
            [(v, v + 7) for v in vals], "v long, w long"
        )

    def wvals(vals):
        return [v + 7 for v in vals]

    for kind, pos_seed, width in ops:
        n = len(vs)
        if kind == "append":
            vals = [nxt + j for j in range(width)]
            nxt += width
            t.append(payload(vals))
            vs.extend(vals)
            if ws is not None:
                ws.extend(wvals(vals))
        elif kind == "insert":
            i = pos_seed % (n + 1)
            vals = [nxt + j for j in range(width)]
            nxt += width
            t.insert(i, payload(vals))
            vs[i:i] = vals
            if ws is not None:
                ws[i:i] = wvals(vals)
        elif kind == "update":
            if n == 0:
                continue
            a = pos_seed % n
            b = min(a + width - 1, n - 1)
            vals = [nxt + j for j in range(b - a + 1)]
            nxt += b - a + 1
            t.update(a, payload(vals), b)
            vs[a:b + 1] = vals
            if ws is not None:
                ws[a:b + 1] = wvals(vals)
        elif kind in ("delete", "delete_deferred"):
            if n == 0:
                continue
            a = pos_seed % n
            b = min(a + width - 1, n - 1)
            getattr(t, kind)(a, b)
            del vs[a:b + 1]
            if ws is not None:
                del ws[a:b + 1]
        elif kind == "compact":
            t.compact()
        elif kind == "add_field":
            if ws is not None:
                continue
            fill = nxt
            nxt += 1
            t.add_field("w", "long", fill)
            ws = [fill] * len(vs)
        elif kind == "drop_field":
            if ws is None:
                continue
            t.drop_field("w")
            ws = None
        # verify the full visible state (schema AND values) after every op
        cols = ["v"] if ws is None else ["v", "w"]
        assert [f.name for f in t.schema.fields] == cols, f"after {kind}"
        rows = t.df().orderBy(ROWID).select(*cols).collect()
        assert [r["v"] for r in rows] == vs, f"after {kind}"
        if ws is not None:
            assert [r["w"] for r in rows] == ws, f"after {kind}"
    rid = [r[ROWID] for r in t.df().orderBy(ROWID).collect()]
    assert rid == list(range(len(vs)))
