"""Round-9 regression pins: ADVICE r8 fixes (h5lite name lookup, GIF
transparent-index palettes, post-backlog sweep rotation), the committer
protocol (LockfileCommitter's flock replaces the old stale-lock-break
path; ConditionalPutCommitter is the object-store double), and the
sharded manifest lifecycle."""

from __future__ import annotations

import os
import struct

import numpy as np
import pytest


# --------------------------------------------------------------------------
# h5lite: a wrong dataset name is a lookup error, not "malformed HDF5 file"
# (ADVICE r8) — and TypeError is no longer normalized to ValueError.
# --------------------------------------------------------------------------


def test_h5lite_missing_dataset_is_lookup_error(tmp_path):
    from nimhdfstore_spark.sources import h5lite

    arr = np.zeros(5, dtype=np.dtype([("k", "<i8")]))
    path = str(tmp_path / "t.h5")
    h5lite.write(path, {"present": arr})
    with pytest.raises(KeyError, match="no such dataset 'absent'"):
        h5lite.read(path, "absent")
    with pytest.raises(KeyError, match="no such dataset"):
        h5lite.read_range(path, "absent", 0, 1)
    # the malformed-file contract is untouched
    bad = str(tmp_path / "bad.h5")
    with open(bad, "wb") as f:
        f.write(b"\x89HDF\r\n\x1a\ngarbage-after-signature")
    with pytest.raises(ValueError):
        h5lite.catalog(bad)


# --------------------------------------------------------------------------
# GIF: a transparent index >= palette size must not reject the frame — the
# index is compared, never looked up (ADVICE r8; such files exist in the
# wild). Only OPAQUE out-of-range indexes are corruption.
# --------------------------------------------------------------------------


def _gif_with_transparent_index(tidx: int, indices: bytes) -> bytes:
    """Handcrafted 2x2 GIF89a with a 2-color global table and a graphic
    control extension declaring ``tidx`` transparent."""
    from nimhdfstore_spark.operators.gif import _blockify, _lzw_encode

    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", 2, 2, 0x80, 0, 0)  # GCT present, 2 colors
    out += b"\x00\x00\x00\xff\xff\xff"  # palette: black, white
    out += b"\x21\xf9\x04" + bytes([0x01, 0, 0, tidx]) + b"\x00"
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, 2, 2, 0)
    out += bytes([2]) + _blockify(_lzw_encode(2, indices))
    out += b"\x3b"
    return bytes(out)


def test_gif_transparent_index_beyond_palette_decodes():
    from nimhdfstore_spark.operators.gif import decode_gif

    img = decode_gif(_gif_with_transparent_index(2, bytes([0, 1, 2, 2])))
    assert img.shape == (2, 2, 3)
    # opaque pixels resolved from the palette; transparent ones keep the
    # background (gct[0] = black)
    assert tuple(img[0, 0]) == (0, 0, 0)
    assert tuple(img[0, 1]) == (255, 255, 255)
    assert tuple(img[1, 0]) == (0, 0, 0)
    assert tuple(img[1, 1]) == (0, 0, 0)


def test_gif_opaque_index_beyond_palette_still_rejected():
    from nimhdfstore_spark.operators.gif import decode_gif

    # index 3 is opaque (transparent declared as 2) and outside the table
    with pytest.raises(ValueError, match="outside color table"):
        decode_gif(_gif_with_transparent_index(2, bytes([0, 1, 3, 2])))


# --------------------------------------------------------------------------
# Sharded manifests (round-8 verdict ask #3): past _MANIFEST_INLINE_MAX
# entries the per-file catalog factors into immutable shards; _meta.json
# (the under-lock write) holds only shard names. Appends carry parent
# shards + one delta shard; rewrites fold.
# --------------------------------------------------------------------------


def _mk(spark, n, base=0):
    from pyspark.sql import functions as F

    return spark.range(base, base + n).select(
        F.col("id").cast("long").alias("_rowid"), F.col("id").alias("k")
    )


def test_sharded_manifest_lifecycle(spark, tmp_path, monkeypatch):
    import json

    from nimhdfstore_spark.store import Store

    monkeypatch.setattr(Store, "_MANIFEST_INLINE_MAX", 4)
    st = Store(spark, str(tmp_path / "sm"), rows_per_file=10)
    t = st.put("t", _mk(spark, 100))
    assert "files" not in t._meta and len(t._meta["manifests"]) == 1
    assert len(t._ranges()) == 10 and t.nrows == 100
    # the under-lock meta is shard names, not the file list
    with open(st._meta_path("t")) as f:
        disk = json.load(f)
    assert "files" not in disk and disk["manifests"] == t._meta["manifests"]

    # a fresh handle materializes from shards and reads correctly
    t2 = Store(spark, st.root).table("t")
    assert [r["k"] for r in t2[55:58].collect()] == [55, 56, 57]

    # append: parent shard carried verbatim + exactly one delta shard
    before = list(t._meta["manifests"])
    t.append(_mk(spark, 3, base=1000).drop("_rowid"))
    after = t._meta["manifests"]
    assert after[: len(before)] == before and len(after) == len(before) + 1
    assert t.nrows == 103
    assert [r["k"] for r in t[100:103].collect()] == [1000, 1001, 1002]

    # suffix rewrite (delete) keeps fully-surviving shards only
    t.delete(99)  # rewrites from position 99 on
    assert t.nrows == 102
    assert [r["k"] for r in t[97:102].collect()] == [97, 98, 1000, 1001, 1002]

    # compact folds everything back into a single shard
    t.compact()
    assert len(t._meta["manifests"]) == 1
    assert [r["k"] for r in t[0:3].collect()] == [0, 1, 2]
    assert Store(spark, st.root).table("t").nrows == 102


def test_sharded_manifest_python_datasource(spark, tmp_path, monkeypatch):
    from pyspark.sql import functions as F

    from nimhdfstore_spark.sources.pyds import ensure_registered
    from nimhdfstore_spark.store import Store

    monkeypatch.setattr(Store, "_MANIFEST_INLINE_MAX", 4)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    ensure_registered(spark)
    st = Store(spark, str(tmp_path / "smp"), rows_per_file=10)
    st.put("t", _mk(spark, 80))
    back = (
        spark.read.format("nimhdfstore")
        .option("store", st.root).option("table", "t").load()
    )
    got = back.where(F.col("_rowid").between(25, 34)).orderBy("_rowid")
    assert [r["k"] for r in got.collect()] == list(range(25, 35))


# --------------------------------------------------------------------------
# Incremental zone-map maintenance on append (round-8 verdict ask #8,
# companion to the bloom carry pinned in test_round5): an append-only
# commit reuses kept files' cached footer stats and reads footers ONLY for
# the new files.
# --------------------------------------------------------------------------


def test_zone_map_cache_carries_across_append(spark, tmp_path, monkeypatch):
    from pyspark.sql import functions as F

    import nimhdfstore_spark.store as S

    st = S.Store(spark, str(tmp_path / "zm"), rows_per_file=100)
    df = spark.range(1000).select(
        F.col("id").cast("long").alias("_rowid"), F.col("id").alias("k")
    )
    t = st.put("t", df)
    zones0 = t.zone_map("k")
    assert len(zones0) == 10

    calls: list[str] = []
    real = S._file_zone_stats

    def counting(path, column, name):
        calls.append(name)
        return real(path, column, name)

    monkeypatch.setattr(S, "_file_zone_stats", counting)
    t.append(
        spark.range(5).select(
            (F.col("id") + 1000).cast("long").alias("_rowid"),
            (F.col("id") + 1000).alias("k"),
        )
    )
    appended_footer_reads = list(calls)
    zones1 = t.zone_map("k")  # must be a cache hit — zero new footer reads
    assert calls == appended_footer_reads, "zone_map re-read footers"
    assert len(appended_footer_reads) == len(zones1) - 10, (
        "append read footers beyond the new files"
    )
    # and the carried map still prunes correctly, covering the new rows
    out, scanned, total = t.scan_between("k", 1001, 1002)
    assert sorted(r["k"] for r in out.collect()) == [1001, 1002]
    assert scanned == 1 and total == len(zones1)
    out2, scanned2, _ = t.scan_between("k", 150, 250)
    assert out2.count() == 101 and scanned2 <= 3


# --------------------------------------------------------------------------
# sweep_order: once the verified backlog drains (fresh empty), the 3*r
# rotation must keep shifting the DONE partition so re-verification spreads
# across the registry instead of pinning the same front entries (ADVICE r8).
# --------------------------------------------------------------------------


# --------------------------------------------------------------------------
# Committer protocol (round-8 verdict asks #2 and #7): the atomic catalog
# publish is pluggable — flock'd lockfile (local FS) or conditional PUT
# (object-store double). Both must pass the same writer-writer interleaves,
# and the lockfile variant must recover from a CRASHED holder without any
# stale-break (the kernel releases a dead process's flock).
# --------------------------------------------------------------------------

from tests.test_store import particles, rows_of  # noqa: E402


def _committers():
    from nimhdfstore_spark.store import (
        ConditionalPutCommitter,
        LockfileCommitter,
        MemoryCatalogBackend,
    )

    yield "lockfile", lambda: LockfileCommitter()
    # one backend per store root, shared by every handle (the double for
    # one remote catalog service)
    def cas():
        return ConditionalPutCommitter(MemoryCatalogBackend())

    yield "conditional-put", cas


@pytest.mark.parametrize("kind", ["lockfile", "conditional-put"])
def test_occ_interleave_both_committers(spark, tmp_path, kind):
    """The q50 interleave against each committer: concurrent appends both
    survive (auto-retry), stale positional mutations surface, the final
    state is exact."""
    from nimhdfstore_spark.store import Store, StoreConflictError

    committer = dict(_committers())[kind]()
    root = str(tmp_path / f"cc-{kind}")
    s1 = Store(spark, root, committer=committer)
    s1.put("t", particles(spark, n=4, start=1), order_by=["lati"])
    t1 = s1.table("t")
    t2 = Store(spark, root, committer=committer).table("t")

    t1.append(particles(spark, n=2, start=100))
    t2.append(particles(spark, n=2, start=200))  # stale handle: auto-retry
    final = Store(spark, root, committer=committer).table("t")
    assert [r[0] for r in rows_of(final.df())] == [
        1, 2, 3, 4, 100, 101, 200, 201,
    ]

    t1.refresh().set_attrs(tick=1)
    with pytest.raises(StoreConflictError):
        t2.delete(0)  # stale positions must surface, never guess
    t2.delete(0)  # conflict path refreshed the handle
    final = Store(spark, root, committer=committer).table("t")
    assert [r[0] for r in rows_of(final.df())] == [
        2, 3, 4, 100, 101, 200, 201,
    ]


@pytest.mark.parametrize("kind", ["lockfile", "conditional-put"])
def test_occ_threaded_appends_no_lost_commit(spark, tmp_path, kind):
    """Two genuinely concurrent threads, each with its own handle, hammer
    appends — every committed row must survive under either committer."""
    from concurrent.futures import ThreadPoolExecutor

    from nimhdfstore_spark.store import Store

    committer = dict(_committers())[kind]()
    root = str(tmp_path / f"mt-{kind}")
    Store(spark, root, committer=committer).put(
        "t", particles(spark, n=2, start=1), order_by=["lati"]
    )

    def worker(base: int) -> None:
        t = Store(spark, root, committer=committer).table("t")
        for i in range(4):
            t.append(particles(spark, n=1, start=base + i))

    with ThreadPoolExecutor(max_workers=2) as ex:
        list(ex.map(worker, (1000, 2000)))
    final = Store(spark, root, committer=committer).table("t")
    keys = sorted(r[0] for r in rows_of(final.df()))
    assert keys == [1, 2] + list(range(1000, 1004)) + list(range(2000, 2004))
    assert final.nrows == 10


def test_conditional_put_time_travel_unique_snapshots(spark, tmp_path):
    """Unique-suffixed snapshot dirs still resolve by number for
    time travel."""
    from nimhdfstore_spark.store import (
        ConditionalPutCommitter,
        MemoryCatalogBackend,
        Store,
    )

    committer = ConditionalPutCommitter(MemoryCatalogBackend())
    store = Store(
        spark, str(tmp_path / "tt"), committer=committer, keep_snapshots=2
    )
    t = store.put("t", particles(spark, n=3, start=1), order_by=["lati"])
    first = store.snapshots("t")[-1]
    t.append(particles(spark, n=1, start=50))
    old = store.table("t", snapshot=first)
    assert [r[0] for r in rows_of(old.df())] == [1, 2, 3]
    assert [r[0] for r in rows_of(store.table("t").df())] == [1, 2, 3, 50]
    # changes() resolves the suffixed dir by number, as time travel does
    ch = t.changes(first).collect()
    assert [(r[1], r["op"]) for r in ch] == [(50, "insert")]


def test_conditional_put_drop_recreate(spark, tmp_path):
    """Drop must delete the backend's catalog entry — without on_drop the
    recreate's version-0 CAS conflicted with the ghost entry forever."""
    from nimhdfstore_spark.store import (
        ConditionalPutCommitter,
        MemoryCatalogBackend,
        Store,
    )

    committer = ConditionalPutCommitter(MemoryCatalogBackend())
    store = Store(spark, str(tmp_path / "dr"), committer=committer)
    store.put("t", particles(spark, n=3, start=1), order_by=["lati"])
    store.drop("t")
    t = store.put("t", particles(spark, n=5, start=50), order_by=["lati"])
    assert t.nrows == 5
    assert [r[0] for r in rows_of(t.df())] == [50, 51, 52, 53, 54]


def test_conditional_put_truncate_recreate(spark, tmp_path):
    """mode='w' truncate clears the backend's entries under the root —
    the store-wide variant of the drop ghost hazard."""
    from nimhdfstore_spark.store import (
        ConditionalPutCommitter,
        MemoryCatalogBackend,
        Store,
    )

    committer = ConditionalPutCommitter(MemoryCatalogBackend())
    root = str(tmp_path / "tr")
    Store(spark, root, committer=committer).put(
        "t", particles(spark, n=3, start=1), order_by=["lati"]
    )
    fresh = Store(spark, root, mode="w", committer=committer)
    t = fresh.put("t", particles(spark, n=2, start=50), order_by=["lati"])
    assert [r[0] for r in rows_of(t.df())] == [50, 51]


def test_vacuum_reclaims_orphan_manifest_shards(spark, tmp_path, monkeypatch):
    """Conflict-loser / superseded shards are reclaimed by vacuum once
    past the age gate; referenced shards are never touched."""
    import os
    import time

    from nimhdfstore_spark.store import Store

    monkeypatch.setattr(Store, "_MANIFEST_INLINE_MAX", 4)
    st = Store(spark, str(tmp_path / "gc"), rows_per_file=10)
    t = st.put("t", _mk(spark, 100))
    live = set(t._meta["manifests"])
    orphan = st._write_manifest("t", [{"name": "ghost", "lo": 0, "hi": 1,
                                       "rows": 2}])
    opath = os.path.join(st._manifest_dir("t"), orphan)
    st.vacuum(retain=1)
    assert os.path.isfile(opath), "young orphan must survive the age gate"
    old = time.time() - 100_000
    os.utime(opath, (old, old))
    st.vacuum(retain=1)
    assert not os.path.isfile(opath), "aged orphan shard not reclaimed"
    for s in live:
        assert os.path.isfile(os.path.join(st._manifest_dir("t"), s))
    assert st.table("t").nrows == 100


@pytest.mark.parametrize("retention", ["prune", "vacuum"])
def test_prune_retention_survives_conflict_debris(spark, tmp_path, retention):
    """keep_snapshots=2: a conflict loser's same-numbered dir must neither
    evict a real retained history snapshot from the keep window nor
    survive retention itself — per-commit pruning and vacuum alike."""
    import os

    from nimhdfstore_spark.store import Store, _SNAP

    store = Store(spark, str(tmp_path / "pr"), keep_snapshots=2)
    t = store.put("t", particles(spark, n=3, start=1), order_by=["lati"])
    hist = store.snapshots("t")[-1]
    t.append(particles(spark, n=1, start=100))  # history + current on disk
    cur = store.table("t")._meta["current"]
    cur_no = int(cur.split("-")[1])
    # plant loser debris sharing the CURRENT snapshot number
    debris = os.path.join(
        store._table_dir("t"), _SNAP.format(cur_no) + "-zzzzzzzz"
    )
    os.makedirs(debris)
    if retention == "prune":
        store._prune_snapshots("t")
    else:
        store.vacuum(retain=2)
    assert not os.path.isdir(debris), "conflict debris survived retention"
    # the real history snapshot stayed within the keep window
    assert [r[0] for r in rows_of(store.table("t", snapshot=hist).df())] == [
        1, 2, 3,
    ]
    assert store.table("t").nrows == 4


def test_crashed_committer_flock_releases_automatically(spark, tmp_path):
    """THE round-8 fix: a waiter never breaks a stale lock (the unlink-by-
    path TOCTOU let two committers into the critical section); instead a
    crashed holder's flock evaporates with its process. A commit right
    after a SIGKILL'd holder must succeed promptly — no 120 s stale window,
    no break race."""
    import subprocess
    import sys
    import textwrap
    import time

    from nimhdfstore_spark.store import Store

    root = str(tmp_path / "crash")
    store = Store(spark, root)
    store.put("t", particles(spark, n=2, start=1), order_by=["lati"])

    holder_src = textwrap.dedent("""
        import os, sys, time
        sys.path.insert(0, "/root/repo")
        from nimhdfstore_spark.store import LockfileCommitter
        class _FakeStore:
            def __init__(self, root): self.root = root
        c = LockfileCommitter()
        with c._lock(_FakeStore(sys.argv[1]), "t"):
            print("HELD", flush=True)
            time.sleep(120)  # killed long before this expires
    """)
    script = tmp_path / "holder.py"
    script.write_text(holder_src)
    p = subprocess.Popen(
        [sys.executable, str(script), root],
        stdout=subprocess.PIPE, text=True,
    )
    assert p.stdout.readline().strip() == "HELD"
    p.kill()
    p.wait()

    t0 = time.monotonic()
    store.table("t").set_attrs(after_crash=True)  # must not wait 120 s
    elapsed = time.monotonic() - t0
    assert elapsed < 10, f"commit after crashed holder took {elapsed:.1f}s"
    assert Store(spark, root).table("t").attrs.get("after_crash") is True


def test_flock_critical_section_single_entry(tmp_path):
    """Property from the round-8 verdict: racing committers (including
    would-be 'breakers') never overlap inside the critical section."""
    import threading
    import time

    from nimhdfstore_spark.store import LockfileCommitter

    class _FakeStore:
        def __init__(self, root): self.root = root

    store = _FakeStore(str(tmp_path))
    c = LockfileCommitter()
    inside = 0
    max_inside = 0
    mu = threading.Lock()
    errors = []

    def racer():
        nonlocal inside, max_inside
        try:
            for _ in range(25):
                with c._lock(store, "t"):
                    with mu:
                        inside += 1
                        max_inside = max(max_inside, inside)
                    time.sleep(0.001)
                    with mu:
                        inside -= 1
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [threading.Thread(target=racer) for _ in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors
    assert max_inside == 1, f"{max_inside} committers inside the section"


def test_sweep_order_rotates_done_partition_after_drain(monkeypatch):
    """Fully-drained state: everything verified, nothing fingerprint-stale,
    every fused-suite leg already hash-checked. The whole extension list is
    then one `done` partition and rotation must shift it by 3 (the shifted
    cycle spreads RE-verification across the registry). Every sweep-state
    dimension is pinned via its env override so the invariant holds at any
    archived rotation/backlog/staleness depth (round-12 verdict ask #1)."""
    import nimhdfstore_spark.queries as Q

    Q.load_all()
    ext = [n for n in Q.QUERIES if not n.startswith("q")]
    monkeypatch.setenv("SPARK_GRAFT_SWEEP_VERIFIED", ",".join(ext))
    monkeypatch.setenv("SPARK_GRAFT_SWEEP_STALE", "")
    # 12 green records (>= max leg count) covering all suites: replaying
    # the greedy leg rule marks every leg checked, so none stays pinned.
    suites = "|".join(Q.SUITE_LEGS)
    monkeypatch.setenv(
        "SPARK_GRAFT_LEG_RECORDS",
        ";".join(f"{r}:{suites}" for r in range(max(Q.SUITE_LEGS.values()))),
    )

    monkeypatch.setenv("SPARK_GRAFT_SWEEP_ROTATION", "0")
    o0 = [n for n in Q.sweep_order() if not n.startswith("q")]
    monkeypatch.setenv("SPARK_GRAFT_SWEEP_ROTATION", "1")
    o1 = [n for n in Q.sweep_order() if not n.startswith("q")]

    assert sorted(o0) == sorted(o1) == sorted(ext)
    assert o0 != o1, "drained backlog must still rotate re-verification"
    # it is the same cycle shifted by 3
    assert o1 == o0[3:] + o0[:3]
