"""Round-7 hardening: scale gates (knn_graph collect, mutation payloads),
hot-LSH-bucket tiling equivalence, exact HALF_UP quantization, strict
connected-components semantics, the driver-direct local write path, and the
snapshot base-frame cache invalidation."""

from __future__ import annotations

import datetime
import os
import shutil

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from nimhdfstore_spark.rowid import ROWID
from nimhdfstore_spark.store import Store, StoreError
from nimhdfstore_spark.tables import local_frame

SCRATCH = "/tmp/nimhdfstore_scratch/round7"


def _store(spark, name, **kw) -> Store:
    path = os.path.join(SCRATCH, name)
    shutil.rmtree(path, ignore_errors=True)
    return Store(spark, path, **kw)


# --------------------------------------------------------------------------
# quantize_fxp: exact HALF_UP at double boundaries (ADVICE r3)
# --------------------------------------------------------------------------

def test_quantize_fxp_half_up_boundaries():
    from nimhdfstore_spark.operators.dedup import quantize_fxp

    # 0.49999999999999994 + 0.5 rounds to 1.0 in double; true HALF_UP = 0
    below_half = np.nextafter(0.5, 0.0)
    x = np.array([
        0.5, -0.5, 1.5, -1.5, 2.5, -2.5, below_half, -below_half,
        0.49999999999999994, 1e15 + 0.5, 0.0, -0.0, 7.0, -7.0,
    ])
    got = quantize_fxp(x)
    want = np.array([1, -1, 2, -2, 3, -3, 0, 0, 0, int(1e15) + 1, 0, 0, 7, -7])
    assert got.tolist() == want.tolist()


def test_quantize_fxp_matches_spark_round(spark):
    """Property: kernel == Spark ROUND (HALF_UP) on a sweep of values
    including many x.5-adjacent doubles."""
    from nimhdfstore_spark.operators.dedup import quantize_fxp

    rng = np.random.default_rng(7)
    vals = np.concatenate([
        rng.uniform(-100, 100, 200),
        np.arange(-5, 5) + 0.5,
        np.array([np.nextafter(k + 0.5, k) for k in range(-3, 3)]),
    ])
    df = spark.createDataFrame([(float(v),) for v in vals], "v double")
    got_spark = [r[0] for r in df.select(
        F.round(F.col("v")).cast("long")).collect()]
    got_kernel = quantize_fxp(vals).tolist()
    assert got_kernel == got_spark


# --------------------------------------------------------------------------
# hot-bucket tiling: pair set identical with and without tiling (VERDICT r3)
# --------------------------------------------------------------------------

def test_embedding_lsh_hot_bucket_tiling_identical(spark):
    from nimhdfstore_spark.operators.dedup import embedding_lsh_pairs

    rng = np.random.default_rng(11)
    # plant a hot bucket: near-identical vectors all but guarantee every
    # band maps them to one bucket; 40 of them → an m=40 bucket
    base = rng.normal(size=8)
    rows = []
    for i in range(40):
        v = base + rng.normal(scale=1e-3, size=8)
        rows.append((i, [float(x) for x in v]))
    for i in range(40, 60):  # background noise vectors
        rows.append((i, [float(x) for x in rng.normal(size=8)]))
    df = spark.createDataFrame(rows, "id long, embedding array<double>")

    kw = dict(threshold=0.8, num_planes=16, bands=4, dims=8)
    full = embedding_lsh_pairs(df, "id", "embedding",
                               hot_bucket_block=10_000, **kw)
    tiled = embedding_lsh_pairs(df, "id", "embedding",
                                hot_bucket_block=7, **kw)
    a = sorted(map(tuple, full.collect()))
    b = sorted(map(tuple, tiled.collect()))
    assert a == b
    assert len(a) >= 40 * 39 // 2  # the planted clique survived

    # round-4 verdict ask #5: splitting the hot bucket into id-hash
    # sub-buckets (wall-clock parallelism, not just memory) must emit the
    # IDENTICAL pair set — every unordered pair lands in exactly one
    # (s1, s2) task, cross pairs canonicalized to id_a < id_b
    split = embedding_lsh_pairs(df, "id", "embedding",
                                hot_bucket_block=7, hot_bucket_split=10, **kw)
    c = sorted(map(tuple, split.collect()))
    assert a == c

    # string ids exercise the non-numeric canonicalization leg
    sdf = df.select(F.format_string("doc-%03d", "id").alias("id"), "embedding")
    sfull = embedding_lsh_pairs(sdf, "id", "embedding",
                                hot_bucket_block=10_000, **kw)
    ssplit = embedding_lsh_pairs(sdf, "id", "embedding",
                                 hot_bucket_block=7, hot_bucket_split=10, **kw)
    assert sorted(map(tuple, sfull.collect())) == \
        sorted(map(tuple, ssplit.collect()))


# --------------------------------------------------------------------------
# knn_graph size gate (VERDICT r3 #3)
# --------------------------------------------------------------------------

def test_knn_graph_gate_raises_and_points_at_ann(spark):
    from nimhdfstore_spark.operators.similarity import knn_graph

    rows = [(i, [float(i), 1.0]) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="ivf_topk"):
        knn_graph(df, k=2, dims=2, max_rows=10)
    # under the bound the graph computes normally
    out = knn_graph(df, k=2, dims=2, max_rows=100)
    assert out.count() == 50 * 2


# --------------------------------------------------------------------------
# mutation payload guard (VERDICT r3 #7)
# --------------------------------------------------------------------------

def test_distributed_mutation_payload_guard(spark, monkeypatch):
    import nimhdfstore_spark.store as store_mod

    st = _store(spark, "payload_guard")
    base = spark.createDataFrame(
        [(i, f"r{i}") for i in range(20)], "k long, s string")
    t = st.put("t", base, order_by=["k"], overwrite=True)

    monkeypatch.setattr(store_mod, "PAYLOAD_MAX_ROWS", 5)
    # distributed (non-local) payload above the bound: refused with pointer
    big = spark.range(50).select(
        F.col("id").alias("k"), F.lit("x").alias("s"))
    assert not big.isLocal()
    with pytest.raises(StoreError, match="driver-sized"):
        t.append(big)
    # at/below the bound a distributed payload is accepted
    small = spark.range(3).select(
        (F.col("id") + 100).alias("k"), F.lit("y").alias("s"))
    t.append(small)
    assert t.nrows == 23


# --------------------------------------------------------------------------
# connected_components strict mode (ADVICE r3): dangling pair ids
# --------------------------------------------------------------------------

def test_connected_components_strict_filters_dangling(spark):
    from nimhdfstore_spark.operators.dedup import connected_components

    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 4)], "id long")
    # 99 is dangling: 1-99, 99-2 would merge {1,2} THROUGH it
    pairs = spark.createDataFrame(
        [(1, 99), (99, 2), (3, 4)], "id_a long, id_b long")

    # strict drops dangling edges on either path
    for driver_max in (1_000_000, 0):  # union-find path, distributed path
        got = {
            r["id"]: r["comp"]
            for r in connected_components(
                pairs, nodes, driver_max_edges=driver_max, strict=True
            ).collect()
        }
        assert got == {1: 1, 2: 2, 3: 3, 4: 3}, f"path driver_max={driver_max}"


# --------------------------------------------------------------------------
# driver-direct local write path (this round's mutation fast path)
# --------------------------------------------------------------------------

def test_local_write_layout_and_roundtrip(spark):
    st = _store(spark, "localwrite", rows_per_file=3)
    base = spark.createDataFrame(
        [(i, i, f"s{i}") for i in range(4)], f"{ROWID} long, k long, s string")
    t = st.put("t", base, overwrite=True)
    # append 8 driver rows (no _rowid): _new_rows re-localizes them as a
    # local_frame, so the rewrite goes through the pyarrow local write path
    pay = spark.createDataFrame(
        [(100 + i, f"a{i}") for i in range(8)], "k long, s string")
    t.append(pay)
    files = t._meta["files"]
    # local-written files carry the -local- infix; rows_per_file respected
    local = [e for e in files if "-local-" in e["name"]]
    assert [e["rows"] for e in local] == [3, 3, 2]
    assert local[0]["lo"] == 4 and local[-1]["hi"] == 11
    got = [tuple(r) for r in t.df().orderBy(ROWID).collect()]
    want = [(i, i, f"s{i}") for i in range(4)] + [
        (4 + i, 100 + i, f"a{i}") for i in range(8)
    ]
    assert got == want
    # mixed snapshot reads fine through positional ops too
    assert [tuple(r) for r in t[3:5].collect()] == [want[3], want[4]]


def _physical_types(t, col):
    """Parquet physical types of ``col`` across the snapshot's data files."""
    types = set()
    for e in t._ranges():
        schema = pq.ParquetFile(os.path.join(t.snapshot_path, e["name"])).schema
        types.add(schema.column(schema.names.index(col)).physical_type)
    return types


def test_local_write_timestamps_stay_int96(spark):
    """Timestamp tables take the driver-direct writer, and every data file
    of a snapshot keeps Spark's INT96 timestamp encoding: pyarrow-written
    and Spark-written files mix inside one snapshot."""
    st = _store(spark, "localwrite_ts", rows_per_file=2)
    day = [datetime.datetime(2024, 1, d, 3, 4, 5, 6) for d in range(1, 9)]
    base = spark.createDataFrame(
        [(i, day[i]) for i in range(4)], f"{ROWID} long, ts timestamp")
    t = st.put("ts", base, overwrite=True)
    want = day[:4]
    t.append(local_frame(spark, [(day[4],), (day[5],)], "ts timestamp"))
    want += day[4:6]
    # a Python-RDD payload too: the store re-localizes it
    t.update(1, spark.createDataFrame([(day[6],)], "ts timestamp"))
    want[1] = day[6]
    t.insert(2, local_frame(spark, [(day[7],)], "ts timestamp"))
    want.insert(2, day[7])
    t.delete(0)
    del want[0]
    names = [e["name"] for e in t._ranges()]
    assert any("-local-" in n for n in names), names
    assert _physical_types(t, "ts") == {"INT96"}
    assert [r["ts"] for r in t.df().orderBy(ROWID).collect()] == want


@pytest.mark.parametrize(
    "key, value",
    [
        ("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"),
        ("spark.sql.parquet.int96RebaseModeInWrite", "LEGACY"),
        ("spark.sql.parquet.int96RebaseModeInWrite", "EXCEPTION"),
    ],
    ids=["micros", "legacy-rebase", "exception-rebase"],
)
def test_local_write_follows_session_timestamp_encoding(spark, key, value):
    """A session timestamp encoding pyarrow does not write sends timestamp
    tables to Spark's writer, so a snapshot's files stay uniform."""
    old = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        st = _store(spark, "localwrite_ts_conf")
        day = [datetime.datetime(2024, 1, d) for d in range(1, 4)]
        t = st.put("ts", local_frame(
            spark, list(enumerate(day[:2])), f"{ROWID} long, ts timestamp"))
        t.append(local_frame(spark, [(day[2],)], "ts timestamp"))
        names = [e["name"] for e in t._ranges()]
        assert all("-local-" not in n for n in names), names
        assert len(_physical_types(t, "ts")) == 1
        assert [r["ts"] for r in t.df().orderBy(ROWID).collect()] == day
    finally:
        spark.conf.set(key, old)


@pytest.mark.parametrize("mode", ["LEGACY", "EXCEPTION"])
def test_local_write_old_timestamps_read_like_spark_files(spark, mode):
    """Pre-Gregorian timestamps read back unchanged from pyarrow-written and
    Spark-written files alike under any INT96 read rebase mode: the local
    files carry Spark's version key, so they read as CORRECTED too."""
    st = _store(spark, "localwrite_ts_old")
    old = [datetime.datetime(1000, 1, d, 12) for d in range(1, 5)]
    t = st.put("ts", spark.createDataFrame(
        list(enumerate(old[:2])), f"{ROWID} long, ts timestamp"))
    t.append(local_frame(spark, [(v,) for v in old[2:]], "ts timestamp"))
    names = [e["name"] for e in t._ranges()]
    assert any("-local-" in n for n in names), names
    assert any("-local-" not in n for n in names), names
    key = "spark.sql.parquet.int96RebaseModeInRead"
    before = spark.conf.get(key)
    spark.conf.set(key, mode)
    try:
        assert [r["ts"] for r in t.df().orderBy(ROWID).collect()] == old
        # positional reads, on the driver and through Spark alike
        for gate in (Store.LOCAL_REWRITE_MAX_ROWS, 0):
            with pytest.MonkeyPatch.context() as m:
                m.setattr(Store, "LOCAL_REWRITE_MAX_ROWS", gate)
                assert [r["ts"] for r in t.slice(0, -1).collect()] == old
                for i, v in enumerate(old):
                    assert [r["ts"] for r in t.row(i).collect()] == [v]
    finally:
        spark.conf.set(key, before)


# --------------------------------------------------------------------------
# base-frame cache invalidation (this round's df() plan cache)
# --------------------------------------------------------------------------

def test_base_cache_invalidated_on_drop_recreate(spark):
    st = _store(spark, "cache_inval")
    t1 = st.put("t", spark.createDataFrame([(0, 1)], f"{ROWID} long, v long"),
                overwrite=True)
    assert [r["v"] for r in t1.df().collect()] == [1]
    st.drop("t")
    t2 = st.put("t", spark.createDataFrame([(0, 2)], f"{ROWID} long, v long"))
    # same table name, same snap-00000000 path: a stale cached plan would
    # read the old listing
    assert [r["v"] for r in t2.df().collect()] == [2]


def test_base_cache_reuses_plan_within_snapshot(spark):
    st = _store(spark, "cache_reuse")
    t = st.put("t", spark.createDataFrame([(0, 1)], f"{ROWID} long, v long"),
               overwrite=True)
    d1, d2 = t.df(), t.df()
    # the underlying base plan is the same object (overlay is a no-op
    # without a DV, so df() returns it as-is)
    assert d1 is d2


# --------------------------------------------------------------------------
# minhash kernel vs Spark formulation on non-ASCII text (ADVICE r3)
# --------------------------------------------------------------------------

def test_minhash_kernel_matches_spark_formulation_non_ascii(spark):
    """The vectorized kernel (Python str.lower + codepoint shingles) must
    produce the same signatures as the Spark-side char_ngrams+poly_hash
    formulation (JVM lower + substr) — including context-sensitive
    lowercase (Greek final sigma), one-to-many mappings (ß stays ß in
    lowercase), and CJK. Astral-plane text is out of contract (JVM substr
    counts UTF-16 units) and not tested."""
    from nimhdfstore_spark.operators.dedup import char_ngrams, minhash_signature

    texts = [
        "ΟΔΥΣΣΕΥΣ ΚΑΙ ΑΣ",          # final sigma context rules
        "Straße GROSSE straße",       # ß / SS
        "İstanbul ısı IıİI",          # dotted/dotless i family
        "日本語のテキスト処理",        # CJK (no case)
        "Crème BRÛLÉE à côté",        # combining-free accents
        "mixed ΑΣΚΗΣΗ text Σ.",       # sigma before punctuation
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "id long, text string")
    jvm = df.select(
        "id", minhash_signature(char_ngrams("text", 3), 16).alias("sig")
    ).collect()
    jvm_sigs = {r["id"]: list(r["sig"]) for r in jvm}

    from nimhdfstore_spark.operators.dedup import minhash_buckets

    kern = minhash_buckets(df, "id", "text", n=3, num_hashes=16, bands=4)
    kern_sigs = {r["id"]: list(r["sig"])
                 for r in kern.select("id", "sig").distinct().collect()}
    assert kern_sigs == jvm_sigs


# --------------------------------------------------------------------------
# real BPE (x187): independent-reimplementation equivalence
# --------------------------------------------------------------------------

def _ref_learn(word_counts: dict, num_merges: int):
    """Independent Sennrich reference: list-based, no shared helpers."""
    vocab = {tuple(w) + ("\n",): c for w, c in word_counts.items()}
    merges = []
    for _ in range(num_merges):
        pairs = {}
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] = pairs.get(
                    (syms[i], syms[i + 1]), 0) + c
        if not pairs:
            break
        best = sorted(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
        if pairs[best] < 2:
            break
        merges.append(best)
        nv = {}
        for syms, c in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) == best:
                    out.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            nv[tuple(out)] = nv.get(tuple(out), 0) + c
        vocab = nv
    return merges


def _ref_encode(word: str, merges):
    """Reference encoding: apply merges IN RANK ORDER, each to fixpoint
    (Sennrich order) — must equal the operator's min-rank-first loop."""
    syms = list(word) + ["\n"]
    for pair in merges:
        changed = True
        while changed:
            changed = False
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) == tuple(pair):
                    out.append(syms[i] + syms[i + 1])
                    i += 2
                    changed = True
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
    return [s[:-1] if s.endswith("\n") else s for s in syms if s != "\n" and s]


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abcdef!", min_size=1, max_size=8), min_size=1,
        max_size=30,
    ),
    st.integers(0, 20),
)
def test_bpe_learn_matches_reference(words, num_merges):
    from collections import Counter

    from nimhdfstore_spark.operators.text import (
        _merge_word, _word_syms,
    )

    counts = Counter(words)
    ref = _ref_learn(dict(counts), num_merges)
    # operator-side learn loop on the same histogram (driver part only)
    vocab = {_word_syms(w): c for w, c in counts.items()}
    merges = []
    for _ in range(num_merges):
        pairs = {}
        for syms, cnt in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + cnt
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if pairs[best] < 2:
            break
        merges.append(best)
        nv = {}
        for syms, cnt in vocab.items():
            m = _merge_word(syms, best)
            nv[m] = nv.get(m, 0) + cnt
        vocab = nv
    assert merges == ref


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abcd", min_size=1, max_size=10), min_size=1,
        max_size=25,
    ),
    st.text(alphabet="abcd", min_size=0, max_size=12),
)
def test_bpe_encode_min_rank_equals_rank_order(train_words, word):
    """min-rank-first iteration (the operator) == rank-order-to-fixpoint
    (the reference) for merges actually learned from a corpus."""
    from collections import Counter

    merges = _ref_learn(dict(Counter(train_words)), 12)
    ranks = {tuple(p): r for r, p in enumerate(merges)}

    from nimhdfstore_spark.operators.text import _merge_word, _word_syms

    syms = _word_syms(word) if word else ("\n",)
    while len(syms) > 1:
        best, br = None, None
        for a, b in zip(syms, syms[1:]):
            r = ranks.get((a, b))
            if r is not None and (br is None or r < br):
                best, br = (a, b), r
        if best is None:
            break
        syms = _merge_word(syms, best)
    got = [s[:-1] if s.endswith("\n") else s for s in syms]
    got = [s for s in got if s]
    assert got == (_ref_encode(word, merges) if word else [])


def test_bpe_spark_end_to_end(spark):
    from nimhdfstore_spark.operators.text import bpe_apply, bpe_learn

    rows = [
        (0, "low lower lowest low low"),
        (1, "new newer newest new"),
        (2, "low new low new low"),
        (3, ""),
        (4, "xyz"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    merges = bpe_learn(df, "text", num_merges=10, top_words=100)
    assert merges and all(len(p) == 2 for p in merges)
    enc = {r["doc_id"]: r for r in bpe_apply(df, "doc_id", "text", merges).collect()}
    assert enc[3]["n_tokens"] == 0 and enc[3]["tokens"] == []
    for d, text in rows:
        words = [w for w in __import__("re").findall(
            r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+", text)
            if not w.isspace()]
        joined = "".join(enc[d]["tokens"])
        assert joined == "".join(words)  # lossless segmentation
        for w in set(words):
            assert enc[d]["n_tokens"] >= enc[d]["n_pretokens"]
    # frequent words compress below character count
    assert enc[0]["n_tokens"] < sum(len(w) for w in "low lower lowest low low".split()) + 5
