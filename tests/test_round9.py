"""Round-9 additions:

- duplicate_spans (x191): distributed exact-substring span dedup (the
  seed-and-merge form of Lee et al. 2022's suffix-array pass) with
  content-defined seed sampling. Planted duplicated spans must be found
  with correct merged-span accounting; a corpus of unique texts must
  report zero spans; the phase-invariance property (a shared span that
  contains a sampled gram is detected in BOTH docs no matter where it
  lands in either) is hypothesis-pinned — the property a fixed-stride
  grid provably lacks.
- image_dhash (x192): perceptual difference-hash over real PNGs —
  brightness-shift invariance, pattern distinctness, undecodable-payload
  drop contract.
- decontaminate_spans (x193): span-level decontamination with text
  trimming — exact-window removal, overlapping-hit merge, disjoint-span
  surgery, full-doc removal, pass-through of clean/short docs.
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from nimhdfstore_spark.operators.dedup import duplicate_spans
from nimhdfstore_spark.operators.multimodal import image_dhash
from nimhdfstore_spark.operators.png import encode_png


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


K, MOD = 8, 4


def _poly(s: str) -> int:
    acc = 0
    for c in s:
        acc = (acc * 31 + ord(c)) % 1_000_000_007
    return acc


def _sampled(text: str, k: int = K, mod: int = MOD) -> list[int]:
    """1-based positions whose k-gram the operator samples (same hash)."""
    return [
        i + 1
        for i in range(len(text) - k + 1)
        if _poly(text[i : i + k]) % mod == 0
    ]


def test_duplicate_spans_planted(spark):
    # docs 0 and 1 share one span embedded in otherwise-unique filler;
    # doc 2 is unique. The span is chosen so it contains >= 1 sampled gram
    # (verified by the reference hash here, not by luck).
    shared = "ABCDEFGHIJKLMNOPQRSTUVWX"
    assert _sampled(shared), "fixture span must contain a sampled gram"
    texts = [
        "0000000000" + shared + "1111111111",
        "2222222222" + shared + "3333333333",
        "zzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzz",
    ]
    out = {
        r["doc_id"]: r
        for r in duplicate_spans(_docs(spark, texts), k=K, sample_mod=MOD).collect()
    }
    assert out[0]["dup_seeds"] > 0 and out[1]["dup_seeds"] > 0
    assert out[0]["n_spans"] >= 1 and out[1]["n_spans"] >= 1
    assert out[2]["dup_seeds"] == 0 and out[2]["n_spans"] == 0
    assert out[2]["span_chars"] == 0


def test_duplicate_spans_unique_corpus_is_clean(spark):
    import string

    # pairwise-distinct alphabets: no 8-gram can repeat across docs
    texts = [string.ascii_lowercase, string.ascii_uppercase, string.digits * 3]
    rows = duplicate_spans(
        _docs(spark, texts), k=K, sample_mod=MOD
    ).collect()
    assert all(r["dup_seeds"] == 0 and r["span_chars"] == 0 for r in rows)
    # seed counts equal the reference sampler's
    for r in rows:
        assert r["n_seeds"] == len(_sampled(texts[r["doc_id"]]))


@settings(max_examples=15, deadline=None)
@given(
    span_len=st.integers(K + 8, 40),
    off_a=st.integers(0, 9),
    off_b=st.integers(0, 9),
)
def test_duplicate_spans_phase_invariance(spark, span_len, off_a, off_b):
    """Content-defined sampling detects a shared span in BOTH documents
    whenever the span's interior contains any sampled gram — regardless of
    the (independent) offsets it lands at. A fixed-stride grid fails this:
    its seed phases differ per document."""
    shared = "".join(chr(ord("A") + (i * 7) % 26) for i in range(span_len))
    a = "abcdefghij"[:off_a] + shared + "qrstuvwxyz"
    b = "0123456789"[:off_b] + shared + "!@#$%^&*()"
    expect = len(_sampled(shared)) > 0
    out = {
        r["doc_id"]: r
        for r in duplicate_spans(_docs(spark, [a, b]), k=K, sample_mod=MOD).collect()
    }
    if expect:
        assert out[0]["dup_seeds"] >= 1
        assert out[1]["dup_seeds"] >= 1
    # filler regions are unique -> no dup seeds beyond the span's interior
    # plus boundary grams; boundary grams differ between docs, so equality
    # of detection across docs holds either way:
    assert (out[0]["dup_seeds"] >= 1) == (out[1]["dup_seeds"] >= 1)


def test_duplicate_spans_span_merge_accounting(spark):
    # identical docs: every sampled seed is duplicated; islands are gapped
    # at > k, and span_chars sums exact island coverage max-min+k.
    t = "The quick brown fox jumps over the lazy dog 0123 padding tail"
    pos = _sampled(t)
    assert pos, "fixture must sample at least one gram"
    islands = []
    for p in pos:
        if islands and p - islands[-1][-1] <= K:
            islands[-1].append(p)
        else:
            islands.append([p])
    out = duplicate_spans(_docs(spark, [t, t]), k=K, sample_mod=MOD).collect()
    for r in out:
        assert r["dup_seeds"] == r["n_seeds"] == len(pos)
        assert r["n_spans"] == len(islands)
        assert r["span_chars"] == sum(i[-1] - i[0] + K for i in islands)


def _png_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, payload binary")


def _gradient(p, b, w=18, h=16):
    A = (1, 2, 3, 5, 7, 11, 13, 4)
    B = (3, 5, 1, 7, 2, 9, 4, 11)
    y, x = np.mgrid[0:h, 0:w]
    return (((A[p] * x + B[p] * y) % 17) * 9 + b).astype(np.uint8)[..., None]


def test_image_dhash_brightness_invariant_and_distinct(spark):
    rows = []
    did = 0
    for p in range(8):
        for b in (0, 31, 95):
            rows.append((did * 8 + p, bytearray(encode_png(_gradient(p, b)))))
            did += 1
    out = image_dhash(_png_df(spark, rows)).collect()
    by_pattern: dict[int, set] = {}
    for r in out:
        by_pattern.setdefault(r["doc_id"] % 8, set()).add(r["dhash"])
    assert all(len(v) == 1 for v in by_pattern.values())  # brightness-free
    assert len({v.pop() for v in by_pattern.values()}) == 8  # patterns split
    assert all(r["width"] == 18 and r["height"] == 16 for r in out)


def test_image_dhash_drops_undecodable(spark):
    rows = [
        (0, bytearray(encode_png(_gradient(0, 0)))),
        (1, bytearray(b"not a png at all")),
        (2, None),
    ]
    out = image_dhash(_png_df(spark, rows)).collect()
    assert [r["doc_id"] for r in out] == [0]


def test_image_dhash_signed_int64_range(spark):
    # constant image: no strict increases -> hash 0; and the x192 corpus
    # hits bit 63 (hash lands negative) without overflow.
    flat = np.full((16, 18, 1), 77, dtype=np.uint8)
    rows = [(0, bytearray(encode_png(flat))),
            (1, bytearray(encode_png(_gradient(0, 0))))]
    out = {r["doc_id"]: r["dhash"] for r in image_dhash(_png_df(spark, rows)).collect()}
    assert out[0] == 0
    assert out[1] == 17257791502193254399 - (1 << 64)  # pinned, sign bit set


# --------------------------------------------------------------------------
# decontaminate_spans (x193)
# --------------------------------------------------------------------------

from nimhdfstore_spark.operators.decontam import decontaminate_spans


def test_decontaminate_spans_trims_exact_windows(spark):
    # the benchmark doc IS the contaminating span; corpus doc 0 embeds it,
    # doc 1 is clean, doc 2 is shorter than k (pass-through untouched).
    bench_text = "SECRETBENCHMARKQUESTION!"  # 24 chars == k
    corpus = _docs(
        spark,
        [
            "prefix--" + bench_text + "--suffix",
            "totally unrelated content with no overlap at all.....",
            "tiny",
        ],
    )
    bench = spark.createDataFrame([(100, bench_text)], "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in decontaminate_spans(corpus, bench, k=24).collect()
    }
    assert out[0]["n_hits"] == 1 and out[0]["n_spans"] == 1
    assert out[0]["removed_chars"] == 24
    assert out[0]["clean_text"] == "prefix----suffix"
    assert out[0]["clean_len"] == 16
    for d in (1, 2):
        assert out[d]["n_hits"] == 0 and out[d]["removed_chars"] == 0
        assert out[d]["clean_text"] is not None
    assert out[2]["clean_text"] == "tiny"


def test_decontaminate_spans_merges_overlapping_hits(spark):
    # a 30-char contaminated region yields 7 overlapping 24-gram hits that
    # must merge into ONE span covering exactly the region.
    region = "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123"  # 30 chars
    corpus = _docs(spark, ["<<<<" + region + ">>>>"])
    bench = spark.createDataFrame([(9, region)], "doc_id long, text string")
    out = decontaminate_spans(corpus, bench, k=24).collect()[0]
    assert out["n_hits"] == 7  # 30 - 24 + 1
    assert out["n_spans"] == 1
    assert out["removed_chars"] == 30
    assert out["clean_text"] == "<<<<" + ">>>>"


def test_decontaminate_spans_multiple_disjoint_spans(spark):
    s1 = "FIRSTCONTAMINATEDWINDOW1"   # 24 chars
    s2 = "SECONDCONTAMINATEDWINDOW"   # 24 chars
    filler = "x" * 30                 # gap > k keeps the spans separate
    corpus = _docs(spark, [s1 + filler + s2])
    bench = spark.createDataFrame(
        [(1, s1), (2, s2)], "doc_id long, text string"
    )
    out = decontaminate_spans(corpus, bench, k=24).collect()[0]
    assert out["n_spans"] == 2
    assert out["removed_chars"] == 48
    assert out["clean_text"] == filler


def test_decontaminate_spans_full_doc_removed(spark):
    t = "ENTIRELYCONTAMINATEDDOC!"  # 24 chars, exactly one window
    corpus = _docs(spark, [t])
    bench = spark.createDataFrame([(5, "pad" + t + "pad")], "doc_id long, text string")
    out = decontaminate_spans(corpus, bench, k=24).collect()[0]
    assert out["removed_chars"] == 24
    assert out["clean_text"] == ""
    assert out["clean_len"] == 0


# --------------------------------------------------------------------------
# repetition_trim (x194)
# --------------------------------------------------------------------------

from nimhdfstore_spark.operators.text import repetition_trim


def test_repetition_trim_removes_later_occurrences(spark):
    # chunk grid of 3 tokens: [a b c] [a b c] [d e f] [a b c] -> keep idx 0, 2
    t = "a b c a b c d e f a b c"
    out = repetition_trim(_docs(spark, [t]), chunk_tokens_n=3).collect()[0]
    assert out["n_chunks"] == 4
    assert out["n_repeated"] == 2
    assert out["clean_text"] == "a b c d e f"
    assert out["clean_len"] == len("a b c d e f")


def test_repetition_trim_clean_doc_passthrough(spark):
    t = "one two three four five six seven"
    out = repetition_trim(_docs(spark, [t]), chunk_tokens_n=3).collect()[0]
    assert out["n_repeated"] == 0
    assert out["clean_text"] == t


def test_repetition_trim_partial_last_chunk(spark):
    # 7 tokens, chunks of 3: last chunk has 1 token; repetition of the
    # SHORT chunk must also dedupe only on exact string equality.
    t = "x y z x y z x"
    out = repetition_trim(_docs(spark, [t]), chunk_tokens_n=3).collect()[0]
    # chunks: [x y z] [x y z] [x] -> "x" != "x y z", kept
    assert out["n_chunks"] == 3
    assert out["n_repeated"] == 1
    assert out["clean_text"] == "x y z x"


@settings(max_examples=10, deadline=None)
# non-ASCII coverage (round-5 ADVICE): é exercises BMP>127, 😀 (U+1F600)
# exercises astral/surrogate handling — Spark's split('')/substr/length and
# F.ascii all operate on CODE POINTS (verified empirically: poly_hash of
# 'ab😀cd' equals the code-point fold on both engines), matching the
# utf-32-le rolling kernel, so equivalence holds beyond ASCII too.
@given(st.lists(st.text(alphabet="abcdefg 0123é😀", min_size=0, max_size=120),
                min_size=1, max_size=6))
def test_duplicate_spans_rolling_equals_hof(spark, texts):
    """The Rabin-Karp mapInPandas seed kernel must produce byte-identical
    results to the JVM HOF path — same seeds, same spans, same counts."""
    docs = _docs(spark, texts)
    a = duplicate_spans(docs, k=K, sample_mod=MOD, rolling=False)
    b = duplicate_spans(docs, k=K, sample_mod=MOD, rolling=True)
    ra = sorted(tuple(r) for r in a.collect())
    rb = sorted(tuple(r) for r in b.collect())
    assert ra == rb


def test_duplicate_spans_rolling_matches_reference_sampler(spark):
    t = "The quick brown fox jumps over the lazy dog 0123 padding tail"
    out = duplicate_spans(
        _docs(spark, [t, t]), k=K, sample_mod=MOD, rolling=True
    ).collect()
    for r in out:
        assert r["n_seeds"] == len(_sampled(t))
        assert r["dup_seeds"] == r["n_seeds"]


# --------------------------------------------------------------------------
# stream_incremental_dedup (x196)
# --------------------------------------------------------------------------

def test_stream_incremental_dedup_index_growth(spark, sf_dir):
    """The persisted index must grow by exactly the ACCEPTED docs of each
    batch: after the drain it holds corpus + accepted ids, no dup ids, and
    the verdict log covers every staged doc exactly once."""
    import os

    from nimhdfstore_spark.queries.core import scratch_store
    from nimhdfstore_spark.queries.dedup import _DOC_LIMIT, _JACCARD_TAU
    from nimhdfstore_spark.queries.stream import _X196_BANDS, _X196_NUM
    from nimhdfstore_spark.streaming.windows import stream_incremental_dedup

    store = scratch_store(spark, f"t196-{os.path.basename(sf_dir)}")
    rows = stream_incremental_dedup(
        spark, sf_dir, store,
        doc_limit=_DOC_LIMIT, num_hashes=_X196_NUM, bands=_X196_BANDS,
        threshold=_JACCARD_TAU,
    )
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).where(
        f"doc_id < {_DOC_LIMIT}"
    )
    staged_ids = {r["doc_id"] for r in docs.where("doc_id % 10 = 0").collect()}
    assert {r["id"] for r in rows} == staged_ids  # every doc, exactly once
    assert len(rows) == len(staged_ids)

    idx_ids = {
        r["id"] for r in store.table("sig_index").df().select("id").distinct().collect()
    }
    corpus_ids = {
        r["doc_id"]
        for r in docs.where("doc_id % 10 != 0 AND length(text) >= 3").collect()
    }
    accepted = {r["id"] for r in rows if r["is_dup"] == 0}
    dups = {r["id"] for r in rows if r["is_dup"] == 1}
    assert idx_ids & dups == set()          # rejected docs never indexed
    assert accepted - idx_ids == set()      # every accepted doc indexed
    assert idx_ids - corpus_ids - accepted == set()  # nothing else
    # a doc whose batch_no is later can match an accepted earlier-batch doc:
    # match ids must always reference the index as of that batch
    for r in rows:
        if r["is_dup"]:
            m = r["best_match_id"]
            assert m in corpus_ids or (
                m in accepted and (m % 30) // 10 < r["batch_no"]
            )


# --------------------------------------------------------------------------
# Store mutation sequences vs the reference's list model: nimtables.nim's
# table IS an in-memory seq with positional splice semantics
# (append 173-175, update 177-200, delete 202-227, insert 229-233), so a
# plain Python list is the executable spec. Random op sequences must keep
# the Store's read view identical to the list at every step — including
# deferred deletion vectors interleaved with physical mutations.
# --------------------------------------------------------------------------

import os as _os
import shutil as _shutil

from nimhdfstore_spark.store import Store

_OPS = st.lists(
    st.tuples(
        st.sampled_from(
            ["append", "insert", "update", "delete", "delete_deferred",
             "compact"]
        ),
        st.integers(0, 999),  # position seed
        st.integers(1, 3),    # op width
    ),
    min_size=1,
    max_size=6,
)


@settings(max_examples=8, deadline=None)
@given(ops=_OPS)
def test_store_mutation_sequences_match_list_model(spark, ops):
    path = "/tmp/nimhdfstore_scratch/round9_model"
    _shutil.rmtree(path, ignore_errors=True)
    # two rows per file: every op crosses file boundaries, so the splice's
    # keep/rewrite split and its shifts are exercised, not just one file's
    store = Store(spark, path, rows_per_file=2)
    nxt = 1000  # fresh-value counter (distinct from seeds)
    model = [i * 10 for i in range(8)]
    store.put(
        "t",
        spark.createDataFrame([(v,) for v in model], "v long"),
        order_by=["v"],
    )
    t = store.table("t")

    def payload(vals):
        return spark.createDataFrame([(v,) for v in vals], "v long")

    for kind, pos_seed, width in ops:
        n = len(model)
        if kind == "append":
            vals = [nxt + j for j in range(width)]
            nxt += width
            t.append(payload(vals))
            model.extend(vals)
        elif kind == "insert":
            i = pos_seed % (n + 1)
            vals = [nxt + j for j in range(width)]
            nxt += width
            t.insert(i, payload(vals))
            model[i:i] = vals
        elif kind == "update":
            if n == 0:
                continue
            a = pos_seed % n
            b = min(a + width - 1, n - 1)
            vals = [nxt + j for j in range(b - a + 1)]
            nxt += b - a + 1
            t.update(a, payload(vals), b)
            model[a : b + 1] = vals
        elif kind in ("delete", "delete_deferred"):
            if n == 0:
                continue
            a = pos_seed % n
            b = min(a + width - 1, n - 1)
            getattr(t, kind)(a, b)
            del model[a : b + 1]
        elif kind == "compact":
            t.compact()
        got = [
            r["v"]
            for r in t.df().orderBy("_rowid").select("v", "_rowid").collect()
        ]
        assert got == model, f"after {kind}: {got} != {model}"
        # positional reads agree with the model on the driver path and,
        # with the gate at 0, on the Spark path
        picks = sorted({0, len(model) // 2, len(model) - 1}) if model else []
        for gate in (Store.LOCAL_REWRITE_MAX_ROWS, 0):
            with pytest.MonkeyPatch.context() as m:
                m.setattr(Store, "LOCAL_REWRITE_MAX_ROWS", gate)
                reads = {
                    "slice": (t.slice(0, -1), model),
                    "row": (t.row(-1), model[-1:]),
                    "elements": (t.elements(picks), [model[i] for i in picks]),
                }
                for name, (df, want) in reads.items():
                    got = [r["v"] for r in df.collect()]
                    assert got == want, f"after {kind}, {name}, gate {gate}"
        # catalog spans: disjoint, from 0, gap-free over the raw rows, which
        # are the logical rows plus any pending deferred deletes
        spans = sorted((e["lo"], e["hi"], e["rows"]) for e in t._ranges())
        pos = 0
        for lo, hi, rows in spans:
            assert lo == pos and hi - lo + 1 == rows, f"after {kind}: {spans}"
            pos = hi + 1
        pending = sum(b - a + 1 for a, b in t.deletion_vector)
        assert pos == sum(r for *_, r in spans) == t.nrows + pending, spans
    # final rowids are the dense 0..n-1 rank (positions, not history)
    rid = [r["_rowid"] for r in t.df().orderBy("_rowid").collect()]
    assert rid == list(range(len(model)))


# --------------------------------------------------------------------------
# Dataset mutation sequences vs the numpy model: the reference's n-dim
# dataset IS an ndarray with hyperslab/coordinate write semantics
# (datasets.nim 1450-1528 hyperslab write, 1117-1275 coordinate write,
# resize/append), so numpy is the executable spec. Random op sequences
# over a 2-D dataset must keep the read view identical to the array.
# --------------------------------------------------------------------------

_DS_OPS = st.lists(
    st.tuples(
        st.sampled_from(["coords", "slab", "add_rows", "resize_grow"]),
        st.integers(0, 999),
        st.integers(0, 999),
    ),
    min_size=1,
    max_size=5,
)


@settings(max_examples=8, deadline=None)
@given(ops=_DS_OPS)
def test_dataset_mutation_sequences_match_numpy(spark, ops):
    from nimhdfstore_spark.datasets import create_dataset
    from nimhdfstore_spark.store import Store

    path = "/tmp/nimhdfstore_scratch/round9_ds_model"
    _shutil.rmtree(path, ignore_errors=True)
    store = Store(spark, path)
    model = np.arange(12, dtype="float64").reshape(3, 4)
    ds = create_dataset(store, "m", data=model.copy())
    nxt = 100.0
    for kind, s1, s2 in ops:
        h, w = model.shape
        if kind == "coords":
            pts = [(s1 % h, s2 % w), ((s1 + 1) % h, (s2 + 3) % w)]
            pts = list(dict.fromkeys(pts))  # scatter targets must be unique
            vals = [nxt + j for j in range(len(pts))]
            nxt += len(pts)
            ds.write_coords(pts, vals)
            for (y, x), v in zip(pts, vals):
                model[y, x] = v
        elif kind == "slab":
            oy, ox = s1 % h, s2 % w
            cy, cx = min(2, h - oy), min(2, w - ox)
            block = np.full((cy, cx), nxt)
            nxt += 1
            ds.write_hyperslab([oy, ox], [cy, cx], block)
            model[oy : oy + cy, ox : ox + cx] = block
        elif kind == "add_rows":
            rows = np.full((1 + s1 % 2, w), nxt)
            nxt += 1
            ds.add(rows, axis=0)
            model = np.concatenate([model, rows], axis=0)
        elif kind == "resize_grow":
            new_shape = [h + 1, w]
            ds.resize(new_shape)
            grown = np.zeros(new_shape)
            grown[:h, :] = model
            model = grown
        got = ds.read()
        assert got.shape == model.shape, f"after {kind}"
        assert (got == model).all(), f"after {kind}:\n{got}\n!=\n{model}"
