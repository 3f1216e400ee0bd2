"""Store/Table unit tests — the reference's test strategy (SURVEY §5) scaled:
golden round-trips against an in-memory oracle (here a Python list), plus a
seeded randomized mutation-sequence property test (list oracle), mirroring
the reference's 13-row `data: seq[Particle]` pattern (tests.nim:11-112)."""

from __future__ import annotations

import ast
import os
import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType, LongType, StructField, StructType,
)

from nimhdfstore_spark.plans import executed_plan
from nimhdfstore_spark.rowid import ROWID, with_rowid
from nimhdfstore_spark import store as store_mod
from nimhdfstore_spark.store import Store, StoreError, Table
from nimhdfstore_spark.tables import local_frame

SCHEMA = StructType([
    StructField("lati", LongType()),
    StructField("longi", LongType()),
    StructField("pressure", DoubleType()),
    StructField("temperature", DoubleType()),
])


def particles(spark, n=13, start=1):
    rows = [(i, 1, 100.0, 20.0) for i in range(start, start + n)]
    return spark.createDataFrame(rows, SCHEMA)


def rows_of(df):
    return [tuple(r) for r in df.orderBy(ROWID).drop(ROWID).collect()]


@pytest.fixture()
def store(spark, tmp_path):
    return Store(spark, str(tmp_path / "store"))


def test_roundtrip_and_catalog(store, spark):
    p = particles(spark)
    store.put("particles", p, order_by=["lati"])
    store.put("particles2", p, order_by=["lati"])
    assert store.keys() == ["particles", "particles2"]
    assert "particles" in store and "nope" not in store
    t = store["particles"]
    assert t.nrows == 13
    assert rows_of(t.df()) == [(i, 1, 100.0, 20.0) for i in range(1, 14)]
    store.drop("particles2")
    assert store.keys() == ["particles"]
    with pytest.raises(StoreError):
        store.drop("particles2")  # unknown drop is an error, not a no-op


def test_schema_check_and_attrs(store, spark):
    store.put("p", particles(spark), order_by=["lati"])
    t = store.table("p", expect_schema=SCHEMA)
    bad = StructType(SCHEMA.fields[:-1])
    with pytest.raises(StoreError):
        store.table("p", expect_schema=bad)
    t.set_attrs(source="survey", version=1)
    assert store.table("p").attrs == {"source": "survey", "version": 1}
    t.del_attr("version")
    assert store.table("p").attrs == {"source": "survey"}
    with pytest.raises(StoreError):
        t.del_attr("nope")


@pytest.mark.parametrize("entry", ["update_rows", "add_records_from"])
def test_widened_payload_raises_before_commit(spark, tmp_path, entry):
    # a bigint payload into an int column would commit a snapshot of
    # mixed-type files (kept int files beside a new bigint one) that every
    # later read and compact() fails to scan
    store = Store(spark, str(tmp_path / "store"), rows_per_file=2)
    store.put("t", spark.createDataFrame([(i,) for i in range(5)], "k int"),
              order_by=["k"])
    t = store["t"]
    current = t._meta["current"]
    with pytest.raises(StoreError, match="does not match"):
        if entry == "update_rows":
            t.update_rows(
                spark.createDataFrame([(1, 99)], f"{ROWID} long, k bigint")
            )
        else:
            store.put("wide", spark.createDataFrame([(7,), (8,)], "k bigint"),
                      order_by=["k"])
            t.add_records_from(store["wide"], 0, 2)
    assert t._meta["current"] == current
    assert store["t"]._meta["current"] == current
    assert sorted(r["k"] for r in store["t"].df().collect()) == list(range(5))


def test_positional_reads(store, spark):
    store.put("p", particles(spark), order_by=["lati"])
    t = store["p"]
    assert rows_of(t.row(0)) == [(1, 1, 100.0, 20.0)]
    assert rows_of(t.row(-1)) == [(13, 1, 100.0, 20.0)]     # table[^1]
    assert rows_of(t[3:6]) == [(4, 1, 100.0, 20.0), (5, 1, 100.0, 20.0),
                               (6, 1, 100.0, 20.0)]
    assert rows_of(t.slice(-2, -1)) == [(12, 1, 100.0, 20.0),
                                        (13, 1, 100.0, 20.0)]
    assert [r["lati"] for r in t.hyperslab(1, 4, stride=3).collect()] == [2, 5, 8, 11]
    assert [r["lati"] for r in t.hyperslab(0, 2, stride=5, block=2).collect()] == [1, 2, 6, 7]
    assert [r["lati"] for r in t.elements([0, 5, -1]).collect()] == [1, 6, 13]
    cast = t.read_as({"lati": "double"})
    assert cast.schema["lati"].dataType.simpleString() == "double"


def test_mutations(store, spark):
    store.put("p", particles(spark), order_by=["lati"])
    t = store["p"]
    t.append(particles(spark, n=2, start=14))
    assert t.nrows == 15
    assert rows_of(t.slice(-2, -1)) == [(14, 1, 100.0, 20.0), (15, 1, 100.0, 20.0)]
    t.delete(-3, -1)
    assert t.nrows == 12
    assert rows_of(t.row(-1)) == [(12, 1, 100.0, 20.0)]
    t.insert(3, particles(spark, n=2, start=100))
    assert t.nrows == 14
    assert rows_of(t.slice(2, 5)) == [
        (3, 1, 100.0, 20.0), (100, 1, 100.0, 20.0),
        (101, 1, 100.0, 20.0), (4, 1, 100.0, 20.0)]
    t.update(0, particles(spark, n=1, start=999))  # row 0 mutable (quirk fixed)
    assert rows_of(t.row(0)) == [(999, 1, 100.0, 20.0)]
    with pytest.raises(StoreError):
        t.update(0, particles(spark, n=2, start=5))  # shape checked
    with pytest.raises(StoreError):
        t.delete(t.nrows)


def test_copy_and_link(store, spark):
    store.put("a", particles(spark), order_by=["lati"])
    store.copy("a", "b")
    assert rows_of(store["b"].df()) == rows_of(store["a"].df())
    store.link("a", "alias_a")
    assert store["alias_a"].name == "a"
    assert sorted(store.keys()) == ["a", "alias_a", "b"]


def test_codec_invariance(store, spark):
    p = particles(spark, n=50)
    base = None
    for codec in ("none", "snappy", "zstd", "gzip"):
        store.put(f"p_{codec}", p, order_by=["lati"], codec=codec, overwrite=True)
        got = rows_of(store[f"p_{codec}"].df())
        base = base or got
        assert got == base


def test_rowid_strategies_agree(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/customer.parquet")
    a = with_rowid(df, ["c_custkey"], strategy="window")
    b = with_rowid(df.repartition(8), ["c_custkey"], strategy="offsets")
    assert a.select(ROWID, "c_custkey").subtract(b.select(ROWID, "c_custkey")).count() == 0


def _inodes(t):
    import glob
    import os

    return {
        os.path.basename(f): os.stat(f).st_ino
        for f in glob.glob(t.snapshot_path + "/*.parquet")
        if os.path.getsize(f) > 0
    }


def test_mutations_reuse_untouched_files(spark, tmp_path):
    # 200 rows / 20-per-file = 10 files; a mutation must rewrite ONLY files
    # whose _rowid range it touches (hardlink reuse elsewhere) — the M8 scale
    # property that makes a point update on a 100 TB table move one file.
    store = Store(spark, str(tmp_path / "store"), rows_per_file=20)
    store.put("p", particles(spark, n=200), order_by=["lati"])
    t = store["p"]
    before = _inodes(t)
    assert len(before) >= 8

    t.append(particles(spark, n=5, start=900))  # append rewrites nothing
    after = _inodes(t)
    assert set(before).issubset(set(after))
    assert all(after[k] == v for k, v in before.items())

    before = _inodes(t)
    t.update(55, particles(spark, n=1, start=901))  # touches one file
    after = _inodes(t)
    reused = [k for k, v in before.items() if after.get(k) == v]
    assert len(before) - len(reused) == 1, "update should rewrite exactly 1 file"

    before = _inodes(t)
    t.delete(150, 152)  # prefix (rowid < 150) reused, suffix rewritten
    after = _inodes(t)
    reused = [k for k, v in before.items() if after.get(k) == v]
    assert len(reused) >= 7, f"delete near tail should reuse the prefix: {len(reused)}"
    assert rows_of(t.row(55)) == [(901, 1, 100.0, 20.0)]
    assert t.nrows == 202

    # insert: files wholly before the splice point are reused, the rest
    # (every file holding a shifted position) rewritten
    entries, before = t._ranges(), _inodes(t)
    t.insert(45, particles(spark, n=2, start=902))
    after = _inodes(t)
    for e in entries:
        assert (after.get(e["name"]) == before[e["name"]]) == (e["hi"] < 45), e
    assert rows_of(t.slice(44, 47)) == [
        (45, 1, 100.0, 20.0), (902, 1, 100.0, 20.0), (903, 1, 100.0, 20.0),
        (46, 1, 100.0, 20.0)]

    # merge: only the files holding a matched _rowid are rewritten; the
    # unmatched payload row lands at the tail in a new file
    ids = [r[ROWID] for r in t.df().where(F.col("lati").isin(10, 130)).collect()]
    entries, before = t._ranges(), _inodes(t)
    pay = spark.createDataFrame(
        [(10, 2, 1.0, 2.0), (130, 2, 1.0, 2.0), (5000, 2, 1.0, 2.0)], SCHEMA
    )
    assert t.merge(pay, "lati") == {"updated": 2, "inserted": 1}
    after = _inodes(t)
    hit = [any(e["lo"] <= i <= e["hi"] for i in ids) for e in entries]
    assert sum(hit) == 2
    for e, h in zip(entries, hit):
        assert (after.get(e["name"]) == before[e["name"]]) != h, e
    assert rows_of(t.elements(ids + [-1])) == [
        (10, 2, 1.0, 2.0), (130, 2, 1.0, 2.0), (5000, 2, 1.0, 2.0)]


def test_nested_group_keys(store, spark):
    # hierarchical namespace (reference groups, nimhdf5/groups.nim:204-246):
    # "/"-separated keys create directory groups; catalog walk finds leaves
    p = particles(spark, n=3)
    store.put("raw/particles", p, order_by=["lati"])
    store.put("raw/particles2", p, order_by=["lati"])
    store.put("derived/agg/means", p, order_by=["lati"])
    assert store.keys() == ["derived/agg/means", "raw/particles", "raw/particles2"]
    assert "raw/particles" in store
    assert store["derived/agg/means"].nrows == 3
    store.drop("raw/particles2")
    assert store.keys() == ["derived/agg/means", "raw/particles"]


def test_combine_and_add_records_from(store, spark):
    store.put("a", particles(spark, n=5), order_by=["lati"])
    store.put("b", particles(spark, n=3, start=100), order_by=["lati"])
    t = store.combine("a", "b", "ab")  # J1 H5TBcombine_tables
    assert t.nrows == 8
    assert [r["lati"] for r in t.df().orderBy(ROWID).collect()] == [
        1, 2, 3, 4, 5, 100, 101, 102]
    t.add_records_from(store["a"], start=1, n=2)  # J2 H5TBadd_records_from
    assert t.nrows == 10
    assert [r["lati"] for r in t.slice(-2, -1).collect()] == [2, 3]


def test_schema_evolution_and_compact(store, spark):
    store.put("p", particles(spark, n=6), order_by=["lati"])
    t = store["p"]
    t.add_field("flag", "long", 7)
    assert t.df().where(F.col("flag") == 7).count() == 6
    t.drop_field("pressure")
    assert "pressure" not in t.df().columns
    with pytest.raises(StoreError):
        t.drop_field("_rowid")
    with pytest.raises(StoreError):
        t.add_field("flag", "long", 0)
    t.compact()
    assert t.nrows == 6 and t.df().where(F.col("flag") == 7).count() == 6


def test_multifile_sorted_parquet_rowid(spark, tmp_path):
    # multi-file fast path: bases from footers + broadcast join on file_path
    from nimhdfstore_spark.rowid import rowid_from_sorted_parquet, sorted_parquet_bases

    df = spark.range(1000).selectExpr("id AS k", "id * 2 AS v")
    d = str(tmp_path / "sorted")
    df.repartitionByRange(4, "k").sortWithinPartitions("k").write.parquet(d)
    bases = sorted_parquet_bases(d, ["k"])
    assert bases is not None and len(bases) == 4
    assert sum(r for _, _, r in bases) == 1000
    got = rowid_from_sorted_parquet(spark, d, ["k"], bases)
    bad = got.where(F.col(ROWID) != F.col("k")).count()  # k IS the rank
    assert bad == 0 and got.count() == 1000
    # unsorted data must be rejected
    df.repartition(4).write.parquet(str(tmp_path / "unsorted"))
    assert sorted_parquet_bases(str(tmp_path / "unsorted"), ["k"]) is None


def test_randomized_mutation_sequence_vs_list_oracle(store, spark):
    rng = random.Random(42)
    store.put("p", particles(spark, n=20), order_by=["lati"])
    t = store["p"]
    oracle = [(i, 1, 100.0, 20.0) for i in range(1, 21)]
    next_key = 1000
    for step in range(8):
        op = rng.choice(["append", "insert", "delete", "update"])
        if op == "append":
            k = rng.randint(1, 3)
            t.append(particles(spark, n=k, start=next_key))
            oracle.extend((i, 1, 100.0, 20.0) for i in range(next_key, next_key + k))
            next_key += k
        elif op == "insert":
            i = rng.randint(0, len(oracle))
            t.insert(i, particles(spark, n=1, start=next_key))
            oracle.insert(i, (next_key, 1, 100.0, 20.0))
            next_key += 1
        elif op == "delete":
            a = rng.randint(0, len(oracle) - 2)
            b = min(len(oracle) - 1, a + rng.randint(0, 2))
            t.delete(a, b)
            del oracle[a : b + 1]
        else:
            i = rng.randint(0, len(oracle) - 1)
            t.update(i, particles(spark, n=1, start=next_key))
            oracle[i] = (next_key, 1, 100.0, 20.0)
            next_key += 1
        assert t.nrows == len(oracle), f"step {step} ({op}): count"
    assert rows_of(t.df()) == oracle


def _next_job_id(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def test_reads_plan_without_jobs(spark, tmp_path):
    """Reads plan under the persisted schema, so building a positional,
    zone-map or bloom read fires no Spark job (an inferring Parquet read
    runs a footer job per call). A point read whose file fits the driver
    is a LocalRelation and executes in no job either. Bloom positions
    hashed on the driver match the build's for each type."""
    cols = ["k", "n", "v", "s"]
    rows = [(i, i % 5, float(i), f"s{i % 7}") for i in range(100)]
    store = Store(spark, str(tmp_path / "store"), rows_per_file=8)
    t = store.put(
        "t", local_frame(spark, rows, "k bigint, n int, v double, s string"),
        order_by=["k"],
    )
    for c in cols:
        t.build_bloom(c)
    t = store.table("t")
    assert len(t._ranges()) > 8
    builds = {
        "row": lambda: t.row(50),
        "slice": lambda: t.slice(10, 40),
        "scan_between": lambda: t.scan_between("v", 3.0, 20.0),
        "lookup_eq": lambda: t.lookup_eq("s", "s3"),
    }
    for name, build in builds.items():
        before = _next_job_id(spark)
        build()
        assert _next_job_id(spark) == before, name
    point = t.row(50)
    assert "LocalTableScan" in executed_plan(point)
    before = _next_job_id(spark)
    assert [r["k"] for r in point.collect()] == [50]
    assert _next_job_id(spark) == before

    for column, value in (("k", 42), ("n", 3), ("v", 42.0), ("s", "s3")):
        got, scanned, total = t.lookup_eq(column, value)
        at = cols.index(column)
        assert sorted(r["k"] for r in got.collect()) == [
            r[0] for r in rows if r[at] == value
        ], column
        if column in ("k", "v"):
            assert scanned < total, column


def _parquet_reads(tree: ast.AST) -> list[int]:
    """Lines of ``….read….parquet(…)`` calls: a ``parquet`` call whose
    receiver chain passes through a ``read`` attribute."""
    hits = []
    for node in ast.walk(tree):
        if not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "parquet"
        ):
            continue
        recv = node.func.value
        while isinstance(recv, (ast.Call, ast.Attribute)):
            if isinstance(recv, ast.Attribute) and recv.attr == "read":
                hits.append(node.lineno)
                break
            recv = recv.func if isinstance(recv, ast.Call) else recv.value
    return hits


def test_parquet_reads_only_inside_table_scan():
    """``Table._scan`` is the store's one Parquet reader and
    ``tables.read_parquet`` the package's one input reader: no other code
    reads Parquet through ``spark.read``, so every input load takes the
    schema memo."""
    root = os.path.dirname(store_mod.__file__)
    allowed = {("store.py", "Table._scan"), ("tables.py", "read_parquet")}
    stray = []
    for d, _dirs, files in os.walk(root):
        for n in files:
            if not n.endswith(".py"):
                continue
            path = os.path.join(d, n)
            with open(path) as f:
                src = f.read()
            tree = ast.parse(src)
            funcs = [(getattr(f, "name", None), f) for f in tree.body] + [
                (f"{c.name}.{f.name}", f) for c in tree.body
                if isinstance(c, ast.ClassDef)
                for f in c.body if isinstance(f, ast.FunctionDef)
            ]
            spans = [
                (f.lineno, f.end_lineno) for name, f in funcs
                if isinstance(f, ast.FunctionDef) and (n, name) in allowed
            ]
            lines = set(_parquet_reads(tree)) | {
                no for no, line in enumerate(src.splitlines(), 1)
                if "read.parquet(" in line
            }
            stray += [
                f"{os.path.relpath(path, root)}:{no}" for no in sorted(lines)
                if not any(a <= no <= b for a, b in spans)
            ]
    assert not stray, f"Parquet read outside read_parquet/Table._scan: {stray}"


def test_pyarrow_table_reads_only_inside_read_local():
    """``Table._read_local`` is the store's one pyarrow reader of data
    files: no other code in ``store.py`` calls ``pq.read_table(``."""
    path = store_mod.__file__
    with open(path) as f:
        src = f.read()
    table = next(
        n for n in ast.parse(src).body
        if isinstance(n, ast.ClassDef) and n.name == "Table"
    )
    reader = next(
        n for n in table.body
        if isinstance(n, ast.FunctionDef) and n.name == "_read_local"
    )
    hits = [
        no for no, line in enumerate(src.splitlines(), 1)
        if "pq.read_table(" in line
    ]
    assert hits, "no pq.read_table( in store.py"
    stray = [
        f"{os.path.basename(path)}:{no}" for no in hits
        if not reader.lineno <= no <= reader.end_lineno
    ]
    assert not stray, f"pq.read_table( outside Table._read_local: {stray}"


def test_snapshot_names_parsed_only_by_snapdirs():
    """``_SnapDirs`` is the store's one parser of snapshot dir names: no
    other code in ``store.py`` splits or prefix-tests ``snap-`` names."""
    path = store_mod.__file__
    with open(path) as f:
        src = f.read()
    helper = next(
        n for n in ast.parse(src).body
        if isinstance(n, ast.ClassDef) and n.name == "_SnapDirs"
    )
    stray = [
        f"{os.path.basename(path)}:{no}"
        for no, line in enumerate(src.splitlines(), 1)
        if ('split("-")[1]' in line or 'startswith("snap-")' in line)
        and not helper.lineno <= no <= helper.end_lineno
    ]
    assert not stray, f"snapshot name parsed outside _SnapDirs: {stray}"


def test_committed_history_resolves_a_shared_snapshot_number(spark, tmp_path):
    """Debris sharing a committed number (``snap-00000001-aa`` beside
    ``snap-00000001``, current ``snap-00000002-bb``, as a crashed
    conditional-PUT racer leaves it) no longer makes time travel or
    ``changes`` ambiguous: each commit records the names it superseded in
    ``_meta["history"]``, bounded by the retention window, and resolution
    asks that list first. A catalog without the list still refuses to
    guess."""
    import shutil

    store = Store(spark, str(tmp_path / "s"), keep_snapshots=3)
    schema = "k bigint, v string"
    t = store.put("t", local_frame(spark, [(i, "a") for i in range(4)], schema),
                  order_by=["k"])
    t.append(local_frame(spark, [(4, "b")], schema))
    t.append(local_frame(spark, [(5, "c")], schema))
    tdir = store._table_dir("t")
    meta = store._read_meta("t")
    assert meta["history"] == ["snap-00000000", "snap-00000001"]
    # debris with snapshot 0's rows under number 1; current renamed as a
    # conditional-PUT committer names it
    shutil.copytree(os.path.join(tdir, "snap-00000000"),
                    os.path.join(tdir, "snap-00000001-aa"))
    os.rename(os.path.join(tdir, "snap-00000002"),
              os.path.join(tdir, "snap-00000002-bb"))
    meta["current"] = "snap-00000002-bb"
    store._write_meta("t", meta)
    assert store.snapshots("t") == [0, 1, 2]
    old = store.table("t", snapshot=1).df()
    assert sorted(r.k for r in old.collect()) == [0, 1, 2, 3, 4]
    assert [r.k for r in store.table("t").changes(1).collect()] == [5]
    # the list is bounded: the next commit drops snapshot 0's name
    t = store.table("t")
    t.append(local_frame(spark, [(6, "d")], schema))
    assert store._read_meta("t")["history"] == [
        "snap-00000001", "snap-00000002-bb"
    ]
    # a catalog written before the list: the pair stays ambiguous
    meta = store._read_meta("t")
    del meta["history"]
    store._write_meta("t", meta)
    with pytest.raises(StoreError, match="ambiguous"):
        store.table("t", snapshot=1)


def test_keep_lists_planned_only_by_splice_and_id_path():
    """``Table._splice`` (positional mutations) and ``Table._replace_ids``
    (``_rowid``-set mutations) are the store's only planners of a
    keep/rewrite file split: only they, ``_flush_dv`` and the four full
    rewrites commit through ``_commit_pruned``, and only the two planners
    pass it a non-empty keep list."""
    with open(store_mod.__file__) as f:
        tree = ast.parse(f.read())
    table = next(
        n for n in tree.body if isinstance(n, ast.ClassDef) and n.name == "Table"
    )
    planners = {"_splice", "_replace_ids"}
    full = {"_flush_dv", "compact", "add_field", "drop_field", "cluster_by"}

    def commits(node):
        return [
            c for c in ast.walk(node)
            if isinstance(c, ast.Call) and isinstance(c.func, ast.Attribute)
            and c.func.attr == "_commit_pruned"
        ]

    seen, stray, callers = set(), [], set()
    for m in table.body:
        if not isinstance(m, ast.FunctionDef):
            continue
        for c in commits(m):
            seen.add(id(c))
            callers.add(m.name)
            keep = c.args[0] if c.args else next(
                k.value for k in c.keywords if k.arg == "keep"
            )
            empty = isinstance(keep, ast.List) and not keep.elts
            if m.name not in planners and not (m.name in full and empty):
                stray.append(f"Table.{m.name}:{c.lineno}")
    stray += [f"store.py:{c.lineno}" for c in commits(tree) if id(c) not in seen]
    assert not stray, f"keep/rewrite split planned outside the splice: {stray}"
    assert callers == planners | full


def test_catalog_format_known_only_to_store():
    """``store.py`` is the only package module that knows the catalog
    format: no other module names ``_meta.json`` or ``_manifests`` in its
    code (docstrings may describe them)."""
    pkg = os.path.dirname(store_mod.__file__)
    stray = []
    for dirpath, _dirs, files in os.walk(pkg):
        for fn in sorted(files):
            path = os.path.join(dirpath, fn)
            if not fn.endswith(".py") or os.path.samefile(
                path, store_mod.__file__
            ):
                continue
            with open(path) as f:
                tree = ast.parse(f.read())
            docs = {
                id(n.body[0].value)
                for n in ast.walk(tree)
                if isinstance(n, (ast.Module, ast.ClassDef, ast.FunctionDef,
                                  ast.AsyncFunctionDef))
                and n.body
                and isinstance(n.body[0], ast.Expr)
                and isinstance(n.body[0].value, ast.Constant)
            }
            stray += [
                f"{os.path.relpath(path, pkg)}:{n.lineno}"
                for n in ast.walk(tree)
                if isinstance(n, ast.Constant)
                and isinstance(n.value, str)
                and id(n) not in docs
                and ("_meta.json" in n.value or "_manifests" in n.value)
            ]
    assert not stray, f"catalog files named outside store.py: {stray}"


def test_dv_overlay_arrow_matches_list_oracle():
    """``Table._dv_overlay_arrow`` drops the deleted raw positions of any
    one file's rows and renumbers the rest like ``_dv_overlay``."""
    import pyarrow as pa

    rng = random.Random(7)
    for _ in range(50):
        n = rng.randint(1, 40)
        dv, pos = [], 0
        while pos < n and rng.random() < 0.7:
            a = rng.randint(pos, n - 1)
            b = rng.randint(a, min(n - 1, a + 4))
            dv.append([a, b])
            pos = b + 2
        dead = {i for a, b in dv for i in range(a, b + 1)}
        lo = rng.randint(0, n - 1)
        ids = list(range(lo, rng.randint(lo, n - 1) + 1))  # one file's rows
        rng.shuffle(ids)
        raw = pa.table({ROWID: pa.array(ids, pa.int64()),
                        "v": pa.array([i * 3 for i in ids], pa.int64())})
        got = Table._dv_overlay_arrow(raw, dv)
        kept = [i for i in ids if i not in dead]
        assert got.schema == raw.schema
        assert got.column("v").to_pylist() == [i * 3 for i in kept]
        assert got.column(ROWID).to_pylist() == [
            i - sum(1 for d in dead if d < i) for i in kept
        ]
