"""Self-tests of the benchmark's own metric code. No Spark needed::

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

import pyarrow as pa
import pytest

import datagen
import report
import stats
from model import ROWID, PositionalModel, as_rows
from workloads import Op

HERE = os.path.dirname(os.path.abspath(__file__))


# -- tail percentile ----------------------------------------------------------


@pytest.mark.parametrize(
    "n, pct",
    [(0, 50), (19, 50), (20, 50), (39, 50), (40, 75), (99, 75), (100, 90),
     (199, 90), (200, 95), (999, 95), (1000, 99), (9999, 99), (10000, 99.9)],
)
def test_tail_percentile_by_sample_count(n, pct):
    assert stats.tail_percentile(n) == pct


def test_tail_leaves_ten_samples_beyond():
    for n in range(20, 3000, 7):
        p = stats.tail_percentile(n)
        assert n * (100 - p) / 100 >= 10 - 1e-9
        higher = [q for q in stats.TAIL_LADDER if q > p]
        assert not higher or n * (100 - higher[0]) / 100 < 10


def test_percentile_interpolates_like_statistics():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0, 8.0]
    assert stats.percentile(xs, 50) == statistics.median(xs)
    assert stats.percentile(xs, 0) == 1.0 and stats.percentile(xs, 100) == 8.0
    q = statistics.quantiles(xs, n=4, method="inclusive")
    assert stats.percentile(xs, 25) == pytest.approx(q[0])
    assert stats.percentile(xs, 75) == pytest.approx(q[2])


# -- inode-based file accounting -------------------------------------------------


def _write(path: str, nbytes: int) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(b"x" * nbytes)


def test_file_delta_counts_new_inodes_and_hardlinked_reuse(tmp_path):
    old = tmp_path / "snap-0"
    _write(str(old / "a.parquet"), 10)
    _write(str(old / "b.parquet"), 20)
    _write(str(old / "_meta.json"), 5)
    before = stats.inodes(str(tmp_path))
    new = tmp_path / "snap-1"
    new.mkdir()
    os.link(old / "a.parquet", new / "a.parquet")  # reused by hardlink
    _write(str(new / "c.parquet"), 100)            # rewritten
    os.link(new / "c.parquet", new / "c2.parquet")  # one inode, two names
    _write(str(new / "_meta.json"), 7)              # not a data file
    (old / "b.parquet").unlink()
    for p in old.iterdir():
        p.unlink()
    old.rmdir()
    files_new, reused, bytes_new = stats.file_delta(before, stats.inodes(str(tmp_path)))
    assert (files_new, reused, bytes_new) == (1, 1, 100)


def test_file_delta_copy_is_new_not_reused(tmp_path):
    _write(str(tmp_path / "s0" / "a.parquet"), 10)
    before = stats.inodes(str(tmp_path))
    _write(str(tmp_path / "s1" / "a.parquet"), 10)  # same name and size, new inode
    assert stats.file_delta(before, stats.inodes(str(tmp_path))) == (1, 1, 10)


def test_disk_bytes_counts_each_inode_once(tmp_path):
    _write(str(tmp_path / "a.parquet"), 30)
    os.link(tmp_path / "a.parquet", tmp_path / "b.parquet")
    _write(str(tmp_path / "m.json"), 4)
    assert stats.disk_bytes(str(tmp_path)) == 34


# -- model replay ------------------------------------------------------------


def _rows(keys):
    return pa.table({"k": pa.array(keys, pa.int64()), "v": [f"r{k}" for k in keys]})


def _keys(model):
    return model.rows.column("k").to_pylist()


def test_model_canonical_order_is_a_stable_sort():
    src = pa.table({"k": [3, 1, 2, 1], "v": ["a", "b", "c", "d"]})
    m = PositionalModel.from_source(src, ["k"])
    assert m.rows.column("v").to_pylist() == ["b", "d", "c", "a"]


def test_model_replays_each_mutation():
    m = PositionalModel(_rows(range(10)))
    m.append(_rows([100, 101]))
    assert _keys(m) == list(range(10)) + [100, 101]
    m.insert(3, _rows([200]))
    assert _keys(m)[:5] == [0, 1, 2, 200, 3] and m.nrows == 13
    m.update(0, _rows([300, 301]))
    assert _keys(m)[:4] == [300, 301, 2, 200] and m.nrows == 13
    m.delete(2, 4)
    assert _keys(m)[:4] == [300, 301, 4, 5] and m.nrows == 10
    m.delete_deferred(9, 9)
    assert _keys(m)[-1] == 100 and m.nrows == 9
    snapshot = _keys(m)
    m.compact()
    m.build_bloom("k")
    assert _keys(m) == snapshot


def test_model_rejects_out_of_range_mutations():
    m = PositionalModel(_rows(range(5)))
    with pytest.raises(IndexError):
        m.delete(3, 5)
    with pytest.raises(IndexError):
        m.insert(6, _rows([1]))
    with pytest.raises(IndexError):
        m.update(4, _rows([1, 2]))


def test_model_reads_carry_positions():
    m = PositionalModel(_rows([10, 11, 12, 13, 14, 15, 16, 17]))
    assert m.row(2).to_pylist() == [{"k": 12, "v": "r12", ROWID: 2}]
    assert m.slice(6, 9).column(ROWID).to_pylist() == [6, 7]
    assert m.hyperslab(1, 3, stride=3, block=2).column(ROWID).to_pylist() == [1, 2, 4, 5, 7]
    assert m.elements([5, 1, 5]).column(ROWID).to_pylist() == [1, 5]
    assert m.lookup_eq("k", 13).column(ROWID).to_pylist() == [3]
    assert m.scan_between("k", 11, 13).column(ROWID).to_pylist() == [1, 2, 3]
    cols = [ROWID, "k"]
    assert as_rows(m.elements([4, 0]), cols) == [(0, 10), (4, 14)]


# -- inputs and report ---------------------------------------------------------


def test_datagen_is_seeded_and_keys_are_unique():
    a, b = datagen.generate(5, 0.001), datagen.generate(5, 0.001)
    assert all(a[t].equals(b[t]) for t in datagen.TABLES)
    assert not a["lineitem"].equals(datagen.generate(6, 0.001)["lineitem"])
    li = a["lineitem"]
    keys = set(zip(li.column("l_orderkey").to_pylist(), li.column("l_linenumber").to_pylist()))
    assert len(keys) == li.num_rows


def test_datagen_writes_tables_in_canonical_order():
    from nimhdfstore_spark.tables import CANONICAL

    tables = datagen.generate(5, 0.001)
    for name, keys in CANONICAL.items():
        t = tables[name]
        if name == "events":  # its canonical key truncates the timestamp
            continue
        assert t.equals(t.sort_by([(k, "ascending") for k in keys])), name


def test_ops_per_s_counts_completed_ops_only():
    from workloads import Outcome

    ops = [Op("read", "row", 10.0), Op("read", "row", 0.0, ok=False)]
    o = Outcome("store_mixed", 1.0, 1.5, 2.0, ops, 2, 1, ["read row: boom"])
    assert report.ops_per_s(o) == pytest.approx(0.5)


def test_pass_cpu_s_sums_the_median_of_each_completed_type():
    from workloads import Outcome

    ops = [
        Op("read", "row", 10.0, cpu_ms=30.0), Op("read", "row", 10.0, cpu_ms=50.0),
        Op("read", "row", 10.0, cpu_ms=900.0),
        Op("commit", "append", 10.0, cpu_ms=200.0),
        Op("commit", "append", 0.0, cpu_ms=5000.0, ok=False),
    ]
    o = Outcome("store_mixed", 1.0, 1.5, 2.0, ops, 5, 1, ["commit append: boom"])
    assert report.end_to_end(o, 100.0)["pass_cpu_s"] == pytest.approx(0.25)


def test_tree_cpu_counts_a_waited_for_child():
    before = stats.cpu_now()
    subprocess.run(
        [sys.executable, "-c", "import time\nt = time.process_time()\n"
         "while time.process_time() - t < 0.3: pass"],
        check=True,
    )
    assert stats.cpu_now() - before >= 0.25


def test_overhead_pct_pairs_op_types():
    ops = [
        Op("read", "row", 1.0, cpu_ms=110.0, traced=True),
        Op("read", "row", 1.0, cpu_ms=100.0),
        Op("read", "slice", 1.0, cpu_ms=220.0, traced=True),
        Op("read", "slice", 1.0, cpu_ms=200.0),
        Op("commit", "append", 1.0, cpu_ms=999.0, traced=True),  # no untraced twin
    ]
    assert report.overhead_pct(ops) == pytest.approx(10.0)


def test_benchmark_json_matches_the_code():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == report.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == report.LAYER_UNITS
    from run import WORKLOAD_NAMES

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOAD_NAMES)
