"""Physical-plan quality gates — the 100 TB design assertions (SURVEY §4):
positional predicates must reach the Parquet scan of store tables (row-group
pruning), projections must prune columns, and small sides must broadcast.
A plan regression here is a scale bug even when results stay correct.

Store reads whose files fit the driver read them in pyarrow instead
(``Table._read_local``), so the store tests set that gate to 0: the plans
checked are those of reads above it."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nimhdfstore_spark.operators.similarity import brute_force_topk
from nimhdfstore_spark.store import Store
from nimhdfstore_spark.tables import load


@pytest.fixture(scope="module")
def li_store(spark, sf_dir, tmp_path_factory):
    root = tmp_path_factory.mktemp("plans") / "store"
    store = Store(spark, str(root))
    from nimhdfstore_spark.tables import load_pos

    store.put("lineitem", load_pos(spark, sf_dir, "lineitem"))
    return store


from nimhdfstore_spark.plans import executed_plan as _plan  # noqa: E402


@pytest.fixture()
def spark_reads(monkeypatch):
    """Store reads take the Spark path, as reads above the driver gate do."""
    monkeypatch.setattr(Store, "LOCAL_REWRITE_MAX_ROWS", 0)


def test_rowid_predicate_pushdown(li_store, spark_reads):
    t = li_store["lineitem"]
    plan = _plan(t.slice(100, 199))
    assert "PushedFilters" in plan and "_rowid" in plan.split("PushedFilters")[1], (
        f"positional slice did not push _rowid to the scan:\n{plan[:2000]}"
    )


def test_column_pruning(li_store, spark_reads):
    t = li_store["lineitem"]
    df = t.hyperslab(0, 10, stride=5, columns=["l_quantity"])
    plan = _plan(df)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_quantity" in read_schema
    assert "l_comment" not in read_schema and "l_extendedprice" not in read_schema, (
        f"projection read more columns than needed: {read_schema}"
    )


def test_point_read_prunes_row_groups(li_store, spark_reads):
    # point read must be a scan-with-filter, not a global sort/window
    t = li_store["lineitem"]
    plan = _plan(t.row(4711))
    assert "Window" not in plan, "point read should not re-rank the table"
    assert "PushedFilters" in plan


def test_ann_broadcasts_probes(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") < 5)
    plan = _plan(brute_force_topk(emb, probes, k=10))
    assert "Broadcast" in plan, f"probe side not broadcast:\n{plan[:1500]}"


def test_dim_join_broadcasts(spark, sf_dir):
    # x70: the filtered dim side must broadcast — shuffling the fact table
    # by join key at 100 TB is the bug this test pins against
    from nimhdfstore_spark.queries import QUERIES, load_all

    load_all()
    plan = _plan(QUERIES["x70_broadcast_dim_join"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan[:1500]


def test_rollup_stays_in_codegen(spark, sf_dir):
    # x72: scan → partial agg → final agg, all inside whole-stage codegen;
    # a Python/BatchEvalPython stage here would be a 10-100x regression
    from nimhdfstore_spark.queries import QUERIES, load_all

    load_all()
    df = QUERIES["x72_tpch_q1_rollup"](spark, sf_dir)
    df.collect()  # finalize the AQE plan so codegen spans are visible
    plan = _plan(df)
    assert "*(" in plan or "WholeStageCodegen" in plan  # codegen span markers
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "partial_sum" in plan, "missing map-side partial aggregation"


def test_snapshot_files_sorted_by_rowid(li_store, spark):
    # files written sorted ⇒ parquet row-group min/max on _rowid are tight ⇒
    # the pushdown above actually prunes IO, not just rows
    import glob

    import pyarrow.parquet as pq

    t = li_store["lineitem"]
    ranges = []
    for f in glob.glob(t.snapshot_path + "/part-*.parquet"):
        md = pq.ParquetFile(f).metadata
        cols = {md.schema.column(i).name: i for i in range(md.num_columns)}
        i = cols["_rowid"]
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(i).statistics
            ranges.append((st.min, st.max))
    ranges.sort()
    for (a_min, a_max), (b_min, b_max) in zip(ranges, ranges[1:]):
        assert a_max < b_min, f"overlapping _rowid row-groups: {ranges}"


def test_embedding_lsh_has_no_nested_loop_join(spark, sf_dir):
    # x34: the only pair-producing step must be the (band, bucket) equi-join;
    # a BroadcastNestedLoopJoin/CartesianProduct here is the O(n²) plan this
    # operator exists to avoid at 100 TB
    from nimhdfstore_spark.queries import QUERIES, load_all

    load_all()
    plan = _plan(QUERIES["x34_dedup_embedding_cosine"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan, (
        f"embedding near-dup plans a pair scan:\n{plan[:2000]}"
    )


def test_ivf_broadcasts_are_fixed_k(spark, sf_dir):
    # x41: the corpus-side joins may only broadcast the FIXED-k centroid
    # table (GlobalLimit 64) or the probe set — never an O(corpus) relation.
    from nimhdfstore_spark.operators.similarity import deterministic_centroids
    from nimhdfstore_spark.queries import QUERIES, load_all

    load_all()
    emb = load(spark, sf_dir, "embeddings")
    cents = deterministic_centroids(emb, num_centroids=64)
    cplan = cents._jdf.queryExecution().optimizedPlan().toString()
    assert "GlobalLimit 64" in cplan, f"centroid pick not fixed-k:\n{cplan[:800]}"
    plan = _plan(QUERIES["x41_ann_ivf_topk"](spark, sf_dir))
    # the big corpus relation must not sit under a BroadcastExchange: every
    # broadcast input must be limited (centroids) or probe-filtered
    for frag in plan.split("BroadcastExchange")[1:]:
        window = frag[:1200]
        assert ("Limit" in window) or ("vec_id" in window and "IN" in window.upper()) or (
            "isin" in window
        ), f"unbounded broadcast in IVF plan:\n{window}"


def test_interval_join_has_no_nested_loop(spark, sf_dir):
    # x79: the bucketized form must plan as an equi-join (sort-merge/hash),
    # never the BroadcastNestedLoopJoin a raw BETWEEN join produces
    from nimhdfstore_spark.queries import QUERIES, load_all

    load_all()
    plan = _plan(QUERIES["x79_interval_join"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan, (
        f"interval join plans a pair scan:\n{plan[:2000]}"
    )


def test_zorder_clusters_both_keys(spark, tmp_path):
    # a uniform 128x128 key grid written two ways: sorted by key a alone
    # (each file = a stripe covering the FULL b domain) vs by the Morton
    # key (each file ~ a square: both keys' per-file min/max spans shrink).
    # Narrow spans are what make Parquet row-group pruning work on either
    # key — the point of z-ordering a 100 TB table.
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from nimhdfstore_spark.operators.zorder import morton_code

    grid = spark.range(128 * 128).select(
        (F.col("id") / 128).cast("long").alias("a"),
        (F.col("id") % 128).alias("b"),
    )

    def spans(path):
        out = {"a": [], "b": []}
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
            for col in out:
                st = md.row_group(0).column(idx[col]).statistics
                lo, hi = st.min, st.max
                for rg in range(1, md.num_row_groups):
                    s = md.row_group(rg).column(idx[col]).statistics
                    lo, hi = min(lo, s.min), max(hi, s.max)
                out[col].append(hi - lo)
        return {k: sum(v) / len(v) for k, v in out.items()}

    n_files = 16
    (grid.repartitionByRange(n_files, "a", "b")
         .sortWithinPartitions("a", "b")
         .write.mode("overwrite").parquet(str(tmp_path / "bykey")))
    z = grid.withColumn("zk", morton_code("a", "b"))
    (z.repartitionByRange(n_files, "zk")
       .sortWithinPartitions("zk")
       .drop("zk")
       .write.mode("overwrite").parquet(str(tmp_path / "byz")))

    s_key, s_z = spans(str(tmp_path / "bykey")), spans(str(tmp_path / "byz"))
    # stripe layout: b spans ~ full 127; z-order squares: both spans ~ 31
    assert s_z["b"] < s_key["b"] / 2, (s_key, s_z)
    assert s_z["a"] < 64, (s_key, s_z)


def test_bucketed_join_needs_no_exchange(spark, sf_dir):
    # x88: with both sides bucketed on the join key, a sort-merge join must
    # read the buckets directly — no Exchange on either input. Broadcast is
    # disabled to force the large-large shape this layout exists for (at
    # bench scale AQE rightly broadcasts the small side instead).
    from nimhdfstore_spark.queries.relational import bucketed_tables

    names = bucketed_tables(spark, sf_dir)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        o = spark.table(names["orders"])
        li = spark.table(names["lineitem"])
        j = o.join(li, o.o_orderkey == li.l_orderkey).select("o_orderkey")
        plan = _plan(j)
        assert "SortMergeJoin" in plan, plan[:1500]
        pre_join = plan.split("SortMergeJoin")[1]
        assert "Exchange" not in plan.split("TakeOrdered")[-1].split("SortMergeJoin")[0]
        # stronger: no Exchange anywhere in this plan at all
        assert "Exchange" not in plan, plan[:2000]
    finally:
        if old is None:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        else:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_incremental_dedup_has_no_pair_scan(spark, sf_dir):
    # x140: batch-vs-corpus candidate generation must be the (band, bucket)
    # equi-join against the signature index — a nested-loop/cartesian here
    # would make batch cost scale with corpus size
    from nimhdfstore_spark.queries import QUERIES, load_all

    load_all()
    plan = _plan(QUERIES["x140_dedup_incremental"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan, (
        f"incremental dedup plans a pair scan:\n{plan[:2000]}"
    )


def test_chunking_has_no_shuffle(spark, sf_dir):
    # x138: token-window chunking is per-doc work (tokens -> explode ->
    # slice); any Exchange before the final presentation sort means the
    # chunker would reshuffle the 100 TB corpus
    from nimhdfstore_spark.operators.text import chunk_tokens

    docs = load(spark, sf_dir, "documents")
    plan = _plan(chunk_tokens(docs, "doc_id", "text"))
    assert "Exchange" not in plan, f"chunking shuffles:\n{plan[:2000]}"


def test_row_rules_single_scan(spark, sf_dir):
    # x143/q40: N check rules must fold into ONE scan of the table (one
    # conditional SUM per rule inside the same aggregate), not N jobs
    from nimhdfstore_spark.operators.quality import row_rule_violations

    li = load(spark, sf_dir, "lineitem")
    plan = _plan(row_rule_violations(li, {
        "a": F.col("l_quantity") > 30,
        "b": F.col("l_orderkey").isNull(),
        "c": F.col("l_extendedprice") <= 0,
    }))
    assert plan.count("Scan parquet") == 1, (
        f"row rules scan the table more than once:\n{plan[:2000]}"
    )


def test_hll_state_is_bounded(spark, sf_dir):
    # x139: the register build must partial-aggregate map-side (HashAggregate
    # below the exchange) so shuffled state is <= 2^p rows per partition,
    # never one row per input key
    from nimhdfstore_spark.operators.sketches import hll_registers

    li = load(spark, sf_dir, "lineitem")
    plan = _plan(hll_registers(li, "l_orderkey"))
    before_exchange = plan.split("Exchange")[-1]  # executed plans read bottom-up
    assert "HashAggregate" in before_exchange, (
        f"HLL register build does not partial-aggregate:\n{plan[:2000]}"
    )


def test_knn_graph_plan_has_no_shuffle(spark, sf_dir):
    # x177: broadcast corpus + per-partition matmul — any Exchange means the
    # blocked shape regressed to a join
    from nimhdfstore_spark.operators.similarity import knn_graph

    emb = load(spark, sf_dir, "embeddings")
    plan = _plan(knn_graph(emb, "vec_id", "embedding", k=3))
    assert "Exchange" not in plan, f"kNN graph plans a shuffle:\n{plan[:2000]}"
    assert "Join" not in plan, f"kNN graph plans a join:\n{plan[:2000]}"


def test_embedding_lsh_single_groupby_shuffle(spark, sf_dir):
    # x34: ONE pair-producing shuffle — the (band, bucket) groupBy feeding
    # applyInPandas — plus the final dropDuplicates exchange; no join at all
    from nimhdfstore_spark.operators.dedup import embedding_lsh_pairs

    emb = load(spark, sf_dir, "embeddings")
    plan = _plan(
        embedding_lsh_pairs(emb, "vec_id", "embedding", threshold=0.4)
    )
    assert "Join" not in plan, f"bucketed LSH plans a join:\n{plan[:2000]}"
    n_exchange = plan.count("Exchange hashpartitioning")
    assert n_exchange <= 2, f"{n_exchange} hash exchanges (want <=2):\n{plan[:2000]}"


def test_minhash_buckets_map_only(spark, sf_dir):
    # signature computation must be a scan -> ArrowEvalPython/mapInPandas
    # pipeline with no Exchange (the old explode+agg shape shuffled L-n+1
    # rows per doc)
    from nimhdfstore_spark.operators.dedup import minhash_buckets

    docs = load(spark, sf_dir, "documents")
    plan = _plan(minhash_buckets(docs, "doc_id", "text"))
    assert "Exchange" not in plan, f"minhash signatures shuffle:\n{plan[:2000]}"


# --------------------------------------------------------------------------
# round-9 ops: span dedup / decontamination / repetition trim plan shapes
# --------------------------------------------------------------------------

def test_span_decontaminate_broadcasts_benchmark(spark, sf_dir):
    """The benchmark gram set must broadcast (eval suites are tiny vs the
    corpus): the hit scan is a BroadcastHashJoin LeftSemi on the gram, and
    nothing in the plan is a cartesian product."""
    from nimhdfstore_spark.operators.decontam import decontaminate_spans

    docs = load(spark, sf_dir, "documents")
    df = decontaminate_spans(
        docs.where(F.col("doc_id") % 23 != 0),
        docs.where(F.col("doc_id") % 23 == 0),
        k=24,
    )
    plan = _plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    semi = [ln for ln in plan.splitlines()
            if "BroadcastHashJoin" in ln and "LeftSemi" in ln]
    assert semi, f"benchmark gram set did not broadcast:\n{plan[:2000]}"


def test_duplicate_spans_no_cartesian_either_path(spark, sf_dir):
    from nimhdfstore_spark.operators.dedup import duplicate_spans

    docs = load(spark, sf_dir, "documents")
    for rolling in (False, True):
        plan = _plan(duplicate_spans(docs, k=24, sample_mod=8, rolling=rolling))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_duplicate_spans_explode_is_spread(spark, sf_dir):
    """The pre-explode repartition must survive into the physical plan with
    an explicit partition count (REPARTITION_BY_NUM) — an AQE-coalescible
    exchange here re-serializes the whole gram scan onto one task."""
    from nimhdfstore_spark.operators.dedup import duplicate_spans

    docs = load(spark, sf_dir, "documents")
    plan = _plan(duplicate_spans(docs, k=24, sample_mod=8))
    assert "REPARTITION_BY_NUM" in plan, (
        f"gram explode not spread by an explicit repartition:\n{plan[:2000]}"
    )


def test_repetition_trim_no_join_at_all(spark, sf_dir):
    """Within-doc dedupe needs no join: chunking, first-occurrence marking
    and the rebuild are windows + one aggregation."""
    from nimhdfstore_spark.operators.text import repetition_trim

    docs = load(spark, sf_dir, "documents")
    plan = _plan(repetition_trim(docs))
    for bad in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
                "ShuffledHashJoin"):
        assert bad not in plan, f"unexpected {bad} in repetition_trim plan"


# --------------------------------------------------------------------------
# round-10 ops: decode dispatch / video sampling / HTML extraction shapes
# --------------------------------------------------------------------------

def test_media_decode_pipelines_are_map_only(spark, sf_dir):
    # x197/x198/x199: encode -> decode are two chained mapInPandas passes
    # over one scan — stateless per-row work, NO Exchange anywhere (corpus
    # parallelism = input partitions; a shuffle would mean the fixture
    # generation or decode grew a grouping it doesn't need)
    from nimhdfstore_spark.queries.multimodal import (
        _jpeg_band_payloads, _x199_payloads,
    )
    from nimhdfstore_spark.operators.multimodal import image_dhash
    from nimhdfstore_spark.operators.video import sample_avi_frames

    plan = _plan(
        __import__("nimhdfstore_spark.operators.multimodal",
                   fromlist=["decode_images"]).decode_images(
            _jpeg_band_payloads(spark, sf_dir, 16))
    )
    assert "Exchange" not in plan, f"JPEG decode shuffles:\n{plan[:2000]}"
    plan = _plan(image_dhash(_x199_payloads(spark, sf_dir)))
    assert "Exchange" not in plan, f"mixed dHash shuffles:\n{plan[:2000]}"


def test_html_to_text_stays_jvm_side(spark, sf_dir):
    # x201's whole pipeline is regexp_replace chains — ZERO Python in the
    # plan (no ArrowEvalPython/BatchEvalPython/mapInPandas nodes)
    import nimhdfstore_spark.queries as Q

    Q.load_all()
    from nimhdfstore_spark.queries import text as _text
    plan = _plan(_text.x201(spark, sf_dir))
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "FlatMapGroupsInPandas"):
        assert marker not in plan, f"x201 left the JVM ({marker}):\n{plan[:2000]}"
