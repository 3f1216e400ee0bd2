"""Approximate-nearest-neighbor search over an embedding column.

Two strategies over ``array<float>``:

- ``brute_force_topk`` — broadcast the (small) probe set against the corpus,
  cosine in codegen, per-probe top-k via a partitioned window. The baseline
  and the recall oracle.
- ``ivf_topk`` — IVF-style: pick deterministic centroids, assign every
  corpus vector to its nearest centroid (broadcast centroid join — one
  narrow pass), then search only each probe's ``nprobe`` nearest clusters.
  At 100 TB the corpus pass is a single broadcast-join scan and the search
  touches ``nprobe/num_centroids`` of the data; cluster assignment is
  write-once (store it partitioned by cluster id for pruning).

No Python UDFs anywhere — cosine is zip_with/aggregate (functions/vector.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nimhdfstore_spark.functions.vector import cosine


def brute_force_topk(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    include_self: bool = False,
) -> DataFrame:
    """Top-k cosine neighbors per probe. Output: (probe_id, neighbor_id,
    cosine, rank) with deterministic (cosine desc, neighbor_id) ranking."""
    from nimhdfstore_spark.functions.vector import dot, l2_norm

    # norms once per side (O(n)), not per pair: dot/(np*nc) is bit-identical
    # to dot/(sqrt(pp)*sqrt(cc)).
    p = probes.select(
        F.col(id_col).alias("probe_id"), F.col(vec_col).alias("pv"),
        l2_norm(vec_col).alias("pn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"),
        l2_norm(vec_col).alias("cn"),
    )
    joined = F.broadcast(p).crossJoin(c)
    if not include_self:
        joined = joined.where(F.col("probe_id") != F.col("neighbor_id"))
    sim = joined.withColumn(
        "cosine",
        F.round(
            F.when(
                (F.col("pn") > 0) & (F.col("cn") > 0),
                dot(F.col("pv"), F.col("cv")) / (F.col("pn") * F.col("cn")),
            ),
            6,
        ),
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "cosine", "rank")
    )


def assign_clusters(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid assignment: broadcast the centroid table, rank by
    cosine, keep rank 1. Output: (id, vec, vn, cluster_id) — ``vn`` is the
    precomputed L2 norm, carried so downstream search never recomputes it."""
    from nimhdfstore_spark.functions.vector import dot, l2_norm

    cent = centroids.select(
        F.col(id_col).alias("cluster_id"), F.col(vec_col).alias("centv"),
        l2_norm(vec_col).alias("centn"),
    )
    joined = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec"),
        l2_norm(vec_col).alias("vn"),
    ).crossJoin(F.broadcast(cent))
    sim = joined.withColumn(
        "csim",
        F.when(
            (F.col("vn") > 0) & (F.col("centn") > 0),
            dot(F.col("vec"), F.col("centv")) / (F.col("vn") * F.col("centn")),
        ),
    )
    w = Window.partitionBy("id").orderBy(F.col("csim").desc(), F.col("cluster_id"))
    return (
        sim.withColumn("r", F.row_number().over(w))
        .where(F.col("r") == 1)
        .select("id", "vec", F.col("vn"), "cluster_id")
    )


def deterministic_centroids(
    corpus: DataFrame,
    num_centroids: int = 64,
    id_col: str = "vec_id",
) -> DataFrame:
    """FIXED-``num_centroids`` deterministic centroid pick: the k vectors
    whose multiplicatively-hashed id is smallest — a pseudo-random sample of
    constant size, so the centroid broadcast stays O(k) no matter the corpus
    (an every-Nth pick would grow O(n/N) and blow the broadcast at 100 TB).
    Spark plans the orderBy+limit as TakeOrdered (no global sort). The hash
    is engine-independent int arithmetic (id mod 2^32 times 40503, products
    < 2^48), so a SQL oracle selects the identical set. A seedless stand-in
    for k-means, which would iteratively refine this same assignment join."""
    h = (F.col(id_col) % F.lit(1 << 32)) * F.lit(40503) % F.lit(1 << 32)
    return (
        corpus.orderBy(h.asc(), F.col(id_col).asc()).limit(num_centroids)
    )


def ivf_topk(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    num_centroids: int = 64,
    nprobe: int = 2,
) -> DataFrame:
    """IVF ANN: search only each probe's ``nprobe`` nearest clusters."""
    cents = deterministic_centroids(corpus, num_centroids, id_col)
    assigned = assign_clusters(corpus, cents, id_col, vec_col)
    cent = cents.select(
        F.col(id_col).alias("cluster_id"), F.col(vec_col).alias("centv")
    )
    return ivf_probe(assigned, cent, probes, id_col, vec_col, k, nprobe)


def ivf_probe(
    assigned: DataFrame,
    cent: DataFrame,
    probes: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """The IVF SEARCH phase over a prebuilt index: ``assigned`` is the
    inverted list table (cluster_id, id, vec, vn — ``assign_clusters``
    output, possibly read back from a persisted store table), ``cent``
    the (cluster_id, centv) routing table (tiny → broadcast). Split out
    so a persisted index is probed without rebuilding (x189); ``ivf_topk``
    composes build + probe for the one-shot case."""
    from nimhdfstore_spark.functions.vector import dot, l2_norm

    p = probes.select(
        F.col(id_col).alias("probe_id"), F.col(vec_col).alias("pv"),
        l2_norm(vec_col).alias("pn"),
    )
    psim = F.broadcast(p).crossJoin(F.broadcast(cent)).withColumn(
        "csim", cosine(F.col("pv"), F.col("centv"))
    )
    wp = Window.partitionBy("probe_id").orderBy(F.col("csim").desc(), F.col("cluster_id"))
    probe_clusters = (
        psim.withColumn("r", F.row_number().over(wp))
        .where(F.col("r") <= nprobe)
        .select("probe_id", "pv", "pn", "cluster_id")
    )
    cand = probe_clusters.join(assigned, "cluster_id").where(
        F.col("probe_id") != F.col("id")
    )
    sim = cand.withColumn(
        "cosine",
        F.round(
            F.when(
                (F.col("pn") > 0) & (F.col("vn") > 0),
                dot(F.col("pv"), F.col("vec")) / (F.col("pn") * F.col("vn")),
            ),
            6,
        ),
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("cosine").desc(), F.col("id"))
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("probe_id", F.col("id").alias("neighbor_id"), "cosine", "rank")
    )


# --------------------------------------------------------------------------
# Fixed-point Lloyd k-means + SemDeDup-style semantic dedup (Abbas et al.
# 2023, public): cluster the embedding space, then drop near-duplicate
# vectors WITHIN each cluster — the in-cluster pair join is the bounded
# verifier (cluster size ~ n/k with k grown alongside the corpus), never an
# all-pairs join.
#
# Determinism contract (what makes this oracle-able): vectors are quantized
# to int64 fixed-point (round(v * 2^16)); per-cluster sums are exact integer
# arithmetic (order-free); centroid components are CAST(sum AS DOUBLE)/count
# — IEEE division of exact integers < 2^53 is bit-identical on every engine;
# squared distances fold left-to-right in double, so assignment ties and
# comparisons agree bit-for-bit with the DuckDB twin.
# --------------------------------------------------------------------------

KMEANS_SCALE = 1 << 16


def fixed_point_vec(vec_col: Column | str, scale: int = KMEANS_SCALE) -> Column:
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return F.transform(
        v, lambda x: F.round(x.cast("double") * scale, 0).cast("long")
    )


def _sq_dist(sv: Column, cv: Column) -> Column:
    """Squared Euclidean distance, double left-fold over (int - double)^2."""
    terms = F.zip_with(
        sv, cv, lambda a, b: (a.cast("double") - b) * (a.cast("double") - b)
    )
    return F.aggregate(terms, F.lit(0.0), lambda acc, x: acc + x)


def _kmeans_assign(sv_df: DataFrame, cents: DataFrame) -> DataFrame:
    """(id, sv, cluster_id): nearest centroid, ties to the smallest
    cluster_id. Centroids are broadcast (k rows)."""
    d2 = _sq_dist(F.col("sv"), F.col("cv"))
    w = Window.partitionBy("id").orderBy(F.col("d2").asc(), F.col("cluster_id").asc())
    return (
        sv_df.crossJoin(F.broadcast(cents))
        .withColumn("d2", d2)
        .withColumn("r", F.row_number().over(w))
        .where(F.col("r") == 1)
        .select("id", "sv", "cluster_id")
    )


def _kmeans_recompute(assigned: DataFrame, dims: int) -> DataFrame:
    """(cluster_id, cv): element-wise mean via posexplode + (cluster, pos)
    integer-sum aggregation — map-side combinable, k*dims output rows."""
    exploded = assigned.select(
        "cluster_id", F.posexplode("sv").alias("pos", "v")
    )
    per_dim = exploded.groupBy("cluster_id", "pos").agg(
        (F.sum("v").cast("double") / F.count(F.lit(1))).alias("m")
    )
    return per_dim.groupBy("cluster_id").agg(
        F.transform(
            F.array_sort(F.array_agg(F.struct("pos", "m"))), lambda s: s["m"]
        ).alias("cv")
    )


def kmeans_fixed_point(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 2,
    dims: int = 64,
) -> DataFrame:
    """Lloyd k-means with deterministic seeds (multiplicative-hash top-k,
    same pick as IVF) and a FIXED iteration count. Returns the final
    (id, cluster_id) assignment. Each iteration is one broadcast
    assignment join + one exploded mean aggregation — no driver-side
    collect of anything but the k centroids' lineage."""
    sv_df = corpus.select(
        F.col(id_col).alias("id"), fixed_point_vec(vec_col).alias("sv")
    )
    cents = deterministic_centroids(corpus, k, id_col).select(
        F.col(id_col).alias("cluster_id"),
        F.transform(fixed_point_vec(vec_col), lambda x: x.cast("double")).alias("cv"),
    )
    for _ in range(iters):
        assigned = _kmeans_assign(sv_df, cents)
        # lineage cut per iteration (guide §5): the centroid table is k
        # rows, but WITHOUT the cut iteration i's plan re-embeds every
        # previous assignment+recompute subtree (the final x42 plan
        # carried 18 parquet scans); with it each iteration's plan is
        # flat — one corpus scan joined against a tiny checkpointed leaf
        cents = _kmeans_recompute(assigned, dims).localCheckpoint(
            eager=False
        )
    return _kmeans_assign(sv_df, cents).select("id", "cluster_id")


def semantic_dedup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 2,
    tau: float = 0.3,
) -> DataFrame:
    """SemDeDup: k-means-cluster the embeddings, then inside each cluster
    drop every vector that has a smaller-id neighbor with cosine >= tau.
    Output: (id, cluster_id, kept).

    The in-cluster verify runs as ONE grouped Arrow pass per cluster with
    an int64 Gram matmul over the KMEANS_SCALE fixed-point vectors (the
    x34 kernel, tiled to O(blk²) task memory). The earlier shape joined
    the cluster against itself row-wise and folded a zip_with/aggregate
    dot per PAIR — higher-order functions evaluate interpreted, so at a
    20k-vector sweep the m²/2-per-cluster fold work went super-linear
    (3.8 → 72 s for 10× data); the matmul shape is ~20× cheaper per pair
    and ships each vector once. Cosine is computed on the quantized
    vectors (exact int sums ≤ 2^46 — order-insensitive, bit-reproducible
    in DuckDB), so the kept/dropped verdicts hash-match the oracle by
    construction. In-cluster pair work remains O(m²) by SemDeDup's
    definition — at corpus scale, k must grow with n so cluster sizes
    stay bounded (the published recipe)."""
    import numpy as np
    import pandas as pd

    from nimhdfstore_spark.operators.dedup import _tile_pairs

    # the assignment is referenced twice (the in-cluster verify's q_df
    # join AND the returned kept-join) — cut its lineage so the k-means
    # runs once; the stored set is (id, cluster_id), two longs per vector
    final = kmeans_fixed_point(corpus, id_col, vec_col, k, iters).localCheckpoint(
        eager=False
    )
    q_df = corpus.select(
        F.col(id_col).alias("id"), fixed_point_vec(vec_col).alias("q")
    ).join(final, "id")
    id_field = next(f for f in q_df.schema.fields if f.name == "id")
    tau_f = float(tau)

    def cluster_dropped(key, pdf):
        if len(pdf) < 2:
            return pd.DataFrame({"id": pdf["id"][:0]})
        ids = pdf["id"].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        Q = np.stack(pdf["q"].to_numpy())[order].astype(np.int64)
        _a, b, _c = _tile_pairs(ids, Q, ids, Q, 4096, tau_f, upper=True)
        return pd.DataFrame({"id": np.unique(b)})

    from pyspark.sql.types import StructType

    dropped = q_df.groupBy("cluster_id").applyInPandas(
        cluster_dropped, schema=StructType([id_field])
    )
    return (
        final.join(dropped.withColumn("is_dropped", F.lit(True)), "id", "left")
        .select(
            "id",
            "cluster_id",
            F.coalesce(~F.col("is_dropped"), F.lit(True)).alias("kept"),
        )
    )


def group_centroids(
    df: DataFrame,
    group_col: str,
    vec_col: str = "embedding",
    dims: int = 64,
    scale: int = KMEANS_SCALE,
) -> DataFrame:
    """Per-group mean embedding as ``(group, dim, centroid)`` rows — the
    class-prototype / cluster-summary primitive (nearest-class-mean
    classification, per-source embedding drift monitoring).

    Engine-independent math (the x42 trick): components are quantized to
    int64, summed EXACTLY (no float accumulation-order dependence), and the
    centroid is ``CAST(sum AS DOUBLE) / count`` — IEEE division of two
    exactly-represented ints, bit-identical on any engine. posexplode +
    groupBy(group, dim) is one shuffle with map-side partial sums; the long
    (group×dim)-row output shape avoids any array re-assembly."""
    q = F.round(F.col("v").cast("double") * F.lit(scale)).cast("long")
    return (
        df.select(group_col, F.posexplode(F.col(vec_col)).alias("dim", "v"))
        .withColumn("qv", q)
        .groupBy(group_col, "dim")
        .agg(
            (F.sum("qv").cast("double") / F.count(F.lit(1))).alias("centroid_q")
        )
        .withColumn("centroid", F.col("centroid_q") / F.lit(float(scale)))
        .drop("centroid_q")
    )


# --------------------------------------------------------------------------
# Product quantization (PQ) + asymmetric-distance (ADC) top-k — the
# memory-compressed ANN scale path (Jégou et al. 2011, public): each vector
# is stored as m sub-space code indices (here 4 codes of 4 bits ≈ 2 bytes
# instead of 256 bytes of float32), and query distances are looked up from a
# per-probe distance table instead of touching the raw vectors.
#
# Scale shape: codebooks are O(m·ks) rows (broadcast, corpus-independent —
# same fixed-k discipline as deterministic_centroids); encoding is one
# broadcast join + per-(vector, subspace) argmin; ADC search joins the tiny
# per-probe distance table to the code table on (subspace, code) and sums m
# int64 partials per candidate — no float math against the corpus at all.
#
# Determinism: sub-vectors are int64 fixed-point (fixed_point_vec), squared
# distances are pure integer sums (order-free), so the DuckDB twin matches
# bit-for-bit and ties break on (distance, code/id) identically.
# --------------------------------------------------------------------------

PQ_M = 4    # sub-spaces
PQ_KS = 16  # codewords per sub-space
PQ_DIMS = 64


def pq_codebooks(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = PQ_DIMS,
    m: int = PQ_M,
    ks: int = PQ_KS,
) -> DataFrame:
    """``(j, code, cw)`` — codeword ``code`` of sub-space ``j`` is the
    int64 fixed-point sub-vector of the ks hash-picked corpus vectors
    (the deterministic_centroids pick); codes are 0..ks-1 in pick order."""
    sub = dims // m
    h = (F.col(id_col) % F.lit(1 << 32)) * F.lit(40503) % F.lit(1 << 32)
    wcode = Window.orderBy(h.asc(), F.col(id_col).asc())
    coded = (
        deterministic_centroids(corpus, ks, id_col)
        .select(F.col(id_col), fixed_point_vec(vec_col).alias("fv"))
        .withColumn("code", (F.row_number().over(wcode) - 1).cast("int"))
    )
    return coded.select(
        "code",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(j).alias("j"),
                    F.slice("fv", j * sub + 1, sub).alias("cw"),
                )
                for j in range(m)
            ])
        ).alias("s"),
    ).select(F.col("s.j").alias("j"), "code", F.col("s.cw").alias("cw"))


def _int_sq_dist(a: Column, b: Column) -> Column:
    """Integer squared distance between two equal-length int64 arrays —
    exact, summation-order-free."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _subvectors(
    df: DataFrame, id_alias: str, id_col: str, vec_col: str, dims: int, m: int
) -> DataFrame:
    """Explode a vector column into (id, j, sv) fixed-point sub-vectors."""
    sub = dims // m
    return df.select(
        F.col(id_col).alias(id_alias),
        fixed_point_vec(vec_col).alias("fv"),
    ).select(
        id_alias,
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(j).alias("j"), F.slice("fv", j * sub + 1, sub).alias("sv")
                )
                for j in range(m)
            ])
        ).alias("s"),
    ).select(id_alias, F.col("s.j").alias("j"), F.col("s.sv").alias("sv"))


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = PQ_DIMS,
    m: int = PQ_M,
) -> DataFrame:
    """``(id, j, code)`` — per (vector, sub-space) argmin over the broadcast
    codebook; ties break on the smaller code index."""
    subs = _subvectors(corpus, "id", id_col, vec_col, dims, m)
    cand = subs.join(F.broadcast(codebooks), "j").withColumn(
        "d2", _int_sq_dist(F.col("sv"), F.col("cw"))
    )
    w = Window.partitionBy("id", "j").orderBy(F.col("d2").asc(), F.col("code").asc())
    return (
        cand.withColumn("r", F.row_number().over(w))
        .where(F.col("r") == 1)
        .select("id", "j", "code")
    )


def pq_adc_topk(
    codes: DataFrame,
    codebooks: DataFrame,
    probes: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    dims: int = PQ_DIMS,
    m: int = PQ_M,
) -> DataFrame:
    """Asymmetric-distance top-k: per-probe distance TABLE (probe sub-vector
    vs every codeword — m·ks int64 entries, broadcast) joined to the code
    table on (j, code), summed per candidate, ranked. The corpus's raw
    vectors are never touched at query time."""
    psubs = _subvectors(probes, "probe_id", id_col, vec_col, dims, m)
    dtab = psubs.join(F.broadcast(codebooks), "j").select(
        "probe_id", "j", "code", _int_sq_dist(F.col("sv"), F.col("cw")).alias("pd2")
    )
    partial = codes.join(F.broadcast(dtab), ["j", "code"]).where(
        F.col("id") != F.col("probe_id")
    )
    total = partial.groupBy("probe_id", "id").agg(
        F.sum("pd2").alias("approx_d2")
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("approx_d2").asc(), F.col("id"))
    return (
        total.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("probe_id", F.col("id").alias("neighbor_id"), "approx_d2", "rank")
    )


MMR_LAM, MMR_MU = 0.7, 0.3  # relevance / redundancy weights (mu written
# out, NOT computed as 1-lam: 1-0.7 is 0.30000000000000004 in IEEE double
# and the SQL oracle writes the literal 0.3)


def mmr_select(
    pool: DataFrame,
    pairs: DataFrame,
    k: int,
    lam: float = MMR_LAM,
    mu: float = MMR_MU,
) -> DataFrame:
    """Maximal-marginal-relevance selection (Carbonell & Goldstein 1998,
    public): per probe, greedily pick k items maximizing
    ``lam * sim(query, d) - mu * max_{s in selected} sim(d, s)`` — the
    standard diversity-aware re-rank between retrieval and context
    packing (and the diverse-exemplar sampler in data curation).

    ``pool``: ``(probe_id, neighbor_id, qsim)`` candidates (top-N by
    query similarity); ``pairs``: ``(probe_id, id_a, id_b, sim)``
    in-pool pairwise similarities, both directions present.

    The greedy loop is inherently sequential in k, so it runs per-probe
    inside a cogrouped ``applyInPandas`` (SURVEY §2.13): ONE shuffle on
    probe_id, each group's state bounded by the pool size N — at 100 TB
    (millions of probes) every probe is an independent O(k*N) task; the
    cluster parallelizes across probes, never across the tiny in-pool
    loop. Scores are raw doubles of pre-rounded sims (two multiplies,
    one subtract — IEEE-exact on any engine); ties break to the lowest
    id. Output: ``(probe_id, position, vec_id, mmr_score)``."""
    import pandas as pd

    def fn(key, pool_pdf: pd.DataFrame, pairs_pdf: pd.DataFrame) -> pd.DataFrame:
        qs = dict(zip(pool_pdf["neighbor_id"], pool_pdf["qsim"]))
        sim: dict[tuple[int, int], float] = {}
        for r in pairs_pdf.itertuples(index=False):
            sim[(r.id_a, r.id_b)] = r.sim
        selected: list[int] = []
        rows = []
        for pos in range(1, min(k, len(qs)) + 1):
            best_score, best_id = None, None
            for cid in sorted(qs):
                if cid in selected:
                    continue
                maxsim = max(
                    (sim.get((cid, s), 0.0) for s in selected), default=0.0
                )
                score = lam * qs[cid] - mu * maxsim
                if best_score is None or score > best_score:
                    best_score, best_id = score, cid
            selected.append(best_id)
            rows.append((int(key[0]), pos, int(best_id), float(best_score)))
        return pd.DataFrame(
            rows, columns=["probe_id", "position", "vec_id", "mmr_score"]
        )

    return (
        pool.groupBy("probe_id")
        .cogroup(pairs.groupBy("probe_id"))
        .applyInPandas(
            fn, "probe_id long, position int, vec_id long, mmr_score double"
        )
    )


def knn_graph(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dims: int = 64,
    fxp: int = 1 << 20,
    max_rows: int = 2_000_000,
) -> DataFrame:
    """Exact k-nearest-neighbor GRAPH: the top-k cosine neighbors of EVERY
    vector (not just a probe set) — the all-points variant a curation
    pipeline runs before graph-based dedup/clustering (kNN-graph spectral
    methods, mutual-kNN pruning). Complements ``brute_force_topk`` (probe
    set × corpus) and the approximate paths (IVF x41, LSH x34).

    Plan: the corpus (id + fixed-point vector, ~0.5 KB/row) is collected
    once and broadcast; each partition then computes its rows' cosine
    against the broadcast matrix with ONE int64 matmul and emits its rows'
    top-k — embarrassingly parallel, no shuffle at all, wall-clock linear
    in partitions. Exact kNN is inherently O(n²) in dot products; this is
    the blocked-matmul shape (FAISS brute-force mode), and the broadcast
    bounds it to corpora that fit executor memory (~10M×64 dims = 5 GB).
    Beyond that, block the right side too (chunked cross join) or switch
    to the approximate paths.

    Determinism: fixed-point quantization (round(v·2^20), Spark HALF_UP)
    makes dot/norms exact int64 sums, so cosine doubles are bit-identical
    in numpy and the SQL oracle; ranking orders by the UNROUNDED cosine
    (ties exact on both engines) then neighbor id; the output value is
    rounded to 6 decimals JVM-side."""
    import numpy as np

    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    from nimhdfstore_spark.operators.dedup import quantize_fxp

    id_type = df.schema[id_col].dataType
    schema = StructType(
        [
            StructField("vec_id", id_type),
            StructField("neighbor_id", id_type),
            StructField("cosine_raw", DoubleType()),
            StructField("rank", IntegerType()),
        ]
    )
    out_schema = ["vec_id", "neighbor_id", "cosine", "rank"]

    # Size gate fused WITH the driver collect (same contract as
    # connected_components' driver_max_edges): exact all-points kNN is
    # inherently bounded by what one matrix broadcast can hold, and a
    # silent 100 TB collect would OOM the driver long before the matmul.
    # limit(max_rows+1) bounds the transfer to one extra row past the gate
    # and the collect IS the gate check — one job instead of the former
    # count-then-collect pair (the count re-scanned the corpus).
    rows = df.select(id_col, vec_col).limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise ValueError(
            f"knn_graph is an exact all-points method bounded to max_rows="
            f"{max_rows} vectors (corpus exceeds it); use the approximate "
            "paths for larger corpora: ivf_topk (IVF), pq_topk (PQ-ADC), or "
            "embedding_lsh_pairs / embedding_multiprobe_pairs (LSH)."
        )
    rows = [r for r in rows if r[1] is not None]
    if not rows:
        from nimhdfstore_spark.tables import local_frame

        return local_frame(df.sparkSession, [], schema).withColumn(
            "cosine", F.round(F.col("cosine_raw"), 6)
        ).select(*out_schema)
    ids = np.array([r[0] for r in rows])
    V = np.stack([np.asarray(r[1], dtype=np.float64) for r in rows])
    if V.shape[1] != dims:
        raise ValueError(f"expected {dims}-dim vectors, got {V.shape[1]}")
    # sort the corpus by id ONCE, driver-side: the tie-break relies on
    # ascending neighbor ids, and sorting here saves an argsort + three
    # array copies per task on the broadcast (O(n log n) each at ~10M rows)
    order = np.argsort(ids, kind="stable")
    ids, V = ids[order], V[order]
    Q = quantize_fxp(V * fxp)
    n2 = np.sqrt(np.einsum("ij,ij->i", Q, Q).astype(np.float64))
    bc = df.sparkSession.sparkContext.broadcast((ids, Q, n2))
    kk = k

    def topk(batches):
        import pandas as pd

        c_ids, c_q, c_n2 = bc.value
        for pdf in batches:
            pdf = pdf[pdf[vec_col].notna()]
            m = len(pdf)
            if not m:
                continue
            q = quantize_fxp(
                np.stack(pdf[vec_col].to_numpy()).astype(np.float64) * fxp
            )
            n2 = np.sqrt(np.einsum("ij,ij->i", q, q).astype(np.float64))
            G = (q @ c_q.T).astype(np.float64)
            denom = np.outer(n2, c_n2)
            with np.errstate(divide="ignore", invalid="ignore"):
                C = np.where(denom > 0, G / denom, -np.inf)
            my_ids = pdf[id_col].to_numpy()
            C[my_ids[:, None] == c_ids[None, :]] = -np.inf  # exclude self
            out_src, out_nbr, out_cos, out_rank = [], [], [], []
            for i in range(m):
                row = C[i]
                # top-k by (cosine desc, neighbor id asc): c_ids ascending,
                # stable mergesort on -cosine keeps id order within ties.
                # -inf marks INVALID entries (self, zero-norm pairs) — the
                # oracle excludes those pairs entirely, so drop them rather
                # than let them pad out a short candidate list
                top = np.argsort(-row, kind="stable")[:kk]
                top = top[np.isfinite(row[top])]
                out_src.extend([my_ids[i]] * len(top))
                out_nbr.extend(c_ids[top])
                out_cos.extend(row[top])
                out_rank.extend(range(1, len(top) + 1))
            yield pd.DataFrame(
                {
                    "vec_id": out_src,
                    "neighbor_id": out_nbr,
                    "cosine_raw": out_cos,
                    "rank": np.array(out_rank, dtype=np.int32),
                }
            )

    return (
        df.select(id_col, vec_col)
        .mapInPandas(topk, schema=schema)
        .withColumn("cosine", F.round(F.col("cosine_raw"), 6))
        .select(*out_schema)
    )
