"""Information-retrieval operators over a document corpus: BM25 ranking,
TF-IDF term weighting, and inverted-index construction.

The reference engine stores corpora but has no search surface
(nimtables.nim:94-171 is storage-only); these are extension operators a
training-data pipeline needs for retrieval-based decontamination, dedup
triage, and corpus exploration. Everything is built-in Catalyst expressions
(explode/split/groupBy/window) — no Python UDFs — so the whole pipeline
stays in whole-stage codegen.

Scale notes (100 TB):
- Tokenize+explode is embarrassingly parallel; the only shuffles are the
  groupBys on (doc, term) and (term), both map-side combined.
- The per-term statistics table (doc frequency / idf) is tiny relative to
  the corpus (vocabulary-sized) and is broadcast back, so scoring never
  shuffles the corpus a second time.
- Posting lists are capped (``max_postings``) — unbounded collect_set of
  doc ids per term is the one thing that cannot scale; at cluster scale
  shard postings by (term, bucket) instead of raising the cap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: must mirror queries/text.py _SQL_TOKENS exactly (same split regex)
TOKEN_SPLIT = "[^a-z0-9]+"


def tokenize(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, token) pairs: lowercase, split on non-alphanumeric runs."""
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.split(F.lower(text_col), TOKEN_SPLIT)).alias("token"),
        )
        .where(F.col("token") != "")
    )


def bm25(
    docs: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25 score of every matching document for a bag of query terms.

    Lucene-style idf = ln(1 + (N - df + 0.5)/(df + 0.5)) (always positive).
    N and avgdl are computed over documents with >= 1 token. Output:
    (doc_id, score).

    Plan shape: per-term tf columns come from ONE conditional aggregation
    per doc (query bags are short, so a tf column per term is cheap) — a
    single tokenize pass and a single shuffle on doc_id; the corpus-level
    (N, avgdl, df per term) row is a broadcast scalar. The naive
    tf-table/idf-table formulation re-tokenizes the corpus once per branch
    (5x at bench scale) and shuffles twice.
    """
    toks = tokenize(docs, id_col, text_col)
    tf_cols = [
        F.sum(F.when(F.col("token") == t, 1).otherwise(0)).alias(f"tf_{i}")
        for i, t in enumerate(query_terms)
    ]
    per_doc = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("dl"), *tf_cols
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).cast("double").alias(f"df_{i}")
            for i in range(len(query_terms))
        ],
    )
    joined = per_doc.crossJoin(F.broadcast(stats))
    score = None
    for i in range(len(query_terms)):
        tf = F.col(f"tf_{i}")
        idf = F.log1p(
            (F.col("n_docs") - F.col(f"df_{i}") + 0.5) / (F.col(f"df_{i}") + 0.5)
        )
        term = F.when(
            tf > 0,
            idf * tf * (k1 + 1)
            / (tf + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))),
        ).otherwise(F.lit(0.0))
        score = term if score is None else score + term
    matched = sum(
        (F.col(f"tf_{i}") > 0).cast("int") for i in range(len(query_terms))
    )
    return (
        joined.where(matched > 0)
        .select("doc_id", score.alias("score"))
    )


def tfidf_terms(
    docs: DataFrame,
    min_df: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-level TF-IDF weight per term: total_tf * ln(N / df).

    One tokenize pass, one (doc, term) groupBy, one (term) groupBy — both
    map-side combined; N is a broadcast scalar. Output:
    (token, total_tf, df, tfidf).
    """
    toks = tokenize(docs, id_col, text_col)
    per_doc = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = per_doc.select("doc_id").distinct().agg(
        F.count(F.lit(1)).cast("double").alias("n_docs")
    )
    return (
        per_doc.groupBy("token")
        .agg(
            F.sum("tf").alias("total_tf"),
            F.count(F.lit(1)).cast("long").alias("df"),
        )
        .where(F.col("df") >= min_df)
        .crossJoin(F.broadcast(n_docs))
        .select(
            "token",
            "total_tf",
            "df",
            (F.col("total_tf") * F.log(F.col("n_docs") / F.col("df"))).alias("tfidf"),
        )
    )


def inverted_index(
    docs: DataFrame,
    min_df: int = 2,
    max_postings: int = 15,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """term -> (df, capped sorted posting list) as a join-able table.

    Postings are the ``max_postings`` smallest doc ids per term. Ranked
    with a per-term window BEFORE gathering, so no aggregation ever holds
    an unbounded posting list in memory (collect_set of all docs per term
    would — a hot term at corpus scale is millions of ids); the window
    sort spills, agg state is capped at ``max_postings``. Output:
    (token, df, postings array<long>).
    """
    toks = tokenize(docs, id_col, text_col)
    pairs = toks.select("token", "doc_id").distinct()
    dfc = pairs.groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("df"))
    w = Window.partitionBy("token").orderBy("doc_id")
    top = pairs.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= max_postings
    )
    postings = top.groupBy("token").agg(
        F.array_sort(F.collect_list("doc_id")).alias("postings")
    )
    return (
        dfc.where(F.col("df") >= min_df).join(postings, "token")
    )
