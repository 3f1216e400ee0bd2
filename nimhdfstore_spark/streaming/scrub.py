"""Stateless streaming ETL — the map-only scrub leg of a training-data
pipeline run as a real Structured Streaming job: no aggregation, no state,
no watermark; every micro-batch is a pure projection (regex redaction +
counts), so the stream scales embarrassingly (each partition of each batch
is independent; the sink sees exactly one output row per input row).

This is the streaming shape x60–x67 don't cover: those are windows, state,
joins, and sinks; this is the high-throughput transform stage in front of
them.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nimhdfstore_spark.tables import read_parquet


def pii_scrub_stream(
    spark: SparkSession,
    docs_dir: str,
    augment: "callable",
    timeout_s: int = 120,
) -> DataFrame:
    """Stream ``documents.parquet``, apply the deterministic PII augmentation
    (``augment``: DataFrame -> DataFrame carrying (doc_id, lang, t)) and the
    regex scrub per micro-batch, land per-document counts in a memory sink,
    and return the finished per-language totals as a batch DataFrame. The
    augmentation must preserve ``lang`` so the streaming leg stays one
    stateless projection (a stream-stream self-join would need join state
    for no reason)."""
    from nimhdfstore_spark.operators.text import pii_counts

    schema = read_parquet(
        spark, os.path.join(docs_dir, "documents.parquet")
    ).schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(docs_dir)
    )
    aug = augment(stream)
    c = pii_counts("t")
    scrubbed = aug.select(
        "doc_id",
        "lang",
        c["n_email"].alias("n_email"),
        c["n_phone"].alias("n_phone"),
        c["n_ip"].alias("n_ip"),
    )

    name = f"pii_scrub_{uuid.uuid4().hex[:8]}"
    q = (
        scrubbed.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_s)
    per_doc = spark.table(name)
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_docs"),
            F.sum("n_email").cast("int").alias("total_email"),
            F.sum("n_phone").cast("int").alias("total_phone"),
            F.sum("n_ip").cast("int").alias("total_ip"),
        )
        .orderBy("lang")
    )


def temperature_sample_stream(
    spark: SparkSession,
    docs_dir: str,
    budget_den: int = 2,
    salt: int = 0,
    timeout_s: int = 120,
) -> DataFrame:
    """Stream-STATIC join: the per-group temperature thresholds are computed
    once in batch (two tiny aggregations over the static table) and
    broadcast against the document stream — the standard shape for
    enriching/filtering a stream with a precomputed dimension (the
    threshold table is k rows; join state is zero because the static side
    is just a broadcast, unlike the stream-stream join of x66). Returns
    per-language sampled counts after the availableNow run."""
    from nimhdfstore_spark.operators.sampling import (
        sample_hash, temperature_thresholds,
    )

    static_docs = read_parquet(spark, os.path.join(docs_dir, "documents.parquet"))
    th = temperature_thresholds(static_docs, "lang", budget_den)

    schema = static_docs.schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(docs_dir)
    )
    kept = (
        stream.join(F.broadcast(th), "lang")
        .where(sample_hash("doc_id", salt) < F.col("t_g"))
        .select("doc_id", "lang")
    )
    name = f"temp_sample_{uuid.uuid4().hex[:8]}"
    q = (
        kept.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_s)
    return (
        spark.table(name)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("int").alias("n_sampled"))
        .orderBy("lang")
    )
