"""Structured Streaming over the append-only ``events`` table.

The reference's closest capability is FFI-only packet tables / dataset-watch
(H5PT*, hl/H5PTpublic.nim:33-94; H5LD*, hl/H5LDpublic.nim:26-32) — an
append-only log with a read cursor. Spark's native form is
``readStream`` over an append-only directory + windowed aggregation with
watermarks (SURVEY §2.10); this module provides that, plus batch twins whose
semantics are identical (and DuckDB-oracle-checkable).
"""

from __future__ import annotations

import os
import uuid

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nimhdfstore_spark.tables import read_parquet

#: state-store partitions for a bounded availableNow drain. Stateful
#: shuffles create ONE state directory per shuffle partition and commit
#: each per micro-batch — a stream-stream join keeps FOUR stores per
#: partition (two per side) — so at bench scale (10^5 events, 2-3
#: batches) that fixed commit cost dominates: measured at sf0.1 on
#: local[32], the outer stream-stream join runs 14.6 s at 32 partitions,
#: 13.4 s at 8, 7.2 s at 4, 3.7 s at 2; the inner join 10.7/3.3/2.4 s at
#: 8/4/2 (round-13 re-measure). 4 balances that against keeping the
#: drain parallel at the driver's lower-core bench runs. A production
#: deployment sizes this to the state volume via
#: ``SPARK_GRAFT_STATE_PARTITIONS`` (state must distribute across
#: executors); the checkpoint pins whatever count the first batch ran
#: with, and every drain here uses a fresh checkpoint.
STATE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_STATE_PARTITIONS", "4"))


def drain(
    spark: SparkSession,
    writer,
    timeout_s: int | None = None,
    partitions: int | None = None,
) -> None:
    """Start an ``availableNow`` streaming writer with the bench-scale
    state-partition count and block until it drains, restoring the
    session's ``spark.sql.shuffle.partitions`` afterwards (the streaming
    plan reads the conf at ``start()``).

    ``partitions`` overrides :data:`STATE_PARTITIONS` for drains whose
    per-batch cost is Python-worker compute rather than state commits —
    an ``applyInPandasWithState`` operator runs its per-group Python on
    one core per state partition, so a commit-bound width (4) serializes
    it; callers pass a core-proportional width instead."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(partitions if partitions is not None else STATE_PARTITIONS),
    )
    try:
        q = writer.start()
        if timeout_s is None:
            q.awaitTermination()
        else:
            q.awaitTermination(timeout_s)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _event_ts(df: DataFrame) -> DataFrame:
    # events ts arrives as bigint nanos (see tables.normalize_events_ts) or
    # as a timestamp; either way produce a TIMESTAMP column for
    # watermarks/windows (session tz is UTC, instants unchanged).
    from nimhdfstore_spark.tables import normalize_events_ts

    df = normalize_events_ts(df)
    return df.withColumn("ts_t", F.col("ts").cast("timestamp"))


def tumbling_counts_stream(
    spark: SparkSession,
    events_dir: str,
    window: str = "10 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked tumbling-window event counts, executed as a real
    Structured Streaming job (availableNow trigger → in-memory sink) and
    returned as a finished DataFrame.

    Late data beyond ``watermark`` is dropped by the engine; ``complete``
    output mode materializes every window (an ``append``-mode sink would
    hold back windows newer than max(ts) - watermark — with a finite
    backfill that's the last hour forever).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    schema = read_parquet(spark, os.path.join(events_dir, "events.parquet")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(events_dir)
    )
    agg = (
        _event_ts(stream)
        .withWatermark("ts_t", watermark)
        .groupBy(F.window("ts_t", window).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            F.col("n_events"),
        )
    )
    name = f"tumbling_{uuid.uuid4().hex[:8]}"
    drain(
        spark,
        (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        ),
    )
    return spark.table(name).orderBy("window_start")


def tumbling_counts_batch(events: DataFrame, window: str = "10 minutes") -> DataFrame:
    """Batch twin of the streaming aggregation (same built-in window fn)."""
    return (
        _event_ts(events)
        .groupBy(F.window("ts_t", window).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            F.col("n_events"),
        )
        .orderBy("window_start")
    )


def user_totals_stateful_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-user running (event count, value sum) maintained in keyed state
    across micro-batches — the Structured Streaming form of a packet-table
    cursor with per-key accumulators (H5PT*, hl/H5PTpublic.nim:33-94).

    State is per user_id (hash-partitioned across executors; at scale the
    state store shards with the key space). The batch-equivalent semantics
    (GROUP BY user_id) make it oracle-checkable; a single ``availableNow``
    batch over the fixture emits exactly one row per user, and the final
    aggregation collapses re-emissions defensively if the engine ever splits
    the backfill into multiple batches."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    schema = read_parquet(spark, os.path.join(events_dir, "events.parquet")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(events_dir)
    )

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    out = stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    name = f"user_totals_{uuid.uuid4().hex[:8]}"
    drain(
        spark,
        (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        ),
    )
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.round(F.max_by("total_value", "n_events"), 6).alias("total_value"),
        )
        .orderBy("user_id")
    )


def sessionize_batch(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Per-user sessionization (gaps-and-islands): a new session starts when
    the gap to the previous event exceeds ``gap_minutes``. One shuffle on
    user_id; windows are per-user (no global sort). Output: one row per
    session with bounds and event count."""
    w = Window.partitionBy("user_id").orderBy("ts")
    gap = F.col("ts").cast("timestamp").cast("long") - F.lag(F.col("ts").cast("timestamp").cast("long")).over(w)
    marked = events.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > gap_minutes * 60), 1).otherwise(0),
    )
    sess = marked.withColumn(
        "session_seq",
        F.sum("new_session").over(
            Window.partitionBy("user_id").orderBy("ts").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        ),
    )
    return (
        sess.groupBy("user_id", "session_seq")
        .agg(
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id", "session_seq")
    )


def dedup_events_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    """Streaming exact dedup: the stream is unioned with itself (every event
    arrives twice, the at-least-once delivery a real ingest pipeline sees)
    and ``dropDuplicatesWithinWatermark`` on the event key restores
    exactly-once output. State is per-key and EXPIRES with the watermark —
    the unbounded-state trap of plain ``dropDuplicates`` is what makes
    streaming dedup different from batch ``DISTINCT`` at 100 TB (keys older
    than the watermark can be evicted because a duplicate older than that
    is guaranteed not to arrive). Batch twin: ``SELECT DISTINCT``.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    schema = read_parquet(spark, os.path.join(events_dir, "events.parquet")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(events_dir)
    )
    doubled = stream.unionByName(stream)
    deduped = (
        _event_ts(doubled)
        .withWatermark("ts_t", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "value")
    )
    name = f"dedup_{uuid.uuid4().hex[:8]}"
    drain(
        spark,
        (
        deduped.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        ),
    )
    return spark.table(name).orderBy("event_id")


def session_window_stream(
    spark: SparkSession, events_dir: str, gap: str = "30 minutes"
) -> DataFrame:
    """Per-user sessionization as a REAL streaming aggregation via the
    engine-native ``session_window`` (dynamic-gap state merged by the
    streaming aggregation operator) — the streaming twin of
    ``sessionize_batch``'s gaps-and-islands window.

    Session-window aggregations support only append output mode (update is
    ill-defined under session merging), so the emitted result is the CLOSED
    sessions: those whose ``session_window.end`` (= last event + gap) lies
    at or before the final watermark (max event time - delay). On a finite
    backfill the youngest sessions stay in state unemitted — inherent to
    append semantics, and exactly what the x65 oracle's HAVING cutoff
    reproduces. ``session_window.end`` is last-event + gap by definition,
    so the observable bound reported here is ``max(ts)`` — comparable with
    the batch form.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    schema = read_parquet(spark, os.path.join(events_dir, "events.parquet")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(events_dir)
    )
    agg = (
        _event_ts(stream)
        .withWatermark("ts_t", "1 hour")
        .groupBy(F.col("user_id"), F.session_window(F.col("ts_t"), gap).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("ts_t").alias("last_ts"),
        )
        .select(
            "user_id",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format(F.col("last_ts"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            F.col("n_events"),
        )
    )
    name = f"sessions_{uuid.uuid4().hex[:8]}"
    drain(
        spark,
        (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        ),
    )
    return spark.table(name).orderBy("user_id", "session_start")


def purchase_attribution_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    """Stream-stream INNER join with event-time range condition: each
    purchase joined to the same user's click events in the 30 minutes
    before it. Both sides are watermarked, and the range condition bounds
    the join state the engine must keep (clicks older than the watermark
    minus the range are evicted — without the time bound, stream-stream
    join state grows forever). Inner-join matches are emitted as they
    form, so a finite ``availableNow`` backfill yields exactly the batch
    join's result — the oracle is the plain relational join.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    schema = read_parquet(spark, os.path.join(events_dir, "events.parquet")).schema

    def side(kind: str, alias: str) -> DataFrame:
        s = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(events_dir)
        )
        s = _event_ts(s).where(F.col("event_type") == kind)
        return s.select(
            F.col("event_id").alias(f"{alias}_id"),
            F.col("user_id").alias(f"{alias}_user"),
            F.col("ts_t").alias(f"{alias}_ts"),
        ).withWatermark(f"{alias}_ts", "1 hour")

    purchases = side("purchase", "p")
    clicks = side("click", "c")
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts")),
    ).select(
        F.col("p_id").alias("purchase_id"),
        F.col("p_user").alias("user_id"),
        F.col("c_id").alias("click_id"),
    )
    name = f"attr_{uuid.uuid4().hex[:8]}"
    drain(
        spark,
        (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        ),
    )
    return spark.table(name).orderBy("purchase_id", "click_id")


def stream_into_store(
    spark: SparkSession,
    events_dir: str,
    store,
    name: str,
    order_by: Sequence[str] = ("ts", "event_id"),
) -> None:
    """Streaming ingest into the positional store — the packet-table WRITE
    path (H5PTappend, hl/H5PTpublic.nim:42-49): each micro-batch lands as a
    positional append (its rows ranked by the canonical key within the
    batch, re-based onto the table tail). The store's append writes only
    the new rows' files, so a long-running ingest accumulates snapshots at
    the cost of the new data alone — with ``keep_snapshots`` bounding the
    history. ``availableNow`` drains the backfill and stops; a live
    deployment runs the same query unbounded with a processing-time
    trigger."""
    from nimhdfstore_spark.rowid import ROWID, with_rowid

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    schema = read_parquet(spark, os.path.join(events_dir, "events.parquet")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(events_dir)
    )
    stream = _event_ts(stream).drop("ts").withColumnRenamed("ts_t", "ts")

    def ingest(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        ranked = with_rowid(batch_df, list(order_by))
        if name in store:
            store.table(name).append(ranked, n=ranked.count())
        else:
            store.put(name, ranked.withColumn(ROWID, F.col(ROWID).cast("long")))

    drain(
        spark,
        (
        stream.writeStream.foreachBatch(ingest)
        .trigger(availableNow=True)
        .option(
            "checkpointLocation",
            os.path.join(store.root, f"_checkpoint_{name}_{uuid.uuid4().hex[:8]}"),
        )
        ),
    )


def sliding_counts_stream(
    spark: SparkSession,
    events_dir: str,
    window: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Sliding (hopping) windowed counts — overlapping windows, each event
    lands in window/slide buckets (here 2). Same availableNow → complete →
    memory-sink execution as the tumbling query; the only difference is the
    slideDuration argument, which makes the engine assign each row to
    every window containing it."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    schema = read_parquet(spark, os.path.join(events_dir, "events.parquet")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(events_dir)
    )
    agg = (
        _event_ts(stream)
        .withWatermark("ts_t", watermark)
        .groupBy(F.window("ts_t", window, slide).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            F.col("n_events"),
        )
    )
    name = f"sliding_{uuid.uuid4().hex[:8]}"
    drain(
        spark,
        (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        ), timeout_s=120,
    )
    return spark.table(name).orderBy("window_start")


def countmin_user_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    """Maintain a Count-Min sketch of per-user event frequencies AS A
    STREAM: the depth×width cell table is a streaming aggregation in
    complete mode — bounded state (d·w rows) no matter how long the stream
    runs, which is the entire point of sketching a stream. Returns the
    final cell table after an availableNow backfill drain.

    Batch/stream parity: the cells are byte-identical to
    operators.sketches.countmin_sketch over the same rows, because the
    positions are the same engine-portable integer hash and streaming
    aggregation state is just the same partial counts merged incrementally.
    """
    import uuid as _uuid

    from nimhdfstore_spark.operators.sketches import (
        CM_DEPTH, CM_SALT0, CM_WIDTH, _positions,
    )

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    schema = read_parquet(spark, os.path.join(events_dir, "events.parquet")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(events_dir)
    )
    cells = (
        stream.select(
            F.posexplode(
                _positions("user_id", CM_DEPTH, CM_WIDTH, CM_SALT0)
            ).alias("rw", "pos")
        )
        .groupBy("rw", "pos")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    name = f"cmstream_{_uuid.uuid4().hex[:8]}"
    drain(
        spark,
        (
        cells.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        ),
    )
    return spark.table(name)


def stream_merge_into_store(
    spark: SparkSession,
    events_dir: str,
    store,
    name: str = "user_totals",
) -> None:
    """Streaming UPSERT into the positional store — the CDC-consumer write
    path: each micro-batch's per-user totals MERGE into a keyed store table
    (update existing users in place, append new ones) in one snapshot
    commit per batch. Contrast with stream_into_store (pure positional
    append = packet table): this is the materialized-view maintenance
    shape, and the additive measures commute so the result is independent
    of batch boundaries.

    Source is staged as TWO files with maxFilesPerTrigger=1, forcing at
    least two micro-batches — the multi-batch merge path is what's under
    test; availableNow drains and stops. Measures are int64 fixed-point
    (value*100) so incremental == one-shot bit-for-bit."""
    import shutil as _shutil
    import uuid as _uuid

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    src = read_parquet(spark, os.path.join(events_dir, "events.parquet"))
    staged = os.path.join(store.root, "_staged_events")
    _shutil.rmtree(staged, ignore_errors=True)
    os.makedirs(staged)
    # stage the two batch files from ONE collect (events are the bench
    # fixture, driver-bounded; ts stays int64 under nanosAsLong) — the two
    # coalesce(1) write jobs paid ~0.3-0.5 s of scheduler+committer fixed
    # cost each. Explicit ascending mtimes keep batch order deterministic.
    import pyarrow.compute as _pc
    import pyarrow.parquet as _pq

    tbl = src.toArrow()
    parity = _pc.bit_wise_and(tbl.column("event_id"), 1)
    for k in (0, 1):
        p = os.path.join(staged, f"batch-{k}.parquet")
        _pq.write_table(tbl.filter(_pc.equal(parity, k)), p)
        os.utime(p, (1_700_000_000 + 100 * k, 1_700_000_000 + 100 * k))

    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged)
    )

    def rollup(df):
        return df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.expr("cast(round(value * 100) as bigint)")).alias("sum_fp"),
        )

    def upsert(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        delta = rollup(batch_df)
        if name in store:
            t = store.table(name)
            cur = t.df().select("user_id", "n", "sum_fp")
            payload = (
                delta.alias("d")
                .join(cur.alias("c"), "user_id", "left")
                .select(
                    "user_id",
                    (F.coalesce(F.col("c.n"), F.lit(0)) + F.col("d.n")).alias("n"),
                    (F.coalesce(F.col("c.sum_fp"), F.lit(0))
                     + F.col("d.sum_fp")).alias("sum_fp"),
                )
            )
            t.merge(payload, "user_id")
        else:
            store.put(name, delta, order_by=["user_id"])

    drain(
        spark,
        (
        stream.writeStream.foreachBatch(upsert)
        .trigger(availableNow=True)
        .option(
            "checkpointLocation",
            os.path.join(store.root, f"_ckpt_merge_{_uuid.uuid4().hex[:8]}"),
        )
        ),
    )


def purchase_attribution_outer_stream(
    spark: SparkSession, events_dir: str
) -> DataFrame:
    """Stream-stream LEFT OUTER join — the semantics x66's inner join
    doesn't cover: an unmatched left row is held in state until the
    watermark PROVES no future right row can match (here: c_ts <= p_ts, so
    once the watermark passes p_ts), then emits with nulls. With a finite
    availableNow backfill the final watermark is max(ts) - delay, so
    purchases inside the last watermark window never get their null
    verdict — exactly the rows the batch oracle must also exclude (its
    cutoff filter mirrors the eviction rule; same discipline as x65's
    closed-sessions-only oracle)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    schema = read_parquet(spark, os.path.join(events_dir, "events.parquet")).schema

    def side(kind: str, alias: str) -> DataFrame:
        s = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(events_dir)
        )
        s = _event_ts(s).where(F.col("event_type") == kind)
        return s.select(
            F.col("event_id").alias(f"{alias}_id"),
            F.col("user_id").alias(f"{alias}_user"),
            F.col("ts_t").alias(f"{alias}_ts"),
        ).withWatermark(f"{alias}_ts", "1 hour")

    purchases = side("purchase", "p")
    clicks = side("click", "c")
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "left_outer",
    ).select(
        F.col("p_id").alias("purchase_id"),
        F.col("p_user").alias("user_id"),
        F.col("p_ts").alias("p_ts"),
        F.col("c_id").alias("click_id"),
    )
    name = f"attro_{uuid.uuid4().hex[:8]}"
    drain(
        spark,
        (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        ),
    )
    return spark.table(name)


def timeout_sessions_stream(
    spark: SparkSession, events_dir: str, gap_minutes: int = 30
) -> DataFrame:
    """Event-time-TIMEOUT sessionization via ``applyInPandasWithState`` —
    the state-timeout member of the stateful API (x63 uses NoTimeout;
    engine-native session_window is x65). Per user: a session closes
    in-batch when a later event arrives past the gap, or by TIMEOUT when
    the watermark passes last_event + gap with no successor — the open
    trailing session emits only if its timeout fires before the backfill's
    final watermark (oracle applies the same cutoff; x65 discipline).

    State: (start_ms, last_ms, n). Timeout timestamp = last_ms + gap."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    schema = read_parquet(spark, os.path.join(events_dir, "events.parquet")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(events_dir)
    )
    stream = _event_ts(stream).select(
        "user_id", F.col("ts_t").alias("ts")
    ).withWatermark("ts", "1 hour")
    gap_ms = gap_minutes * 60 * 1000

    def update(key, pdfs, state: GroupState):
        # Python-boundary discipline (guide §4): most groups emit NOTHING
        # in a given batch, and constructing an empty pandas DataFrame per
        # group dominated the per-batch cost (~1 s of the zero-input
        # timeout batch was per-key DataFrame builds). Yield only when
        # there are closed sessions, build from column lists, and convert
        # timestamps with one vectorized astype instead of a per-value
        # Timestamp loop. Session semantics untouched.
        uid = key[0]
        out = []
        if state.hasTimedOut:
            start_ms, last_ms, n = state.get
            state.remove()
            out.append((start_ms, last_ms, n))
        else:
            ts_ms: list[int] = []
            for pdf in pdfs:
                ts_ms.extend(
                    (
                        pd.to_datetime(pdf["ts"])
                        .to_numpy(dtype="datetime64[ns]")
                        .astype("int64")
                        // 1_000_000
                    ).tolist()
                )
            ts_ms.sort()
            if state.exists:
                start_ms, last_ms, n = state.get
            else:
                start_ms, last_ms, n = ts_ms[0], ts_ms[0], 0
            for t in ts_ms:
                if t - last_ms > gap_ms and n > 0:
                    out.append((start_ms, last_ms, n))
                    start_ms, n = t, 0
                last_ms = t
                n += 1
            state.update((start_ms, last_ms, n))
            state.setTimeoutTimestamp(last_ms + gap_ms)
        if out:
            yield pd.DataFrame(
                {
                    "user_id": [uid] * len(out),
                    "start_ms": [r[0] for r in out],
                    "end_ms": [r[1] for r in out],
                    "n_events": [r[2] for r in out],
                }
            )

    out = stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, start_ms long, end_ms long, n_events long",
        stateStructType="start_ms long, last_ms long, n long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    name = f"tsess_{uuid.uuid4().hex[:8]}"
    # Python-compute-bound drain (guide §4/§2): each state partition runs
    # its groups' `update` on one core, and the state here is tiny (3
    # longs/user) so commits are cheap — unlike the stream-stream joins
    # that set STATE_PARTITIONS' commit-bound default of 4. Width scales
    # with the session's cores (driver benches at different core counts;
    # a cluster gets its executor parallelism), amplified over the
    # commit-bound default but capped by it so the env knob still governs:
    # measured at sf0.1/local[32]: 3.2 s at 4 partitions, 2.35 at 8,
    # 2.0 at 16, 2.24 at 32 (commit overhead returns).
    width = min(
        spark.sparkContext.defaultParallelism, 4 * STATE_PARTITIONS
    )
    drain(
        spark,
        (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
        ),
        partitions=width,
    )
    return spark.table(name)


def restart_recovery_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once across a query RESTART: per-event-type totals
    aggregated by a streaming query that is deliberately killed halfway
    through its input and then restarted from its checkpoint.

    Run 1 sees only the even-event_id half of ``events`` (staged as its
    own parquet file), drains it with availableNow, commits state +
    source offsets to the checkpoint, and stops. The odd half is then
    appended to the source directory and a NEW query object with the SAME
    checkpoint location drains it. Recovery must (a) restore the
    aggregation state (run-1 counts survive) and (b) skip the already-
    committed file (no double count) — the final totals equal the batch
    twin over the full table, which is what the oracle checks. foreachBatch
    rewrites the complete-mode result per batch; the parquet left on disk
    after the second drain is the recovered answer.

    This is the operational property a 100 TB streaming ingest lives on:
    executors die, queries redeploy, and the checkpoint (not the sink) is
    the source of truth."""
    import shutil

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    base = "/tmp/nimhdfstore_scratch/x142_restart"
    stage = os.path.join(base, "stage")
    ckpt = os.path.join(base, "ckpt")
    out = os.path.join(base, "out")
    shutil.rmtree(base, ignore_errors=True)

    ev = read_parquet(spark, os.path.join(sf_dir, "events.parquet"))
    ev.where(F.col("event_id") % 2 == 0).write.parquet(stage)

    schema = ev.schema

    def run_once() -> None:
        stream = spark.readStream.schema(schema).parquet(stage)
        agg = stream.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )

        def sink(batch_df: DataFrame, _batch_id: int) -> None:
            batch_df.write.mode("overwrite").parquet(out)

        drain(
            spark,
            (
            agg.writeStream.foreachBatch(sink)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            ),
        )

    run_once()                 # drains the even half, checkpoints, stops
    ev.where(F.col("event_id") % 2 == 1).write.mode("append").parquet(stage)
    run_once()                 # restart: recovers state, drains only the new file
    return read_parquet(spark, out).orderBy("event_type")


def stream_deletes_into_store(
    spark: SparkSession,
    sf_dir: str,
    store,
    name: str = "docs_mor",
) -> None:
    """Streaming DELETE consumer over merge-on-read deletion vectors: each
    micro-batch carries positional delete commands (a, b in LOGICAL
    coordinates at apply time) and applies them as ``delete_deferred`` —
    O(1) metadata per command, zero file rewrites across the whole drain
    (the GDPR-erasure / retention-expiry consumer shape: a 100 TB table
    absorbs a delete stream without moving a byte until the next
    compaction). Commands are staged as two single-command files with
    maxFilesPerTrigger=1 to force >= 2 micro-batches; within a batch,
    commands apply in descending position order so earlier applications
    never shift later ones."""
    import shutil as _shutil
    import uuid as _uuid

    base = read_parquet(store.spark, os.path.join(sf_dir, "documents.parquet"))
    if name in store:
        store.drop(name)
    store.put(name, base, order_by=["doc_id"])

    cmds = os.path.join(store.root, "_staged_deletes")
    _shutil.rmtree(cmds, ignore_errors=True)
    os.makedirs(cmds)
    # the delete commands are driver literals: write them with pyarrow
    # directly (zero Spark jobs — even the SQL-literal form paid ~0.2 s of
    # write-job fixed cost per file). Ascending mtimes pin batch order,
    # which is semantic here: (100,199) must apply before (100,149).
    import pyarrow as _pa
    import pyarrow.parquet as _pq

    for k, (a, b) in enumerate(((100, 199), (100, 149))):
        p = os.path.join(cmds, f"cmd-{k}.parquet")
        _pq.write_table(
            _pa.table({"a": _pa.array([a], _pa.int64()),
                       "b": _pa.array([b], _pa.int64())}),
            p,
        )
        os.utime(p, (1_700_000_000 + 100 * k, 1_700_000_000 + 100 * k))

    stream = (
        spark.readStream.schema("a long, b long")
        .option("maxFilesPerTrigger", "1")
        .parquet(cmds)
    )

    def apply_deletes(batch_df, batch_id: int) -> None:
        rows = sorted(
            ((r["a"], r["b"]) for r in batch_df.collect()), reverse=True
        )
        if not rows:
            return
        t = store.table(name)
        for a, b in rows:
            t.delete_deferred(int(a), int(b))

    drain(
        spark,
        (
        stream.writeStream.foreachBatch(apply_deletes)
        .trigger(availableNow=True)
        .option(
            "checkpointLocation",
            os.path.join(store.root, f"_ckpt_del_{_uuid.uuid4().hex[:8]}"),
        )
        ),
    )


def stream_incremental_dedup(
    spark: SparkSession,
    sf_dir: str,
    store,
    doc_limit: int,
    num_hashes: int,
    bands: int,
    threshold: float,
    n_batches: int = 3,
) -> list:
    """Streaming corpus ingestion with incremental near-dup rejection — the
    loop a crawl pipeline actually runs, end to end: a persisted MinHash
    signature index (Store table ``sig_index``) seeds from the existing
    corpus; each arriving micro-batch signs ONLY itself, probes the index
    (``minhash_lsh_incremental`` — equi-join on (band, bucket), cost
    tracks batch size, never corpus size), logs its verdicts, and appends
    the ACCEPTED docs' signatures back to the index — so batch N
    deduplicates against the corpus AND batches < N's accepted docs.

    The incoming docs (doc_id %% 10 == 0, bounded by ``doc_limit``) are
    staged as ``n_batches`` files with strictly increasing mtimes and
    ``maxFilesPerTrigger=1``, so the availableNow drain processes them in
    deterministic batch order (batch k = doc_id %% (10*n_batches) ==
    10*k) — order matters here, unlike the additive-merge streams, because
    the index GROWS between batches. Replay-safe ingest (the foreachBatch
    contract is at-least-once): a micro-batch retried after its index
    append but before checkpoint commit would otherwise re-probe an index
    already holding its own signatures — every doc self-matching at
    est 1.0. So the probe view anti-joins out the batch's own ids, the
    index append anti-joins out ids already present, and the verdict log
    is keyed by doc id — re-running a batch reproduces identical state.

    Returns the verdict log as collected rows — each micro-batch's verdict
    set is micro-batch-bounded by construction (the thing a streaming
    trigger exists to guarantee), so the driver-side accumulation is the
    cheap path; the GROWING state (the signature index) stays a Store
    table, appended per batch."""
    import shutil as _shutil

    import pyarrow.parquet as _pq

    from nimhdfstore_spark.operators.dedup import minhash_buckets

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    docs = read_parquet(
        spark, os.path.join(sf_dir, "documents.parquet")
    ).where(F.col("doc_id") < doc_limit)
    mod = 10 * n_batches
    corpus = docs.where(F.col("doc_id") % 10 != 0)

    idx = minhash_buckets(corpus, "doc_id", "text", 3, num_hashes, bands)
    if "sig_index" in store:
        store.drop("sig_index")
    # ``doc_limit`` bounds the corpus by operator parameter, so the index is
    # at most doc_limit*bands rows: one collect-as-Arrow write replaces the
    # range-shuffle + committer write job (~0.5 s of fixed cost). The
    # distributed signing pass is unchanged — only the sink is local. A
    # production ingest loop with an unbounded corpus omits the hint.
    store.put(
        "sig_index", idx, order_by=["id", "band"],
        local_max_rows=doc_limit * bands,
    )
    log_by_id: dict = {}

    # Cache the signed-index frame handle ACROSS micro-batches (r13 verdict
    # ask #3: the probe plan re-read the store table per batch — catalog
    # resolve + parquet scan subtree re-analyzed 3×). ``base`` is the index
    # as of the drain start, lineage-cut to a checkpointed RDD leaf so each
    # batch's probe plan carries a tiny LogicalRDD instead of the file-scan
    # tree; ``extra`` accumulates the driver-collected signature rows each
    # batch APPENDS (the append path already materializes them on the
    # driver), so base ∪ extra ≡ the store table's content at every batch
    # boundary — the Store table still grows per batch (that persistence IS
    # the operator's contract); only the PROBE reads the in-session handle.
    # Scale note: the handle is bounded by the same ``doc_limit`` that
    # bounds the CTAS hint; an unbounded production index would drop
    # ``index_state`` and take the per-batch table read below.
    base = (
        store.table("sig_index")
        .df()
        .select("id", "sig", "band", "bucket")
        .localCheckpoint(eager=False)
    )
    index_state: dict = {"base": base, "extra": [], "schema": None}

    staged = os.path.join(store.root, "_staged_docs")
    _shutil.rmtree(staged, ignore_errors=True)
    os.makedirs(staged)
    # Stage all batches from ONE bounded collect (the incoming docs are
    # doc_limit-bounded by the same operator parameter): the previous three
    # coalesce(1) write jobs each paid ~0.3-0.5 s of scheduler+committer
    # fixed cost to move a handful of rows. The arrow table preserves the
    # source schema, so the stream reader sees identical files.
    incoming = docs.where(F.col("doc_id") % 10 == 0).toArrow()
    ids = incoming.column("doc_id").to_pylist()
    for k in range(n_batches):
        batch_tbl = incoming.take(
            [i for i, v in enumerate(ids) if v % mod == 10 * k]
        )
        p = os.path.join(staged, f"batch-{k:05d}.parquet")
        _pq.write_table(batch_tbl, p)
        # pin strictly increasing mtimes: the file source orders batches by
        # timestamp, and index growth makes batch order semantic here
        os.utime(p, (1_700_000_000 + 100 * k, 1_700_000_000 + 100 * k))

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .parquet(staged)
    )

    def ingest(batch_df, batch_id: int) -> None:
        _ingest_dedup_batch(
            store, batch_df, num_hashes, bands, threshold, mod, log_by_id,
            index_state=index_state,
        )

    drain(
        spark,
        (
            stream.writeStream.foreachBatch(ingest)
            .trigger(availableNow=True)
            .option(
                "checkpointLocation",
                os.path.join(store.root, f"_checkpoint_dedup_{uuid.uuid4().hex[:8]}"),
            )
        ),
    )
    return sorted(log_by_id.values(), key=lambda r: r["id"])


def _ingest_dedup_batch(
    store, batch_df, num_hashes: int, bands: int, threshold: float,
    mod: int, log_by_id: dict, index_state: dict | None = None,
) -> None:
    """One micro-batch of ``stream_incremental_dedup``, IDEMPOTENT under
    foreachBatch's at-least-once replay (module-level so the replay test can
    run the same batch twice and assert identical state):

    - the index probe view anti-joins out the batch's own ids, so a retry
      that finds its own earlier append never self-matches at est 1.0;
    - the signature append anti-joins out ids already indexed, so a retry
      appends nothing;
    - the verdict log is keyed by doc id, so a retry overwrites its own
      identical rows instead of double-counting.
    On a first (non-replayed) run all three guards are no-ops: batch id
    ranges are disjoint from the corpus and from every other batch.

    ``index_state`` (optional, round-14): the cross-batch probe handle
    ``stream_incremental_dedup`` maintains — ``{"base": <index frame as of
    drain start>, "extra": [appended signature rows], "schema": ...}``,
    with the invariant that base ∪ extra ≡ the store table's content (the
    drain is the table's only writer, and every append lands in ``extra``
    too). With it, the probe plan reuses the checkpointed base leaf
    instead of re-reading the store table, and the already-indexed check
    is pure driver arithmetic (extra ids ∩ batch ids) instead of a third
    union arm scanning the index. Without it (``None`` — e.g. a direct
    replay-test call), the table is re-read and the index-side semi-join
    computes the same set: identical verdicts, identical state."""
    if batch_df.isEmpty():
        return
    from pyspark.sql import Row

    from nimhdfstore_spark.operators.dedup import (
        minhash_buckets, minhash_lsh_incremental,
    )
    from nimhdfstore_spark.tables import local_frame

    tbl = store.table("sig_index")
    if index_state is None:
        raw_index = tbl.df().select("id", "sig", "band", "bucket")
    else:
        raw_index = index_state["base"]
        if index_state["extra"]:
            raw_index = raw_index.unionByName(
                local_frame(
                    batch_df.sparkSession,
                    index_state["extra"],
                    index_state["schema"],
                )
            )
    batch_ids = batch_df.select(F.col("doc_id").alias("id"))
    # broadcast anti: batch_ids is micro-batch-sized, the index is the big
    # side and streams through the probe scan it was doing anyway
    index_df = raw_index.join(F.broadcast(batch_ids), "id", "left_anti")
    # sign the batch EXACTLY once: the same buckets frame serves the
    # index probe and the accepted-signature append
    bb = minhash_buckets(
        batch_df, "doc_id", "text", 3, num_hashes, bands
    ).persist()
    verdicts = minhash_lsh_incremental(
        batch_df, index_df, "doc_id", "text",
        num_hashes=num_hashes, bands=bands, threshold=threshold,
        batch_buckets=bb,
    )
    # ONE fused action per micro-batch (round-13 optimization): the verdict
    # rows, the batch's own signature rows, and (handle-less path only) the
    # ids a replayed batch already indexed are kind-tagged and collected
    # together — previously this was four jobs (verdict collect, new-sig
    # count, rowid base agg, distributed append write). The micro-batch
    # bounds every branch by construction; the corpus-sized index is only
    # SCANNED (probe join + at most one broadcast-semi), never collected.
    fused = verdicts.withColumn("kind", F.lit("v")).unionByName(
        bb.withColumn("kind", F.lit("b")), allowMissingColumns=True
    )
    if index_state is None:
        fused = fused.unionByName(
            raw_index.join(F.broadcast(batch_ids), "id", "left_semi")
            .select("id").distinct().withColumn("kind", F.lit("o")),
            allowMissingColumns=True,
        )
    rows = fused.collect()
    bb.unpersist()
    vrow = Row(
        "id", "batch_no", "is_dup", "n_dup_candidates",
        "best_match_id", "best_est",
    )
    if index_state is None:
        own_already = {r["id"] for r in rows if r["kind"] == "o"}
    else:
        # the verdict arm emits one row per batch doc, so verdict ids ARE
        # the batch ids; already-indexed ⇔ present among the appended rows
        # (base ids are disjoint from every batch by the drain's staging)
        extra_ids = {t[0] for t in index_state["extra"]}
        own_already = {
            r["id"] for r in rows if r["kind"] == "v" and r["id"] in extra_ids
        }
    accepted = set()
    for r in rows:
        if r["kind"] != "v":
            continue
        log_by_id[r["id"]] = vrow(
            r["id"], (r["id"] % mod) // 10, r["is_dup"],
            r["n_dup_candidates"], r["best_match_id"], r["best_est"],
        )
        if r["is_dup"] == 0:
            accepted.add(r["id"])
    # idempotent append: skip ids a replayed batch already indexed
    # (own_already is empty on a first run). Rows sorted by (id, band) —
    # arrival-order enumeration in append() reproduces exactly the
    # with_rowid(["id", "band"]) positions the distributed path assigned.
    new_sigs = sorted(
        (
            (r["id"], r["sig"], r["band"], r["bucket"])
            for r in rows
            if r["kind"] == "b"
            and r["id"] in accepted
            and r["id"] not in own_already
        ),
        key=lambda t: (t[0], t[2]),
    )
    if new_sigs:
        payload = local_frame(batch_df.sparkSession, new_sigs, bb.schema)
        tbl.append(payload, n=len(new_sigs))
        if index_state is not None:
            index_state["extra"].extend(new_sigs)
            index_state["schema"] = bb.schema
