"""Streaming windowed aggregation (M3/M4 extension surface).

Batch-equivalence is the test contract: the streaming tumbling-window
aggregate over a static parquet directory, driven to completion with
``processAllAvailable``, must equal the batch
``windows.tumbling_window_agg`` over the same rows — which is exactly
what Structured Streaming's incremental execution model guarantees.
"""

from __future__ import annotations

import functools
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from s3_elasticsearch_data_pipeline_spark import storage
from s3_elasticsearch_data_pipeline_spark.session import scoped_conf


def _nanos_scoped(fn):
    """Enable ``nanosAsLong`` (events.ts may be parquet
    TIMESTAMP(NANOS), which Spark otherwise rejects) for the duration
    of a SELF-DRAINING streaming function, then restore the caller's
    prior value: every decorated function runs its query to completion
    against a memory sink inside the call, so nothing reads parquet
    under this conf after it returns — and a library must not silently
    change the session's timestamp semantics for unrelated later
    reads."""

    @functools.wraps(fn)
    def wrapper(spark, *args, **kwargs):
        with scoped_conf(spark, "spark.sql.legacy.parquet.nanosAsLong",
                         "true"):
            return fn(spark, *args, **kwargs)
    return wrapper


def _with_utc_ts(stream: DataFrame, static_schema) -> DataFrame:
    """Normalize ``ts`` to a µs TimestampType regardless of how the
    generator wrote it: long nanos (legacy ``nanosAsLong`` read) get
    the ns→µs integer-div conversion; native TIMESTAMP_NTZ is cast
    wall-clock-preserving (session tz pinned to UTC, session.py)."""
    kind = dict((f.name, f.dataType.simpleString())
                for f in static_schema.fields).get("ts")
    if kind == "bigint":
        return stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")))
    if kind == "timestamp_ntz":
        return stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


@_nanos_scoped
def stream_tumbling_agg(spark: SparkSession, events_path: str,
                        minutes: int = 60,
                        watermark: str = "2 hours") -> DataFrame:
    """Run a tumbling-window count/sum aggregate over the events table
    as a bounded stream (memory sink, drained synchronously), returning
    the final result as a DataFrame.

    At scale the same plan runs unbounded: the watermark bounds state
    (windows older than it are finalized and evicted), and the memory
    sink becomes a real sink with ``Trigger.AvailableNow`` checkpoints.
    """
    agg = (_file_stream(spark, events_path)
           .withWatermark("ts", watermark)
           .groupBy(F.window("ts", f"{minutes} minutes").alias("w"),
                    F.col("event_type"))
           .agg(F.count(F.lit(1)).alias("n"),
                F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
                 .cast("double").alias("total_value")))
    name = f"stream_tumbling_{uuid.uuid4().hex[:8]}"
    q = (agg.writeStream.outputMode("complete")
         .format("memory").queryName(name).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return (spark.table(name)
            .select(F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"),
                    "event_type", "n", "total_value"))


@_nanos_scoped
def stream_session_agg(spark: SparkSession, events_path: str,
                       gap_minutes: int = 30,
                       watermark: str = "24 hours") -> DataFrame:
    """Session-window streaming aggregate: ``F.session_window`` merges
    events of a user closer than ``gap`` into one session (state-store
    backed; the watermark bounds open-session state at scale).

    Equivalent batch semantics: the lag-gap sessionization
    (operators.windows.sessionize) with the same gap — which is the
    SQL oracle the driver checks."""
    agg = (_file_stream(spark, events_path)
           .withWatermark("ts", watermark)
           .groupBy(F.session_window("ts", f"{gap_minutes} minutes")
                    .alias("w"),
                    F.col("user_id"))
           .agg(F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
                 .cast("double").alias("session_value")))
    name = f"stream_session_{uuid.uuid4().hex[:8]}"
    q = (agg.writeStream.outputMode("complete")
         .format("memory").queryName(name).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return (spark.table(name)
            .select("user_id",
                    F.col("w.start").alias("session_start"),
                    "n_events", "session_value"))


def _file_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream over a parquet table, with the schema of its
    batch read and ``ts`` normalized (see :func:`_with_utc_ts`). The
    file source wants a directory or glob, so a single-file table is
    read through an exact-match glob."""
    static = spark.read.parquet(path)
    stream = (spark.readStream.schema(static.schema).format("parquet")
              .load(path if storage.is_dir(spark, path) else path + "*"))
    return _with_utc_ts(stream, static.schema)


def _drain(df: DataFrame, prefix: str, output_mode: str) -> DataFrame:
    name = f"{prefix}_{uuid.uuid4().hex[:8]}"
    q = (df.writeStream.outputMode(output_mode)
         .format("memory").queryName(name).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return df.sparkSession.table(name)


@_nanos_scoped
def stream_dedup_events(spark: SparkSession, events_path: str,
                        watermark: str = "24 hours") -> DataFrame:
    """Streaming exact deduplication: the event stream unioned with
    itself (guaranteed duplicates) deduplicated by key with
    ``dropDuplicatesWithinWatermark`` — the streaming face of exact
    dedup. State holds one compact key per event inside the watermark
    horizon and is evicted past it, which is what keeps this runnable
    forever on an unbounded 100 TB/day feed (a plain dropDuplicates
    would accumulate state without bound)."""
    doubled = _file_stream(spark, events_path).unionByName(
        _file_stream(spark, events_path))
    deduped = (doubled
               .withWatermark("ts", watermark)
               .dropDuplicatesWithinWatermark(["event_id"])
               .select("event_id", "event_type",
                       F.round("value", 2).alias("value")))
    return _drain(deduped, "stream_dedup", "append")


@_nanos_scoped
def stream_stream_purchase_attribution(spark: SparkSession,
                                       events_path: str,
                                       horizon_minutes: int = 60
                                       ) -> DataFrame:
    """Watermarked stream-stream inner join: attribute each purchase
    to the same user's click events in the preceding hour. The
    time-range predicate plus both-side watermarks let the state store
    evict rows once the horizon passes — the unbounded-safe form of
    funnel attribution."""
    clicks = (_file_stream(spark, events_path)
              .where(F.col("event_type") == "click")
              .select(F.col("event_id").alias("click_id"),
                      F.col("user_id").alias("click_user"),
                      F.col("ts").alias("click_ts"))
              .withWatermark("click_ts", "2 hours"))
    purchases = (_file_stream(spark, events_path)
                 .where(F.col("event_type") == "purchase")
                 .select(F.col("event_id").alias("purchase_id"),
                         "user_id", F.col("ts").alias("purchase_ts"))
                 .withWatermark("purchase_ts", "2 hours"))
    joined = (purchases.join(
        clicks,
        (F.col("user_id") == F.col("click_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts")
           - F.expr(f"INTERVAL {horizon_minutes} MINUTES")))
        .select("purchase_id", "user_id", "purchase_ts", "click_id",
                "click_ts"))
    return _drain(joined, "stream_attr", "append")


@_nanos_scoped
def stream_sliding_agg(spark: SparkSession, events_path: str,
                       width_minutes: int = 60, slide_minutes: int = 30,
                       watermark: str = "2 hours") -> DataFrame:
    """Sliding-window streaming aggregate (width > slide ⇒ each event
    lands in width/slide windows). Same bounded-drain harness as the
    tumbling variant; at scale the watermark evicts expired windows so
    state stays proportional to the active window count, not history.
    """
    agg = (_file_stream(spark, events_path)
           .withWatermark("ts", watermark)
           .groupBy(F.window("ts", f"{width_minutes} minutes",
                             f"{slide_minutes} minutes").alias("w"),
                    F.col("event_type"))
           .agg(F.count(F.lit(1)).alias("n"),
                F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
                 .cast("double").alias("total_value")))
    name = f"stream_sliding_{uuid.uuid4().hex[:8]}"
    q = (agg.writeStream.outputMode("complete")
         .format("memory").queryName(name).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return (spark.table(name)
            .select(F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"),
                    "event_type", "n", "total_value"))


@_nanos_scoped
def stream_static_enrich(spark: SparkSession, events_path: str,
                         dim: DataFrame,
                         join_expr=None) -> DataFrame:
    """Stream-static enrichment join: the unbounded event stream joined
    to a bounded dimension table, then aggregated per dimension
    attribute.

    This is the serving-layer shape the reference builds by denorm-ing
    at load time (every ES doc carries its dimension fields,
    ``data-s3-elastic-transfer.py:154-186``); Spark instead joins at
    query time. The static side is broadcast — stateless, replayed
    against every micro-batch — so NO stream state is held for the join
    itself (unlike stream-stream joins); only the downstream aggregate
    keeps state, bounded by the dimension's attribute cardinality.
    At 100 TB/day the same plan holds as long as the dim fits the
    broadcast budget; a big dim instead pre-buckets both sides.
    """
    stream = _file_stream(spark, events_path)
    if join_expr is None:
        join_expr = stream["user_id"] == dim["c_custkey"]
    enriched = stream.join(F.broadcast(dim), join_expr)
    agg = (enriched
           .groupBy(F.col("c_mktsegment").alias("segment"))
           .agg(F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
                 .cast("double").alias("total_value")))
    return _drain(agg, "stream_enrich", "complete")


@_nanos_scoped
def stream_ohlc(spark: SparkSession, events_path: str,
                watermark: str = "4 hours") -> DataFrame:
    """Streaming per-user hourly OHLC: the batch resample
    (temporal.ohlc_downsample) as an incremental tumbling-window
    aggregate — open/close via min_by/max_by under the total
    (ts, event_id) order, so late-arriving rows within the watermark
    still converge to the batch answer.

    Batch equivalence is the contract: drained to completion, the
    result equals the batch dual-window form — windows are unavailable
    under streaming, but an order-picking aggregate is, and both
    select the same deterministic endpoints.
    """
    stream = _file_stream(spark, events_path)
    order = F.struct("ts", "event_id")
    agg = (stream
           .withWatermark("ts", watermark)
           .groupBy(F.col("user_id"),
                    F.window("ts", "60 minutes").alias("w"))
           .agg(F.min_by("value", order).alias("open"),
                F.max("value").alias("high"),
                F.min("value").alias("low"),
                F.max_by("value", order).alias("close"),
                F.count(F.lit(1)).alias("n_events")))
    name = f"stream_ohlc_{uuid.uuid4().hex[:8]}"
    q = (agg.writeStream.outputMode("complete")
         .format("memory").queryName(name).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return (spark.table(name)
            .select("user_id", F.col("w.start").alias("bucket"),
                    "open", "high", "low", "close", "n_events"))


def stream_wordcount_topk(spark: SparkSession, documents_path: str,
                          k: int = 25) -> DataFrame:
    """The canonical structured-streaming wordcount, bounded: documents
    stream in as files, tokens explode, counts accumulate in complete
    mode, and the top-k vocabulary head (with doc frequency) is read
    from the result table after draining. Oracle = the batch
    vocabulary head over the same corpus — streaming incremental
    execution must converge to it exactly.
    """
    stream = _file_stream(spark, documents_path)
    toks = stream.select(
        "doc_id",
        F.explode(F.filter(F.split(F.col("text"), r"\s+"),
                           lambda t: t != "")).alias("term"))
    counts = (toks.groupBy("term")
              .agg(F.count(F.lit(1)).alias("n_occurrences"),
                   F.approx_count_distinct("doc_id").alias("_approx_df")))
    name = f"stream_wc_{uuid.uuid4().hex[:8]}"
    q = (counts.writeStream.outputMode("complete")
         .format("memory").queryName(name).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # exact doc_freq can't stream without per-(term,doc) state; join the
    # drained exact counts with a batch doc-frequency pass for parity
    df_tbl = (spark.read.parquet(documents_path)
              .select("doc_id",
                      F.explode(F.array_distinct(
                          F.filter(F.split(F.col("text"), r"\s+"),
                                   lambda t: t != ""))).alias("term"))
              .groupBy("term")
              .agg(F.count(F.lit(1)).alias("doc_freq")))
    return (spark.table(name).select("term", "n_occurrences")
            .join(df_tbl, "term")
            .orderBy(F.col("n_occurrences").desc(), "term")
            .limit(k))
