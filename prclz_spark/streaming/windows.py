"""Structured Streaming windowed aggregation over the events table.

The reference is purely batch (SURVEY.md §2.8); this is the streaming
façade's analytical face: the same hourly rollup the batch contract
computes (evt_window_agg), expressed as a ``readStream`` → watermarked
event-time window → ``availableNow`` micro-batch into a memory sink.
Because ``availableNow`` drains everything currently on disk, the
streaming result must equal the batch result row-for-row — which is
exactly what the DuckDB oracle checks.

At production scale the memory sink becomes a partitioned table sink and
the trigger a continuous schedule; watermark + append mode then bound
state: closed windows are emitted and dropped from the state store, so
state size is O(active windows), independent of stream length.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _hourly_agg(stream: DataFrame, watermark: str) -> DataFrame:
    """Watermarked hourly (window, event_type) rollup."""
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(
            F.window(F.col("ts"), "1 hour").alias("w"),
            F.col("event_type"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("hour_bucket"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def stream_hourly_rollup(
    spark: SparkSession,
    events_path: str,
    watermark: str = "2 hours",
) -> DataFrame:
    """Hourly (window, event_type) rollup of an events parquet location as
    ONE availableNow micro-batch drain; returns the materialized result.

    outputMode('complete') is used so the final (still-open) hour is
    emitted too — with append mode the watermark would hold it back and
    the drain of a static fixture would under-report the last window; the
    watermark is still declared because it is what bounds state in a
    long-running deployment of the same query."""
    schema = spark.read.parquet(events_path).schema
    # parquet timestamps arrive as TIMESTAMP_NTZ; event-time watermarks
    # require TIMESTAMP (the session-zoned type) — cast in _hourly_agg
    stream = spark.readStream.schema(schema).parquet(events_path)
    agg = _hourly_agg(stream, watermark)
    name = f"evt_stream_{uuid.uuid4().hex[:12]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)
