"""Structured Streaming surface (SURVEY.md §3.6: streaming is NOT in
the north rule — batch engine — but the corpus-ingest path benefits
from an incremental variant, so the windowed-aggregation operator is
provided in both batch and streaming forms with identical semantics).

``windowed_event_agg`` (batch) is the oracle-checked operator; the
streaming twin runs the same plan over ``readStream`` with a watermark
and is asserted equal to the batch result in tests via the
``availableNow`` trigger (file source, exactly-once per epoch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

WINDOW_S = 300
WATERMARK = "10 minutes"  # streaming twin's event-time lateness bound


def windowed_event_agg(events: DataFrame) -> DataFrame:
    """5-minute tumbling-window counts+sums per event_type.  The window
    key is epoch-bucket arithmetic (dialect-neutral for the oracle);
    ``F.window`` produces the identical bucketing for the streaming
    twin."""
    bucket = F.floor(F.unix_timestamp("ts") / F.lit(WINDOW_S)).cast("bigint")
    return (events
            .withColumn("win", bucket)
            .groupBy("win", "event_type")
            .agg(F.count("*").alias("n_events"),
                 F.round(F.sum("value"), 6).alias("sum_value")))


WINDOWED_EVENT_AGG_SQL = f"""
SELECT cast(floor(epoch(ts) / {WINDOW_S}.0e0) as bigint) AS win,
       event_type, count(*) AS n_events,
       round(sum(value), 6) AS sum_value
FROM events GROUP BY 1, 2
"""


def windowed_event_agg_streaming(spark: SparkSession, parquet_path: str,
                                 checkpoint_dir: str) -> DataFrame:
    """Streaming twin: file source → watermark → tumbling window.
    Returns the streaming DataFrame; callers attach writeStream with
    ``trigger(availableNow=True)`` for batch-equivalent runs."""
    batch_schema = spark.read.parquet(parquet_path).schema
    stream = (spark.readStream.schema(batch_schema).parquet(parquet_path)
              # parquet NTZ → TIMESTAMP (session TZ is pinned UTC);
              # watermarks require the instant type
              .withColumn("ts", F.col("ts").cast("timestamp"))
              .withWatermark("ts", WATERMARK))
    win = F.window("ts", f"{WINDOW_S} seconds")
    return (stream
            .groupBy(win, "event_type")
            .agg(F.count("*").alias("n_events"),
                 F.round(F.sum("value"), 6).alias("sum_value"))
            .select(
                F.floor(F.unix_timestamp(F.col("window.start")) / WINDOW_S)
                .cast("bigint").alias("win"),
                "event_type", "n_events", "sum_value"))
