"""Structured Streaming jobs over the events stream.

Net-new capability (the reference is batch-only, SURVEY.md §2.10).
The file source replays the driver's events parquet as micro-batches;
the same `streaming.windows` plans that the batch corpus verifies
against DuckDB run here incrementally with watermarks.

Scale notes:
- `maxFilesPerTrigger` bounds per-batch input — on a real cluster the
  source would be Kafka/files landing continuously; state size is
  bounded by the watermark, not history.
- memory-sink runners are test/debug surfaces; production sinks are
  `writeStream.format("parquet"|"kafka")` with checkpointing.
"""

from __future__ import annotations

import uuid

from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from incubator_impala_spark.session import configure_session
from incubator_impala_spark.sources.tables import normalize_events_ts

# Physical schema of events.parquet under nanosAsLong when the file
# carries TIMESTAMP(NANOS): ts is int64 nanos (the reference's TIMESTAMP
# is nanosecond-resolution, be/src/runtime/timestamp-value.h:45-61;
# Spark is µs — see sources/tables.py for the documented truncation).
# Driver data may instead ship µs-native timestamps; read_events_stream
# adapts to either layout by probing the footer with a batch read.
EVENTS_RAW_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def read_events_stream(spark: SparkSession, events_dir: str,
                       max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream of events; ts normalized to µs timestamp with
    raw int64 nanos kept in ts_ns, exactly like the batch loader.
    The file-source needs an explicit schema: probe it with a driver-side
    batch read (footer-only, no job) and branch on the physical layout."""
    configure_session(spark)
    try:
        schema = spark.read.parquet(events_dir).schema
    except PySparkException:
        # Standard file-stream startup pattern: the directory may be
        # empty (or not yet created) when the stream starts and files
        # arrive later — fall back to the documented raw layout.
        schema = EVENTS_RAW_SCHEMA
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return normalize_events_ts(reader.parquet(events_dir))


def watermarked(events: DataFrame, delay: str = "2 hours") -> DataFrame:
    """Late-data bound: events older than max(ts) - delay are dropped
    and their windows finalized (state eviction at scale)."""
    return events.withWatermark("ts", delay)


def run_available_now(result: DataFrame, output_mode: str = "complete",
                      name: str | None = None) -> DataFrame:
    """Drain all available input in micro-batches into a memory sink;
    return the sink table as a batch DataFrame (test/debug surface)."""
    name = name or f"sink_{uuid.uuid4().hex[:8]}"
    q = (
        result.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return result.sparkSession.sql(f"SELECT * FROM {name}")
