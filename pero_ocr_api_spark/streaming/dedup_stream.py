"""Streaming exact deduplication of incoming documents: first-seen
wins, duplicate arrivals within the watermark horizon are dropped by
native stateful ``dropDuplicatesWithinWatermark`` (no foreachBatch, no
custom state).

Scale story: state is ONE key (the 128-bit content hash) per distinct
document seen within the watermark horizon, evicted once event time
passes the watermark — bounded regardless of stream length, unlike a
plain ``dropDuplicates`` whose state grows forever.  The content hash
is computed JVM-side (md5 of the text plane), so the stream never
crosses into Python.

The batch twin is ``dropDuplicates`` on the same content hash over the
whole input.  Output equality with it over the same (in-horizon)
input is asserted in tests/test_streaming.py.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType, TimestampType

DEDUP_INPUT_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("text", StringType()),
        StructField("ingest_ts", TimestampType()),
    ]
)


def streaming_dedup(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    watermark: str = "10 minutes",
):
    """Drain available document files (availableNow), appending only
    first-seen content to ``output_dir``; duplicates arriving within
    ``watermark`` of event time are dropped, including across separate
    drains (state lives in ``checkpoint_dir``)."""
    stream = (
        spark.readStream.schema(DEDUP_INPUT_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(input_dir)
    )
    deduped = (
        stream.withColumn("content_hash", F.md5("text"))
        .withWatermark("ingest_ts", watermark)
        .dropDuplicatesWithinWatermark(["content_hash"])
    )
    query = (
        deduped.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query
