"""Structured Streaming variant of the extraction pipeline.

The reference is a polling pull-queue (client polls every 10 s,
/root/reference/processing_client/run_client.py:244; daemon every 600 s,
/root/reference/processing_client/processing_deamon.py:46,64).  The
Spark-native equivalent is a file-source stream with
``trigger(availableNow=True)``: each invocation drains whatever new
document files have arrived, exactly once, then stops — no polling loop,
no redelivery sweep (Spark's checkpoint + write-ahead offsets replace the
60 s PROCESSING-timeout re-queue of /root/reference/app/__init__.py:71-119).

A document arrives whole (one row with all its spans), so a
micro-batch already holds every span of its documents.  The plan's one
``groupBy(doc_id)`` (reading order, score, status) has no event time,
so as a streaming aggregation it could not emit in append mode and
would keep state for every document ever seen.  The pipeline therefore
runs inside ``foreachBatch`` — each micro-batch is a bounded DataFrame
processed by the SAME batch plan (plans/pipeline.extract), and its
per-document ``results`` (doc_id, score, status, spans[]) land under
``results/batch_id=N`` in ONE write action, the one-table layout of
the checkpointed extractor.  ``pipeline.result_spans`` and
``result_docs`` read the spans and docs back from that table.  Output
equality with the pure batch run is asserted in
tests/test_streaming.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..plans.pipeline import DOCUMENTS_SCHEMA, extract


def incremental_extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    salt_partitions: int | None = None,
):
    """Drain all currently-available document parquet files through the
    extraction pipeline exactly once (availableNow) and write each
    micro-batch's per-document results under ``output_dir/results``.
    Re-invoking later processes only files that arrived since (offsets
    tracked in ``checkpoint_dir``)."""
    stream = (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(input_dir)
    )

    results_out = os.path.join(output_dir, "results")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        res = extract(
            batch_df.sparkSession,
            batch_df,
            salt_partitions=salt_partitions,
            with_metrics=False,
        )
        # batch-scoped overwrite: a retried micro-batch (crash between
        # the parquet write and the checkpoint commit) rewrites its own
        # batch_id directory instead of appending duplicates; batch_id
        # surfaces as a partition column on read
        res.results.write.mode("overwrite").parquet(
            os.path.join(results_out, f"batch_id={batch_id}")
        )

    query = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query
