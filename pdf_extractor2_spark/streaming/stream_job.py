"""Structured Streaming face of the extraction pipeline.

The reference is strictly batch (SURVEY.md §2.10) — this face exists for
pipelines that tail a growing pages table.  Shape:

    readStream (file/Iceberg source on the pages schema)
      → the SAME vectorized extraction kernel (mapInPandas)
      → foreachBatch: idempotent per-bucket parquet append + metrics

``foreachBatch`` is used instead of a direct sink so each micro-batch
reuses the batch writer (same bucket partitioning and metrics rollup as
plans/extract_job.py) — one code path for batch and streaming.
``Trigger.AvailableNow`` gives a drain-and-stop run for tests and
backfills; remove it for continuous tailing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..plans.extract_job import (
    RESULT_SCHEMA,
    extraction_kernel,
    metrics_rollup,
    with_bucket,
)

PAGES_DDL = "url string, warc_ts timestamp, html binary, text string, lang string"


def stream_extract(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    metrics_path: str,
    checkpoint_path: str,
    run_id: str = "stream",
    num_buckets: int = 16,
    available_now: bool = True,
):
    """Start the streaming extraction; returns the StreamingQuery."""
    pages = (
        spark.readStream.schema(PAGES_DDL)
        .format("parquet")
        .load(input_path)
        .select("url", "html")
    )
    results = with_bucket(pages, num_buckets).mapInPandas(
        extraction_kernel, RESULT_SCHEMA
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            batch_df.write.mode("append").partitionBy("bucket").parquet(output_path)
            metrics_rollup(batch_df, f"{run_id}-b{batch_id}").write.mode(
                "append"
            ).parquet(metrics_path)
        finally:
            batch_df.unpersist()

    writer = results.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_path
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
