"""spark-submit entry point for the extraction job (north_rule: launched
with ``spark-submit --py-files`` on multi-executor clusters).

Usage::

    zip -r engine.zip pdf_extractor2_spark
    spark-submit --py-files engine.zip \
        pdf_extractor2_spark/plans/submit.py \
        --input  <pages table path / iceberg table> \
        --output <results path> --metrics <metrics path> \
        --run-id run1

On a real cluster the same script runs unchanged; only ``--master`` and
executor sizing move to the spark-submit line.  Resume: re-running with
the same ``--run-id`` skips input files already recorded in the metrics
table (file lineage, ``run_resumable_by_file`` in plans/extract_job.py).
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--metrics", required=True)
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--iceberg", action="store_true",
                    help="treat --input as an Iceberg table name")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from pdf_extractor2_spark.plans.extract_job import run_resumable_by_file
    from pdf_extractor2_spark.session import DEFAULT_ARROW_BATCH_ROWS

    # under spark-submit the session inherits cluster config; we only pin
    # the semantics-critical settings (Arrow batch, worker hash seed, UTC)
    spark = (
        SparkSession.builder.appName(f"pex2-extract-{args.run_id}")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                str(DEFAULT_ARROW_BATCH_ROWS))
        .config("spark.executorEnv.PYTHONHASHSEED", "0")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )

    run_resumable_by_file(
        spark,
        input_path=args.input,
        output_path=args.output,
        metrics_path=args.metrics,
        run_id=args.run_id,
        iceberg=args.iceberg,
    )


if __name__ == "__main__":
    main()
