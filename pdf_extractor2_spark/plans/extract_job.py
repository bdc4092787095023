"""Corpus-level extraction pipeline (SURVEY.md §3 "Spark rebuild").

    spark.read.parquet(pages)                      # Iceberg in production
      .select("url", "html")                       # column-pruned scan
      .withColumn("bucket", pmod(xxhash64(url, SALT), P))
      .mapInPandas(extraction_kernel, RESULT_SCHEMA)   # shuffle-free

One Arrow batch in → one result row per document out; per-document
failures become failure *rows*, never task failures (app.py:180-186
analogue).  The metrics side table is a Catalyst-native aggregation over
the result set, one row per bucket (north_rule: per-partition lineage +
success/failure metrics).  The resumable job keys lineage by input
file: its bucket is the file id, and a restart skips the files already
recorded in the metrics table.

Scale notes (100 TB / 10^12 docs):
  * hash(url) with a fixed salt spreads hot hosts across buckets
    deterministically (the salt is a pure function of url —
    restart-stable);
  * the kernel is CPU-bound Python: throughput scales with executor
    cores as long as Arrow batches amortize IPC (maxRecordsPerBatch is
    bounded in session.py because html payloads are KB-sized);
  * each task also pays a fixed Python-worker cost before its first
    batch: the worker's ``importlib.invalidate_caches()`` re-parses
    every zip on its import path (pyspark.zip, the Spark jar, py4j,
    --py-files archives).  The package import installs a guard that
    skips unchanged archives (worker_imports.py), which cut the
    launch-to-first-line gap from 0.20-0.33 s to 0.02-0.04 s per task
    (median, 4-core host); tasks must still be large enough to amortize
    what is left;
  * and after each task a reused worker's daemon runs a full
    ``gc.collect()``, which walks the whole heap: pandas, pyarrow, the
    kernel's lru caches.  The kernel collects once and ``gc.freeze()``s
    once per worker process, in its first task, so the daemon's later
    collections walk only what later tasks allocate: a median 29 ms of
    CPU per task before, 0.33 ms after (4-core host, 1,200 PDFs, 8 tasks
    a pass).  Nothing is frozen per task, so a task's cyclic garbage is
    still collected.  Whether the process has frozen is a module flag,
    an O(1) test: ``gc.get_freeze_count()``, which the guard used to ask
    on every task, counts by walking the whole permanent generation
    (73,252 objects in a perfbench worker: a median 7.7 ms of CPU and
    16 ms of wall time per task over 88 tasks; 2.2 ms of CPU for 73,142
    objects in one process, 4-core host);
  * no driver-side collection anywhere, and no shuffle: the kernel runs
    straight on the scan splits, so the html payload never moves.
"""

from __future__ import annotations

import gc
import json
import time
from typing import Iterable, Iterator

import pandas as pd
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..operators.document import DocumentIR, parse_document, result_with_raw_json
from ..sources.html_extract import extract_html
from ..sources.pdf_reader import extract_pdf

HASH_SALT = 42  # fixed xxhash64 seed: deterministic across restarts
MAX_PAYLOAD_BYTES = 64 * 1024 * 1024  # document-size skew guard (failure row)

RESULT_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("bucket", T.IntegerType(), True),
    T.StructField("success", T.BooleanType(), False),
    T.StructField("error", T.StringType(), True),
    T.StructField("payload_kind", T.StringType(), True),
    T.StructField("main_text", T.StringType(), True),
    T.StructField("spans_json", T.StringType(), True),
    T.StructField("raw_json", T.StringType(), True),
    T.StructField("n_contacts", T.IntegerType(), True),
    T.StructField("n_projects", T.IntegerType(), True),
    T.StructField("n_tenders", T.IntegerType(), True),
    T.StructField("n_tables", T.IntegerType(), True),
    T.StructField("avg_confidence", T.DoubleType(), True),
    T.StructField("methods", T.ArrayType(T.StringType()), True),
    T.StructField("kernel_ms", T.DoubleType(), True),
])

def payload_to_ir(payload: bytes | None) -> tuple[DocumentIR, list[dict], str]:
    """Front-end dispatch: validate, gunzip, then sniff the payload bytes
    and hand them to the PDF or HTML front-end, which builds the kernel IR.

    Returns (ir, spans, payload_kind). Raises on unusable payloads — the
    batch loop converts exceptions into failure rows.
    """
    if payload is None or len(payload) == 0:
        raise ValueError("empty payload")
    if len(payload) > MAX_PAYLOAD_BYTES:
        # one pathological page must not stall a task at 10^12-doc scale
        raise ValueError(f"payload too large ({len(payload)} bytes)")

    if payload[:2] == b"\x1f\x8b":
        # gzip-wrapped payload (common in WARC-derived tables); bounded
        # like FlateDecode — a bomb becomes a failure row
        import zlib

        d = zlib.decompressobj(wbits=31)
        payload = d.decompress(payload, MAX_PAYLOAD_BYTES)
        if d.unconsumed_tail:
            raise ValueError("gzip payload exceeds bound (decompression bomb?)")
        if not d.eof:
            # stream did not terminate cleanly — a truncated gzip payload
            # must become a failure row, not a silently partial document
            raise ValueError("truncated gzip payload")
        if len(payload) == 0:
            raise ValueError("empty gzip payload")

    if payload[:5] == b"%PDF-":
        return (*extract_pdf(payload), "pdf")
    return (*extract_html(payload), "html")


def _extract_one(url: str, payload, bucket) -> dict:
    t0 = time.perf_counter()
    try:
        payload_bytes = bytes(payload) if payload is not None else None
        ir, spans, kind = payload_to_ir(payload_bytes)
        result = parse_document(ir)
        enveloped = result_with_raw_json(result, url)
        return {
            "url": url,
            "bucket": bucket,
            "success": True,
            "error": None,
            "payload_kind": kind,
            "main_text": "\n\f\n".join(ir.page_texts),
            "spans_json": json.dumps(spans, ensure_ascii=False),
            "raw_json": enveloped["raw_json"],
            "n_contacts": result["summary"]["contacts"],
            "n_projects": result["summary"]["projects"],
            "n_tenders": result["summary"]["tenders"],
            "n_tables": result["quality"]["tables_processed"],
            "avg_confidence": result["quality"]["avg_confidence"],
            "methods": result["quality"]["extraction_methods"],
            "kernel_ms": (time.perf_counter() - t0) * 1000.0,
        }
    except Exception as exc:  # failure row, never a task failure
        return {
            "url": url,
            "bucket": bucket,
            "success": False,
            "error": f"{type(exc).__name__}: {exc}"[:500],
            "payload_kind": None,
            "main_text": None,
            "spans_json": None,
            "raw_json": None,
            "n_contacts": 0,
            "n_projects": 0,
            "n_tenders": 0,
            "n_tables": 0,
            "avg_confidence": None,
            "methods": None,
            "kernel_ms": (time.perf_counter() - t0) * 1000.0,
        }


_heap_frozen = False  # set by the process's first _freeze_heap


def _freeze_heap() -> None:
    """Collect, then move every object that survives into the permanent
    generation, once per process: the full collection a reused worker's
    daemon runs after each task then skips them (scale notes above)."""
    global _heap_frozen
    if not _heap_frozen:
        gc.collect()
        gc.freeze()
        _heap_frozen = True


def extraction_kernel(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: Arrow batch of (url, html, bucket) pages →
    batch of result rows.  Every plan that runs it supplies ``bucket``:
    ``run_extract`` and the stream job via ``with_bucket``, the resumable
    job from its file manifest."""
    _freeze_heap()
    for pdf in batches:
        rows = [
            _extract_one(url, payload, bucket)
            for url, payload, bucket in zip(pdf["url"], pdf["html"], pdf["bucket"])
        ]
        yield pd.DataFrame(rows)


def with_bucket(pages: DataFrame, num_buckets: int) -> DataFrame:
    """Deterministic bucket assignment: pmod(xxhash64(url, SALT), P).

    xxhash64 of the full url spreads any single hot host across all
    buckets (url paths differ), which is the salting the north_rule asks
    for; the fixed seed keeps the assignment restart-stable.
    """
    return pages.withColumn(
        "bucket",
        F.pmod(F.xxhash64(F.col("url"), F.lit(HASH_SALT)), F.lit(num_buckets)).cast("int"),
    )


def run_extract(pages: DataFrame, num_buckets: int = 64) -> DataFrame:
    """The extraction plan: prune columns → bucket → vectorized kernel.
    Returns the results DataFrame (lazy).

    Shuffle-free (guide §2.4 "remove shuffles outright"): the kernel
    runs straight on the scan splits, so the html payload is never
    shuffled at all.  The bucket column is still computed
    (deterministic url-hash lineage for consumers that group by it).
    Skew: scan splits are bounded by ``spark.sql.files.maxPartitionBytes``
    (8 MB in session.py), so a corpus yields ≥ tens of splits per GB and
    the pdf/html cost mix balances by LLN within each multi-thousand-doc
    split.  Measured best-of-4 at 200k docs / local[32]: 14.6s vs 16.1s
    with a bucket shuffle — identical results (raw_json_bytes
    invariant)."""
    pruned = pages.select("url", "html")
    return with_bucket(pruned, num_buckets).mapInPandas(extraction_kernel, RESULT_SCHEMA)


def metrics_rollup(results: DataFrame, run_id: str) -> DataFrame:
    """Per-bucket lineage/metrics side table — a Catalyst-native partial+
    final hash aggregation (SURVEY.md §2.5 A3/A4)."""
    return (
        results.groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("success").cast("long")).alias("n_success"),
            F.sum((~F.col("success")).cast("long")).alias("n_failure"),
            F.min("error").alias("first_error"),  # min ignores nulls: lexicographically first error
            F.sum("kernel_ms").alias("kernel_ms"),
        )
        .select(
            F.lit(run_id).alias("run_id"),
            "bucket", "n_docs", "n_success", "n_failure", "first_error", "kernel_ms",
        )
    )


# ---------------------------------------------------------------------------
# resumable job: lineage keyed by input file, restart set from metadata
# ---------------------------------------------------------------------------

def list_input_files_iceberg(spark: SparkSession, table: str) -> list[str]:
    """Input data files from the Iceberg ``files`` snapshot-metadata
    table — the production branch of ``list_input_files``: one metadata
    query (`SELECT file_path FROM <t>.files`), zero data bytes read, and
    the file set is pinned to the current snapshot (consistent resume
    even while writers append).  Requires an Iceberg catalog on the
    session; select it with ``run_resumable_by_file(iceberg=True)``."""
    rows = spark.sql(f"SELECT file_path FROM {table}.files").collect()
    return sorted(r["file_path"] for r in rows)


def list_input_files(spark: SparkSession, input_path: str) -> list[str]:
    """Input data files from storage METADATA (Hadoop FileSystem
    listStatus) — never a row scan.  In production the Iceberg branch
    (``list_input_files_iceberg``) replaces this; the local analogue is
    a directory listing: both are O(#files) metadata operations that
    touch zero data bytes."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(input_path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return sorted(
        st.getPath().toString()
        for st in fs.listStatus(jpath)
        if st.isFile() and st.getPath().getName().endswith(".parquet")
    )


def file_lineage_pages(spark: SparkSession, pending: list[str],
                       manifest: DataFrame) -> DataFrame:
    """Pages of the pending files with their lineage bucket attached via
    a broadcast manifest join — the plan carries NO per-file literals,
    so its size is independent of file count (SURVEY §9: 10^6-10^7 data
    files).  The broadcast hash join keeps the plan shuffle-free."""
    return (
        spark.read.parquet(*pending)
        .select(
            "url", "html",
            F.element_at(F.split(F.input_file_name(), "/"), -1).alias("file_name"),
        )
        .join(F.broadcast(manifest), "file_name")
        .select("url", "html", "bucket")
    )


def run_resumable_by_file(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    metrics_path: str,
    run_id: str,
    iceberg: bool = False,
) -> None:
    """Shuffle-free resumable job: lineage is keyed by *input file*.

    The unit of work is one input parquet file (an Iceberg data file in
    production): the file list comes from snapshot/storage metadata
    (``list_input_files``), the restart set is a set-difference on file
    names — pure metadata — and the extraction plan is scan → broadcast
    manifest join → mapInPandas with NO shuffle at all.  File→bucket ids
    travel as a small manifest DataFrame (at 10^7 files: read the
    Iceberg ``files`` table instead of ``createDataFrame``), never as
    ``create_map`` literals, so plan size is independent of file count.

    Idempotence: results are written under ``bucket=<file_id>/``
    partitions (dynamic overwrite), so re-running a half-finished file
    replaces only that file's partition.

    ``iceberg=True``: ``input_path`` is an Iceberg table name, and the
    file list comes from that table's ``files`` snapshot-metadata table
    instead of a filesystem listing (the production face — the parquet
    listing is the sandbox stand-in, same O(#files) metadata contract).
    """
    import posixpath

    if iceberg:
        all_files = list_input_files_iceberg(spark, input_path)
    else:
        all_files = list_input_files(spark, input_path)
    file_ids = {posixpath.basename(p): i for i, p in enumerate(all_files)}

    completed: set[str] = set()
    try:
        prior = spark.read.parquet(metrics_path).where(F.col("run_id") == run_id)
        completed = {r["file_name"] for r in prior.select("file_name").collect()}
    except AnalysisException as e:
        # only "no metrics yet" (a missing path, or a directory with no
        # parquet file) means nothing completed; any other read failure
        # must stop the run, or it would re-extract every file and append
        # a second metrics row per file for this run_id
        if e.getCondition() not in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
            raise

    pending = [p for p in all_files if posixpath.basename(p) not in completed]
    if not pending:
        return

    manifest = spark.createDataFrame(
        [(n, i) for n, i in file_ids.items() if n not in completed],
        "file_name string, bucket int",
    )

    results = file_lineage_pages(spark, pending, manifest).mapInPandas(
        extraction_kernel, RESULT_SCHEMA
    )

    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    results.write.mode("overwrite").partitionBy("bucket").parquet(output_path)

    # metrics only for the buckets finished this run: the manifest join is
    # simultaneously the pending filter and the bucket→file_name mapping
    done = spark.read.parquet(output_path).join(
        F.broadcast(manifest.select("bucket")), "bucket"
    )
    metrics_rollup(done, run_id).join(F.broadcast(manifest), "bucket").select(
        "run_id", "bucket", "n_docs", "n_success", "n_failure",
        "first_error", "kernel_ms", "file_name",
    ).write.mode("append").parquet(metrics_path)
