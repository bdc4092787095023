"""SparkSession factory.

Centralizes every scale-relevant config so tests, the benchmark and the
``spark-submit`` job share one tuning surface:

* AQE on (runtime coalescing + skew handling);
* bounded Arrow batches (``mapInPandas`` always transfers via Arrow):
  ``maxRecordsPerBatch`` plus a byte cap, because the ``html`` payload
  column is binary-heavy — batch memory ≈ batch_rows × avg payload
  (SURVEY.md §4 "Spill/memory");
* ``PYTHONHASHSEED=0`` pinned on python workers so the kernel's
  ``list(set(...))`` orderings match driver-side oracle goldens
  (SURVEY.md §1.4);
* UTC session timezone for deterministic timestamp round-trips.

On a real multi-executor cluster the same builder is used by
``plans/submit.py``; only ``master`` and memory sizing differ.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# round 6: 512 → 2048 rows — A/B'd on the 200k-doc extraction bench
# (13.3 / 11.7 / 14.4s at 512 / 2048 / 8192): larger batches amortize
# the per-batch Python dispatch, 8192 kills transfer/compute
# pipelining (one batch per scan split).  Worst-case batch memory is
# bounded in BYTES by arrow.maxBytesPerBatch below, so a corpus of
# MB-sized payloads can no longer ride the row cap into a huge batch
# (the reason 512 was chosen originally).
DEFAULT_ARROW_BATCH_ROWS = 2048


def default_cores() -> int:
    """Local core count: ``SPARK_GRAFT_CPUS`` if set, else the host's."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)


def get_spark(
    app_name: str = "pdf-extractor2-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cores is None:
        cores = default_cores()
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # round-6 tuning (guide §3.1/§7.2), A/B'd per query at sf0.1 and
        # scale-reasoned — none of these change results, only physical
        # plans:
        # * cached-plan AQE: every _scoped_persist subtree (shingle
        #   pipelines, signature tables, ppx legs) is planned WITHOUT
        #   adaptive execution unless this flag is on — coalescing and
        #   skew handling then apply inside cache materialization too
        #   (training_corpus_filter measured 8.6 -> 6.1s at sf0.1; the
        #   CLAUDE.md "persisting semdedup measured 3x slower" trap was
        #   exactly this missing flag)
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        # * shuffled-hash over sort-merge for equi-joins whose build
        #   side fits a per-partition hash map: skips two sorts per
        #   join (LSH band/self joins, posting-list joins).  The 64 MB
        #   threshold below bounds the build partition only on the AQE
        #   sort-merge → shuffled-hash rewrite (bigger partitions keep
        #   sort-merge and its graceful spill).  With this flag off the
        #   STATIC planner also picks shuffled-hash, from Catalyst size
        #   estimates (build side < autoBroadcastJoinThreshold ×
        #   numShufflePartitions), with no per-partition bound: a
        #   mis-estimated or skewed build partition can run out of
        #   memory where sort-merge would have spilled
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            "67108864",
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(DEFAULT_ARROW_BATCH_ROWS),
        )
        # the BYTE bound (Spark 4) is the real memory guard for
        # binary-heavy payload columns: 16 MB per batch regardless of
        # row count (default 64 MB; html payloads are KB-sized so the
        # row cap binds on normal corpora)
        .config("spark.sql.execution.arrow.maxBytesPerBatch", "16m")
        # the extraction kernel costs ~1 ms per ~4 KB document — CPU per
        # byte is ~10^4x a normal scan, so input splits must be small or
        # a shuffle-free scan→mapInPandas plan starves the executors
        # (128 MB default ⇒ a 190 MB corpus = 3 tasks on 32 cores)
        .config("spark.sql.files.maxPartitionBytes", "8m")
        .config("spark.sql.files.openCostInBytes", "1m")
        .config("spark.executorEnv.PYTHONHASHSEED", "0")
        .config("spark.python.worker.reuse", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("PEX2_DRIVER_MEM", "8g"))
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
