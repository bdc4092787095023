"""Benchmark harness.

Default mode (what the driver runs per round): times the headline
extraction pipeline over a deterministic synthetic pages corpus plus the
generic operator queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]``, and prints ONE
JSON line::

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {...per-query sec...}, "sf": ..., "extraction": {...}}

Scaling mode (``--scaling``): runs the *identical* extraction job at two
parallelism levels (local[8] vs local[32]) in separate JVMs — the
sandbox stand-in for the N vs 4N executor criterion (BASELINE.md) — and
prints throughput at both plus the scaling efficiency.

Methodology:
  * the corpus is generated once (distributed) and cached as parquet in
    /tmp keyed by (n, seed), so the timed section measures extraction,
    not data generation;
  * one small warmup job spawns the Python workers and compiles the
    plan before the timed run (steady-state throughput, matching a
    long-running cluster job);
  * the extraction action is forced with an aggregate over raw_json
    lengths — every kernel output byte is materialized, nothing is
    collected to the driver.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pdf_extractor2_spark.session import default_cores, get_spark  # noqa: E402

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
DEFAULT_CPUS = default_cores()
BENCH_DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "200000"))
SCALING_DOCS = int(os.environ.get("SPARK_GRAFT_SCALING_DOCS", "800000"))
CACHE_ROOT = "/tmp/pex2_bench_cache"

GENERIC_QUERIES = [
    "pricing_summary",
    "revenue_by_nation",
    "parts_by_brand",
    "top_orders_per_customer",
    "sessionize_events",
    # round-4 consolidated rows (doc_profile fuses the 7 per-doc text
    # ops; top_tokens now carries global + per-lang heavy hitters)
    "doc_profile",
    "top_tokens",
    "dedup_exact",
    "dedup_jaccard_pairs",
    "dedup_minhash_lsh",
    "simhash",
    # round-4: every multi-join dedup/ANN query benched (VERDICT r3 #7)
    "dedup_groups",
    "training_corpus_filter",
    "ann_knn_join",
    "ann_ivf",
    "dedup_embedding_cosine",
    "ann_cosine_topk",
    "duplicate_span_stats",
    "token_budget_sample",
    # web-corpus management additions
    "latest_page_version",
    "pii_stats",
    "benchmark_contamination",
    "crawl_corpus_snapshot",
    "snapshot_diff",
    "url_normalize",
    "host_profile",
]


CORPUS_VERSION = "v2"  # bump when sources/corpus.py rendering changes


def _corpus_path(n: int, seed: int) -> str:
    return f"{CACHE_ROOT}/pages_{CORPUS_VERSION}_n{n}_s{seed}.parquet"


def ensure_corpus(spark, n: int, seed: int = 42) -> str:
    path = _corpus_path(n, seed)
    marker = f"{path}/_SUCCESS"
    if not os.path.exists(marker):
        from pdf_extractor2_spark.sources.corpus import corpus_df

        parts = max(64, n // 4000)
        (
            corpus_df(spark, n, seed=seed, pdf_share=0.2, num_partitions=parts)
            .write.mode("overwrite")
            .option("compression", "zstd")
            .parquet(path)
        )
    return path


def run_extraction_bench(spark, n_docs: int, num_buckets: int) -> dict:
    from pyspark.sql import functions as F

    from pdf_extractor2_spark.plans.extract_job import run_extract

    path = ensure_corpus(spark, n_docs)
    pages = spark.read.parquet(path)

    # warmup: spawn python workers, JIT the plan, prime the page cache
    run_extract(pages.limit(512), num_buckets=8).agg(
        F.count("*")
    ).collect()

    # the bucket repartition costs little locally and evens out input-split
    # imbalance, so the timed plan is the hash-lineage production shape;
    # best-of-N repeats damp single-box noise (±15-35% observed between
    # runs on this VM) — default 3 so driver-recorded rounds are never
    # single-sample (BENCH/BASELINE.md methodology)
    best = None
    repeats = int(os.environ.get("PEX2_BENCH_REPEATS", "3"))
    for _ in range(repeats):
        t0 = time.perf_counter()
        agg = (
            run_extract(pages, num_buckets=num_buckets)
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("success").cast("long")).alias("ok"),
                F.sum(F.length("raw_json")).alias("bytes_out"),
                F.sum("n_contacts").alias("contacts"),
            )
            .collect()[0]
        )
        wall = time.perf_counter() - t0
        assert agg["n"] == n_docs, (agg["n"], n_docs)
        if best is None or wall < best:
            best = wall
    return {
        "n_docs": n_docs,
        "wall_sec": round(best, 3),
        "docs_per_sec": round(n_docs / best, 1),
        "n_success": agg["ok"],
        "raw_json_bytes": int(agg["bytes_out"] or 0),
        "sum_contacts": int(agg["contacts"] or 0),
        "repeats": repeats,
    }


def run_generic_queries(spark, sf_dir: str) -> dict:
    import __spark_entry__ as em

    timings: dict[str, float] = {}
    queries = em.queries()
    repeats = int(os.environ.get("PEX2_BENCH_REPEATS", "3"))
    for name in GENERIC_QUERIES:
        fn = queries[name]
        fn(spark, sf_dir).count()  # warm (plan compile + IO cache)
        best = None
        for _ in range(repeats):  # best-of-N: ±15-35% VM window noise
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            wall = time.perf_counter() - t0
            if best is None or wall < best:
                best = wall
        timings[name] = round(best, 3)
    return timings


def main_single(cores: int, sf_dir: str, n_docs: int, extract_only: bool) -> dict:
    # honest N-vs-4N evidence: bound this process (JVM + python workers
    # inherit the mask) to exactly `cores` physical CPUs, modelling an
    # N-core cluster — otherwise a local[8] JVM's task threads plus its
    # 8 python workers spread over ~16 cores of the 32-core host and
    # inflate the small-cluster baseline
    if os.environ.get("PEX2_CPU_AFFINITY") == "1":
        os.sched_setaffinity(0, set(range(cores)))

    spark = get_spark(
        app_name=f"pex2-bench-{cores}", cores=cores,
        shuffle_partitions=max(cores, 16),
    )
    # 4 buckets per core: bounds tail skew (PDF docs cost ~1.6x HTML docs)
    extraction = run_extraction_bench(spark, n_docs, num_buckets=max(cores * 4, 32))
    queries = {} if extract_only else run_generic_queries(spark, sf_dir)
    queries["extract_pipeline"] = extraction["wall_sec"]
    total = round(sum(queries.values()), 3)
    return {
        "metric": "headline suite wall time (extraction + generic operators)",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "sf": sf_dir,
        "cores": cores,
        "extraction": extraction,
    }


def main_scaling(n_docs: int, pair: tuple[int, int] = (8, 32)) -> dict:
    """Identical job, two parallelism levels (N and 4N cores), separate
    JVMs, each pinned to its CPU set."""
    lo, hi = pair
    assert hi == 4 * lo, "the gate is defined for N -> 4N"
    results = {}
    for cores in (lo, hi):
        env = dict(
            os.environ,
            PYTHONHASHSEED="0",
            SPARK_GRAFT_BENCH_DOCS=str(n_docs),
            PEX2_CPU_AFFINITY="1",
        )
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--cores", str(cores),
             "--extract-only", "--docs", str(n_docs)],
            capture_output=True, text=True, env=env, check=True,
            cwd=os.path.dirname(os.path.abspath(__file__)),
        )
        results[cores] = json.loads(proc.stdout.strip().splitlines()[-1])
    tp_lo = results[lo]["extraction"]["docs_per_sec"]
    tp_hi = results[hi]["extraction"]["docs_per_sec"]
    eff = round((tp_hi / tp_lo) / 4.0, 3)
    return {
        "metric": f"scaling efficiency local[{lo}] -> local[{hi}] (N -> 4N)",
        "value": eff,
        "unit": "ratio",
        "n_docs": n_docs,
        f"docs_per_sec_{lo}": tp_lo,
        f"docs_per_sec_{hi}": tp_hi,
        f"wall_sec_{lo}": results[lo]["extraction"]["wall_sec"],
        f"wall_sec_{hi}": results[hi]["extraction"]["wall_sec"],
        "gate": "efficiency >= 0.8",
        "pass": eff >= 0.8,
    }


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, default=DEFAULT_CPUS)
    ap.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    ap.add_argument("--docs", type=int, default=BENCH_DOCS)
    ap.add_argument("--extract-only", action="store_true")
    ap.add_argument("--scaling", action="store_true")
    ap.add_argument("--scale-n", type=int, default=8,
                    help="N for the N -> 4N scaling pair")
    args = ap.parse_args()

    os.environ.setdefault("PYTHONHASHSEED", "0")
    if args.scaling:
        out = main_scaling(
            args.docs if args.docs != BENCH_DOCS else SCALING_DOCS,
            pair=(args.scale_n, args.scale_n * 4),
        )
    else:
        out = main_single(args.cores, args.sf_dir, args.docs, args.extract_only)
    print(json.dumps(out))
