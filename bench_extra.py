"""Extra (non-driver) benchmarks for the optimization rounds.

Separate from the FROZEN ``bench.py`` (guide §1.4): this harness
isolates where a query's wall time goes —

* ``construct`` — building the DataFrame (Catalyst analysis + any eager
  jobs a query runs at plan-construction time, e.g.
  ``training_corpus_filter``'s staged materialization);
* ``noop`` — ``df.write.format("noop")`` over the constructed frame
  (computes EVERY column; ``bench.py`` times ``.count()``, which lets
  the optimizer prune, so both are recorded);
* ``count`` — the driver-methodology action, for apples-to-apples with
  ``bench.py`` numbers.

Usage: PYTHONHASHSEED=0 python bench_extra.py [query ...]
Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, PEX2_BENCH_REPEATS (default 3).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as em  # noqa: E402
from bench import GENERIC_QUERIES  # noqa: E402
from pdf_extractor2_spark.session import default_cores, get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = default_cores()
REPEATS = int(os.environ.get("PEX2_BENCH_REPEATS", "3"))


def time_query(spark, name, fn) -> dict:
    out = {"construct": [], "noop": [], "count": []}
    sc = spark.sparkContext
    # warm once (plan compile + IO cache), same as bench.py
    fn(spark, SF_DIR).count()
    for _ in range(REPEATS):
        sc.setJobDescription(f"{name}: construct")
        t0 = time.perf_counter()
        df = fn(spark, SF_DIR)
        out["construct"].append(round(time.perf_counter() - t0, 3))
        sc.setJobDescription(f"{name}: noop")
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        out["noop"].append(round(time.perf_counter() - t0, 3))
        sc.setJobDescription(f"{name}: count")
        t0 = time.perf_counter()
        fn(spark, SF_DIR).count()
        out["count"].append(round(time.perf_counter() - t0, 3))
        sc.setJobDescription(None)
    return {k: min(v) for k, v in out.items()} | {"samples": out}


def main() -> None:
    subset = sys.argv[1:] or GENERIC_QUERIES
    spark = get_spark(app_name="pex2-bench-extra", cores=CPUS,
                      shuffle_partitions=max(CPUS, 16))
    queries = em.queries()
    results = {}
    for name in subset:
        results[name] = time_query(spark, name, queries[name])
        print(json.dumps({name: results[name]}), flush=True)
    print(json.dumps({
        "metric": "bench_extra construct/noop/count (best-of-%d)" % REPEATS,
        "sf": SF_DIR, "cores": CPUS,
        "results": {k: {kk: vv for kk, vv in v.items() if kk != "samples"}
                    for k, v in results.items()},
    }))


if __name__ == "__main__":
    main()
