"""Dump ``explain("formatted")`` for every benched query to
``plans/r06/<query>_<tag>.txt``, a git-ignored directory (guide §1:
capture the plan shape — Exchange count, join strategy,
PushedFilters/ReadSchema, codegen spans — before and after each
optimization).

Usage: PYTHONHASHSEED=0 python BENCH/dump_plans.py <tag> [query ...]
  tag      'before' or 'after' (file suffix)
  query    optional subset; default = every query in bench.GENERIC_QUERIES
           plus extract_pipeline
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
import __spark_entry__ as em  # noqa: E402
from pdf_extractor2_spark.session import get_spark  # noqa: E402


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    subset = sys.argv[2:] or bench.GENERIC_QUERIES + ["extract_pipeline"]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", "r06",
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="pex2-plan-dump")
    queries = em.queries()
    for name in subset:
        spark.sparkContext.setJobDescription(f"plan-dump: {name}")
        df = queries[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")


if __name__ == "__main__":
    main()
