"""Dump every graded row's static plan and oracle text into
``plans/<tag>/``, a git-ignored directory: ``<query>.txt`` holds
``explain("formatted")`` with adaptive execution off, the ``#NNN``
expression ids (and ``plan_id=NNN`` exchange ids) numbered from zero and
the checkout's own path (the IVF index lives under it) as ``<repo>``;
``<query>.sql`` holds the row's ``oracle_sql()`` text.  A change that
claims "same plans, same SQL" shows it as one ``diff -r plans/before
plans/after`` between dumps of the two trees on the same data.

Usage: PYTHONHASHSEED=0 python BENCH/dump_plans.py <tag> [query ...]
  tag      directory name under plans/, e.g. 'before' or 'after'
  query    optional subset; default = all queries() rows
The data directory is ``$SPARK_GRAFT_SF_DIR`` (default: bench.py's).
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402
import __spark_entry__ as em  # noqa: E402
from pdf_extractor2_spark.session import get_spark  # noqa: E402

_IDS = re.compile(r"(#|plan_id=)(\d+)")


def normalise(plan: str) -> str:
    """Renumber expression and exchange ids in order of first use and
    drop the checkout path, so two dumps differ only where the plans do."""
    seen: dict[tuple[str, str], int] = {}

    def sub(m: re.Match) -> str:
        key = (m.group(1), m.group(2))
        return f"{m.group(1)}{seen.setdefault(key, len(seen))}"

    return _IDS.sub(sub, plan.replace(REPO, "<repo>"))


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    queries, oracle = em.queries(), em.oracle_sql()
    subset = sys.argv[2:] or list(queries)
    out_dir = os.path.join(REPO, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="pex2-plan-dump")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    for name in subset:
        spark.sparkContext.setJobDescription(f"plan-dump: {name}")
        df = queries[name](spark, bench.DEFAULT_SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
            f.write(normalise(plan))
        if name in oracle:
            with open(os.path.join(out_dir, f"{name}.sql"), "w") as f:
                f.write(oracle[name])
        print(f"{name}: {len(plan)} plan bytes", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
