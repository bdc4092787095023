"""The corpus-query part of the per-layer ledger: the corpus queries over
the seed's tables.

An op is ``queries()[name](spark, tables)`` (construct: Catalyst
analysis plus any eager jobs the query runs) followed by a ``noop``
write of the frame (execute: computes every column).  Each pass runs
the queries in ``QUERIES`` order.  The first pass is untimed and cold:
it compiles every plan, builds the IVF index, and runs each query into
an aggregate of its row count and order-independent row digest instead,
which is the output check against ``golden/queries.json``; a mismatch
fails that op.
"""

from __future__ import annotations

import time

from perfbench import common, golden

# (layer = module defining the query, query name): three sub-second
# join-floor rows and two multi-second legs
QUERIES = [
    ("relational", "pricing_summary"),
    ("relational", "top_orders_per_customer"),
    ("relational", "range_join_nearby_events"),
    ("dedup", "dedup_minhash_lsh"),
    ("similarity", "ann_ivf"),
]


def _one_pass(ctx, label: str, times: dict, check: bool = False) -> int:
    """One pass over ``QUERIES``; adds each good op's (construct s,
    execute s) to ``times`` and returns the number of failed ops."""
    import __spark_entry__ as entry

    from pyspark.sql import functions as F

    spark, tables = ctx.spark(), ctx.tables()
    sc = spark.sparkContext
    queries = entry.queries()
    pinned = golden.load_queries()
    failed = 0
    for _, name in QUERIES:
        with ctx.span(name):
            try:
                t0 = time.perf_counter()
                sc.setJobDescription(f"{label}:{name}:construct")
                with ctx.span("construct"):
                    df = queries[name](spark, tables)
                t1 = time.perf_counter()
                sc.setJobDescription(f"{label}:{name}:execute")
                with ctx.span("execute"):
                    if check:
                        r = df.agg(F.count("*").alias("rows"), F.expr(
                            golden.row_digest_sql(df.columns)).alias("digest")).collect()[0]
                    else:
                        df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
                if check and (r["rows"], str(r["digest"])) != (
                        pinned[name]["rows"], pinned[name]["digest"]):
                    ctx.log(f"{name}: rows {r['rows']} digest {r['digest']}"
                            f" != pinned {pinned[name]}")
                    failed += 1
                    continue
                times.setdefault(name, []).append((t1 - t0, t2 - t1))
            except Exception as exc:  # a failed op is counted, the run goes on
                ctx.log(f"{name}: {type(exc).__name__}: {exc}")
                failed += 1
            finally:
                sc.setJobDescription(None)
    return failed


def run(ctx) -> tuple[dict, int]:
    """The ledger's query passes: one check pass (cold: it compiles every
    plan and builds the IVF index), then one traced pass.  Returns
    ((construct s, execute s) per query, failed ops)."""
    failed = _one_pass(ctx, "check", {}, check=True)
    times: dict[str, list[tuple[float, float]]] = {}
    failed += _one_pass(ctx, "pass", times)
    return {name: t[0] for name, t in times.items()}, failed


def layers(times: dict, jobs: dict) -> dict:
    """Per-query construct / execute / shuffle / skew, the session totals
    and the suite's two summaries, from the traced pass and the event
    log."""
    out = {}
    for layer, name in QUERIES:
        if name not in times:
            continue
        construct, execute = times[name]
        stages = [*jobs.get(f"pass:{name}:construct", []),
                  *jobs.get(f"pass:{name}:execute", [])]
        key = f"{layer}.{name}"
        out[f"{key}.construct_ms"] = construct * 1e3
        out[f"{key}.execute_ms"] = execute * 1e3
        out[f"{key}.shuffle_write_mb"] = sum(s.shuffle_write_bytes for s in stages) / 2**20
        out[f"{key}.task_skew"] = common.task_skew(stages)
    traced = [s for k, v in jobs.items() if k.startswith("pass:") for s in v]
    out["session.spill_mb"] = sum(s.spill_bytes for s in traced) / 2**20
    out["session.gc_ms"] = sum(s.gc_ms for s in traced)
    op_ms = [(c + e) * 1e3 for c, e in times.values()]
    if op_ms:
        out["corpus_queries.query_geomean_ms"] = common.geomean(op_ms)
        out["corpus_queries.suite_s"] = sum(op_ms) / 1e3
    return out
