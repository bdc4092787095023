"""``extract_job`` and ``extract_pdf``: ``run_extract`` over the seed's
pages corpus, the mixed one or the PDF-only one.

One op is a full pass, forced by one aggregate that reads every output
column the check needs: doc count, ``n_success``, Σ``length(raw_json)``
and the order-independent digest over ``url``, ``raw_json``,
``spans_json`` and ``main_text``.  The aggregate is compared with the
pinned per-document answers (``golden/pages.bin``); a mismatch fails the
op.  Also here: the single-process kernel ledger and the Spark-boundary
ledger (identity ``mapInPandas``, scan only).
"""

from __future__ import annotations

import json
import time

from perfbench import common, golden

# workload -> (docs, payload kind or None for the pool's mix).  The pool
# holds 1,622 PDFs, so extract_pdf takes 1,200 of them.
CORPORA = {"extract_job": (4000, None), "extract_pdf": (1200, "pdf")}
# Spark packs small files into scan splits of up to 8 MB
# (spark.sql.files.maxPartitionBytes), each file counted with a 1 MB open
# cost: 16 files per core of either corpus come to 2 scan tasks per core.
# More, smaller tasks cost more than they balance: on a 4-core host,
# 4 tasks per core ran 28-43% slower.
FILES_PER_CORE = 16
KERNEL_LEDGER_DOCS = 600
BOUNDARY_REPEATS = 1
# the first pass spawns the Python workers; the next ones fill each
# worker's lru caches, which it does only as it is handed partitions it
# has not seen yet.
WARMUP_PASSES = 3


def _pages_df(ctx, corpus: str = "extract_job"):
    return ctx.spark().read.parquet(ctx.pages(corpus).path)


def _one_pass(ctx, label: str, expected: dict, corpus: str = "extract_job",
              ) -> tuple[float, float | None, bool]:
    """(wall s, Σkernel_ms, output matches) of one full extraction pass."""
    from pyspark.sql import functions as F

    from pdf_extractor2_spark.plans.extract_job import run_extract

    ctx.spark().sparkContext.setJobDescription(label)
    with ctx.span(label):
        t0 = time.perf_counter()
        r = run_extract(_pages_df(ctx, corpus)).agg(
            F.count("*").alias("n"),
            F.sum(F.col("success").cast("long")).alias("n_success"),
            F.sum(F.length("raw_json")).alias("raw_json_bytes"),
            F.expr(golden.row_digest_sql(golden.PAGE_COLUMNS)).alias("digest"),
            F.sum("kernel_ms").alias("kernel_ms"),
        ).collect()[0]
        wall = time.perf_counter() - t0
    ctx.spark().sparkContext.setJobDescription(None)
    got = {k: r[k] for k in expected}
    got["digest"] = int(got["digest"])
    if got != expected:
        ctx.log(f"{label}: output {got} != expected {expected}")
    return wall, r["kernel_ms"], got == expected


def task_count(ctx, corpus: str) -> int:
    from pdf_extractor2_spark.plans.extract_job import run_extract

    return run_extract(_pages_df(ctx, corpus)).rdd.getNumPartitions()


def run(ctx, seconds: float, corpus: str = "extract_job",
        min_passes: int = 2) -> common.WorkloadResult:
    """Set up, warm up, then full passes over ``corpus`` until ``seconds``
    have passed (at least ``min_passes``)."""
    pages = ctx.pages(corpus)  # input generation, outside setup
    n_docs = len(pages.idx)
    expected = golden.expect_pass(ctx.pool(), pages.idx)
    with common.RssPeak(ctx.pid) as rss:
        ctx.spark()
        tasks = task_count(ctx, corpus)
        if tasks < ctx.cores:
            raise SystemExit(
                f"{corpus}: the scan yields {tasks} tasks on {ctx.cores} cores;"
                " refusing to report throughput")
        for k in range(WARMUP_PASSES):
            _one_pass(ctx, f"{corpus}:warmup{k}", expected, corpus)
        setup_s = ctx.since_start()
        walls, kernel_ms, labels, attempted = [], [], [], 0
        start = time.perf_counter()
        while attempted < min_passes or time.perf_counter() - start < seconds:
            label = f"{corpus}:pass{attempted}"
            attempted += 1
            try:
                wall, kms, ok = _one_pass(ctx, label, expected, corpus)
            except Exception as exc:  # a failed op is counted, the run goes on
                ctx.log(f"{label}: {type(exc).__name__}: {exc}")
                continue
            if ok:
                walls.append(wall)
                kernel_ms.append(kms)
                labels.append(label)
    res = common.WorkloadResult(attempted=attempted, failed=attempted - len(walls))
    if walls:
        res.metrics = {
            "setup_s": common.metric(setup_s, "s", 1),
            "peak_rss_mb": common.metric(rss.peak_mb, "MB", 1),
            "throughput_per_s": common.metric(
                common.median([n_docs / w for w in walls]), "1/s", len(walls)),
            **common.op_metrics(walls),
        }
    res.info = {"docs": n_docs, "tasks": tasks, "passes": attempted,
                "pass_s": [round(w, 3) for w in walls]}
    res.times = {"walls": walls, "kernel_ms": kernel_ms, "labels": labels}
    return res


# ---------------------------------------------------------------------------
# Spark boundary ledger
# ---------------------------------------------------------------------------

def identity_batches(batches):
    """mapInPandas body that returns its input: Arrow in and out only."""
    yield from batches


def _median_time(fn, repeats: int) -> float:
    fn()  # warm
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return common.median(times)


def boundary_timings(ctx) -> dict:
    """Scan → identity ``mapInPandas`` (Arrow in and out, no kernel) and
    the scan alone, over the same corpus and bucket column."""
    from pyspark.sql import functions as F

    from pdf_extractor2_spark.plans.extract_job import with_bucket

    pruned = _pages_df(ctx).select("url", "html")
    bucketed = with_bucket(pruned, 64)
    roundtrip = bucketed.mapInPandas(identity_batches, bucketed.schema)
    size = F.sum(F.length("html"))
    return {
        "extract_job.arrow_roundtrip_s": _median_time(
            lambda: roundtrip.agg(F.count("*"), size).collect(), BOUNDARY_REPEATS),
        "extract_job.scan_s": _median_time(
            lambda: pruned.agg(F.count("*"), size).collect(), BOUNDARY_REPEATS),
    }


def boundary_layers(ctx, res: common.WorkloadResult, jobs: dict) -> dict:
    """Kernel time against pass wall time, and the pass stages' tasks,
    skew and GC from the event log."""
    walls, kernel_ms = res.times["walls"], res.times["kernel_ms"]
    passes = [jobs.get(label, []) for label in res.times["labels"]]
    return {
        "extract_job.kernel_ms_per_doc": common.median(kernel_ms) / res.info["docs"],
        "extract_job.kernel_share": common.median(
            [k / (w * 1e3 * ctx.cores) for k, w in zip(kernel_ms, walls)]),
        "extract_job.tasks": res.info["tasks"],
        "extract_job.task_skew": common.median([common.task_skew(st) for st in passes]),
        "extract_job.gc_ms": common.median([sum(s.gc_ms for s in st) for st in passes]),
    }


# ---------------------------------------------------------------------------
# single-process kernel ledger
# ---------------------------------------------------------------------------

def kernel_layers(ctx) -> dict:
    """Times the public calls ``_extract_one`` makes, document by
    document, in this process: ``payload_to_ir``, ``parse_document``,
    ``result_with_raw_json`` and the ``spans_json`` dump.  Medians in µs
    per payload kind; ``kernel.residual_us`` is the median of what a
    document's op time leaves after those four."""
    from pdf_extractor2_spark.functions import scalars
    from pdf_extractor2_spark.operators.document import parse_document, result_with_raw_json
    from pdf_extractor2_spark.plans.extract_job import payload_to_ir

    caches = {
        "clean_multiline": scalars._clean_multiline_core,
        "person_name": scalars._is_valid_person_name_core,
        "phones": scalars._extract_phones_core,
    }
    for fn in caches.values():
        fn.cache_clear()
    tracer = common.Tracer()
    for op, (url, payload, kind) in enumerate(ctx.pages().docs[:KERNEL_LEDGER_DOCS]):
        if kind == "none":
            continue
        with tracer.span(f"doc:{kind}", op=op):
            with tracer.span("to_ir"):
                ir, spans, _ = payload_to_ir(bytes(payload))
            with tracer.span("parse"):
                result = parse_document(ir)
            with tracer.span("raw_json"):
                result_with_raw_json(result, url)
            with tracer.span("spans_json"):
                json.dumps(spans, ensure_ascii=False)
            "\n\f\n".join(ir.page_texts)  # main_text: part of the residual
    kind_of = {s.op: s.name.split(":")[1] for s in tracer.spans if s.parent is None}
    us: dict[tuple[str, str], list[float]] = {}
    for s, self_s in tracer.self_times():
        name = "doc" if s.parent is None else s.name
        key = (name, kind_of[s.op])
        us.setdefault(key, []).append(
            (self_s if s.parent is None else s.end - s.start) * 1e6)
    med = {k: common.median(v) for k, v in us.items()}
    both = lambda name: common.median(us[(name, "html")] + us[(name, "pdf")])  # noqa: E731
    out = {
        "html_extract.to_ir_us": med[("to_ir", "html")],
        "pdf_reader.to_ir_us": med[("to_ir", "pdf")],
        "document.parse_html_us": med[("parse", "html")],
        "document.parse_pdf_us": med[("parse", "pdf")],
        "document.raw_json_us": both("raw_json"),
        "extract_job.spans_json_us": both("spans_json"),
        "kernel.residual_us": both("doc"),
    }
    for name, fn in caches.items():
        info = fn.cache_info()
        out[f"scalars.{name}_hit"] = info.hits / max(1, info.hits + info.misses)
    return out

