"""Workload process: ``python3 -m perfbench.main`` (started by ``run.py``,
which sets up the environment and cleans up after it).

Untraced (``--trace 0``): runs one workload and prints its end-to-end
metrics.  Traced (``--trace 1``): runs the workload with benchmark-side
spans and the Spark event log on, then the whole per-layer ledger, and
prints every per-layer metric; ``traced.*`` are the workload's
end-to-end metrics as measured under tracing, to set against an
untraced run of the same seed (the tracing overhead).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import functools  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
from dataclasses import dataclass  # noqa: E402

from perfbench import common, extract, golden, inputs, queries, serve  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = {name: functools.partial(extract.run, corpus=name) for name in extract.CORPORA}
# op_median_ms and op_p99_ms are printed but not in the result: the
# median pass time is throughput_per_s restated (docs ÷ the same median),
# and the p99's run-to-run spread on a shared 4-core host is wider than
# any bound the benchmark may set
E2E = ("setup_s", "peak_rss_mb", "throughput_per_s")
# the names the metrics go by in the workloads' own terms
OWN_NAMES = {
    "extract_job": {"throughput_per_s": "docs_per_s"},
    "extract_pdf": {"throughput_per_s": "docs_per_s"},
}


@dataclass
class Pages:
    idx: list[int]
    docs: list[tuple[str, bytes | None, str]]
    path: str
    digest: str


class Context:
    """Run-wide state: arguments, lazily built inputs and Spark session,
    and the clock that ``setup_s`` is read from."""

    def __init__(self, run_dir: str, seed: int, trace: bool):
        self.run_dir, self.seed, self.trace = run_dir, seed, trace
        self.cores = int(os.environ.get("SPARK_GRAFT_CPUS") or 0) or os.cpu_count()
        self.pid = os.getpid()
        self.tracer = common.Tracer() if trace else None
        self.excluded_s = 0.0  # input generation and host probes, kept out of setup_s
        self.gen_s = 0.0
        self.tables_digest = None
        self._spark = self._tables = self._pool = None
        self._pages: dict[str, Pages] = {}

    def log(self, msg: str) -> None:
        print(f"perfbench: {msg}", file=sys.stderr, flush=True)

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def since_start(self) -> float:
        return time.perf_counter() - T_START - self.excluded_s

    @contextlib.contextmanager
    def excluded(self, generation: bool = True):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dt = time.perf_counter() - t0
            self.excluded_s += dt
            if generation:
                self.gen_s += dt

    def spark(self):
        if self._spark is None:
            from pdf_extractor2_spark.session import get_spark

            conf = {}
            if self.trace:
                log_dir = os.path.join(self.run_dir, "eventlog")
                os.makedirs(log_dir, exist_ok=True)
                conf = {"spark.eventLog.enabled": "true", "spark.eventLog.dir": log_dir,
                        "spark.eventLog.compress": "false",
                        "spark.eventLog.rolling.enabled": "false"}
            self._spark = get_spark(app_name="perfbench", cores=self.cores, extra_conf=conf)
        return self._spark

    def stop_spark(self) -> None:
        if self._spark is not None:
            self._spark.stop()
            self._spark = None

    def pool(self):
        if self._pool is None:
            self._pool = golden.load_pages()
        return self._pool

    def pages(self, corpus: str = "extract_job") -> Pages:
        """The corpus of the extract workload ``corpus``; the ledger's
        single-document passes use the mixed ``extract_job`` one."""
        if corpus not in self._pages:
            n_docs, kind = extract.CORPORA[corpus]
            with self.excluded():
                idx = inputs.sample_pool(self.seed, n_docs, kind)
                docs = [inputs.render_doc(i) for i in idx]
                path = os.path.join(self.run_dir, corpus)
                digest = inputs.write_pages(
                    path, [(u, p) for u, p, _ in docs], extract.FILES_PER_CORE * self.cores)
                self._pages[corpus] = Pages(idx, docs, path, digest)
        return self._pages[corpus]

    def tables(self) -> str:
        if self._tables is None:
            with self.excluded():
                path = os.path.join(self.run_dir, "tables")
                self.tables_digest = inputs.write_tables(path, self.seed)
                self._tables = path
        return self._tables


def ledger(ctx: Context, name: str, res: common.WorkloadResult) -> tuple[dict, bool]:
    """Every per-layer metric, and whether the ledger's own output checks
    passed.  The Spark-boundary layers come from ``extract_job``'s passes:
    the traced workload's own, or a short run of it (warm-up and two
    passes) in this process.  The query layers come from the cold check
    pass and one timed pass of the corpus queries."""
    out = {f"traced.{k}": res.metrics[k]["value"] for k in E2E}
    serve_layers, serve_failed = serve.layers(ctx)
    out.update(serve_layers)
    out.update(extract.kernel_layers(ctx))
    ext = res if name == "extract_job" else extract.run(ctx, 0)
    q_times, q_failed = queries.run(ctx)
    out.update(extract.boundary_timings(ctx))
    ctx.stop_spark()  # closes the event log
    jobs = common.read_event_log(os.path.join(ctx.run_dir, "eventlog"))
    if ext.metrics:
        out.update(extract.boundary_layers(ctx, ext, jobs))
    out.update(queries.layers(q_times, jobs))
    return out, ext.failed == 0 and q_failed == 0 and serve_failed == 0


_UNITS = (("_per_s", "1/s"), ("_per_doc", "ms"), ("_us", "us"), ("_ms", "ms"),
          ("_s", "s"), ("_mb", "MB"), (".tasks", "count"))


def unit_of(name: str) -> str:
    return next((unit for sfx, unit in _UNITS if name.endswith(sfx)), "ratio")


def main() -> int:
    ap = argparse.ArgumentParser(prog="perfbench")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--run-dir", required=True)
    args = ap.parse_args()

    ctx = Context(args.run_dir, args.seed, bool(args.trace))
    with ctx.excluded(generation=False):
        stamp = common.HostStamp(ROOT, ctx.cores)
    try:
        res = WORKLOADS[args.workload](ctx, args.seconds)
        traced = ctx.trace and res.metrics
        layers, ledger_ok = ledger(ctx, args.workload, res) if traced else ({}, True)
    finally:
        ctx.stop_spark()
    host = stamp.finish()

    def emit(tag: str, obj) -> None:
        print(f"# {tag} {json.dumps(obj, sort_keys=True)}")

    emit("run", {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                 "trace": args.trace, "input_generation_s": ctx.gen_s,
                 "pages_digest": {k: v.digest for k, v in ctx._pages.items()},
                 "tables_digest": ctx.tables_digest})
    emit("host", host)
    emit("info", res.info)
    if ctx.trace:  # the op-level spans, written out once the run is over
        for span, self_s in ctx.tracer.self_times():
            emit("span", {**span.__dict__, "self_s": self_s})
    own = OWN_NAMES[args.workload]
    for name, m in res.metrics.items():
        alias = f" [{own[name]}]" if name in own else ""
        print(f"# metric {args.workload}/{name}{alias} = {m['value']:.6g} {m['unit']} "
              f"(n={m['samples']})")
    print(f"# metric {args.workload}/failed_share = "
          f"{res.failed / max(1, res.attempted):.6g} ratio (n={res.attempted})")
    if not res.metrics:
        metrics = {}  # no op succeeded: there is no figure to report
    elif ctx.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(layers.items())}
        for k in E2E:
            metrics[f"traced.{k}"]["unit"] = res.metrics[k]["unit"]
    else:
        metrics = {k: {"value": res.metrics[k]["value"], "unit": res.metrics[k]["unit"]}
                   for k in E2E}
    print(json.dumps({"correct": res.failed == 0 and ledger_ok,
                      "attempted": res.attempted, "failed": res.failed,
                      "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
