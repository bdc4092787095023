"""In-process A/B of the PDF reader: the live ``sources/pdf_reader.py``
against the same file as it was at a git ref (default ``HEAD~1``, the
parent of the last commit; pass ``HEAD`` to time uncommitted edits),
loaded from ``git show``, over the 1,622 PDFs of the benchmark pool
(``make_doc_spec(i, seed=42)`` for i < 8192, the pool perfbench draws
its corpora from).

    PYTHONHASHSEED=0 python BENCH/pdf_ab.py [REF] [ROUNDS]

Each round times one pass of each side, interleaved in chunks of 50
documents (the first side alternates), so a burst of load on the host
lands on both sides alike.  Prints best-of-ROUNDS (default 5) µs per
document for ``extract_pdf`` (to-IR) and for its stages: the object
layer (xref, object streams, page tree and ``/Contents``), the content
interpreter, line clustering, lattice tables, stream tables over the
four configs (with their accuracy) and spans (page text and spans).
The stage pass re-runs ``extract_pdf``'s steps through the module's
functions, so the stages do not sum to the total exactly.  Both sides
must return equal IRs and spans before they are timed.  Pin it to one
core (``taskset -c 0``) for steady numbers.
"""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from pdf_extractor2_spark.sources import pdf_reader  # noqa: E402
from pdf_extractor2_spark.sources.corpus import make_doc_spec, render_payload  # noqa: E402

CHUNK = 50  # documents per side between switches
POOL_SEED, POOL_DOCS = 42, 8192
READER = "pdf_extractor2_spark/sources/pdf_reader.py"
STAGES = ("objects", "interpret", "cluster", "lattice", "stream", "spans")


def module_at(ref: str, path: str):
    """The package module at ``path`` as it was at ``ref``, as a module
    of the live package (its relative imports resolve to the live
    modules)."""
    source = subprocess.run(["git", "-C", ROOT, "show", f"{ref}:{path}"],
                            check=True, capture_output=True).stdout
    stem = os.path.splitext(os.path.basename(path))[0]
    name = f"pdf_extractor2_spark.sources._{stem}_at_ref"
    module = importlib.util.module_from_spec(importlib.util.spec_from_loader(name, loader=None))
    module.__package__ = "pdf_extractor2_spark.sources"
    sys.modules[name] = module
    exec(compile(source, f"{ref}:{path}", "exec"), module.__dict__)
    return module


def page_spans(lines, page_start: int) -> tuple[str, list[dict]]:
    """Page text and spans from row-tolerance-2.0 lines: the loop of
    ``extract_pdf``, for a reader that has no function of its own."""
    spans, texts, offset = [], [], page_start
    for line_runs in lines:
        line = " ".join([r.text for r in line_runs])
        if line:
            if len(line) < 40 and line.isupper():
                kind = "heading"
            elif len(line_runs) >= 2:
                kind = "table_field"
            else:
                kind = "paragraph"
            spans.append({"kind": kind, "start": offset, "end": offset + len(line), "text": line})
        texts.append(line)
        offset += len(line) + 1
    return "\n".join(texts), spans


def stream_tables_by_config(mod, lines_by_tol) -> list[list]:
    """The stream tables of each config, through the module's own
    all-config function where it has one, else one stream_tables call
    per config."""
    if hasattr(mod, "stream_tables_by_config"):
        return mod.stream_tables_by_config(lines_by_tol)
    return [mod.stream_tables(lines_by_tol[row_tol], col_tol)
            for row_tol, col_tol in mod.STREAM_CONFIGS]


def _total_pass(mod, payloads) -> dict[str, float]:
    start = time.perf_counter()
    for payload in payloads:
        mod.extract_pdf(payload)
    return {"extract_pdf": time.perf_counter() - start}


def _stage_pass(mod, payloads) -> dict[str, float]:
    clock = time.perf_counter
    acc = dict.fromkeys(STAGES, 0.0)
    tols = [tol for tol, _ in mod.STREAM_CONFIGS]
    spans_of = getattr(mod, "page_spans", page_spans)
    for payload in payloads:
        t0 = clock()
        doc = mod.PdfDocument(payload)
        contents = [doc.page_content(page) for page in doc.pages()]
        acc["objects"] += clock() - t0
        for content in contents:
            t0 = clock()
            runs, segments = mod.interpret_content(content)
            t1 = clock()
            lines_by_tol = mod.cluster_lines(runs, tols)
            t2 = clock()
            spans_of(lines_by_tol[2.0], 0)
            t3 = clock()
            for grid in mod.lattice_tables(runs, segments):
                mod._accuracy(grid)
            t4 = clock()
            for grids in stream_tables_by_config(mod, lines_by_tol):
                for grid in grids:
                    mod._accuracy(grid)
            t5 = clock()
            acc["interpret"] += t1 - t0
            acc["cluster"] += t2 - t1
            acc["spans"] += t3 - t2
            acc["lattice"] += t4 - t3
            acc["stream"] += t5 - t4
    return acc


def _round(sides, payloads, timed) -> dict[str, dict[str, float]]:
    totals: dict[str, dict[str, float]] = {side: {} for side in sides}
    for c, start in enumerate(range(0, len(payloads), CHUNK)):
        chunk = payloads[start : start + CHUNK]
        for side in (list(sides) if c % 2 == 0 else list(sides)[::-1]):
            for key, t in timed(sides[side], chunk).items():
                totals[side][key] = totals[side].get(key, 0.0) + t
    return totals


def main(argv: list[str]) -> int:
    ref = argv[1] if len(argv) > 1 else "HEAD~1"
    rounds = int(argv[2]) if len(argv) > 2 else 5
    sides = {ref: module_at(ref, READER), "live": pdf_reader}
    payloads = []
    for i in range(POOL_DOCS):
        spec = make_doc_spec(i, seed=POOL_SEED)
        if spec.payload_kind == "pdf":
            payloads.append(render_payload(spec))
    for payload in payloads:  # the two sides must agree before they are timed
        assert sides[ref].extract_pdf(payload) == pdf_reader.extract_pdf(payload)
    best: dict[str, dict[str, float]] = {side: {} for side in sides}
    for _ in range(rounds):
        for timed in (_total_pass, _stage_pass):
            for side, got in _round(sides, payloads, timed).items():
                for key, t in got.items():
                    best[side][key] = min(best[side].get(key, t), t)
    us = 1e6 / len(payloads)
    print(f"{len(payloads)} PDFs, best of {rounds}, µs/doc")
    print(f"| stage | {ref} | live | change |")
    print("|---|---|---|---|")
    for name in (*STAGES, "extract_pdf"):
        old, new = best[ref][name], best["live"][name]
        print(f"| {name} | {old * us:.1f} | {new * us:.1f} | {(new / old - 1) * 100:+.1f}% |")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
