"""The serve part of the per-layer ledger: single documents POSTed to
``/extract`` of ``serve.make_server`` running in its own process.

The documents are the served pool documents of the seed's corpus
(non-NULL payloads whose extraction succeeds).  Every response must be
status 200 with the body digest pinned for its document.
"""

from __future__ import annotations

import json
import queue
import subprocess
import sys
import threading
import time
from dataclasses import dataclass

from perfbench import common, golden
from perfbench.serve_client import (
    CONTENT_TYPE, filename_for, multipart_body, post_extract)

LEDGER_DOCS = 120


@dataclass
class Doc:
    idx: int
    filename: str
    body: bytes
    digest: bytes


def served_docs(ctx) -> list[Doc]:
    pool, pages = ctx.pool(), ctx.pages()
    docs = []
    for idx, (_, payload, kind) in zip(pages.idx, pages.docs):
        digest = pool[idx][3]
        if digest != bytes(8):
            name = filename_for(idx, kind)
            docs.append(Doc(idx, name, multipart_body(name, payload), digest))
    return docs[:LEDGER_DOCS]


class Server:
    """The server process; ``port`` is known once it has bound."""

    def __init__(self):
        self.proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.server_main"],
            stdout=subprocess.PIPE, text=True)
        line = self.proc.stdout.readline()
        if not line.strip():
            self.stop()
            raise RuntimeError("server process exited before binding a port")
        self.port = int(line)

    def stop(self) -> None:
        self.proc.terminate()
        self.proc.wait(timeout=30)
        self.proc.stdout.close()


def _check(doc: Doc, status: int, body: bytes) -> bool:
    return status == 200 and golden.body_digest(body) == doc.digest


def send_all(port: int, docs: list[Doc], clients: int) -> tuple[int, int]:
    """POST every document once from ``clients`` threads, each sending its
    next request when its last one returned.  Returns (good, failed)."""
    todo = queue.SimpleQueue()
    for d in docs:
        todo.put(d)
    results: list[bool] = []  # list.append is atomic

    def client() -> None:
        while True:
            try:
                doc = todo.get_nowait()
            except queue.Empty:
                return
            try:
                results.append(_check(doc, *post_extract(port, doc.body)))
            except OSError:
                results.append(False)

    threads = [threading.Thread(target=client) for _ in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return sum(results), len(results) - sum(results)


def layers(ctx) -> tuple[dict, int]:
    """Single-client pass: the request latency against the three public
    calls the handler makes, timed in this process on the same body —
    ``parse_multipart``, ``extract_single`` and the ``json.dumps`` of
    ``_send``.  ``serve.residual_us`` is the median of what each
    request's latency leaves after those three (sockets, HTTP parsing,
    threads).  Returns the metrics and the number of failed requests."""
    from pdf_extractor2_spark.plans.batch_api import extract_single
    from pdf_extractor2_spark.serve import parse_multipart

    def handler_calls(doc: Doc) -> list[float]:
        marks = [time.perf_counter()]
        (name, payload), = parse_multipart(CONTENT_TYPE, doc.body)
        marks.append(time.perf_counter())
        obj = extract_single(payload, name)
        marks.append(time.perf_counter())
        json.dumps(obj, ensure_ascii=False).encode("utf-8")
        marks.append(time.perf_counter())
        return [b - a for a, b in zip(marks, marks[1:])]

    docs = served_docs(ctx)
    for doc in docs:  # warm this process the way the server is warmed below
        handler_calls(doc)
    parts, residual = [], []
    srv = Server()
    try:
        _, failed = send_all(srv.port, docs, ctx.cores)
        for doc in docs:
            t0 = time.perf_counter()
            status, body = post_extract(srv.port, doc.body)
            latency = time.perf_counter() - t0
            if not _check(doc, status, body):
                ctx.log(f"serve ledger: bad response for {doc.filename}")
                failed += 1
                continue
            calls = handler_calls(doc)
            parts.append(calls)
            residual.append(latency - sum(calls))
    finally:
        srv.stop()
    if not parts:
        return {}, failed
    col = lambda i: common.median([p[i] for p in parts]) * 1e6  # noqa: E731
    return {
        "serve.parse_multipart_us": col(0),
        "batch_api.extract_single_us": col(1),
        "serve.response_dumps_us": col(2),
        "serve.residual_us": common.median(residual) * 1e6,
    }, failed
