"""HTTP surface for the extraction engine (reference app.py parity).

The reference serves extraction over FastAPI (app.py:44 ``GET /``,
:67 ``GET /health``, :72 ``POST /extract``, :137 ``POST /extract-batch``).
This module provides the same four endpoints on the Python standard
library only (ThreadingHTTPServer + an email-parser multipart reader),
delegating every envelope decision to ``plans.batch_api`` — so the HTTP
responses carry byte-identical ``raw_json`` to the library face and,
transitively, to the reference.

Error mapping mirrors the reference:
  * invalid extension on /extract  → 400 {"detail": ...} (app.py:87);
  * kernel failure on /extract     → 500 {"detail": "Failed to extract
    data: ..."} (app.py:124);
  * /extract-batch never fails the request — per-file error rows
    (app.py:180-186).

This face is for parity and ad-hoc use; the production path is the
distributed batch runner (plans.extract_job) — same kernel, same rows.
"""

from __future__ import annotations

import json
from email.parser import BytesParser
from email.policy import HTTP
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from .plans.batch_api import extract_batch, extract_single

SERVICE_INFO = {
    "service": "PDF Scraper API",
    "version": "1.0.0",
    "status": "online",
    "endpoints": {
        "POST /extract": "Extract data from a single PDF",
        "POST /extract-batch": "Extract data from multiple PDFs",
        "GET /health": "Health check",
        "GET /docs": "API documentation",
    },
    "features": [
        "Universal PDF support (any company, any language)",
        "Automatic table detection and classification",
        "Intelligent data validation",
        "Confidence scoring",
        "Multi-method extraction (Camelot + pdfplumber)",
        "Raw JSON output for easy downstream processing",
    ],
}


def parse_multipart(content_type: str, body: bytes) -> list[tuple[str, bytes]]:
    """(filename, payload) parts of a multipart/form-data body, in order.
    Stdlib-only: the email parser understands MIME multipart natively."""
    parser = BytesParser(policy=HTTP)
    msg = parser.parsebytes(
        b"Content-Type: " + content_type.encode("latin-1") + b"\r\n\r\n" + body
    )
    parts = []
    if msg.is_multipart():
        for part in msg.iter_parts():
            filename = part.get_filename()
            if filename is not None:
                parts.append((filename, part.get_payload(decode=True) or b""))
    return parts


class _Handler(BaseHTTPRequestHandler):
    def log_message(self, fmt, *args):  # quiet by default
        pass

    def _send(self, status: int, obj: dict) -> None:
        data = json.dumps(obj, ensure_ascii=False).encode("utf-8")
        self.send_response(status)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)

    def do_GET(self):  # noqa: N802 (http.server API)
        if self.path == "/":
            self._send(200, SERVICE_INFO)
        elif self.path == "/health":
            self._send(200, {"status": "healthy"})
        else:
            self._send(404, {"detail": "Not Found"})

    def do_POST(self):  # noqa: N802
        length = int(self.headers.get("Content-Length", "0"))
        body = self.rfile.read(length)
        files = parse_multipart(self.headers.get("Content-Type", ""), body)

        if self.path == "/extract":
            if len(files) != 1:
                self._send(400, {"detail": "Exactly one file required."})
                return
            filename, payload = files[0]
            try:
                self._send(200, extract_single(payload, filename))
            except ValueError as exc:
                self._send(400, {"detail": str(exc)})
            except Exception as exc:
                self._send(500, {"detail": f"Failed to extract data: {exc}"})
        elif self.path == "/extract-batch":
            self._send(200, extract_batch(list(files)))
        else:
            self._send(404, {"detail": "Not Found"})


def make_server(host: str = "127.0.0.1", port: int = 0) -> ThreadingHTTPServer:
    """Bound but not yet serving; ``.server_address[1]`` is the port."""
    return ThreadingHTTPServer((host, port), _Handler)


if __name__ == "__main__":
    import os

    srv = make_server("0.0.0.0", int(os.environ.get("PORT", "8000")))
    print(f"serving on {srv.server_address}")
    srv.serve_forever()
