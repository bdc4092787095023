"""HTTP surface parity (serve.py vs reference app.py endpoints).

Drives the real ThreadingHTTPServer over a socket with stdlib urllib:
the four endpoints exist, the envelopes match the library face
byte-for-byte (raw_json identity), and error mapping follows the
reference (400 invalid type on /extract, per-file error rows in batch).
"""

from __future__ import annotations

import json
import threading
import urllib.error
import urllib.request
import uuid

import pytest

from pdf_extractor2_spark.plans.batch_api import extract_batch, extract_single
from pdf_extractor2_spark.serve import make_server

HTML_DOC = (
    b"<!DOCTYPE html><html><head><title>t</title></head>"
    b"<body><article><p>Kontakt Jens Hansen tlf 12 34 56 78</p></article></body></html>"
)


@pytest.fixture(scope="module")
def base_url():
    srv = make_server()
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    host, port = srv.server_address
    yield f"http://{host}:{port}"
    srv.shutdown()


def _multipart(files: list[tuple[str, bytes]]) -> tuple[bytes, str]:
    boundary = uuid.uuid4().hex
    chunks = []
    for filename, payload in files:
        chunks.append(
            (
                f"--{boundary}\r\nContent-Disposition: form-data;"
                f' name="files"; filename="{filename}"\r\n'
                "Content-Type: application/octet-stream\r\n\r\n"
            ).encode()
            + payload
            + b"\r\n"
        )
    chunks.append(f"--{boundary}--\r\n".encode())
    return b"".join(chunks), f"multipart/form-data; boundary={boundary}"


def _post(url: str, files: list[tuple[str, bytes]]):
    body, ctype = _multipart(files)
    req = urllib.request.Request(url, data=body, headers={"Content-Type": ctype})
    with urllib.request.urlopen(req) as resp:
        return resp.status, json.loads(resp.read())


def test_root_and_health(base_url):
    with urllib.request.urlopen(f"{base_url}/") as resp:
        info = json.loads(resp.read())
    assert info["service"] == "PDF Scraper API"
    assert set(info["endpoints"]) == {
        "POST /extract", "POST /extract-batch", "GET /health", "GET /docs",
    }
    with urllib.request.urlopen(f"{base_url}/health") as resp:
        assert json.loads(resp.read()) == {"status": "healthy"}


def test_extract_matches_library_face(base_url):
    status, got = _post(f"{base_url}/extract", [("doc.html", HTML_DOC)])
    assert status == 200
    want = extract_single(HTML_DOC, "doc.html")
    assert got["raw_json"] == want["raw_json"]  # byte-identical envelope
    assert got["metadata"] == {"filename": "doc.html", "success": True}


def test_extract_invalid_type_is_400(base_url):
    body, ctype = _multipart([("doc.txt", b"hello")])
    req = urllib.request.Request(
        f"{base_url}/extract", data=body, headers={"Content-Type": ctype}
    )
    with pytest.raises(urllib.error.HTTPError) as exc_info:
        urllib.request.urlopen(req)
    assert exc_info.value.code == 400


def test_extract_batch_envelope(base_url):
    files = [
        ("a.html", HTML_DOC),
        ("bad.txt", b"nope"),          # invalid type -> error row
        ("broken.pdf", b"%PDF-trunc"),  # kernel failure -> error row
    ]
    status, got = _post(f"{base_url}/extract-batch", files)
    assert status == 200
    want = extract_batch(files)
    assert got["raw_json"] == want["raw_json"]
    assert got["summary"]["total"] == 3
    assert got["summary"]["successful"] == 1
    assert got["summary"]["failed"] == 2
    assert got["results"][1] == {
        "filename": "bad.txt", "success": False, "error": "Invalid file type",
    }
