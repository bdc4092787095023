"""HTTP client side of the serve ledger: multipart request bodies and a
one-request-per-connection POST (the server speaks HTTP/1.0)."""

from __future__ import annotations

import http.client

BOUNDARY = "perfbench-7d4c1e"
CONTENT_TYPE = f"multipart/form-data; boundary={BOUNDARY}"


def filename_for(idx: int, kind: str) -> str:
    return f"doc{idx}.{kind}"


def multipart_body(filename: str, payload: bytes) -> bytes:
    return (
        f"--{BOUNDARY}\r\nContent-Disposition: form-data;"
        f' name="file"; filename="{filename}"\r\n'
        "Content-Type: application/octet-stream\r\n\r\n"
    ).encode() + payload + f"\r\n--{BOUNDARY}--\r\n".encode()


def post_extract(port: int, body: bytes, timeout: float = 60.0) -> tuple[int, bytes]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=timeout)
    try:
        conn.request("POST", "/extract", body, {"Content-Type": CONTENT_TYPE})
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()
