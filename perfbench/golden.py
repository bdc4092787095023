"""Expected outputs, pinned from the program at the commit that added the
benchmark, and the digests the workloads compare against them.

* ``golden/pages.bin``: one record per pool document — success flag,
  ``length(raw_json)``, Spark's ``xxhash64(url, raw_json, spans_json,
  main_text)`` of its ``run_extract`` row, and the first 8 bytes of the
  sha256 of its ``POST /extract`` response body (zero when the document
  is not served).
* ``golden/queries.json``: per query, the row count and the
  order-independent row digest over the fixed-content tables.

``make_golden.py`` regenerates both.
"""

from __future__ import annotations

import hashlib
import json
import os
import struct

HERE = os.path.dirname(os.path.abspath(__file__))
PAGES_BIN = os.path.join(HERE, "golden", "pages.bin")
QUERIES_JSON = os.path.join(HERE, "golden", "queries.json")

MAGIC = b"PBG1"
RECORD = struct.Struct("<BIq8s")

# the columns of a run_extract row that the page digest covers
PAGE_COLUMNS = ["url", "raw_json", "spans_json", "main_text"]


def row_hash_sql(columns: list[str]) -> str:
    return "xxhash64({})".format(", ".join(f"`{c}`" for c in columns))


def row_digest_sql(columns: list[str]) -> str:
    """One order-independent digest for every check: the decimal sum of
    the per-row xxhash64 (a sum, unlike xor, keeps duplicate rows
    visible)."""
    return f"sum(cast({row_hash_sql(columns)} as decimal(38,0)))"


def body_digest(body: bytes) -> bytes:
    return hashlib.sha256(body).digest()[:8]


def write_pages(records: list[tuple[bool, int, int, bytes]]) -> None:
    with open(PAGES_BIN, "wb") as fh:
        fh.write(MAGIC)
        for ok, raw_len, xxh, served in records:
            fh.write(RECORD.pack(int(ok), raw_len, xxh, served))


def load_pages() -> list[tuple[int, int, int, bytes]]:
    with open(PAGES_BIN, "rb") as fh:
        data = fh.read()
    if data[:4] != MAGIC:
        raise ValueError(f"{PAGES_BIN}: not a pinned pages file")
    return list(RECORD.iter_unpack(data[4:]))


def expect_pass(pool: list[tuple[int, int, int, bytes]], idx: list[int]) -> dict:
    """The aggregate a full ``run_extract`` pass over pool docs ``idx``
    must return."""
    recs = [pool[i] for i in idx]
    return {
        "n": len(recs),
        "n_success": sum(r[0] for r in recs),
        "raw_json_bytes": sum(r[1] for r in recs),
        "digest": sum(r[2] for r in recs),
    }


def load_queries() -> dict[str, dict]:
    with open(QUERIES_JSON) as fh:
        return json.load(fh)
