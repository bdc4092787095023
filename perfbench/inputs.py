"""Seeded, hermetic inputs for the workloads and the ledger.

* Pages: the extract workloads' corpora and the serve ledger's documents
  are drawn from one fixed pool of ``POOL_DOCS`` documents rendered by
  ``sources/corpus.py`` (``make_doc_spec(idx, seed=POOL_SEED)``).  The
  run's ``--seed`` picks which pool documents make the corpus and how
  they are spread over the parquet files.  A fixed pool is what lets the
  expected outputs be pinned per document (``golden/pages.bin``) while
  every seed still gets its own corpus.
* Tables: the ten ``queries()`` tables (TPC-H-like star schema, events,
  documents, embeddings) at about sf0.01 size.  Their rows are fixed by
  ``TABLE_SEED``; the run's ``--seed`` shuffles row order and the split
  into part files, so the physical layout Spark scans differs per seed
  while every query's pinned answer stays valid.

Everything is written under the run's own directory.
"""

from __future__ import annotations

import hashlib
import os
import random
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

POOL_SEED = 42
POOL_DOCS = 8192
TABLE_SEED = 7


# ---------------------------------------------------------------------------
# pages
# ---------------------------------------------------------------------------

def sample_pool(seed: int, n: int, kind: str | None = None) -> list[int]:
    """Pool indexes of the ``n`` documents of this seed's corpus, in the
    seed's order; with ``kind``, drawn from the pool documents of that
    payload kind only."""
    from pdf_extractor2_spark.sources.corpus import make_doc_spec

    pool = range(POOL_DOCS)
    if kind is not None:
        pool = [i for i in pool if make_doc_spec(i, seed=POOL_SEED).payload_kind == kind]
    return random.Random(f"perfbench:{seed}").sample(pool, n)


def render_doc(idx: int) -> tuple[str, bytes | None, str]:
    """(url, payload, kind) of pool document ``idx``; kind is the
    generator's ``html`` / ``pdf`` / ``none``."""
    from pdf_extractor2_spark.sources.corpus import make_doc_spec, render_payload

    spec = make_doc_spec(idx, seed=POOL_SEED)
    return spec.url, render_payload(spec), spec.payload_kind


def write_pages(out_dir: str, docs: list[tuple[str, bytes | None]],
                n_files: int) -> str:
    """Write ``docs`` round-robin into ``n_files`` parquet files; returns
    the sha256 of everything written (the input digest)."""
    os.makedirs(out_dir, exist_ok=True)
    h = hashlib.sha256()
    for f in range(n_files):
        part = docs[f::n_files]
        table = pa.table({
            "url": pa.array([u for u, _ in part], pa.string()),
            "html": pa.array([p for _, p in part], pa.binary()),
        })
        path = os.path.join(out_dir, f"part-{f:04d}.parquet")
        pq.write_table(table, path)
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def url_index(url: str) -> int:
    """Pool index encoded in a generated url (``https://<host>/doc/<idx>``)."""
    return int(url.rsplit("/", 1)[1])


# ---------------------------------------------------------------------------
# tables
# ---------------------------------------------------------------------------

_VOCAB = ("join hash row batch scan column customer filter small slow merge "
          "order vector line table data agg value key stream window a spark "
          "part group big sort query fast the").split()
_ADJ = ["small", "red", "blue", "hot", "old", "large", "cold", "green"]
_NOUN = ["ring", "widget", "bolt", "gear", "rod", "plate", "nut", "pipe"]


def _ts(base: datetime, seconds: np.ndarray) -> pa.Array:
    us = (seconds * 1_000_000).astype("int64")
    epoch = int((base - datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    return pa.array(us + epoch, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables() -> dict[str, pa.Table]:
    """The ten tables, deterministic in ``TABLE_SEED`` (about sf0.01)."""
    rng = np.random.default_rng(TABLE_SEED)
    n_cust, n_ord, n_line, n_part, n_supp = 1500, 15000, 60000, 2000, 100
    n_events, n_users, n_docs, n_vecs, dims = 10000, 150, 500, 500, 64
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{rng.choice(_ADJ)} {rng.choice(_NOUN)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    day = 86400.0
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(datetime(1995, 1, 1), rng.integers(0, 2404, n_ord) * day),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts(datetime(1995, 1, 2), rng.integers(0, 2499, n_line) * day),
    })
    gaps = rng.exponential(30 * day / n_events, n_events)
    t["events"] = pa.table({
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": _ts(datetime(2024, 1, 1), np.round(np.cumsum(gaps), 6)),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_events),
        "value": np.round(rng.exponential(50.0, n_events), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    texts: list[str] = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_VOCAB, int(rng.integers(8, 90)))))
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "zh", "es", "de", "fr"], n_docs,
                           p=[0.44, 0.15, 0.15, 0.14, 0.12]),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(size=(10, dims))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = rng.normal(size=(n_vecs, dims)) / np.sqrt(dims) + 0.14 * centers[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs.astype("float32")), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def write_tables(out_dir: str, seed: int, n_parts: int = 2) -> str:
    """Write every table as ``<out_dir>/<name>.parquet/part-*.parquet`` with
    the seed's row order; returns the sha256 of the files written."""
    h = hashlib.sha256()
    rng = np.random.default_rng(seed)
    for name, table in sorted(make_tables().items()):
        table = table.take(pa.array(rng.permutation(table.num_rows)))
        tdir = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(tdir, exist_ok=True)
        step = -(-table.num_rows // n_parts)
        for k in range(n_parts):
            path = os.path.join(tdir, f"part-{k:04d}.parquet")
            pq.write_table(table.slice(k * step, step), path)
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()

