"""Substring-level dedup REMOVAL — the Lee-et-al. trim carried by the
four trim columns of the graded `duplicate_span_stats` row.

Pins: exact hand-computed removal semantics on a crafted corpus,
cross-engine parity (fixture + sf0.001), the whole row on sf0.001 and a
fuzz against an independent Python model, and NULL/short-text
robustness."""

from __future__ import annotations

import hashlib
from collections import Counter

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pdf_extractor2_spark.operators import dedup

SF = "/root/testdata/sf0.001"
TRIM_COLS = ("doc_id", "n_tokens", "n_kept_tokens", "trimmed_len",
             "trimmed_digest")


def _trim(spark, path):
    return dedup.duplicate_span_stats(spark, path).select(*TRIM_COLS)


def _trim_sql():
    return (f"SELECT {', '.join(TRIM_COLS)}"
            f" FROM ({dedup.duplicate_span_stats_sql()})")


def _write(tmp_path, rows):
    table = pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": pa.array([r[1] for r in rows], pa.string()),
        "lang": pa.array(["en"] * len(rows), pa.string()),
    })
    pq.write_table(table, str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def _duck(path, sql):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM"
                f" read_parquet('{path}/documents.parquet')")
    return sorted(tuple(r) for r in con.execute(sql).fetchall())


def test_trim_semantics_hand_computed(spark, tmp_path):
    """Two docs share one verbatim 8-token run; only the tokens covered
    by that run's windows are removed, surrounding unique text stays."""
    shared = "alpha bravo charlie delta echo foxtrot golf hotel"  # 8 toks
    d0 = f"one two three {shared} four five six"
    d1 = f"seven eight {shared} nine ten"
    d2 = "totally unique text with no overlap at all whatsoever here"
    path = _write(tmp_path, [(0, d0), (1, d1), (2, d2)])

    got = {r["doc_id"]: r for r in
           _trim(spark, path).collect()}
    want0 = "one two three four five six"
    want1 = "seven eight nine ten"
    assert got[0]["n_tokens"] == 14 and got[0]["n_kept_tokens"] == 6
    assert got[0]["trimmed_digest"] == hashlib.md5(want0.encode()).hexdigest()
    assert got[0]["trimmed_len"] == len(want0)
    assert got[1]["n_kept_tokens"] == 4
    assert got[1]["trimmed_digest"] == hashlib.md5(want1.encode()).hexdigest()
    assert got[2]["n_kept_tokens"] == got[2]["n_tokens"] == 10
    assert got[2]["trimmed_digest"] == hashlib.md5(d2.encode()).hexdigest()


def test_trim_overlapping_windows_union_coverage(spark, tmp_path):
    """A 10-token shared run generates three overlapping duplicated
    windows; coverage is their UNION (all 10 tokens), not 3×8 double
    counting — and a doc shorter than k tokens is returned untouched."""
    shared = "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10"
    path = _write(tmp_path, [
        (0, f"pre {shared} post"),
        (1, shared),
        (2, "tiny doc"),
        (3, None),
    ])
    got = {r["doc_id"]: r for r in
           _trim(spark, path).collect()}
    assert got[0]["n_tokens"] == 12 and got[0]["n_kept_tokens"] == 2
    assert got[0]["trimmed_digest"] == hashlib.md5(b"pre post").hexdigest()
    assert got[1]["n_kept_tokens"] == 0
    assert got[1]["trimmed_digest"] == hashlib.md5(b"").hexdigest()
    assert got[2]["n_kept_tokens"] == 2          # < k tokens: untouched
    assert got[3]["n_tokens"] == 1               # NULL → [''] like _docs_nn
    assert got[3]["trimmed_digest"] == hashlib.md5(b"").hexdigest()

    assert sorted(tuple(r) for r in
                  _trim(spark, path).collect()) \
        == _duck(path, _trim_sql())


def test_trim_parity_sf0001(spark):
    got = sorted(tuple(r) for r in
                 _trim(spark, SF).collect())
    want = _duck("/root/testdata/sf0.001", _trim_sql())
    assert got == want and len(got) == 500
    assert any(r[2] < r[1] for r in got)  # the corpus has real removals


def _trim_reference(docs: dict[int, str], k: int = 8):
    """Independent pure-Python model of the trim semantics: a window is
    duplicated iff its k-token text occurs in ≥ 2 DISTINCT docs; every
    token covered by any duplicated window in a doc is removed."""
    toks = {d: (t if t is not None else "").split(" ") for d, t in docs.items()}
    where = {}
    for d, ts in toks.items():
        for i in range(len(ts) - k + 1):
            where.setdefault(" ".join(ts[i:i + k]), set()).add(d)
    dup = {g for g, ds in where.items() if len(ds) >= 2}
    out = {}
    for d, ts in toks.items():
        cov = set()
        for i in range(len(ts) - k + 1):
            if " ".join(ts[i:i + k]) in dup:
                cov.update(range(i, i + k))
        kept = [t for i, t in enumerate(ts) if i not in cov]
        trimmed = " ".join(kept)
        out[d] = (len(ts), len(kept), len(trimmed),
                  hashlib.md5(trimmed.encode()).hexdigest())
    return out


def test_span_stats_fold_matches_standalone(spark):
    """The whole graded row on sf0.001 equals a standalone Python model:
    the span-stats columns (distinct k-token windows per doc, how many
    of them occur in another doc, their rounded share) next to the trim
    columns of ``_trim_reference``."""
    import math

    import pyarrow.parquet as pq

    k = 8
    t = pq.read_table(f"{SF}/documents.parquet", columns=["doc_id", "text"])
    docs = dict(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))
    wins = {}
    for d, text in docs.items():
        toks = (text or "").split(" ")
        wins[d] = {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}
    ndocs = Counter(w for ws in wins.values() for w in ws)
    trim = _trim_reference(docs, k)
    want = set()
    for d, ws in wins.items():
        n_dup = sum(ndocs[w] >= 2 for w in ws)
        frac = math.floor(n_dup / len(ws) * 1e6 + 0.5) / 1e6 if ws else 0.0
        want.add((d, len(ws), n_dup, frac, *trim[d]))

    got = {tuple(r) for r in dedup.duplicate_span_stats(spark, SF).collect()}
    assert got == want and len(got) == 500
    assert any(r[2] for r in got)  # the corpus has duplicated spans


@pytest.mark.parametrize("seed", [3, 13])
def test_trim_fuzz_vs_python_reference(spark, tmp_path, seed):
    """Randomized semantic fuzz: Spark (and the DuckDB twin) must match
    an INDEPENDENT Python implementation — catches a shared
    misconception between the two SQL texts that parity alone cannot."""
    import random

    rng = random.Random(seed)
    words = [f"w{i}" for i in range(60)]
    docs = {}
    snippets = [" ".join(rng.choice(words) for _ in range(rng.randrange(8, 14)))
                for _ in range(6)]
    for d in range(80):
        kind = rng.randrange(5)
        if kind == 0:
            docs[d] = None if rng.random() < 0.5 else ""
        elif kind == 1:
            docs[d] = " ".join(rng.choice(words)
                               for _ in range(rng.randrange(1, 8)))
        else:
            parts = [" ".join(rng.choice(words)
                              for _ in range(rng.randrange(0, 10)))]
            for _ in range(rng.randrange(0, 3)):
                parts.append(rng.choice(snippets))
                parts.append(" ".join(rng.choice(words)
                                      for _ in range(rng.randrange(0, 6))))
            docs[d] = " ".join(p for p in parts if p)
    path = _write(tmp_path, sorted(docs.items()))

    want = _trim_reference(docs)
    got = {r["doc_id"]: (r["n_tokens"], r["n_kept_tokens"],
                         r["trimmed_len"], r["trimmed_digest"])
           for r in _trim(spark, path).collect()}
    assert got == want
    assert sorted((d, *v) for d, v in got.items()) \
        == _duck(path, _trim_sql())
    assert any(v[1] < v[0] for v in got.values())  # fuzz planted real dups
