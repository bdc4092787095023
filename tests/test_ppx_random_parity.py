"""Randomized cross-engine parity campaign for the bigram-LM
perplexity scorer: many random corpora (varied vocabulary shapes,
doc lengths, repeats, unicode, punctuation-only tokens, empty docs)
must hash-match the DuckDB oracle EXACTLY — the empirical backstop for
the `_lnrat_milli` determinism claim (Spark ln and DuckDB ln disagree
in the last ulp on ~7% of doubles; the integer milli-nat quantization
must absorb every such disagreement)."""

from __future__ import annotations

import random

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from test_ppx import ppx_scores, ppx_scores_sql

WORDS = (
    ["the", "a", "of", "and", "to", "in", "is", "it", "was", "for"]
    + [f"w{i}" for i in range(600)]           # spills past the 512 vocab cap
    + ["北京", "déjà", "æøå", "x", "", "...", "{", "1/2"]
)


def _random_corpus(rng: random.Random, n_docs: int) -> list[tuple[int, str]]:
    rows = []
    for d in range(n_docs):
        kind = rng.randrange(5)
        if kind == 0:
            text = ""                                      # empty
        elif kind == 1:
            w = rng.choice(WORDS)
            text = " ".join([w] * rng.randrange(1, 40))    # repeated token
        elif kind == 2:  # zipf-ish mix
            text = " ".join(
                WORDS[min(int(rng.paretovariate(1.2)), len(WORDS) - 1)]
                for _ in range(rng.randrange(1, 120))
            )
        elif kind == 3:  # uniform gibberish (mostly OOV after the cap)
            text = " ".join(rng.choice(WORDS) for _ in range(rng.randrange(1, 80)))
        else:            # consecutive spaces → empty tokens
            text = "  ".join(rng.choice(WORDS) for _ in range(rng.randrange(1, 20)))
        rows.append((d, text))
    return rows


@pytest.mark.parametrize("seed", [11, 23, 47])
def test_ppx_random_corpus_parity(spark, tmp_path, seed):
    rng = random.Random(seed)
    rows = _random_corpus(rng, 300)
    table = pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": pa.array([r[1] for r in rows], pa.string()),
        "lang": pa.array(["en"] * len(rows), pa.string()),
    })
    d = tmp_path / f"ppx{seed}"
    d.mkdir()
    pq.write_table(table, str(d / "documents.parquet"))

    got = sorted(
        tuple(r) for r in ppx_scores(spark, str(d)).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM"
        f" read_parquet('{d}/documents.parquet')"
    )
    want = sorted(tuple(r) for r in con.execute(ppx_scores_sql()).fetchall())
    assert len(got) == 300
    assert got == want, next(
        (a, b) for a, b in zip(got, want) if a != b
    )
