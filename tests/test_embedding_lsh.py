"""Banded hyperplane-LSH near-dup recall vs brute-force ground truth.

The monolithic sign-block blocker misses near-dups that straddle a
single hyperplane; banding (any-of-N-bands agreement, MinHash-style)
must recover a large share of them while still scoring only a fraction
of all pairs.  Ground truth is exact all-pairs cosine at sf0.01 — small
enough for numpy here, and exactly what the operator approximates.
"""

from __future__ import annotations

import numpy as np
import pyarrow.parquet as pq
import pytest

from pdf_extractor2_spark.operators import similarity

SF_DIR = "/root/testdata/sf0.01"


def _pairs(spark):
    """{(vec_a, vec_b)} the graded near-dup search finds over one
    persisted embeddings scan."""
    from pdf_extractor2_spark.operators.dedup import (
        _scoped_clear,
        _scoped_persist,
    )

    _scoped_clear()
    emb = _scoped_persist(similarity._emb(spark, SF_DIR))
    return {
        (r["vec_a"], r["vec_b"])
        for r in similarity._near_dup_pairs_from(emb).collect()
    }


@pytest.fixture(scope="module")
def truth():
    t = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    E = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
    vec_ids = np.array(t.column("vec_id").to_pylist())
    norms = np.linalg.norm(E, axis=1)
    C = (E @ E.T) / np.outer(norms, norms)
    iu = np.triu_indices(len(E), 1)
    keep = np.round(C[iu], 4) >= similarity.NEAR_DUP_COS
    pairs = {
        (int(min(a, b)), int(max(a, b)))
        for a, b in zip(vec_ids[iu[0][keep]], vec_ids[iu[1][keep]])
    }
    return pairs, len(E)


def _monolithic_block(truth_pairs):
    """numpy model of the round-1 blocker: one block of the first 8 sign
    bits, probed at Hamming distance 1, then the exact cosine re-check
    (membership in the all-pairs truth set)."""
    t = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    E = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
    key = dict(zip(t.column("vec_id").to_pylist(), E[:, :8] >= 0))
    return {
        (a, b) for a, b in truth_pairs
        if np.count_nonzero(key[a] != key[b]) <= 1
    }


def test_banded_recall_beats_monolithic_block(spark, truth):
    truth_pairs, n = truth
    assert truth_pairs, "ground truth must be non-empty at sf0.01"

    banded = _pairs(spark)
    mono = _monolithic_block(truth_pairs)
    # LSH never invents pairs: everything returned is true (exact cosine
    # re-check inside buckets)
    assert banded <= truth_pairs

    recall_banded = len(banded) / len(truth_pairs)
    recall_mono = len(mono) / len(truth_pairs)
    assert recall_banded >= recall_mono
    assert recall_banded >= 0.4, (recall_banded, recall_mono)


def test_default_config_recall_floor(spark, truth):
    """VERDICT r4 next #4's 'done' bar: the DEFAULT banding (9 bands ×
    7 bits + Hamming-1 multiprobe since round 5) must recall ≥ 0.8 of
    true cos≥0.35 pairs while scoring only a sub-all-pairs candidate
    set (measured 0.886 recall at 44% of all-pairs cost on sf0.1 —
    curve in BENCH/BASELINE.md, sweep in
    BENCH/neardup_recall_sweep.py)."""
    truth_pairs, n = truth
    found = _pairs(spark)
    assert found <= truth_pairs  # exact re-scoring: precision 1.0
    assert len(found) / len(truth_pairs) >= 0.8, len(found) / len(truth_pairs)


def test_banded_candidates_are_a_fraction_of_all_pairs(spark, truth):
    _, n = truth
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    # rebuild the candidate set exactly as the operator blocks it
    bands = None
    for j in range(similarity.N_SIG_BANDS):
        part = emb.select(
            "vec_id",
            F.lit(j).alias("band"),
            F.expr(
                "concat_ws('', transform(slice(embedding, {s}, {d}),"
                " x -> case when x >= 0 then '1' else '0' end))".format(
                    s=j * similarity.BAND_DIMS + 1, d=similarity.BAND_DIMS
                )
            ).alias("key"),
        )
        bands = part if bands is None else bands.unionByName(part)
    a, b = bands.alias("a"), bands.alias("b")
    n_cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select("a.vec_id", "b.vec_id").distinct().count()
    )
    assert n_cand < 0.35 * (n * (n - 1) // 2), n_cand
