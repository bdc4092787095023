"""SemDeDup (Abbas et al. 2023): cluster-scoped semantic pruning over
the embeddings table — hand-computed semantics on a 2-D fixture,
cross-engine parity (the pass alone + the ``dedup_embedding_cosine``
fold), the fold's tags equal to the pass's verdicts, and an independent
numpy re-derivation of the keep rule on real data.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pdf_extractor2_spark.operators import similarity

SF_DIR = "/root/testdata/sf0.001"


def _semdedup(spark, sf_dir, **kw):
    """The SemDeDup pass the graded fold runs, over one persisted
    embeddings scan, as ``(vec_id, cell, sd_keep)``."""
    from pdf_extractor2_spark.operators.dedup import (
        _scoped_clear,
        _scoped_persist,
    )

    _scoped_clear()
    emb = _scoped_persist(similarity._emb(spark, sf_dir))
    return similarity._semdedup_from(emb, **kw)


@pytest.fixture(scope="module")
def tiny_dir(tmp_path_factory):
    """Six 2-D vectors, two obvious clusters, seeds = vec_id < 2:

      0 (1, 0)      seed of cell 0, kept (lowest id in its dup group)
      1 (0, 1)      seed of cell 1, kept
      2 (1, 0.01)   cell 0, cos≈1.0 with 0  → pruned
      3 (0.01, 1)   cell 1, cos≈1.0 with 1  → pruned
      4 (0.7, 0.7)  cell 0 (tie in pass 1 breaks to the LOWER cell),
                    cos ≤ 0.72 with everything in cell 0 → kept
      5 (2, 0.02)   cell 0, parallel to 2 (cos 1.0 ≥ tau) → pruned —
                    the rule is "any lower-id same-cell neighbour ≥
                    tau", so being similar to an already-pruned vector
                    still prunes you (greedy min-id, not transitive
                    closure back to the representative)
    """
    d = tmp_path_factory.mktemp("semdedup_tiny")
    vecs = [
        (0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [1.0, 0.01]),
        (3, [0.01, 1.0]), (4, [0.7, 0.7]), (5, [2.0, 0.02]),
    ]
    table = pa.table({
        "vec_id": pa.array([v[0] for v in vecs], pa.int64()),
        "embedding": pa.array([v[1] for v in vecs], pa.list_(pa.float32())),
        "label": pa.array([0] * len(vecs), pa.int32()),
    })
    pq.write_table(table, str(d / "embeddings.parquet"))
    return str(d)


def test_semdedup_hand_computed(spark, tiny_dir):
    rows = {
        r["vec_id"]: (r["cell"], r["sd_keep"])
        for r in _semdedup(spark, tiny_dir, tau=0.9, n_cells=2).collect()
    }
    assert rows == {
        0: (0, 1), 1: (1, 1), 2: (0, 0), 3: (1, 0), 4: (0, 1), 5: (0, 0),
    }


def _assert_parity(spark_df, sql):
    from parity import assert_parity

    assert_parity(spark_df, sql, SF_DIR, tables=("embeddings",))


def test_semdedup_duckdb_parity(spark):
    _assert_parity(_semdedup(spark, SF_DIR), similarity.semdedup_sql())


def test_labeled_fold_duckdb_parity(spark):
    """The graded ``dedup_embedding_cosine`` row with the semdedup
    columns folded in (driver defaults) hash-matches its oracle."""
    _assert_parity(
        similarity.embedding_near_dup_labeled(spark, SF_DIR),
        similarity.embedding_near_dup_labeled_sql(),
    )


def test_fold_equals_standalone(spark):
    """The fold's four sd columns are exactly the SemDeDup pass's
    verdicts for the pair's sides, run on its own."""
    folded = similarity.embedding_near_dup_labeled(spark, SF_DIR).collect()
    sd = {
        r["vec_id"]: (r["cell"], r["sd_keep"])
        for r in _semdedup(spark, SF_DIR).collect()
    }
    assert folded
    for r in folded:
        assert (r["cell_a"], r["sd_keep_a"]) == sd[r["vec_a"]]
        assert (r["cell_b"], r["sd_keep_b"]) == sd[r["vec_b"]]


def test_keep_rule_matches_numpy_reference(spark):
    """Independent reference: re-derive the one-Lloyd-step quantizer and
    the min-id prune rule in numpy (same roundings) and compare the full
    keep/prune partition on real data."""
    t = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    ids = np.array(t.column("vec_id").to_pylist())
    order = np.argsort(ids)
    ids = ids[order]
    V = np.array(t.column("embedding").to_pylist(), dtype=np.float64)[order]
    n_cells, tau = similarity.N_IVF_CELLS, similarity.SEMDEDUP_TAU

    def rh(x, d):  # the engines' shared half-up: floor(x*10^d + 0.5)/10^d
        s = 10.0 ** d
        return np.floor(x * s + 0.5) / s

    def assign(C):
        sc = rh((C * C).sum(1)[None, :] - 2 * V @ C.T, 6)
        return sc.argmin(1)  # ties -> lowest cell, like the struct-min

    a1 = assign(V[ids < n_cells])
    C2 = rh(np.array([V[a1 == c].mean(0) for c in range(n_cells)]), 6)
    a2 = assign(C2)
    norms = np.sqrt((V * V).sum(1))
    expected = {}
    for c in range(n_cells):
        idx = np.where(a2 == c)[0]
        W, nn = V[idx], norms[idx]
        cm = rh((W @ W.T) / np.outer(nn, nn), 4)
        for j in range(len(idx)):
            pruned = any(cm[i, j] >= tau for i in range(j))
            expected[int(ids[idx[j]])] = (c, 0 if pruned else 1)

    got = {
        r["vec_id"]: (r["cell"], r["sd_keep"])
        for r in _semdedup(spark, SF_DIR).collect()
    }
    assert got == expected
    # the operator must actually prune something on this corpus
    assert sum(1 for _, k in got.values() if k == 0) > 0
