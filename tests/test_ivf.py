"""IVF search structure: deterministic quantizer + cell-partitioned
storage + partition-pruned probe scans (VERDICT r1 item 5).

The point of IVF at 10^9 vectors is that a probe reads ONLY its cell's
files — storage-level pruning, not a full-scan filter.  These tests pin
that property on the physical plan, and the quantizer's determinism
(the DuckDB oracle twin re-derives the identical cells; see
tests/test_entry.py for the value-level pairing).
"""

from __future__ import annotations

import os

from pdf_extractor2_spark.operators import similarity

SF_DIR = "/root/testdata/sf0.001"


def test_ivf_probe_scan_is_partition_pruned(spark):
    df = similarity.ann_ivf_topk(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    pf_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf_lines, plan
    # the probe must carry an equality filter on the cell partition column
    assert any("cell" in l and "=" in l.split("PartitionFilters", 1)[1][:120]
               for l in pf_lines), pf_lines
    # and the scan must read the cell-partitioned index, not the raw table
    assert ".ivf_index" in plan


def test_ivf_index_build_is_idempotent(spark):
    path = similarity.build_ivf_index(spark, SF_DIR)
    marker = f"{path}/_SUCCESS"
    mtime = os.path.getmtime(marker)
    assert path == similarity.build_ivf_index(spark, SF_DIR)
    assert os.path.getmtime(marker) == mtime  # no rewrite on reuse


def _brute_top_k(spark):
    """The exact top-IVF_TOPK_K: a prefix of ann_cosine_topk's ranking."""
    k = similarity.IVF_TOPK_K
    assert k <= similarity.COSINE_TOPK_K
    return similarity.ann_cosine_topk(spark, SF_DIR).collect()[:k]


def test_ivf_full_probe_equals_brute_force(spark):
    """n_probe == N_IVF_CELLS must reproduce exact brute-force top-k —
    the recall knob's endpoint is exactness."""
    ivf_all = similarity.ann_ivf_topk(
        spark, SF_DIR, n_probe=similarity.N_IVF_CELLS
    ).collect()
    brute = _brute_top_k(spark)
    assert [(r["vec_id"], r["cos_sim"]) for r in ivf_all] == [
        (r["vec_id"], r["cos_sim"]) for r in brute
    ]


def test_ivf_multiprobe_recall_at_least_single_probe(spark):
    brute = {r["vec_id"] for r in _brute_top_k(spark)}
    one = {r["vec_id"] for r in similarity.ann_ivf_topk(spark, SF_DIR).collect()}
    three = {r["vec_id"] for r in
             similarity.ann_ivf_topk(spark, SF_DIR, n_probe=3).collect()}
    assert len(three & brute) >= len(one & brute)


def test_ivf_cells_partition_all_vectors(spark):
    cells = similarity._ivf_model(spark, SF_DIR)[0]
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    n = emb.count()
    assert cells.count() == n  # every vector gets exactly one cell
    dist = cells.groupBy("cell").count().collect()
    assert len(dist) > 1  # the quantizer actually splits the space
    assert sum(r["count"] for r in dist) == n
    assert {r["cell"] for r in dist} <= set(range(similarity.N_IVF_CELLS))


def test_multi_iteration_quantizer_parity_and_exactness(spark):
    """Spark and the CTE-chain DuckDB oracle assign bit-identical
    cells with the one-Lloyd-step quantizer the graded rows use.  More
    steps were measured on sf0.1 and left probe-1 recall nearly
    unchanged (0.364 at T=1 vs 0.396 at T=5; curve in
    BENCH/BASELINE.md), so the quantizer takes one."""
    import duckdb

    from pdf_extractor2_spark.operators import similarity as S

    emb = S._emb(spark, SF_DIR)
    con = duckdb.connect()
    con.execute("CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{SF_DIR}/embeddings.parquet')")
    got = sorted(tuple(r) for r in S._ivf_model_from(emb)[0].collect())
    want = sorted(con.execute(
        f"WITH {S._ivf_model_ctes_sql()} "
        "SELECT vec_id, cell FROM a2").fetchall())
    assert got == want and got
