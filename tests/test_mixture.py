"""Weighted data-mixing extension of token_budget_sample (round 5):
target-mixture budgets per language, zero-weight language dropping,
cross-engine parity, and an independent Python model of the selection
and its packing origin.
"""

from __future__ import annotations

from pdf_extractor2_spark.plans import relational

SF_DIR = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


def _assert_parity(spark_df, sf_dir, sql):
    from parity import assert_parity

    assert_parity(spark_df, sql, sf_dir, tables=("documents",))


def test_mixture_default_parity(spark):
    """The graded-row shape (MIX_WEIGHTS, 12k budget) hash-matches its
    DuckDB twin."""
    _assert_parity(
        relational.token_budget_sample(spark, SF_DIR), SF_DIR,
        relational.token_budget_sample_sql(),
    )


def test_mixture_budgets_enforced(spark):
    """Every (lang, bucket) token sum respects its CASE-mapped budget,
    budgets follow the integer weight arithmetic, and only weighted
    languages appear."""
    budget, n_buckets = 12_000, 8
    rows = relational.token_budget_sample(spark, SF01).collect()
    total_w = sum(relational.MIX_WEIGHTS.values())
    expected = {
        lang: (budget * w // total_w) // n_buckets
        for lang, w in relational.MIX_WEIGHTS.items()
    }
    assert {r["lang"] for r in rows} <= set(relational.MIX_WEIGHTS)
    sums: dict[tuple, int] = {}
    for r in rows:
        assert r["bucket_budget"] == expected[r["lang"]], r
        key = (r["lang"], r["bucket"])
        sums[key] = sums.get(key, 0) + r["n_tokens"]
    for (lang, _), s in sums.items():
        assert s <= expected[lang]
    # the mixture must actually select a PROPER subset at sf0.01
    assert 0 < len(rows) < 500


def test_zero_weight_language_dropped(spark):
    rows = relational.token_budget_sample(
        spark, SF01, weights={"en": 1}
    ).collect()
    assert rows and {r["lang"] for r in rows} == {"en"}


def test_fold_packing_origin_matches_pack_sequences(spark):
    """An independent Python model of the mix and of concat-then-chunk
    packing: per (lang, hash bucket) shard, documents in LCG hash order
    are taken while the running token total fits the shard budget, and
    each lands at stream offset ``cum - n``, i.e. in sequence
    ``(cum - n) // SEQ_LEN`` at position ``(cum - n) % SEQ_LEN``.  The
    selection and its (seq_id, seq_start) columns must match exactly,
    and some documents must start past the first sequence."""
    import pyarrow.parquet as pq

    budget, n_buckets, sl = 12_000, 8, relational.SEQ_LEN
    w = relational.MIX_WEIGHTS
    total_w = sum(w.values())
    docs = pq.read_table(f"{SF01}/documents.parquet",
                         columns=["doc_id", "lang", "text"]).to_pylist()
    shards: dict[tuple, list] = {}
    for d in docs:
        if d["lang"] in w:
            h = (d["doc_id"] * 1103515245 + 12345) % 2147483647
            n = len((d["text"] or "").split(" "))
            shards.setdefault((d["lang"], d["doc_id"] % n_buckets), []).append(
                (h, d["doc_id"], n))
    want = {}
    for (lang, _), rows in shards.items():
        cap = (budget * w[lang] // total_w) // n_buckets
        cum = 0
        for _, doc_id, n in sorted(rows):
            cum += n
            if cum <= cap:
                want[doc_id] = ((cum - n) // sl, (cum - n) % sl)

    got = {r["doc_id"]: (r["seq_id"], r["seq_start"])
           for r in relational.token_budget_sample(spark, SF01).collect()}
    assert got == want
    assert any(seq > 0 for seq, _ in got.values())
