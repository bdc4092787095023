"""Cross-engine parity of the graded text rows (``doc_profile``,
``top_tokens``, ``duplicate_span_stats``, ``token_budget_sample``) on
adversarial texts — empty strings, consecutive spaces (empty tokens), unicode,
halfway-rounding ratios (1/128 = 0.0078125 rounds differently under
Spark round() vs DuckDB round(); the operators use the floor idiom),
single-token docs, and fully-repeated documents.  The quality-gate and
repetition checks compare just their columns of ``doc_profile``, so a
failure names the signal that moved; doc_profile and top_tokens are
also checked against pure-Python computations."""

from __future__ import annotations

import math

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

EDGE_TEXTS = [
    None,                                   # NULL text: coalesce'd to ''
    "",                                     # empty: split -> ['']
    "one",                                  # single token, no 3-grams
    "a b",                                  # below shingle width
    "x y z",                                # exactly one 3-gram
    "w w w w w w w w",                      # fully repeated token
    "a  b   c",                             # consecutive spaces -> empty tokens
    "æøå über 北京 déjà vu encore une fois", # unicode tokens
    " ".join(["t"] * 128),                  # 1/128-style halfway ratios
    " ".join(f"u{i}" for i in range(130)),  # all-distinct long doc
    "p q r p q r p q r p q r",              # repeated 3-gram block
    "{ code } lorem ipsum dolor",           # quality-gate trigger text
    " ".join(["word"] * 49) + " tail",      # exactly 50 words boundary
]


@pytest.fixture(scope="module")
def edge_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("edgetexts")
    langs = ["en", "de", "fr"]
    rows = [
        (i, t, langs[i % 3], "web", len(t) if t is not None else 0)
        for i, t in enumerate(EDGE_TEXTS)
    ]
    table = pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": pa.array([r[1] for r in rows], pa.string()),
        "lang": pa.array([r[2] for r in rows], pa.string()),
        "source": pa.array([r[3] for r in rows], pa.string()),
        "n_chars": pa.array([r[4] for r in rows], pa.int64()),
    })
    pq.write_table(table, str(d / "documents.parquet"))
    return str(d)


def _norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 9)
    return v


def _compare(spark, edge_dir, spark_df, sql):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{edge_dir}/documents.parquet')"
    )
    scols = [c.lower() for c in spark_df.columns]
    srows = [tuple(r) for r in spark_df.collect()]
    res = con.execute(sql)
    dcols = [d[0].lower() for d in res.description]
    drows = res.fetchall()
    assert sorted(scols) == sorted(dcols), (scols, dcols)
    so = sorted(range(len(scols)), key=lambda i: scols[i])
    do = sorted(range(len(dcols)), key=lambda i: dcols[i])
    a = sorted(tuple(_norm(r[i]) for i in so) for r in srows)
    b = sorted(tuple(_norm(r[i]) for i in do) for r in drows)
    assert a == b, f"first diff: {next(((x, y) for x, y in zip(a, b) if x != y), None)}"
    assert a  # non-empty


def _compare_doc_profile(spark, edge_dir, cols):
    """``_compare`` on a projection of doc_profile and its twin."""
    from pdf_extractor2_spark.operators import textstats

    _compare(spark, edge_dir,
             textstats.doc_profile(spark, edge_dir).select(*cols),
             f"SELECT {', '.join(cols)} FROM ({textstats.doc_profile_sql()})")


def test_repetition_stats_edge_parity(spark, edge_dir):
    _compare_doc_profile(spark, edge_dir, (
        "doc_id", "n_tokens", "n_3grams", "n_distinct_3grams",
        "dup_3gram_frac", "top_token_frac",
    ))


def test_quality_gates_edge_parity(spark, edge_dir):
    _compare_doc_profile(spark, edge_dir, (
        "doc_id", "lang", "n_tokens", "mean_token_len", "has_min_words",
        "word_len_ok", "no_lorem", "no_brace", "kept",
    ))


def test_top_tokens_by_lang_edge_parity(spark, edge_dir):
    from pdf_extractor2_spark.operators import textstats

    _compare(spark, edge_dir,
             textstats.top_tokens_combined(spark, edge_dir)
             .where("lang != '*'"),
             f"SELECT * FROM ({textstats.top_tokens_combined_sql()})"
             " WHERE lang != '*'")


def test_doc_profile_edge_parity(spark, edge_dir):
    from pdf_extractor2_spark.operators import textstats

    _compare(spark, edge_dir,
             textstats.doc_profile(spark, edge_dir),
             textstats.doc_profile_sql())


def test_top_tokens_combined_edge_parity(spark, edge_dir):
    from pdf_extractor2_spark.operators import textstats

    _compare(spark, edge_dir,
             textstats.top_tokens_combined(spark, edge_dir),
             textstats.top_tokens_combined_sql())


def test_doc_profile_matches_individual_ops(spark, edge_dir):
    """Every per-row doc_profile column against its own pure-Python
    computation on the adversarial edge corpus — an oracle independent
    of both engine texts, so a misconception they share cannot hide."""
    import re
    from collections import Counter

    from pdf_extractor2_spark.operators import textstats

    def f6(x):  # the engines' shared half-up rounding
        return math.floor(x * 1e6 + 0.5) / 1e6

    def expected(text):
        text = text or ""
        toks = text.split(" ")
        n, ml = len(toks), sum(map(len, toks)) / len(toks)
        nbpe = len(re.findall(textstats._BPE_PATTERN, text))
        fp = 0
        for c in text:
            fp = (fp * 31 + ord(c)) % textstats.MOD
        n3 = max(n - 2, 0)
        d3 = len({" ".join(toks[i:i + 3]) for i in range(n3)})
        gates = (n >= 50, 3 <= ml <= 10, "lorem ipsum" not in text.lower(),
                 "{" not in text)
        return {
            "n_tokens": n, "n_distinct_tokens": len(set(toks)),
            "n_chars_actual": len(text),
            "stopword_ratio": f6(sum(t in ("the", "a") for t in toks) / n),
            "mean_token_len": f6(ml),
            "quality_bucket": "keep" if len(text) >= 200 and n >= 40 else "drop",
            "fingerprint": fp,
            "pred_lang": ("en" if sum(t in ("the", "a", "of") for t in toks) * 10
                          >= n else "und"),
            "n_bpe_tokens": nbpe, "bpe_per_word": f6(nbpe / n),
            "has_min_words": gates[0], "word_len_ok": gates[1],
            "no_lorem": gates[2], "no_brace": gates[3], "kept": all(gates),
            "n_3grams": n3, "n_distinct_3grams": d3,
            "dup_3gram_frac": f6(1 - d3 / n3) if n3 else 0.0,
            "top_token_frac": f6(max(Counter(toks).values()) / n),
        }

    prof = {r["doc_id"]: r.asDict()
            for r in textstats.doc_profile(spark, edge_dir).collect()}
    assert len(prof) == len(EDGE_TEXTS)
    for doc_id, text in enumerate(EDGE_TEXTS):
        for col, want in expected(text).items():
            assert prof[doc_id][col] == want, (doc_id, col, prof[doc_id][col], want)


def test_top_tokens_combined_matches_parts(spark, edge_dir):
    """Both parts against an independent Python count: the per-lang
    slice is each language's top 5 and the global slice (lang='*') the
    corpus top 30 of whitespace tokens longer than one character,
    ranked by count then token."""
    from collections import Counter

    from pdf_extractor2_spark.operators import textstats

    def ranked(counts, k):
        top = sorted(counts.items(), key=lambda tn: (-tn[1], tn[0]))[:k]
        return [(tok, n, rank) for rank, (tok, n) in enumerate(top, 1)]

    by_lang: dict[str, Counter] = {}
    for i, text in enumerate(EDGE_TEXTS):
        toks = [t for t in (text or "").split(" ") if len(t) > 1]
        by_lang.setdefault(["en", "de", "fr"][i % 3], Counter()).update(toks)
    want = {(lang, *r) for lang, c in by_lang.items() for r in ranked(c, 5)}
    want |= {("*", *r) for r in ranked(sum(by_lang.values(), Counter()), 30)}

    got = {tuple(r) for r in
           textstats.top_tokens_combined(spark, edge_dir)
           .select("lang", "token", "n", "rank").collect()}
    assert got == want and any(r[0] == "*" for r in got)


def test_duplicate_span_stats_edge_parity(spark, edge_dir):
    from pdf_extractor2_spark.operators import dedup

    _compare(spark, edge_dir,
             dedup.duplicate_span_stats(spark, edge_dir),
             dedup.duplicate_span_stats_sql())


def test_token_budget_sample_edge_parity(spark, edge_dir):
    from pdf_extractor2_spark.plans import relational

    _compare(spark, edge_dir,
             relational.token_budget_sample(spark, edge_dir, budget_tokens=160),
             relational.token_budget_sample_sql(budget_tokens=160))
