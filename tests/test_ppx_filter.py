"""training_corpus_filter, the composed pipeline: gate → exact dedup →
near-dedup → ppx band → SemDeDup.

Pins (a) cross-engine parity, (b) the stage-4 identity kept ==
stage-3 survivors ∩ band≠tail, with the survivors taken from the DuckDB
oracle's CTEs, (c) NULL-text robustness, (d) stage 5 as SemDeDup over
the stage-4 survivors.  Corpora with no embedding rows pass every
document through stage 5 with sd_cell = -1, which isolates stages 1-4.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pdf_extractor2_spark.operators import dedup, textstats

SF = "/root/testdata/sf0.001"


def _write_no_embeddings(path):
    """An embeddings table with sf0.001's schema and no rows."""
    pq.write_table(pa.table({
        "vec_id": pa.array([], pa.int64()),
        "embedding": pa.array([], pa.list_(pa.float32())),
        "label": pa.array([], pa.int32()),
    }), str(path / "embeddings.parquet"))


@pytest.fixture(scope="module")
def docs_only(tmp_path_factory):
    """sf0.001's documents with an empty embeddings table."""
    import shutil

    d = tmp_path_factory.mktemp("tcf_docs_only")
    shutil.copy(f"{SF}/documents.parquet", d / "documents.parquet")
    _write_no_embeddings(d)
    return str(d)


def _filter_no_embeddings(spark, sf_dir):
    """{doc_id: (n_exact_dups, log_ppx, ppx_band)} of the graded filter
    over a corpus with no embedding rows; every row must carry the
    unembedded sentinel."""
    rows = dedup.training_corpus_filter(spark, sf_dir).collect()
    assert {r["sd_cell"] for r in rows} <= {-1}
    return {r["doc_id"]: (r["n_exact_dups"], r["log_ppx"], r["ppx_band"])
            for r in rows}


def test_corpus_filter_ppx_parity(spark, docs_only):
    """Stages 1-4 on sf0.001's documents hash-match the DuckDB twin —
    rows, columns, and the band labels."""
    _compare_with_embeddings(
        spark, docs_only,
        dedup.training_corpus_filter(spark, docs_only),
        dedup.training_corpus_filter_sql(),
    )


def _quartile_bands(vals):
    """Independent Python mirror of the exact histogram quartiles:
    t_head = min v with 4·cum(v) ≥ n, t_mid = min v with 4·cum ≥ 3n."""
    from collections import Counter

    n, cnt = len(vals), Counter(vals)
    cum, t_head, t_mid = 0, None, None
    for v in sorted(cnt):
        cum += cnt[v]
        if t_head is None and 4 * cum >= n:
            t_head = v
        if t_mid is None and 4 * cum >= 3 * n:
            t_mid = v
    return lambda x: ("head" if x <= t_head else
                      "middle" if x <= t_mid else "tail")


def test_corpus_filter_band_composition(spark, docs_only):
    """kept == stage-3 survivors ⋈ doc_profile.log_ppx WHERE band ≠
    'tail', where the survivors come from the oracle's CTEs and the band
    is the exact corpus-wide quartile of the graded scorer's numbers
    (recomputed independently in Python) — and the sf0.001 corpus
    genuinely populates all three bands."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM"
                f" read_parquet('{SF}/documents.parquet')")
    base = dict(con.execute(
        f"WITH {dedup._tcf_kept_sql_ctes()} SELECT doc_id, n_exact_dups"
        " FROM exact_kept WHERE doc_id NOT IN (SELECT doc_id FROM near_dropped)"
    ).fetchall())
    scores = {
        r["doc_id"]: r["log_ppx"]
        for r in textstats.doc_profile(spark, SF)
        .select("doc_id", "log_ppx").collect()
    }
    band = _quartile_bands(list(scores.values()))
    assert {band(v) for v in scores.values()} == {"head", "middle", "tail"}
    want = {
        d: (n, scores[d], band(scores[d]))
        for d, n in base.items() if band(scores[d]) != "tail"
    }
    got = _filter_no_embeddings(spark, docs_only)
    assert got == want and got
    assert len(got) < len(base)  # the tail drop is not a no-op


def test_corpus_filter_null_text(spark, tmp_path):
    """A NULL-text row must neither crash the composed pipeline nor
    appear in the kept set; long in-vocabulary docs survive."""
    phrase = ("the quick brown fox jumps over the lazy dog and then "
              "runs far away into the deep green forest tonight ")
    long_text = phrase * 4  # ≥200 chars, ≥40 tokens
    rows = [
        (0, long_text, "en"),       # train slice (0 % 5 == 0)
        (5, long_text + "again and again we go", "en"),
        (1, long_text, "en"),       # exact dup of 0 → deduped
        (2, long_text + "with a small twist at the end", "en"),
        (3, None, "en"),            # NULL text
        (4, "too short", "en"),
    ]
    table = pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": pa.array([r[1] for r in rows], pa.string()),
        "lang": pa.array([r[2] for r in rows], pa.string()),
    })
    pq.write_table(table, str(tmp_path / "documents.parquet"))
    _write_no_embeddings(tmp_path)

    got = _filter_no_embeddings(spark, str(tmp_path))
    assert 3 not in got and 4 not in got and 1 not in got
    assert 0 in got and got[0][0] == 2
    assert all(band in ("head", "middle") for _, _, band in got.values())
    _compare_with_embeddings(
        spark, str(tmp_path),
        dedup.training_corpus_filter(spark, str(tmp_path)),
        dedup.training_corpus_filter_sql(),
    )


@pytest.mark.parametrize("seed", [7, 19, 31])
def test_corpus_filter_random_corpus_parity(spark, tmp_path, seed):
    """Randomized campaign for the composed filter: corpora with
    planted exact duplicates, mutated near-duplicates, gate-failers,
    NULL/empty text — the full gate → exact → near → quartile-band
    pipeline must hash-match DuckDB exactly (no embedding rows, so
    stage 5 keeps everything with sd_cell = -1).  The quartile thresholds
    make every band depend on EVERY document's score, so a single
    cross-engine score disagreement anywhere shifts band membership
    and fails the compare — the strongest parity stress in the file."""
    import random

    import duckdb

    rng = random.Random(seed)
    words = ["the", "a", "of", "and", "to", "in"] + [f"w{i}" for i in range(400)]
    rows, d = [], 0
    while d < 200:
        kind = rng.randrange(6)
        if kind == 0:
            text = None
        elif kind == 1:
            text = " ".join(rng.choice(words) for _ in range(rng.randrange(1, 30)))
        else:
            body = [words[min(int(rng.paretovariate(1.3)), len(words) - 1)]
                    for _ in range(rng.randrange(45, 120))]
            text = " ".join(body)
            while len(text) < 200:
                text += " " + " ".join(body)
        rows.append((d, text)); d += 1
        if text and kind >= 2 and rng.random() < 0.3 and d < 200:
            rows.append((d, text)); d += 1          # planted exact dup
        if text and kind >= 2 and rng.random() < 0.3 and d < 200:
            toks = text.split(" ")
            toks[rng.randrange(len(toks))] = rng.choice(words)
            rows.append((d, " ".join(toks))); d += 1  # near-dup
    table = pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": pa.array([r[1] for r in rows], pa.string()),
        "lang": pa.array(["en"] * len(rows), pa.string()),
    })
    p = tmp_path / f"tcf{seed}"
    p.mkdir()
    pq.write_table(table, str(p / "documents.parquet"))
    _write_no_embeddings(p)

    got = sorted(tuple(r) for r in
                 dedup.training_corpus_filter(spark, str(p)).collect())
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM"
                    f" read_parquet('{p}/{t}.parquet')")
    want = sorted(tuple(r) for r in
                  con.execute(dedup.training_corpus_filter_sql()).fetchall())
    assert got == want, next((a, b) for a, b in zip(got, want) if a != b)
    assert got  # corpora are built to keep at least one gate-passer


def test_corpus_filter_near_dup_floor(spark, tmp_path):
    """Stage 3's Jaccard floor, pinned at 0.5 from both sides.  Each
    pair (a, a+1) has 62 distinct tokens a side (60 shingles) and shares
    its first m tokens (m - 2 shingles), so Jaccard = (m-2)/(122-m):
    m = 42 gives exactly 0.5, m = 43 gives 41/79 = 0.518987, m = 41
    gives 39/81 = 0.481481.  The lower-id docs sit in the ppx train
    slice (doc_id % 5 == 0) and the padding docs are out-of-vocabulary
    gibberish, so the padding, not the pairs, holds the worst
    perplexity; every doc clears the quality gate."""
    import random

    import duckdb

    rows = []
    for a, m in ((0, 42), (5, 43), (10, 41)):
        toks = [f"p{a}w{i}" for i in range(62)]
        rows.append((a, " ".join(toks)))
        rows.append((a + 1, " ".join(toks[:m] + [f"p{a}v{i}" for i in range(62 - m)])))
    rng = random.Random(5)
    for d in (2, 3, 4, 7, 8, 9):
        rows.append((d, " ".join(
            "".join(rng.choice("bcdfghjklmnpqrstvwxz") for _ in range(7))
            for _ in range(45))))
    assert all(len(t) >= 200 and len(t.split(" ")) >= 40 for _, t in rows)
    pq.write_table(pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": pa.array([r[1] for r in rows], pa.string()),
        "lang": pa.array(["en"] * len(rows), pa.string()),
    }), str(tmp_path / "documents.parquet"))
    _write_no_embeddings(tmp_path)
    path = str(tmp_path)

    pairs = {(0, 1): 0.5, (5, 6): 0.518987, (10, 11): 0.481481}
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM"
                f" read_parquet('{path}/documents.parquet')")
    for threshold in (0.4, 0.5):
        want = {(a, b, j) for (a, b), j in pairs.items() if j >= threshold}
        got = {tuple(r) for r in
               dedup.jaccard_pairs(spark, path, threshold=threshold).collect()}
        assert got == want
        assert set(con.execute(dedup.jaccard_pairs_sql(threshold=threshold))
                   .fetchall()) == want
    near_dropped = {d for (d,) in con.execute(
        f"WITH {dedup._tcf_kept_sql_ctes()} SELECT doc_id FROM near_dropped"
    ).fetchall()}
    assert near_dropped == {1, 6}

    kept = _filter_no_embeddings(spark, path)
    pair_docs = {d for p in pairs for d in p}
    assert pair_docs & set(kept) == pair_docs - {1, 6}
    _compare_with_embeddings(
        spark, path,
        dedup.training_corpus_filter(spark, path),
        dedup.training_corpus_filter_sql(),
    )


def test_corpus_filter_plan_default_path(spark):
    """The ppx stage's plan shape: no Window over corpus rows, the
    vocabulary cut is a TakeOrdered.  The scan count is pinned in
    test_plans::test_training_corpus_filter_scans_documents_once."""
    from test_plans import _plan

    plan = _plan(dedup.training_corpus_filter(spark, SF))
    assert "Window" not in plan, plan
    assert "TakeOrdered" in plan, plan


def _compare_with_embeddings(spark, sf_dir, spark_df, sql):
    """Both corpus views registered (the semantic stage reads
    embeddings); the shared comparator carries the float-norm guard."""
    from parity import assert_parity

    assert_parity(spark_df, sql, sf_dir, tables=("documents", "embeddings"))


def test_corpus_filter_semdedup_parity(spark):
    """The graded default — all five stages, semantic dedup included —
    hash-matches its DuckDB twin."""
    _compare_with_embeddings(
        spark, SF,
        dedup.training_corpus_filter(spark, SF),
        dedup.training_corpus_filter_sql(),
    )


def test_corpus_filter_semdedup_composition(spark, docs_only):
    """Stage 5 is SemDeDup restricted to the stage-4 survivors: a kept
    doc is dropped iff some LOWER-id KEPT doc shares a within-cell
    cos≥τ pair with it (recomputed here from the pair table directly);
    survivors carry their quantizer cell.  The stage-4 survivors are
    the filter's output over the same documents with no embeddings."""
    import duckdb

    from pdf_extractor2_spark.operators import similarity

    before = _filter_no_embeddings(spark, docs_only)
    con = duckdb.connect()
    con.execute("CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{SF}/embeddings.parquet')")
    pairs = con.execute(
        f"WITH {similarity._semdedup_parts_sql_ctes()} "
        "SELECT vec_a, vec_b FROM sd_pairs"
    ).fetchall()
    cells = dict(con.execute(
        f"WITH {similarity._semdedup_parts_sql_ctes()} "
        "SELECT vec_id, cell FROM a2"
    ).fetchall())
    dropped = {b for a, b in pairs if a in before}
    want = {
        d: (*v, cells.get(d, -1))
        for d, v in before.items() if d not in dropped
    }
    got = {
        r["doc_id"]: (r["n_exact_dups"], r["log_ppx"], r["ppx_band"],
                      r["sd_cell"])
        for r in dedup.training_corpus_filter(spark, SF).collect()
    }
    assert got == want and got
    assert len(got) < len(before)  # the semantic stage is not a no-op


def test_corpus_filter_semdedup_spares_orphaned_groups(spark, tmp_path):
    """Regression: when a duplicate group's lowest-id member was
    already dropped by an earlier stage (here the quality gate), the
    surviving member must NOT be semantically pruned — full-corpus
    verdicts would delete every copy of that content.  Three documents
    put none in the ppx tail quartile, so stage 4 keeps both."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    t0 = " ".join(f"epsilon{i} chunk{i}" for i in range(30)) + " end of doc zero"
    t20 = " ".join(f"delta{i} piece{i}" for i in range(30)) + " end of doc twenty"
    docs = [
        (0, t0),             # quantizer seed (vec_id < 8), survives
        (10, "too short"),   # embedded, gated out by stage 1
        (20, t20),           # embedding-identical to 10, must SURVIVE
    ]
    pq.write_table(pa.table({
        "doc_id": pa.array([d[0] for d in docs], pa.int64()),
        "text": pa.array([d[1] for d in docs], pa.string()),
        "lang": pa.array(["en"] * len(docs), pa.string()),
    }), str(tmp_path / "documents.parquet"))
    w = np.zeros(64, dtype=np.float32); w[0] = 1.0
    u = np.zeros(64, dtype=np.float32); u[1] = 1.0
    pq.write_table(pa.table({
        "vec_id": pa.array([0, 10, 20], pa.int64()),
        "embedding": pa.array([w.tolist(), u.tolist(), u.tolist()],
                              pa.list_(pa.float32())),
        "label": pa.array([0, 0, 0], pa.int32()),
    }), str(tmp_path / "embeddings.parquet"))

    got = {r["doc_id"] for r in dedup.training_corpus_filter(
        spark, str(tmp_path)).collect()}
    assert got == {0, 20}
    _compare_with_embeddings(
        spark, str(tmp_path),
        dedup.training_corpus_filter(spark, str(tmp_path)),
        dedup.training_corpus_filter_sql(),
    )


def test_corpus_filter_semdedup_unembedded_docs_pass(spark, tmp_path):
    """Documents with no embedding row pass stage 5 with sd_cell = -1;
    embedded semantic duplicates are pruned.  Fixture: two identical
    long docs both embedded with identical vectors (doc 5 pruned, doc 0
    kept) plus an embedded-nowhere doc 2 (kept, -1)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    # three TEXTUALLY disjoint long docs (no shared 8-token shingles —
    # stage 3 must not be the thing that drops anyone here); 0 and 5
    # are duplicates in EMBEDDING space only
    t0 = " ".join(f"alpha{i} term{i}" for i in range(30)) + " end of doc zero"
    t5 = " ".join(f"omega{i} word{i}" for i in range(30)) + " end of doc five"
    t2 = " ".join(f"gamma{i} token{i}" for i in range(30)) + " end of doc two"
    docs = [(0, t0), (5, t5), (2, t2)]
    pq.write_table(pa.table({
        "doc_id": pa.array([d[0] for d in docs], pa.int64()),
        "text": pa.array([d[1] for d in docs], pa.string()),
        "lang": pa.array(["en"] * len(docs), pa.string()),
    }), str(tmp_path / "documents.parquet"))
    v = np.zeros(64, dtype=np.float32); v[0] = 1.0
    pq.write_table(pa.table({
        "vec_id": pa.array([0, 5], pa.int64()),
        "embedding": pa.array([v.tolist(), v.tolist()],
                              pa.list_(pa.float32())),
        "label": pa.array([0, 0], pa.int32()),
    }), str(tmp_path / "embeddings.parquet"))

    got = {r["doc_id"]: r["sd_cell"] for r in dedup.training_corpus_filter(
        spark, str(tmp_path)).collect()}
    assert 5 not in got          # identical embedding, higher id → pruned
    assert got[0] == 0           # kept, cell 0 (its own seed)
    assert got[2] == -1          # no embedding row → passes with sentinel
    _compare_with_embeddings(
        spark, str(tmp_path),
        dedup.training_corpus_filter(spark, str(tmp_path)),
        dedup.training_corpus_filter_sql(),
    )
