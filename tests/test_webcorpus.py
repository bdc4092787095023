"""Web-corpus operator pins: recrawl latest-version semantics, PII
regex behavior (identical under Java regex and RE2), contamination
flagging with the short-doc zero row, and the plan shapes the 100-TB
story depends on (broadcast contamination join, shuffle-free PII scan)."""

from __future__ import annotations

import re

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from pdf_extractor2_spark.operators import webcorpus


def _write_docs(path, rows):
    """rows: list of (doc_id, text); text may be None (a real crawl
    table has null-text rows, and both engines must propagate them
    identically).  Full documents schema."""
    table = pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": pa.array([r[1] for r in rows], pa.string()),
        "lang": pa.array(["en"] * len(rows), pa.string()),
        "source": pa.array(["srcT"] * len(rows), pa.string()),
        "n_chars": pa.array([len(r[1] or "") for r in rows], pa.int64()),
    })
    pq.write_table(table, str(path / "documents.parquet"))


def _duck(path):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{path}/documents.parquet')"
    )
    return con


def _parity(spark_df, con, sql):
    got = sorted(tuple(r) for r in spark_df.collect())
    want = sorted(tuple(r) for r in con.execute(sql).fetchall())
    assert got == want, (got[:5], want[:5])
    return got


# ---------------------------------------------------------------------------
# latest_page_version
# ---------------------------------------------------------------------------

def test_latest_page_version_keeps_newest_capture(spark, tmp_path):
    # doc_ids 0/175/350 collide on the same url (same doc_id % 7 and % 25);
    # doc_id 1 is a lone capture
    rows = [(0, "v zero"), (175, "v one"), (350, "v two"), (1, "other page")]
    _write_docs(tmp_path, rows)
    out = {
        r["url"]: r
        for r in webcorpus.latest_page_version(spark, str(tmp_path)).collect()
    }
    assert len(out) == 2
    hot = out["https://host0.example/p0"]
    assert hot["n_versions"] == 3
    assert hot["latest_doc_id"] == 350
    assert hot["latest_warc_epoch"] == 1_700_000_000 + 350 * 37
    assert hot["latest_n_chars"] == len("v two")
    assert out["https://host1.example/p1"]["n_versions"] == 1

    _parity(
        webcorpus.latest_page_version(spark, str(tmp_path)),
        _duck(tmp_path),
        webcorpus.latest_page_version_sql(),
    )


# ---------------------------------------------------------------------------
# pii_stats
# ---------------------------------------------------------------------------

def test_pii_regex_pins(spark, tmp_path):
    """Known PII fixtures → exact counts and scrubbed lengths; doc_id 7
    additionally receives the injected email (7 % 7 == 0), doc_id 1
    nothing."""
    rows = [
        (1, "reach user7@example.com or x.y+z@a-b.co.uk call 555-010-1234"),
        (7, "no pii here"),
        (2, "almost 55-010-1234 and not-an@email"),
    ]
    _write_docs(tmp_path, rows)
    out = {r["doc_id"]: r for r in webcorpus.pii_stats(spark, str(tmp_path)).collect()}

    assert (out[1]["n_emails"], out[1]["n_phones"]) == (2, 1)
    # scrub replaces both emails and the phone with fixed tags
    want_clean = len(
        "reach <EMAIL> or <EMAIL> call <PHONE>"
    )
    assert out[1]["clean_chars"] == want_clean

    # injected email on doc 7: ' mail user7@example.com'
    assert (out[7]["n_emails"], out[7]["n_phones"]) == (1, 0)
    assert out[7]["raw_chars"] == len("no pii here mail user7@example.com")

    # near-misses must not match ('almost 55-010-1234', 'not-an@email'
    # has no TLD of 2+ alpha after a dot)
    assert (out[2]["n_emails"], out[2]["n_phones"]) == (0, 0)
    assert out[2]["clean_chars"] == out[2]["raw_chars"]

    _parity(
        webcorpus.pii_stats(spark, str(tmp_path)),
        _duck(tmp_path),
        webcorpus.pii_stats_sql(),
    )


def test_pii_stats_plan_is_shuffle_free(spark):
    """PII accounting is scan → project: any Exchange in this plan is a
    bug (the 100-TB run is embarrassingly parallel)."""
    import contextlib, io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        webcorpus.pii_stats(spark, "/root/testdata/sf0.001").explain("formatted")
    plan = buf.getvalue()
    assert not re.findall(r"\(\d+\) Exchange", plan), plan
    assert "WholeStageCodegen" in plan or "Scan parquet" in plan


# ---------------------------------------------------------------------------
# host_profile
# ---------------------------------------------------------------------------

def test_host_stats_shares_sum_to_one(spark, tmp_path):
    rows = [(i, f"doc number {i} words") for i in range(21)]
    _write_docs(tmp_path, rows)
    out = webcorpus.host_profile(spark, str(tmp_path)).collect()
    assert len(out) == 7  # hosts 0..6
    assert sum(r["n_docs"] for r in out) == 21
    # shares are rounded to 6dp before summing → within 7 half-ulps of 1
    assert abs(sum(r["docs_share"] for r in out) - 1.0) < 5e-6

    _parity(
        webcorpus.host_profile(spark, str(tmp_path)),
        _duck(tmp_path),
        webcorpus.host_profile_sql(),
    )


def test_host_stats_denominator_is_broadcast_not_window(spark):
    import contextlib, io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        webcorpus.host_profile(spark, "/root/testdata/sf0.001").explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    assert "Window" not in plan, plan


# ---------------------------------------------------------------------------
# crawl_corpus_snapshot
# ---------------------------------------------------------------------------

def test_crawl_snapshot_policy(spark, tmp_path):
    """Recrawl dedup + length gate + host quota compose correctly:
    only the newest capture of a url can appear, short pages are gated,
    a small host passes through whole, and the thinning is a pure
    function of doc_id (re-running yields the identical set)."""
    long_text = "x" * 50
    rows = (
        # url (0 % 7, 0 % 25) has three captures; newest (350) is long
        [(0, "short"), (175, long_text), (350, long_text)]
        # distinct urls on host 1: doc_ids 1, 8, 15, ... (1 mod 7);
        # all long → host 1 keeps them all if quota permits
        + [(1 + 7 * i, long_text) for i in range(5)]
        # a too-short lone page is gated out entirely
        + [(2, "tiny")]
    )
    _write_docs(tmp_path, rows)
    out = webcorpus.crawl_corpus_snapshot(spark, str(tmp_path)).collect()
    by_url = {r["url"]: r for r in out}
    # newest capture won and carried its own n_chars
    assert by_url["https://host0.example/p0"]["doc_id"] == 350
    # host1's five distinct urls all fit within HOST_QUOTA (10)
    assert sum(1 for r in out if r["host"] == "host1.example") == 5
    # the short page is gone
    assert not any(r["doc_id"] == 2 for r in out)

    again = webcorpus.crawl_corpus_snapshot(spark, str(tmp_path)).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))

    _parity(
        webcorpus.crawl_corpus_snapshot(spark, str(tmp_path)),
        _duck(tmp_path),
        webcorpus.crawl_corpus_snapshot_sql(),
    )


def test_crawl_snapshot_quota_thins_hot_host(spark, tmp_path):
    """A host with many urls is thinned to ≈quota (integer-hash
    downsample, not a per-host sort): kept count lands well under the
    url count and above zero."""
    # 40 distinct urls on host 0: doc_ids ≡ 0 mod 7, spread mod 25
    rows = [(7 * i, "y" * 40) for i in range(40)]
    _write_docs(tmp_path, rows)
    out = webcorpus.crawl_corpus_snapshot(spark, str(tmp_path)).collect()
    n_urls = len({r[0] % 175 for r in rows})  # distinct (host,path) combos
    kept = len(out)
    assert 0 < kept < n_urls, (kept, n_urls)

    _parity(
        webcorpus.crawl_corpus_snapshot(spark, str(tmp_path)),
        _duck(tmp_path),
        webcorpus.crawl_corpus_snapshot_sql(),
    )


def test_crawl_snapshot_plan_has_no_sort_or_window(spark):
    import contextlib, io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        webcorpus.crawl_corpus_snapshot(
            spark, "/root/testdata/sf0.001"
        ).explain("formatted")
    plan = buf.getvalue()
    assert "Window" not in plan, plan
    assert not re.search(r"^\(\d+\) Sort", plan, re.M), plan
    assert "BroadcastHashJoin" in plan, plan
    # the persisted latest-per-url table feeds both the output branch
    # and the host-size aggregate: exactly ONE FileScan of documents
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1, plan


# ---------------------------------------------------------------------------
# randomized cross-engine parity (the recurring bug class: float drift,
# regex dialect edges, hash-arithmetic divergence)
# ---------------------------------------------------------------------------

def test_webcorpus_random_parity(spark, tmp_path):
    import random

    rng = random.Random(2026)
    vocab = (
        "alpha beta gamma delta kilo lima mike november oscar papa".split()
        + ["user@example.com", "bob.smith+x@mail-host.co", "555-010-9999",
           "12-34-56", "x@y.zz", "@not", "a@b", "100%", "r[e]gex"]
    )
    rows = []
    for doc_id in sorted(rng.sample(range(3000), 120)):
        n = rng.randint(0, 40)
        rows.append((doc_id, " ".join(rng.choice(vocab) for _ in range(n))))
    # null-text and empty-text rows: both engines must propagate them
    # identically through every operator (verified: NULL flows through
    # concat/regexp/md5 the same way in Spark and DuckDB)
    rows[7] = (rows[7][0], None)
    rows[11] = (rows[11][0], "")
    _write_docs(tmp_path, rows)
    con = _duck(tmp_path)
    for fn, sql in [
        (webcorpus.latest_page_version, webcorpus.latest_page_version_sql()),
        (webcorpus.pii_stats, webcorpus.pii_stats_sql()),
        (webcorpus.crawl_corpus_snapshot, webcorpus.crawl_corpus_snapshot_sql()),
        (webcorpus.snapshot_diff, webcorpus.snapshot_diff_sql()),
        (webcorpus.url_normalize, webcorpus.url_normalize_sql()),
        (webcorpus.lang_confusion, webcorpus.lang_confusion_sql()),
        (webcorpus.host_profile, webcorpus.host_profile_sql()),
        (webcorpus.benchmark_contamination, webcorpus.benchmark_contamination_sql()),
    ]:
        _parity(fn(spark, str(tmp_path)), con, sql)


def test_host_profile_matches_source_queries(spark):
    """host_profile's host-stats and quality-report columns on sf0.001
    against a pure-Python computation of each: doc/url counts, char
    mass and corpus share per host, and the C4-gate survivors and mean
    length per host."""
    import math

    sf = "/root/testdata/sf0.001"
    t = pq.read_table(f"{sf}/documents.parquet",
                      columns=["doc_id", "text", "n_chars"]).to_pylist()

    def half_up(x, d):
        return math.floor(x * 10 ** d + 0.5) / 10 ** d

    hosts: dict[str, list] = {}
    for r in t:
        toks = (r["text"] or "").split(" ")
        ml = sum(map(len, toks)) / len(toks)
        kept = (len(toks) >= 50 and 3 <= ml <= 10
                and "lorem ipsum" not in (r["text"] or "").lower()
                and "{" not in (r["text"] or ""))
        hosts.setdefault(f"host{r['doc_id'] % webcorpus.N_HOSTS}.example", []).append(
            (r["doc_id"] % webcorpus.N_PATHS, r["n_chars"], kept, len(toks)))
    want = {}
    for host, rows in hosts.items():
        n, n_kept = len(rows), sum(k for _, _, k, _ in rows)
        want[host] = (
            n, len({p for p, _, _, _ in rows}), sum(c for _, c, _, _ in rows),
            half_up(n / len(t), 6), n_kept, half_up(n_kept / n, 6),
            half_up(sum(w for *_, w in rows) / n, 2),
        )

    cols = ("n_docs", "n_urls", "total_chars", "docs_share", "n_kept",
            "kept_rate", "mean_words")
    got = {r["host"]: tuple(r[c] for c in cols)
           for r in webcorpus.host_profile(spark, sf).collect()}
    assert got == want and len(got) == webcorpus.N_HOSTS


# ---------------------------------------------------------------------------
# quality monitoring compositions
# ---------------------------------------------------------------------------

def test_host_quality_report_semantics(spark, tmp_path):
    """Kept-rate separates a junk host from a clean one: host 0 gets
    50-word documents that pass every gate, host 1 gets lorem-ipsum
    docs that fail."""
    good = " ".join(["word"] * 50)
    bad = "lorem ipsum " + " ".join(["word"] * 48)
    rows = [(7 * i, good) for i in range(3)] + [(1 + 7 * i, bad) for i in range(2)]
    _write_docs(tmp_path, rows)
    out = {r["host"]: r for r in webcorpus.host_profile(spark, str(tmp_path)).collect()}
    assert out["host0.example"]["n_docs"] == 3
    assert out["host0.example"]["kept_rate"] == 1.0
    assert out["host1.example"]["kept_rate"] == 0.0
    assert out["host0.example"]["mean_words"] == 50.0

    _parity(
        webcorpus.host_profile(spark, str(tmp_path)),
        _duck(tmp_path),
        webcorpus.host_profile_sql(),
    )


def test_lang_confusion_shares(spark, tmp_path):
    """English stopword-heavy docs predict 'en'; shares sum to 1 within
    each labelled language."""
    en_ish = "the a of the a of the a of"
    other = "xyzzy plugh quux"
    rows = [(0, en_ish), (1, en_ish), (2, other), (3, other)]
    _write_docs(tmp_path, rows)
    out = webcorpus.lang_confusion(spark, str(tmp_path)).collect()
    by_cell = {(r["lang"], r["pred_lang"]): r for r in out}
    assert by_cell[("en", "en")]["n_docs"] == 2
    assert by_cell[("en", "und")]["n_docs"] == 2
    assert abs(sum(r["lang_share"] for r in out) - 1.0) < 5e-6  # one lang

    _parity(
        webcorpus.lang_confusion(spark, str(tmp_path)),
        _duck(tmp_path),
        webcorpus.lang_confusion_sql(),
    )


# ---------------------------------------------------------------------------
# url_normalize
# ---------------------------------------------------------------------------

def test_url_normalize_rules(spark, tmp_path):
    """Each canonicalization rule pinned through a chosen variant:
    lowercase scheme+host, default-port strip per scheme, fragment
    drop, trailing-slash drop, query-param sort — and two different
    raw spellings of the same logical page must COLLAPSE to one
    canonical url (n_raw_forms = 2)."""
    rows = [
        (0, "a"),    # v0: https://host0.example/p0        (plain)
        (175, "b"),  # 175 % 4 = 3 → v3: ?b=2&a=1 on the SAME logical page
        (1, "c"),    # v1: HTTPS://HOST1.EXAMPLE:443/p1#sec
        (176, "d"),  # 176 % 4 = 0 → v0 plain, same page as doc 1
        (2, "e"),    # v2: http://host2.example:80/p2/
        (3, "f"),    # v3: query variant alone
    ]
    _write_docs(tmp_path, rows)
    out = {r["doc_id"]: r for r in webcorpus.url_normalize(spark, str(tmp_path)).collect()}

    # lowercase + :443 strip + fragment drop
    assert out[1]["raw_url"] == "HTTPS://HOST1.EXAMPLE:443/p1#sec"
    assert out[1]["canon_url"] == "https://host1.example/p1"
    # v1 and v0 of the same page collapse
    assert out[176]["canon_url"] == out[1]["canon_url"]
    assert out[1]["n_raw_forms"] == 2
    # :80 strip + trailing slash drop (scheme stays http)
    assert out[2]["canon_url"] == "http://host2.example/p2"
    # query params sorted
    assert out[3]["raw_url"].endswith("?b=2&a=1")
    assert out[3]["canon_url"] == "https://host3.example/p3?a=1&b=2"
    # plain url untouched; differs from its query-variant sibling
    assert out[0]["canon_url"] == "https://host0.example/p0"
    assert out[175]["canon_url"] == "https://host0.example/p0?a=1&b=2"

    _parity(
        webcorpus.url_normalize(spark, str(tmp_path)),
        _duck(tmp_path),
        webcorpus.url_normalize_sql(),
    )


# ---------------------------------------------------------------------------
# snapshot_diff
# ---------------------------------------------------------------------------

def test_snapshot_diff_statuses(spark, tmp_path):
    """All four statuses, with per-era recrawl dedup applied first:
    era = doc_id % 2, url collides on doc_id mod 175."""
    same = "stable content"
    rows = [
        # url (0%7,0%25): era-0 docs 0 & 350 (newest 350), era-1 doc 175
        # with DIFFERENT text → changed (and the diff must compare the
        # NEWEST era-0 capture, doc 350, not doc 0)
        (0, "old old"), (350, "newer old"), (175, "the new text"),
        # url (1%7,1%25): both eras same text → unchanged (176 ≡ 1 mod 175)
        (1, same), (176, same),
        # url for doc 2: era 0 only → removed
        (2, "gone"),
        # url for doc 3: era 1 only → added
        (3, "fresh"),
    ]
    _write_docs(tmp_path, rows)
    out = {r["url"]: r for r in webcorpus.snapshot_diff(spark, str(tmp_path)).collect()}
    assert out["https://host0.example/p0"]["status"] == "changed"
    assert out["https://host0.example/p0"]["old_doc_id"] == 350
    assert out["https://host1.example/p1"]["status"] == "unchanged"
    assert out["https://host2.example/p2"]["status"] == "removed"
    assert out["https://host2.example/p2"]["new_doc_id"] is None
    assert out["https://host3.example/p3"]["status"] == "added"
    assert out["https://host3.example/p3"]["old_doc_id"] is None

    _parity(
        webcorpus.snapshot_diff(spark, str(tmp_path)),
        _duck(tmp_path),
        webcorpus.snapshot_diff_sql(),
    )


# ---------------------------------------------------------------------------
# benchmark_contamination
# ---------------------------------------------------------------------------

def test_contamination_flags_verbatim_overlap(spark, tmp_path):
    bench_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (0, bench_text),                       # benchmark member (0 % 83 == 0)
        (1, "prefix " + bench_text),           # copies every benchmark window
        (2, "tiny doc"),                       # < 8 tokens → zero-shingle row
        (3, "one two three four five six seven eight nine ten"),  # clean
    ]
    _write_docs(tmp_path, rows)
    out = {
        r["doc_id"]: r
        for r in webcorpus.benchmark_contamination(spark, str(tmp_path)).collect()
    }
    assert sorted(out) == [1, 2, 3]  # benchmark doc itself excluded
    assert out[1]["contaminated"] and out[1]["n_overlap"] == 3
    # 'prefix ' + 10 tokens → 11 tokens → 4 windows of 8; the 3 windows
    # fully inside the copied text are contaminated
    assert out[1]["n_shingles"] == 4
    assert out[2]["n_shingles"] == 0 and not out[2]["contaminated"]
    assert out[2]["contam_frac"] == 0.0
    assert not out[3]["contaminated"] and out[3]["n_overlap"] == 0

    _parity(
        webcorpus.benchmark_contamination(spark, str(tmp_path)),
        _duck(tmp_path),
        webcorpus.benchmark_contamination_sql(),
    )


def test_contamination_scans_documents_once_and_broadcasts(spark):
    """Same persist discipline as the dedup family (one FileScan feeds
    the benchmark side, the corpus side, and the doc universe) AND the
    overlap join must be the broadcast hash join the benchmark≪corpus
    asymmetry calls for."""
    import contextlib, io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        webcorpus.benchmark_contamination(
            spark, "/root/testdata/sf0.001"
        ).explain("formatted")
    plan = buf.getvalue()
    assert "documents.parquet" in plan
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1, plan
    assert "BroadcastHashJoin" in plan, plan


def test_blocklist_suffix_semantics(spark):
    """The blocklist predicate matches the host exactly or at a DOT
    boundary only — ads.host2.example is blocked by host2.example,
    nothost2.example is not — and the Spark and DuckDB spellings of
    the shared lambda agree on every case."""
    import duckdb

    from pdf_extractor2_spark.operators.webcorpus import _blocked_expr

    entries = ("host2.example", "banned.net")
    cases = [
        ("host2.example", 1),        # exact
        ("ads.host2.example", 1),    # subdomain
        ("a.b.host2.example", 1),    # deep subdomain
        ("nothost2.example", 0),     # suffix but not at a dot boundary
        ("host2.example.org", 0),    # entry as a PREFIX, not suffix
        ("banned.net", 1),
        ("x.banned.net", 1),
        ("unbanned.net", 0),
        ("host3.example", 0),
    ]
    sdf = spark.createDataFrame([(h,) for h, _ in cases], ["host"])
    got = {
        r["host"]: r["blocked"]
        for r in sdf.selectExpr(
            "host", f"{_blocked_expr(entries, 'spark')} as blocked"
        ).collect()
    }
    assert got == dict(cases)

    con = duckdb.connect()
    vals = ", ".join(f"('{h}')" for h, _ in cases)
    duck = dict(con.execute(
        f"SELECT host, {_blocked_expr(entries, 'duck')} AS blocked"
        f" FROM (VALUES {vals}) t(host)"
    ).fetchall())
    assert duck == dict(cases)


# ---------------------------------------------------------------------------
# host-graph PageRank (round 5)
# ---------------------------------------------------------------------------

def test_host_pagerank_parity_and_python_reference(spark):
    """Bit-identical ranks across Spark, DuckDB, and an independent
    pure-Python evaluation of the integer recurrence; rank mass stays
    within the deterministic floor-leak of the scale; ranks are
    non-uniform (the derived graph is not regular)."""
    import collections

    import duckdb

    sf = "/root/testdata/sf0.001"
    got = sorted((r["host"], r["pagerank_e9"])
                 for r in webcorpus.host_profile(spark, sf).collect())
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf}/documents.parquet')")
    want = sorted(con.execute(webcorpus.host_pagerank_sql()).fetchall())
    assert got == want

    H = webcorpus.N_HOSTS
    docs = [d for (d,) in con.execute("SELECT doc_id FROM documents").fetchall()]
    edges = collections.Counter()
    for d in docs:
        s, t = d % H, (d % H + d // H) % H
        if s != t:
            edges[(s, t)] += 1
    outw = collections.Counter()
    for (s, t), w in edges.items():
        outw[s] += w
    nodes = sorted({d % H for d in docs} | {(d % H + d // H) % H for d in docs})
    n = len(nodes)
    base_total = ((webcorpus.PR_ALPHA_DEN - webcorpus.PR_ALPHA_NUM)
                  * webcorpus.PR_SCALE // webcorpus.PR_ALPHA_DEN)
    r = {h: webcorpus.PR_SCALE // n for h in nodes}
    for _ in range(webcorpus.PR_ITERS):
        inr = collections.Counter()
        for (s, t), w in edges.items():
            inr[t] += r[s] * w // outw[s]
        r = {h: base_total // n
             + webcorpus.PR_ALPHA_NUM * inr.get(h, 0) // webcorpus.PR_ALPHA_DEN
             for h in nodes}
    ref = sorted((f"host{h}.example", v) for h, v in r.items())
    assert ref == got

    mass = sum(v for _, v in got)
    assert webcorpus.PR_SCALE * 99 // 100 <= mass <= webcorpus.PR_SCALE
    assert len({v for _, v in got}) > 1  # non-uniform


def test_host_profile_carries_standalone_pagerank(spark):
    """Deriving the link graph off host_profile's persisted per-row
    projection ranks exactly as deriving it off a fresh documents scan."""
    from pdf_extractor2_spark.operators.dedup import _docs, _scoped_clear

    sf = "/root/testdata/sf0.001"
    _scoped_clear()
    alone = {r["host"]: r["pagerank_e9"] for r in
             webcorpus._pagerank_ranks(_docs(spark, sf)).collect()}
    fold = {r["host"]: r["pagerank_e9"]
            for r in webcorpus.host_profile(spark, sf).collect()}
    assert fold == alone and fold
