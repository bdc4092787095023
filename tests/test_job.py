"""Spark e2e: corpus → extraction kernel → corpus-level invariants
(FIXTURES.md §5) + per-url raw_json byte-identity vs the oracle."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from pdf_extractor2_spark.plans.extract_job import (
    metrics_rollup,
    payload_to_ir,
    run_extract,
)
from pdf_extractor2_spark.sources.corpus import (
    corpus_df,
    make_doc_spec,
    render_payload,
)

from oracle import OracleDocument, run_reference_subprocess

N_DOCS = 150
SEED = 42
PDF_SHARE = 0.2


@pytest.fixture(scope="module")
def results(spark):
    pages = corpus_df(spark, N_DOCS, seed=SEED, pdf_share=PDF_SHARE, num_partitions=6)
    df = run_extract(pages, num_buckets=8).cache()
    df.count()
    return df


def test_row_count_invariant(results):
    # every url yields exactly one success-or-failure row
    assert results.count() == N_DOCS
    assert results.select("url").distinct().count() == N_DOCS


def test_failures_are_exactly_empty_payloads(results):
    specs = [make_doc_spec(i, seed=SEED, pdf_share=PDF_SHARE) for i in range(N_DOCS)]
    expect_fail = {s.url for s in specs if s.payload_kind == "none"}
    got_fail = {r["url"] for r in results.where(~F.col("success")).collect()}
    assert got_fail == expect_fail
    assert 0 < len(got_fail) < N_DOCS


def test_both_payload_kinds_processed(results):
    kinds = {
        r["payload_kind"]
        for r in results.where(F.col("success")).select("payload_kind").distinct().collect()
    }
    assert kinds == {"html", "pdf"}


def test_raw_json_byte_identity_vs_oracle(results):
    """The north-rule invariant: per-url byte-identical raw_json between
    the Spark kernel (executor side, PYTHONHASHSEED=0 workers) and the
    reference pipeline run on the identical front-end IR in a subprocess
    pinned to the same seed."""
    got = {
        r["url"]: (r["raw_json"], r["main_text"])
        for r in results.where(F.col("success")).collect()
    }
    docs, filenames, page_texts_by_url = [], [], {}
    for i in range(N_DOCS):
        spec = make_doc_spec(i, seed=SEED, pdf_share=PDF_SHARE)
        if spec.payload_kind == "none":
            continue
        payload = render_payload(spec)
        ir, spans, kind = payload_to_ir(payload)
        docs.append(
            OracleDocument(
                page_texts=list(ir.page_texts),
                lattice=[(t.grid, t.page, t.accuracy) for t in ir.lattice_tables],
                stream_by_config={
                    j: [(t.grid, t.page, t.accuracy) for t in tables]
                    for j, tables in enumerate(ir.stream_tables_by_config)
                },
            )
        )
        filenames.append(spec.url)
        page_texts_by_url[spec.url] = "\n\f\n".join(ir.page_texts)

    expected = run_reference_subprocess(docs, filenames)
    assert len(expected) > 50
    for url, exp in zip(filenames, expected):
        raw_json, main_text = got[url]
        assert raw_json == exp["raw_json"], url
        assert main_text == page_texts_by_url[url], url


def test_extraction_yields_entities(results):
    ok = results.where(F.col("success"))
    agg = ok.agg(
        F.sum("n_contacts").alias("c"),
        F.sum("n_projects").alias("p"),
        F.sum("n_tenders").alias("t"),
    ).collect()[0]
    assert agg["c"] > 20 and agg["p"] > 20 and agg["t"] > 0


def test_determinism_across_parallelism(spark, results):
    """Output is invariant under partitioning/bucket count — the
    two-cluster-size correctness precondition (FIXTURES.md §5.4)."""
    pages2 = corpus_df(spark, N_DOCS, seed=SEED, pdf_share=PDF_SHARE, num_partitions=2)
    again = run_extract(pages2, num_buckets=3)
    a = sorted(
        (r["url"], r["raw_json"]) for r in results.select("url", "raw_json").collect()
    )
    b = sorted((r["url"], r["raw_json"]) for r in again.select("url", "raw_json").collect())
    assert a == b


def test_metrics_rollup(results):
    m = metrics_rollup(results, "test-run").collect()
    assert sum(r["n_docs"] for r in m) == N_DOCS
    assert sum(r["n_failure"] for r in m) > 0
    assert all(r["run_id"] == "test-run" for r in m)


def test_hot_host_spreads_across_buckets(spark):
    """The corpus has one host carrying ~30% of urls (FIXTURES.md §1);
    bucketing on xxhash64(url) must spread it uniformly — no bucket may
    hold a disproportionate share (the skew-salting requirement)."""
    from pdf_extractor2_spark.plans.extract_job import with_bucket
    from pdf_extractor2_spark.sources.corpus import HOT_HOST

    pages = corpus_df(spark, 400, seed=23, pdf_share=0.0, num_partitions=4)
    bucketed = with_bucket(pages.select("url", "html"), 16)
    hot = bucketed.where(F.col("url").contains(HOT_HOST))
    counts = [r["n"] for r in hot.groupBy("bucket").agg(F.count("*").alias("n")).collect()]
    n_hot = sum(counts)
    assert n_hot > 80  # the skew exists in the corpus
    assert len(counts) >= 12  # and lands in nearly every bucket
    assert max(counts) < n_hot * 0.25  # no single bucket dominates
