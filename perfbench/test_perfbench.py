"""Small-size tests of the benchmark's own checks and helpers.

    PYTHONHASHSEED=0 PYTHONPATH=. python3 -m pytest -q perfbench

Each output check is run twice: against the pinned answer (must pass)
and against a tampered one (must fail).
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import common, extract, golden, inputs, queries, serve
from perfbench.main import Context


def test_quantiles_and_op_metrics():
    assert common.median([3.0, 1.0, 2.0]) == 2.0
    assert common.quantile([0.0, 10.0], 0.99) == pytest.approx(9.9)
    m = common.op_metrics([0.001, 0.003, 0.004])
    assert m["op_median_ms"]["value"] == pytest.approx(3.0)
    assert m["op_p99_ms"]["value"] == pytest.approx(3.98)
    assert m["op_median_ms"]["samples"] == 3


def test_span_self_time_excludes_children():
    tr = common.Tracer()
    with tr.span("op", op=7):
        with tr.span("child"):
            pass
        with tr.span("child"):
            pass
    (op, op_self), (c1, s1), (c2, s2) = tr.self_times()
    assert c1.parent == 0 and c2.op == 7
    assert op_self == pytest.approx((op.end - op.start) - s1 - s2)


def test_event_log_groups_stages_by_job_description(tmp_path):
    def task(stage, ms, gc=0, shuffle=0):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Launch Time": 0, "Finish Time": ms},
                "Task Metrics": {"JVM GC Time": gc, "Memory Bytes Spilled": 1,
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle}}}
    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [0, 1],
         "Properties": {"spark.job.description": "q:construct"}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [1, 2], "Properties": {}},
        task(0, 10, gc=5, shuffle=100), task(0, 30), task(0, 10), task(2, 4),
    ]
    (tmp_path / "app").write_text("".join(json.dumps(e) + "\n" for e in events))
    jobs = common.read_event_log(str(tmp_path))
    (st,) = jobs["q:construct"]
    assert st.gc_ms == 5 and st.shuffle_write_bytes == 100 and st.spill_bytes == 3
    assert common.task_skew([st]) == 3.0
    assert len(jobs[""]) == 1


def test_pdf_corpus_holds_only_pdfs():
    idx = inputs.sample_pool(5, 20, "pdf")
    assert {inputs.render_doc(i)[2] for i in idx} == {"pdf"}
    assert idx != inputs.sample_pool(6, 20, "pdf")


@pytest.fixture(scope="module")
def ctx(tmp_path_factory):
    if os.environ.get("PYTHONHASHSEED") != "0":
        pytest.skip("needs PYTHONHASHSEED=0, like the program's own tests")
    saved = extract.CORPORA
    extract.CORPORA = {"extract_job": (60, None)}
    c = Context(str(tmp_path_factory.mktemp("run")), seed=5, trace=False)
    c.pages()
    yield c
    c.stop_spark()
    extract.CORPORA = saved


def test_extract_pass_check(ctx):
    expected = golden.expect_pass(ctx.pool(), ctx.pages().idx)
    _, _, ok = extract._one_pass(ctx, "test", expected)
    assert ok
    _, _, ok = extract._one_pass(ctx, "test", dict(expected, digest=expected["digest"] + 1))
    assert not ok


def test_extract_run_reports_failed_passes(ctx, monkeypatch):
    monkeypatch.setattr(extract, "WARMUP_PASSES", 0)
    res = extract.run(ctx, 0)
    assert (res.attempted, res.failed) == (2, 0)
    assert res.metrics["throughput_per_s"]["samples"] == 2
    pinned = golden.expect_pass
    monkeypatch.setattr(golden, "expect_pass",
                        lambda pool, idx: dict(pinned(pool, idx), n_success=0))
    res = extract.run(ctx, 0)
    assert (res.attempted, res.failed, res.metrics) == (2, 2, {})


def test_query_check(ctx, monkeypatch):
    monkeypatch.setattr(queries, "QUERIES", [("relational", "pricing_summary")])
    times, failed = queries.run(ctx)
    assert (list(times), failed) == (["pricing_summary"], 0)
    pinned = golden.load_queries()
    pinned["pricing_summary"] = dict(pinned["pricing_summary"], rows=0)
    monkeypatch.setattr(golden, "load_queries", lambda: pinned)
    assert queries.run(ctx)[1] == 1


def test_serve_check(ctx):
    docs = serve.served_docs(ctx)[:8]
    srv = serve.Server()
    try:
        assert serve.send_all(srv.port, docs, 2) == (len(docs), 0)
        wrong = [serve.Doc(d.idx, d.filename, d.body, bytes(8)) for d in docs[:2]]
        assert serve.send_all(srv.port, wrong, 2) == (0, 2)
    finally:
        srv.stop()
