"""Ordered-funnel semantics pins: a click BEFORE the user's first view
must not complete the click stage, but a later click must — the exact
scenario a first-click-ever implementation gets wrong."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import duckdb

from pdf_extractor2_spark.plans import relational


def _events(path, rows):
    table = pa.table({
        "event_id": pa.array([r[0] for r in rows], pa.int64()),
        "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
        "user_id": pa.array([r[2] for r in rows], pa.int64()),
        "event_type": pa.array([r[3] for r in rows], pa.string()),
        "value": pa.array([1.0] * len(rows), pa.float64()),
        "props": pa.array(["{}"] * len(rows), pa.string()),
    })
    pq.write_table(table, path)


def test_funnel_stray_click_before_view(spark, tmp_path):
    from datetime import datetime

    t = lambda s: datetime(2024, 1, 1, 0, 0, s)
    rows = [
        # user 1: click@1, view@2, click@3, purchase@4 -> COMPLETES in order
        (1, t(1), 1, "click"), (2, t(2), 1, "view"),
        (3, t(3), 1, "click"), (4, t(4), 1, "purchase"),
        # user 2: click@1, view@2, purchase@3 -> view only (no click after view)
        (5, t(1), 2, "click"), (6, t(2), 2, "view"), (7, t(3), 2, "purchase"),
        # user 3: view@1, purchase@2, click@3 -> view + click, purchase too early
        (8, t(1), 3, "view"), (9, t(2), 3, "purchase"), (10, t(3), 3, "click"),
        # user 4: no view at all
        (11, t(1), 4, "click"), (12, t(2), 4, "purchase"),
    ]
    _events(str(tmp_path / "events.parquet"), rows)
    got = relational.conversion_funnel(spark, str(tmp_path)).collect()[0]
    assert (got["n_users"], got["n_view"], got["n_view_click"],
            got["n_view_click_purchase"]) == (4, 3, 2, 1)

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{tmp_path}/events.parquet')"
    )
    want = con.execute(relational.conversion_funnel_sql()).fetchone()
    assert tuple(want) == (4, 3, 2, 1)


def test_funnel_plan_has_no_window(spark):
    """The funnel plan contains no WindowExec: conditional-MIN
    aggregates never buffer one user's events, so a bot user with 10^8
    events stays partial-aggregable.  (Its values are pinned by the
    DuckDB window twin, here and in test_entry.)"""
    import contextlib
    import io

    sf = "/root/testdata/sf0.001"
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        relational.conversion_funnel(spark, sf).explain("formatted")
    assert "Window" not in buf.getvalue()
