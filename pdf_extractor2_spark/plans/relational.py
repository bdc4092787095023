"""Corpus-level relational operators over the TPC-H-ish test tables —
the Spark-native analogues of the reference's aggregation/dedup/limit
machinery (SURVEY.md §2.4-§2.7 map each to its reference counterpart).

Every query is Catalyst-native (scan → pushed filter → hash aggregate /
broadcast join / window), returns deterministic output (explicit
tie-breaks, fixed rounding, explicit casts) and has a DuckDB oracle text
alongside.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..operators.dedup import round_half_up_expr

# The graded rows' values, each read by a Spark function and its DuckDB twin.
TOP_ORDERS_PER_CUSTOMER_K = 3
SESSION_GAP_S = 1800     # sessionize_events: the inactivity gap
TOP_ORDERS_K = 20
NEARBY_WINDOW_S = 300    # range_join_nearby_events: the ± band
SAMPLE_PER_LANG = 20     # stratified_sample
N_SALTS = 8              # salted_join_user_segments
MIN_ACCTBAL = 5000.0     # bloom_semi_join_orders: c_acctbal > this


def _r2(x: str) -> str:
    """Cross-engine round-half-up to 2 decimals — every rounded-double
    column in this module builds on the shared idiom (round-4 sweep): a
    sum of many doubles CAN land exactly on x.xx5, where Spark's
    round() and DuckDB's diverge (CLAUDE.md's 52724.2449…95 example is
    a 2-decimal revenue sum)."""
    return round_half_up_expr(x, 2)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _floor_bucket_us(us_col, h_us: int):
    """Exact floor(us / h_us) for long microsecond epochs of either
    sign: subtract the nonnegative mod (Spark ``%`` keeps the dividend
    sign), leaving an exact multiple of ``h_us`` that divides without
    rounding (|us| < 2^53 µs ⇒ the multiple and the quotient are both
    exactly representable, so the one double division is exact).  The
    shared time-bucket helper for the skew-guarded range join here and
    the view-to-purchase interval join
    (``join_stream._bucketed_interval_join``; ADVICE r4: double-division
    buckets could disagree with the exact interval predicate within
    ~1 µs of a boundary)."""
    h = F.lit(h_us)
    m = ((us_col % h) + h) % h
    return ((us_col - m) / h).cast("long")


# -- A3 analogue: the batch summary aggregate --------------------------------

def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: partial+final hash aggregation."""
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.expr(_r2("SUM(l_quantity)")).alias("sum_qty"),
            F.expr(_r2("SUM(l_extendedprice)")).alias("sum_base_price"),
            F.expr(_r2("SUM(l_extendedprice * (1 - l_discount))")).alias(
                "sum_disc_price"
            ),
            F.expr(round_half_up_expr("AVG(l_discount)", 6)).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def pricing_summary_sql() -> str:
    return f"""
        SELECT l_returnflag, l_linestatus,
               {_r2("SUM(l_quantity)")} AS sum_qty,
               {_r2("SUM(l_extendedprice)")} AS sum_base_price,
               {_r2("SUM(l_extendedprice * (1 - l_discount))")} AS sum_disc_price,
               {round_half_up_expr("AVG(l_discount)", 6)} AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
    """


# -- joins: broadcast dims, multi-way ----------------------------------------

def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer ⋈ orders ⋈ nation ⋈ region with broadcast dimensions."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.expr(_r2("SUM(o_totalprice)")).alias("revenue"),
        )
    )


def revenue_by_nation_sql() -> str:
    return f"""
        SELECT r_name, n_name, COUNT(*) AS n_orders,
               {_r2("SUM(o_totalprice)")} AS revenue
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name
    """


def parts_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter pushed to the dimension, broadcast equi-join, aggregate."""
    lineitem = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").where(F.col("p_size") <= 10)
    return (
        lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_items"),
            F.expr(_r2("SUM(l_quantity)")).alias("total_qty"),
        )
    )


def parts_by_brand_sql() -> str:
    return f"""
        SELECT p_brand, COUNT(*) AS n_items, {_r2("SUM(l_quantity)")} AS total_qty
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_size <= 10
        GROUP BY p_brand
    """


# -- windows ------------------------------------------------------------------

def top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        _t(spark, sf_dir, "orders")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= TOP_ORDERS_PER_CUSTOMER_K)
        .select("o_custkey", "o_orderkey",
                F.expr(_r2("o_totalprice")).alias("o_totalprice"), "rn")
    )


def top_orders_per_customer_sql() -> str:
    return f"""
        SELECT o_custkey, o_orderkey, {_r2("o_totalprice")} AS o_totalprice, rn
        FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                     row_number() OVER (PARTITION BY o_custkey
                                        ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
              FROM orders)
        WHERE rn <= {TOP_ORDERS_PER_CUSTOMER_K}
    """


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session assignment by inactivity gap — the corpus-scale rewrite of
    the reference's stateful multi-row merge (T4, SURVEY.md §2.8):
    is_new = gap > threshold; session = running sum of is_new."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    events = _t(spark, sf_dir, "events")
    # parquet timestamps arrive as TIMESTAMP_NTZ; the session tz is pinned
    # to UTC so ntz→timestamp→double equals DuckDB's epoch(ts)
    epoch = F.col("ts").cast("timestamp").cast("double")
    with_flag = events.withColumn(
        "is_new",
        (epoch - F.lag(epoch).over(w) > F.lit(float(SESSION_GAP_S))).cast("int"),
    ).withColumn(
        "session_id",
        F.sum(F.coalesce(F.col("is_new"), F.lit(1))).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        with_flag.groupBy("user_id")
        .agg(
            F.max("session_id").cast("long").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
    )


def sessionize_events_sql() -> str:
    return f"""
        WITH flagged AS (
          SELECT user_id, ts, event_id,
                 CASE WHEN epoch(ts) - lag(epoch(ts)) OVER w > {SESSION_GAP_S}.0
                      THEN 1
                      WHEN lag(epoch(ts)) OVER w IS NULL THEN 1
                      ELSE 0 END AS is_new
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        sess AS (
          SELECT user_id,
                 SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS session_id
          FROM flagged)
        SELECT user_id, CAST(MAX(session_id) AS BIGINT) AS n_sessions,
               COUNT(*) AS n_events
        FROM sess GROUP BY user_id
    """


# -- sort / limit / distinct / semi-structured --------------------------------

def top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "orders")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(TOP_ORDERS_K)
        .select("o_orderkey", "o_custkey",
                F.expr(_r2("o_totalprice")).alias("o_totalprice"))
    )


def top_orders_sql() -> str:
    return f"""
        SELECT o_orderkey, o_custkey, {_r2("o_totalprice")} AS o_totalprice
        FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT {TOP_ORDERS_K}
    """


def events_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type activity profile: distinct users, event counts,
    value mass (distinct aggregation, the dedup analogue at corpus
    scale), and the JSON-extracted ``k`` aggregates (semi-structured
    projection) — ONE hash aggregate."""
    return (
        _t(spark, sf_dir, "events")
        .withColumn("k", F.get_json_object("props", "$.k").cast("long"))
        .groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count("*").alias("n_events"),
            F.expr(_r2("SUM(value)")).alias("total_value"),
            F.sum("k").cast("long").alias("sum_k"),
            F.max("k").cast("long").alias("max_k"),
        )
    )


def events_profile_sql() -> str:
    return f"""
        SELECT event_type,
               COUNT(DISTINCT user_id) AS n_users,
               COUNT(*) AS n_events,
               {_r2("SUM(value)")} AS total_value,
               CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
               CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
        FROM events GROUP BY event_type
    """


# -- grouping sets / set ops / semi-anti joins / window frames ----------------

def revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (region, nation): grouping-set aggregation with
    subtotal and grand-total rows."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    joined = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.expr(_r2("SUM(o_totalprice)")).alias("revenue"),
        )
        # subtotal rows carry NULL keys; coalesce so downstream sorters
        # and the driver's value hasher never see mixed null/str columns
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("r_name"),
            F.coalesce("n_name", F.lit("ALL")).alias("n_name"),
            "n_orders",
            "revenue",
        )
    )


def revenue_rollup_sql() -> str:
    return f"""
        SELECT COALESCE(r_name, 'ALL') AS r_name,
               COALESCE(n_name, 'ALL') AS n_name,
               COUNT(*) AS n_orders,
               {_r2("SUM(o_totalprice)")} AS revenue
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP (r_name, n_name)
    """


def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join (NOT EXISTS) — the resume machinery's pending-set shape.
    Restricted to big orders so the result is non-degenerate at every sf
    (every customer has *some* order in this data)."""
    customer = _t(spark, sf_dir, "customer")
    big_orders = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 400000)
    return (
        customer.join(big_orders, customer.c_custkey == big_orders.o_custkey, "left_anti")
        .select("c_custkey", "c_mktsegment")
    )


def customers_without_orders_sql() -> str:
    return """
        SELECT c_custkey, c_mktsegment FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey AND o_totalprice > 400000)
    """


def active_supplier_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join (EXISTS) + distinct aggregate."""
    part = _t(spark, sf_dir, "part")
    lineitem = _t(spark, sf_dir, "lineitem")
    return (
        part.join(lineitem, part.p_partkey == lineitem.l_partkey, "left_semi")
        .groupBy("p_brand")
        .agg(F.count("*").alias("n_active_parts"))
    )


def active_supplier_parts_sql() -> str:
    return """
        SELECT p_brand, COUNT(*) AS n_active_parts FROM part
        WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
        GROUP BY p_brand
    """


def user_customer_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set overlap between event users and customer keys as ONE
    distributed plan: full-outer join of the two distinct key sets, then
    a single conditional aggregate — no driver-side .count() round-trips
    (each distinct and the join shuffle on the same key, so Catalyst
    reuses the hash partitioning; one job, one result row)."""
    users = (
        _t(spark, sf_dir, "events")
        .select(F.col("user_id").alias("k")).distinct()
        .withColumn("in_u", F.lit(1))
    )
    custs = (
        _t(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("k")).distinct()
        .withColumn("in_c", F.lit(1))
    )
    return users.join(custs, "k", "full_outer").agg(
        F.sum((F.col("in_u").isNotNull() & F.col("in_c").isNotNull()).cast("long"))
        .alias("n_both"),
        F.sum((F.col("in_u").isNotNull() & F.col("in_c").isNull()).cast("long"))
        .alias("n_only_users"),
        F.sum((F.col("in_u").isNull() & F.col("in_c").isNotNull()).cast("long"))
        .alias("n_only_customers"),
    )


def user_customer_overlap_sql() -> str:
    return """
        WITH u AS (SELECT DISTINCT user_id AS k FROM events),
             c AS (SELECT DISTINCT c_custkey AS k FROM customer)
        SELECT (SELECT COUNT(*) FROM (SELECT k FROM u INTERSECT SELECT k FROM c)) AS n_both,
               (SELECT COUNT(*) FROM (SELECT k FROM u EXCEPT SELECT k FROM c)) AS n_only_users,
               (SELECT COUNT(*) FROM (SELECT k FROM c EXCEPT SELECT k FROM u)) AS n_only_customers
    """


def running_customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window frame: running revenue per customer over order date."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        _t(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            F.sum("o_totalprice").over(w).alias("rr_raw"),
        )
        .select(
            "o_custkey",
            "o_orderkey",
            F.expr(_r2("rr_raw")).alias("running_revenue"),
        )
    )


def running_customer_revenue_sql() -> str:
    over = ("SUM(o_totalprice) OVER (PARTITION BY o_custkey"
            " ORDER BY o_orderdate, o_orderkey ROWS UNBOUNDED PRECEDING)")
    return f"""
        SELECT o_custkey, o_orderkey,
               {_r2(over)} AS running_revenue
        FROM orders
    """


def asof_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's most recent
    strictly-earlier click (the canonical point-in-time join Spark lacks
    natively). Spark expression: union both event kinds, order per user
    by (ts, kind) with purchases before same-ts clicks, carry the last
    click time forward with an ignore-nulls window ending one row back —
    one shuffle, no range explosion. DuckDB oracle uses its native
    ASOF LEFT JOIN."""
    from pyspark.sql import Window

    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("event_type").isin("click", "purchase"))
        .select(
            "user_id",
            "event_id",
            F.col("ts").cast("timestamp").cast("double").alias("epoch"),
            F.when(F.col("event_type") == "purchase", 0).otherwise(1).alias("kind"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("epoch", "kind")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carried = ev.withColumn(
        "last_click_epoch",
        F.last(F.when(F.col("kind") == 1, F.col("epoch")), ignorenulls=True).over(w),
    )
    return (
        carried.where(F.col("kind") == 0)
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.round("epoch", 6).alias("purchase_epoch"),
            # -1.0 sentinel for "no prior click": mixed null/float columns
            # break order-insensitive row sorting in value compares
            F.coalesce(F.round("last_click_epoch", 6), F.lit(-1.0)).alias(
                "last_click_epoch"
            ),
        )
    )


def asof_last_click_sql() -> str:
    return """
        WITH p AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
             c AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
        SELECT p.user_id,
               p.event_id AS purchase_id,
               round(epoch(p.ts), 6) AS purchase_epoch,
               COALESCE(round(epoch(c.ts), 6), -1.0) AS last_click_epoch
        FROM p ASOF LEFT JOIN c
          ON p.user_id = c.user_id AND p.ts > c.ts
    """


def _nearby_event_counts(ev: DataFrame, window_s: int) -> DataFrame:
    """Core of the range join over a prepared events frame with columns
    (user_id, event_id, epoch, event_type).  Split out so the hot-user
    skew bound is testable on a synthetic fixture
    (tests/test_plans.py::test_range_join_hot_user_bounded).

    Buckets use EXACT integer arithmetic: the double epoch is recovered
    to integer microseconds (exact while the round-trip error stays
    under 0.5 µs — ~0.12 µs at 2026-era epochs; F.round here is the
    same exact-microsecond-recovery exception class as asof's, not a
    driver-visible rounded double) and floor-divided via the
    nonnegative-mod identity.  Double division of the epoch could put
    a pair within ~1 µs of a bucket boundary two buckets apart,
    silently dropping it relative to the band predicate; with integer
    buckets, any pair passing the (double) band predicate is exactly
    within ±1 bucket.  The band predicate itself stays on the double
    epoch — the DuckDB oracle compares doubles, and parity requires
    identical arithmetic."""
    w_us = window_s * 1_000_000
    us = F.round(F.col("epoch") * F.lit(1e6), 0).cast("long")
    ev_b = ev.withColumn("tb", _floor_bucket_us(us, w_us))
    p_us = F.round(F.col("p_epoch") * F.lit(1e6), 0).cast("long")
    p_bucket = _floor_bucket_us(p_us, w_us)
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("epoch").alias("p_epoch"),
        )
        # a purchase's ±window band overlaps exactly the 3 coarse buckets
        # around its own — replicate the (small) purchase side 3×
        .withColumn("tb", F.explode(F.array(p_bucket - 1, p_bucket, p_bucket + 1)))
    )
    p, e = purchases.alias("p"), ev_b.alias("e")
    joined = p.join(
        e,
        (F.col("p.p_user") == F.col("e.user_id"))
        & (F.col("p.tb") == F.col("e.tb"))
        & (F.col("e.event_id") != F.col("p.purchase_id"))
        & (F.abs(F.col("e.epoch") - F.col("p.p_epoch")) <= window_s),
    )
    return joined.groupBy("purchase_id").agg(F.count("*").alias("n_nearby"))


def range_join_nearby_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: per purchase, how many other events by the same user
    fall within ±``NEARBY_WINDOW_S`` seconds.

    Skew guard: the join key is (user_id, coarse time bucket of size
    ``NEARBY_WINDOW_S``), not user_id alone — a bot user with 10^6
    events would make the bare user_id key per-user quadratic; bucketing
    bounds each join group to the events of ONE user in ONE window-sized
    slice of time.  Each event lands in exactly one bucket and a purchase's
    ±window band overlaps exactly 3 buckets, so the purchase side is
    replicated 3× (events ≫ purchases — the cheap side) and every
    qualifying pair is matched exactly once.  The exact band predicate
    still filters inside each group, so the result is identical to the
    plain equi-join + band filter (the DuckDB oracle runs that form)."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id",
        F.col("ts").cast("timestamp").cast("double").alias("epoch"),
        "event_type",
    )
    return _nearby_event_counts(ev, NEARBY_WINDOW_S)


def range_join_nearby_events_sql() -> str:
    return f"""
        WITH p AS (SELECT user_id, event_id AS purchase_id, epoch(ts) AS p_epoch
                   FROM events WHERE event_type = 'purchase')
        SELECT purchase_id, COUNT(*) AS n_nearby
        FROM p JOIN events e
          ON p.user_id = e.user_id
         AND e.event_id != p.purchase_id
         AND abs(epoch(e.ts) - p_epoch) <= {NEARBY_WINDOW_S}
        GROUP BY purchase_id
    """


def activity_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (event_type, weekday): all grouping-set combinations."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "weekday", F.date_format(F.col("ts").cast("timestamp"), "E")
    )
    return (
        ev.cube("event_type", "weekday")
        .agg(F.count("*").alias("n_events"),
             F.expr(_r2("SUM(value)")).alias("total_value"))
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce("weekday", F.lit("ALL")).alias("weekday"),
            "n_events", "total_value",
        )
    )


def activity_cube_sql() -> str:
    return f"""
        SELECT COALESCE(event_type, 'ALL') AS event_type,
               COALESCE(strftime(ts, '%a'), 'ALL') AS weekday,
               COUNT(*) AS n_events,
               {_r2("SUM(value)")} AS total_value
        FROM events
        GROUP BY CUBE (event_type, strftime(ts, '%a'))
    """


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: per-user event counts, one column per event type.  With
    the pivot values supplied explicitly Catalyst compiles this to a
    single hash aggregate of conditional counts — no second pass to
    discover the column set, no extra shuffle."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", EVENT_TYPES)
        .count()
        .na.fill(0, EVENT_TYPES)
        .select("user_id", *[F.col(t).cast("long").alias(t) for t in EVENT_TYPES])
    )


def events_pivot_sql() -> str:
    cols = ",\n".join(
        f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS {t}"
        for t in EVENT_TYPES
    )
    return f"""
        SELECT user_id, {cols}
        FROM events GROUP BY user_id
    """


def _pct_row_exprs(p10: int, tag: str) -> tuple[str, str]:
    """Per-row target index and fraction for percentile p = p10/10 over
    a group of n ranked values (0-based position p·(n−1)).  INTEGER
    arithmetic end-to-end (x = p10·(n−1); lo = x div 10; frac = (x mod
    10)/10) so both engines derive identical values — the engines'
    percentile built-ins interpolate with differently-associated float
    ops and can disagree by 1 ulp exactly on a rounding boundary."""
    x = f"({p10} * (n - 1))"
    lo = f"CAST(({x} - ({x} % 10)) / 10 AS BIGINT) AS lo{tag}"
    frac = f"CAST(({x} % 10) AS DOUBLE) / 10.0 AS frac{tag}"
    return lo, frac


def _pct_agg_expr(tag: str, alias: str) -> str:
    v_lo = f"MAX(CASE WHEN r = lo{tag} THEN v END)"
    v_hi = f"MAX(CASE WHEN r = lo{tag} + 1 THEN v END)"
    val = f"({v_lo} + coalesce(({v_hi} - {v_lo}) * MAX(frac{tag}), 0.0))"
    # floor(x*100 + 0.5)/100 instead of round(x, 2): on a halfway double
    # Spark rounds the exact binary value while DuckDB rounds the
    # shortest decimal repr — floor arithmetic is IEEE-identical in both
    # (literals cast explicitly: bare 100.0 parses as DECIMAL in DuckDB)
    return (
        f"floor({val} * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE))"
        f" / CAST(100 AS DOUBLE) AS {alias}"
    )


def price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (median/p90) per return flag,
    written as rank-pick + linear interpolation with the identical
    expression text as the DuckDB oracle (bit-identical doubles).
    Exact percentile ranks within each group — at 10^12 rows switch to
    `approx_percentile` (t-digest) or pre-aggregate; the plan shape
    (window + hash aggregate) is the same."""
    lo50, frac50 = _pct_row_exprs(5, "50")
    lo90, frac90 = _pct_row_exprs(9, "90")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_extendedprice").alias("v")
    )
    wp = Window.partitionBy("l_returnflag")
    ranked = (
        li.withColumn("r", F.row_number().over(wp.orderBy("v")) - 1)
        .withColumn("n", F.count("*").over(wp))
        .selectExpr("l_returnflag", "v", "CAST(r AS BIGINT) AS r",
                    lo50, frac50, lo90, frac90)
    )
    return ranked.groupBy("l_returnflag").agg(
        F.expr(_pct_agg_expr("50", "p50_price")),
        F.expr(_pct_agg_expr("90", "p90_price")),
        F.count("*").alias("n_items"),
    )


def price_percentiles_sql() -> str:
    lo50, frac50 = _pct_row_exprs(5, "50")
    lo90, frac90 = _pct_row_exprs(9, "90")
    return f"""
        WITH base AS (
          SELECT l_returnflag, l_extendedprice AS v,
                 CAST(row_number() OVER (PARTITION BY l_returnflag
                                         ORDER BY l_extendedprice) - 1 AS BIGINT) AS r,
                 COUNT(*) OVER (PARTITION BY l_returnflag) AS n
          FROM lineitem),
        ranked AS (SELECT l_returnflag, v, r, {lo50}, {frac50}, {lo90}, {frac90}
                   FROM base)
        SELECT l_returnflag,
               {_pct_agg_expr("50", "p50_price")},
               {_pct_agg_expr("90", "p90_price")},
               COUNT(*) AS n_items
        FROM ranked GROUP BY l_returnflag
    """


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: the first ``SAMPLE_PER_LANG``
    documents per language in pseudo-random hash order — reproducible
    across engines and runs (no RNG state), the sampling primitive a
    training-data pipeline needs for eval splits.  One window per
    stratum; at web scale with few strata, pre-filter candidates by a
    hash threshold before ranking (or sample within partitions and
    re-rank) to keep any single stratum's sort bounded."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    h = ((F.col("doc_id") * F.lit(1103515245) + F.lit(12345)) % F.lit(2147483647))
    w = Window.partitionBy("lang").orderBy("h", "doc_id")
    return (
        docs.select("doc_id", "lang", h.alias("h"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= SAMPLE_PER_LANG)
        .select("doc_id", "lang")
    )


def stratified_sample_sql() -> str:
    return f"""
        SELECT doc_id, lang FROM (
          SELECT doc_id, lang,
                 row_number() OVER (PARTITION BY lang
                     ORDER BY (doc_id * 1103515245 + 12345) % 2147483647, doc_id) AS rn
          FROM documents)
        WHERE rn <= {SAMPLE_PER_LANG}
    """


def _funnel_per_user_agg_join(ev: DataFrame) -> DataFrame:
    """Per-user stage times as a 3-step aggregate→join chain: each
    stage is a conditional MIN hash aggregate (partial-aggregable — a
    bot user's 10^8 events reduce map-side) joined back to the event
    stream to gate the next stage.  Never buffers a user's rows, at the
    cost of shuffling the events table three times."""
    t_view = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("epoch").alias("t_view"))
    )
    t_click = (
        ev.join(t_view, "user_id")
        .where((F.col("event_type") == "click") & (F.col("epoch") > F.col("t_view")))
        .groupBy("user_id")
        .agg(F.min("epoch").alias("t_click"))
    )
    t_purch = (
        ev.join(t_click, "user_id")
        .where(
            (F.col("event_type") == "purchase") & (F.col("epoch") > F.col("t_click"))
        )
        .groupBy("user_id")
        .agg(F.min("epoch").alias("t_purch"))
    )
    return (
        ev.select("user_id").distinct()
        .join(t_view, "user_id", "left")
        .join(t_click, "user_id", "left")
        .join(t_purch, "user_id", "left")
    )


def conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-sequence funnel (view → click → purchase): per user,
    which prefix of the funnel they completed IN ORDER, then one
    corpus-level summary row.

    Strict semantics: stage k's timestamp is the earliest qualifying
    event STRICTLY AFTER stage k-1's timestamp — a click that precedes
    the user's first view does not complete the click stage (the first
    click AFTER the first view does, even when an earlier stray click
    exists).  Each stage's filter depends on the previous stage's
    per-user result, so one aggregate pass cannot express it.

    The plan is the 3-step aggregate→join chain
    (``_funnel_per_user_agg_join``): partial-aggregable conditional
    MINs that never buffer a user's rows, at the cost of shuffling the
    events table three times.  A one-exchange plan of stacked
    ``PARTITION BY user_id`` window MINs would sort and buffer each
    user's rows in WindowExec, which a bot user with 10^8 events turns
    into one skewed task; the window-free plan is pinned by
    tests/test_funnel.py.

    The DuckDB oracle runs those window MINs, so it shares no plan with
    this one."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type",
        F.col("ts").cast("timestamp").cast("double").alias("epoch"),
    )
    return _funnel_per_user_agg_join(ev).agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum(F.col("t_view").isNotNull().cast("long")).alias("n_view"),
        F.sum(F.col("t_click").isNotNull().cast("long")).alias("n_view_click"),
        F.sum(F.col("t_purch").isNotNull().cast("long")).alias("n_view_click_purchase"),
    )


def conversion_funnel_sql() -> str:
    return """
        WITH s1 AS (
          SELECT user_id, event_type, epoch(ts) AS epoch,
                 MIN(CASE WHEN event_type = 'view' THEN epoch(ts) END)
                   OVER (PARTITION BY user_id) AS t_view
          FROM events),
        s2 AS (
          SELECT *,
                 MIN(CASE WHEN event_type = 'click' AND epoch > t_view
                          THEN epoch END)
                   OVER (PARTITION BY user_id) AS t_click
          FROM s1),
        s3 AS (
          SELECT *,
                 MIN(CASE WHEN event_type = 'purchase' AND epoch > t_click
                          THEN epoch END)
                   OVER (PARTITION BY user_id) AS t_purch
          FROM s2),
        per_user AS (
          SELECT user_id, MIN(t_view) AS t_view, MIN(t_click) AS t_click,
                 MIN(t_purch) AS t_purch
          FROM s3 GROUP BY user_id)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_view,
               CAST(SUM(CASE WHEN t_click IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_view_click,
               CAST(SUM(CASE WHEN t_purch IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_view_click_purchase
        FROM per_user
    """


# The default training-mix weights for the graded row: target token
# shares per language (integer weights, summing is done exactly in
# Python and embedded as literals in BOTH engine texts).  en-heavy with
# a long multilingual tail — the shape of every published LLM mix.
MIX_WEIGHTS: dict[str, int] = {"en": 4, "fr": 2, "es": 2, "de": 1, "zh": 1}

# fixed training-sequence length (tokens): token_budget_sample reports
# where each selected document starts in the packed sequence stream
SEQ_LEN = 512

# hash buckets each language's budget is split over (the cumulative-sum
# window partitions by (lang, bucket))
BUDGET_BUCKETS = 8


def _bucket_budget_case(weights: dict[str, int], budget_tokens: int) -> str:
    """Shared CASE-expression text (identical in Spark and DuckDB) that
    maps ``lang`` to its per-(lang, bucket) token budget.  All division
    happens HERE, in Python, so the engines only ever see integer
    literals — no cross-engine arithmetic to diverge.  Languages absent
    from ``weights`` get NULL, i.e. weight 0: they are dropped from the
    mix entirely."""
    total = sum(weights.values())
    whens = " ".join(
        f"WHEN lang = '{lang}' THEN "
        f"CAST({(budget_tokens * w // total) // BUDGET_BUCKETS} AS BIGINT)"
        for lang, w in sorted(weights.items())
    )
    return f"CASE {whens} END"


def token_budget_sample(spark: SparkSession, sf_dir: str,
                        budget_tokens: int = 12_000,
                        weights: dict[str, int] = MIX_WEIGHTS) -> DataFrame:
    """Deterministic token-budget sampling (the "data mixing" primitive:
    build a training mix by taking documents per language until a token
    budget is hit).  Documents are consumed in pseudo-random hash order
    (the repo's LCG idiom — no RNG state, reproducible across engines
    and restarts) with PREFIX semantics: each bucket takes the longest
    prefix of its hash-ordered documents whose running token total fits
    the bucket budget — the first overflowing document ends the
    bucket's intake (later smaller docs are NOT back-filled; prefix
    truncation keeps the selection a pure function of the order, so
    adding or removing one document never reshuffles which other
    documents are selected).

    ``weights`` sets a TARGET MIXTURE: each language's share of
    ``budget_tokens`` is ``w_lang / Σw`` (the data-mixing knob every
    published LLM corpus recipe exposes — en-heavy head, weighted
    multilingual tail), computed exactly in Python and embedded as
    integer literals in both engine texts (``_bucket_budget_case``).
    Languages not in the map are dropped (weight 0).  The output
    carries the ``bucket_budget`` column so a selection is auditable
    against its target.

    Skew-aware by construction: each language's budget is split evenly
    over ``BUDGET_BUCKETS`` hash buckets and the cumulative-sum window
    partitions by (lang, bucket) — no task ever sorts more than
    1/BUDGET_BUCKETS of one language, where a naive per-lang window would
    serialize a dominant language (English ≈ half the web) onto one
    reducer.  At larger scale, raise BUDGET_BUCKETS; selection stays
    deterministic because bucket assignment and order are both pure
    functions of doc_id."""
    case = _bucket_budget_case(weights, budget_tokens)
    # coalesce(text, '') before split: non-ANSI sessions return -1 from
    # size(split(NULL)) (legacy.sizeOfNull) while DuckDB len(NULL) is
    # NULL — the guard keeps parity independent of the ANSI flag
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.expr("cast(size(split(coalesce(text, ''), ' ')) as long)").alias("n_tokens"),
    )
    h = (F.col("doc_id") * F.lit(1103515245) + F.lit(12345)) % F.lit(2147483647)
    w = (
        Window.partitionBy("lang", "bucket")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        docs.withColumn("bucket_budget", F.expr(case))
        # zero-weight languages leave the pipeline BEFORE the window —
        # at scale the dropped share never shuffles
        .where(F.col("bucket_budget").isNotNull())
        .withColumn("bucket", F.col("doc_id") % F.lit(BUDGET_BUCKETS))
        .withColumn("h", h)
        .withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .where(F.col("cum_tokens") <= F.col("bucket_budget"))
        # packing origin (round 5b): where this doc lands in the packed
        # fixed-length-sequence space of its (lang, bucket) shard —
        # pure arithmetic on the cumulative sum, zero extra plan nodes
        .withColumn("seq_id", F.expr(
            f"cast((cum_tokens - n_tokens) div {SEQ_LEN} as long)"))
        .withColumn("seq_start", F.expr(
            f"cast((cum_tokens - n_tokens) % {SEQ_LEN} as long)"))
        .select("doc_id", "lang", "bucket", "n_tokens", "cum_tokens",
                "bucket_budget", "seq_id", "seq_start")
    )


def token_budget_sample_sql(budget_tokens: int = 12_000) -> str:
    case = _bucket_budget_case(MIX_WEIGHTS, budget_tokens)
    _sl = SEQ_LEN
    return f"""
        SELECT doc_id, lang, bucket, n_tokens, cum_tokens, bucket_budget,
               CAST((cum_tokens - n_tokens) // {_sl} AS BIGINT) AS seq_id,
               CAST((cum_tokens - n_tokens) % {_sl} AS BIGINT) AS seq_start
        FROM (
          SELECT doc_id, lang, bucket, n_tokens, bucket_budget,
                 CAST(SUM(n_tokens) OVER (
                   PARTITION BY lang, bucket
                   ORDER BY (doc_id * 1103515245 + 12345) % 2147483647, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS cum_tokens
          FROM (SELECT doc_id, lang, doc_id % {BUDGET_BUCKETS} AS bucket,
                       CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT)
                         AS n_tokens,
                       {case} AS bucket_budget
                FROM documents)
          WHERE bucket_budget IS NOT NULL)
        WHERE cum_tokens <= bucket_budget
    """


def salted_join_user_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted shuffle join, made explicit (north_rule: "partitioning
    / shuffle / skew handled explicitly"): the fact side (events) gets a
    deterministic salt so one hot user_id spreads over ``N_SALTS``
    shuffle keys; the dimension side is replicated once per salt value
    (explode of a literal sequence — N_SALTS× the SMALL side, never the
    fact side).  The join result is provably identical to the unsalted
    join, so the DuckDB oracle is simply the plain join — salting is a
    physical rewrite, not a semantic one.  The merge hint forces a
    shuffle join (a broadcast would make salting moot here; at real
    scale the dim is too big to broadcast, which is when salting
    matters)."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "salt", F.pmod(F.xxhash64("event_id"), F.lit(N_SALTS)).cast("int")
    )
    cust = (
        _t(spark, sf_dir, "customer")
        .select("c_custkey", "c_mktsegment")
        .withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(N_SALTS - 1))))
        .hint("merge")
    )
    return (
        ev.join(cust, (ev.user_id == cust.c_custkey) & (ev.salt == cust.salt))
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_events"),
            F.expr(_r2("SUM(value)")).alias("total_value"),
        )
    )


def salted_join_user_segments_sql() -> str:
    return f"""
        SELECT c_mktsegment, COUNT(*) AS n_events,
               {_r2("SUM(value)")} AS total_value
        FROM events JOIN customer ON user_id = c_custkey
        GROUP BY c_mktsegment
    """


BLOOM_BITS = 1 << 16
BLOOM_K = 4


def _bloom_positions(col: str):
    """K deterministic bit positions for a key: xxhash64 with K seeds."""
    return [
        F.pmod(F.xxhash64(F.col(col), F.lit(i)), F.lit(BLOOM_BITS))
        for i in range(BLOOM_K)
    ]


def _bloom_build(keys: DataFrame, col: str) -> DataFrame:
    """One-row DataFrame holding the Bloom filter as map<word_idx, word>,
    built with a single bit_or aggregate over the key set."""
    return (
        keys.select(F.explode(F.array(*_bloom_positions(col))).alias("p"))
        .select(
            F.expr("CAST(p DIV 64 AS BIGINT) AS w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(p, 64) AS INT)) AS m"),
        )
        .groupBy("w")
        .agg(F.expr("bit_or(m)").alias("word"))
        .agg(F.map_from_arrays(F.collect_list("w"), F.collect_list("word")).alias("bf"))
    )


def _bloom_probe(fact: DataFrame, bf: DataFrame, col: str) -> DataFrame:
    """Rows of ``fact`` whose key hits all K Bloom bits (candidates —
    supersets of the true matches, never missing one)."""
    probe = fact.crossJoin(F.broadcast(bf))
    cond = None
    for i in range(BLOOM_K):
        p = f"pmod(xxhash64({col}, {i}), {BLOOM_BITS})"
        m = f"shiftleft(CAST(1 AS BIGINT), CAST(pmod({p}, 64) AS INT))"
        hit = F.expr(
            f"(coalesce(element_at(bf, CAST({p} DIV 64 AS BIGINT)), 0L) & {m}) = {m}"
        )
        cond = hit if cond is None else (cond & hit)
    return probe.where(cond).drop("bf")


def bloom_semi_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join with a hand-built Bloom-filter runtime prefilter:
    orders of high-balance customers, where the fact scan first probes a
    broadcast Bloom filter (built from the dimension's keys as a map of
    64-bit words via ONE bit_or aggregate) and only surviving rows reach
    the exact semi join.  Bloom false positives cannot change the
    result (the exact join re-checks), so the DuckDB oracle is simply
    the plain semi join — the filter is a physical optimization, the
    shape Spark's own runtime row-group filtering uses, made explicit
    and tunable (BLOOM_BITS/BLOOM_K).  At scale this cuts the shuffle
    to ~|matching| rows instead of |fact| rows."""
    cust = _t(spark, sf_dir, "customer")
    high = cust.where(F.col("c_acctbal") > MIN_ACCTBAL).select("c_custkey")

    bf = _bloom_build(high, "c_custkey")
    orders = _t(spark, sf_dir, "orders")
    prefiltered = _bloom_probe(orders, bf, "o_custkey")

    return (
        prefiltered.join(high, prefiltered.o_custkey == high.c_custkey, "left_semi")
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.expr(_r2("SUM(o_totalprice)")).alias("revenue"),
        )
    )


def bloom_semi_join_orders_sql() -> str:
    return f"""
        SELECT o_orderstatus, COUNT(*) AS n_orders,
               {_r2("SUM(o_totalprice)")} AS revenue
        FROM orders
        WHERE EXISTS (SELECT 1 FROM customer
                      WHERE c_custkey = o_custkey AND c_acctbal > {MIN_ACCTBAL})
        GROUP BY o_orderstatus
    """
