"""Temporal / JSON / window-composition operators.

Rounds out the SURVEY §2 surface with the operator shapes the reference
delegates to its engines but never names: JSON field extraction (#56 —
the only JSON op it performs is serialize/deserialize), date arithmetic
(#51-53), and the beyond-reference temporal set every analytics engine
needs — running totals, sessionization, as-of joins, percentiles.

Scale notes:
- running totals / sessionization: one shuffle on the partition key, then
  a sorted window pass. State per key is O(1) (lag / cumulative sum).
- as-of join: expressed as equi-join on the entity + event-time filter +
  top-1 window. Catalyst turns the window into a per-key sort; at 100 TB
  you pre-bucket both sides by the entity key so the join co-locates.
- percentiles: exact percentile for oracle parity; at scale swap in
  approx_percentile (t-digest) — provided as the _approx variant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.scalar import money_sum, money_sum_sql
from ..sources.registry import load_table

SESSION_GAP_MINUTES = 30


def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#56 JSON extraction: pull the numeric `k` out of the props JSON
    string, bucket it, aggregate. get_json_object is JVM-side (Jackson)."""
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        events.select(k.alias("k"), "value")
        .groupBy((F.col("k") % 10).alias("k_mod10"))
        .agg(
            F.count("*").alias("n_events"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            money_sum("value").alias("total_value"),
        )
    )


def scalar_datetime_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#48-53 scalar date/time surface in one projection: component
    extraction, date arithmetic, formatting, epoch distance."""
    orders = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return orders.select(
        "o_orderkey",
        F.year(d).alias("y"),
        F.month(d).alias("m"),
        F.dayofmonth(d).alias("d"),
        F.date_format(d, "yyyy-MM").alias("month_tag"),
        F.date_sub(d.cast("date"), 30).alias("minus_30d"),
        F.datediff(d.cast("date"), F.lit("1995-01-01").cast("date")).alias(
            "days_since_95"
        ),
    )


def daily_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily per-type aggregates + running cumulative count per type —
    aggregation composed with a frame window (the batch view of the
    reference's continuous per-day tables)."""
    events = load_table(spark, sf_dir, "events")
    daily = (
        events.groupBy(
            F.date_trunc("day", "ts").cast("date").alias("day"),
            F.col("event_type"),
        )
        .agg(F.count("*").alias("n_events"), money_sum("value").alias("day_total"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return daily.withColumn("running_events", F.sum("n_events").over(w))


def _sessionize(events: DataFrame) -> DataFrame:
    """Events with a per-user `session_id`: a gap over SESSION_GAP_MINUTES
    after the user's previous event (lag + cumulative sum of session-start
    flags) starts a new session. Gaps are compared in microseconds, as the
    oracle's epoch() difference keeps the fraction: whole seconds would
    merge a 1800.5 s gap into one session."""
    # an event with a NULL user or timestamp cannot be sessionized /
    # sequenced: Spark orders NULL keys FIRST and DuckDB LAST, so such
    # rows silently produce different sessions per engine (dirty-input
    # parity sweep) - excluded identically on BOTH engines
    events = events.where(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    by_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    micros = F.unix_micros(F.col("ts").cast("timestamp"))
    prev = F.lag(micros, 1).over(by_user)
    flagged = events.withColumn(
        "new_session",
        F.when(
            prev.isNull() | (micros - prev > SESSION_GAP_MINUTES * 60 * 1_000_000), 1
        ).otherwise(0),
    )
    return flagged.withColumn("session_id", F.sum("new_session").over(by_user))


def event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: gap > 30 min starts a new session (lag + cumulative
    sum of session-start flags), then per-user session stats."""
    sessions = _sessionize(load_table(spark, sf_dir, "events"))
    return (
        sessions.groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("event_id").alias("first_event"),
            F.max("event_id").alias("last_event"),
        )
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.max("n_events").alias("longest_session_events"),
            F.sum("n_events").alias("total_events"),
        )
    )


def session_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounce rate by entry event type: the share of sessions (30-min-gap
    sessionization, same definition as event_sessions) that contain
    EXACTLY one event, grouped by the session's first event type — the
    landing-page health readout of web analytics.

    Plan: ONE user_id shuffle serves the session window AND the
    (user_id, session_id) aggregation (hash partitioning on user_id
    already clusters the superset key); the entry event falls out of a
    min(struct(ts, event_id, event_type)) — no second window, no
    self-join; the final entry-type rollup is |event types| rows.
    The oracle derives the entry independently via a row_number()=1
    pick, so the struct-min trick is cross-checked each round."""
    sessions = _sessionize(load_table(spark, sf_dir, "events"))
    per_session = sessions.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min(F.struct("ts", "event_id", "event_type"))
        .getField("event_type")
        .alias("entry_type"),
    )
    return (
        per_session.groupBy("entry_type")
        .agg(
            F.count("*").alias("n_sessions"),
            F.expr(
                "CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("n_bounces"),
            F.expr("CAST(sum(n_events) AS BIGINT)").alias("n_events_total"),
        )
        .select(
            "entry_type",
            "n_sessions",
            "n_bounces",
            "n_events_total",
            F.expr("(n_bounces * 10000) DIV n_sessions").alias("bounce_bp"),
        )
    )


def session_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows (F.session_window, 30-min gap) — the
    built-in operator whose custom stateful twin is
    streaming.stateful.sessionize_stream, and whose hand-rolled batch
    twin is event_sessions (lag + cumulative flag). The oracle IS that
    hand-rolled form, proving built-in and manual sessionization agree:
    session_end = last event + gap by definition of the built-in. One
    shuffle on user_id."""
    events = load_table(spark, sf_dir, "events")
    # an event with a NULL user or timestamp cannot be sessionized /
    # sequenced: Spark orders NULL keys FIRST and DuckDB LAST, so such
    # rows silently produce different sessions per engine (dirty-input
    # parity sweep) - excluded identically on BOTH engines
    events = events.where(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    w = F.session_window(F.col("ts").cast("timestamp"), f"{SESSION_GAP_MINUTES} minutes")
    return (
        events.groupBy("user_id", w.alias("w"))
        .agg(F.count("*").alias("n_events"), money_sum("value").alias("total_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def resample_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling: daily order revenue on a DENSE calendar —
    days with no orders are emitted with zero revenue and flagged. The
    dense axis comes from lead()-gap expansion over the aggregated daily
    frame (each present day emits itself + the empty days before the next
    present day), so the corpus is scanned ONCE; the window runs over the
    ~|days| aggregated rows, never the raw orders."""
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("src_day")).agg(
        money_sum("o_totalprice").alias("revenue"),
        F.count("*").alias("n_orders"),
    )
    w = Window.orderBy("src_day")
    return (
        daily.withColumn("next_day", F.lead("src_day").over(w))
        .select(
            F.explode(
                F.expr(
                    "sequence(src_day, coalesce(date_add(next_day, -1), src_day),"
                    " interval 1 day)"
                )
            ).alias("day"),
            "src_day",
            "revenue",
            "n_orders",
        )
        .select(
            "day",
            F.when(F.col("day") == F.col("src_day"), F.col("revenue"))
            .otherwise(F.lit(0.0))
            .alias("revenue"),
            F.when(F.col("day") == F.col("src_day"), F.col("n_orders"))
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("n_orders"),
            (F.col("day") != F.col("src_day")).alias("gap_filled"),
        )
    )


def asof_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each event, the user's most recent order at or
    before the event date (the operator Spark lacks as a primitive,
    SURVEY brief).

    Scale-safe shape (VERDICT r1 §What's wrong #4): union events+orders
    tagged, ONE shuffle on user_id, sorted window pass carrying the last
    order seen forward (`last(..., ignorenulls)`). The previous equi-join
    on user × all-earlier-orders materialized |events_u|×|orders_u| rows
    per user before its top-1 window — with a power-law user that
    intermediate is quadratic in the hot key; this shape's state per key
    is O(1) and the row count is |events|+|orders| throughout.

    Ordering (d, is_event, o_orderkey): orders sort before events on the
    same date (order_date <= event_date includes equality), and ascending
    o_orderkey makes the carried struct end at the max orderkey of the
    latest qualifying date — the same tiebreak as the oracle's
    ROW_NUMBER ... ORDER BY order_date DESC, o_orderkey DESC."""
    events = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.col("ts").cast("date").alias("d"),
        F.lit(1).alias("is_event"),
        F.lit(None).cast("bigint").alias("o_orderkey"),
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.lit(None).cast("bigint").alias("event_id"),
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").cast("date").alias("d"),
        F.lit(0).alias("is_event"),
        "o_orderkey",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("d", "is_event", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = events.unionByName(orders).withColumn(
        "last_order",
        F.last(
            F.when(F.col("is_event") == 0, F.struct("d", "o_orderkey")),
            ignorenulls=True,
        ).over(w),
    )
    return (
        carried.where((F.col("is_event") == 1) & F.col("last_order").isNotNull())
        .select(
            "event_id",
            "user_id",
            F.col("last_order.o_orderkey").alias("latest_orderkey"),
            F.col("last_order.d").alias("order_date"),
        )
    )


def _daily_cents(orders: DataFrame) -> DataFrame:
    """(day, cents) daily revenue in exact BIGINT cents — the shared base
    frame of interpolate_daily_revenue and revenue_anomalies (ONE
    definition, so the cents-rounding discipline can't diverge between
    the two; their oracles splice the matching SQL)."""
    return orders.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")).alias("cents")
    )


def interpolate_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-fill with LINEAR interpolation — the estimation counterpart of
    resample_daily_revenue's zero-fill: a missing day between two present
    days d_i, d_j takes v_i + (v_j − v_i)·k/gap. Same single-scan shape:
    the dense axis comes from lead()-gap expansion over the aggregated
    daily frame, so the window runs over ~|days| rows, never raw orders.

    Exactness: revenues are summed as BIGINT cents; the interpolation is
    int + (int·int)/int — one IEEE division and one add, identical on
    both engines — and the output is cents/100.0 with NO rounding call,
    so there is no half-way-rounding boundary to disagree on."""
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders")
    daily = _daily_cents(orders).withColumnRenamed("day", "src_day")
    w = Window.orderBy("src_day")
    expanded = (
        daily.withColumn("next_day", F.lead("src_day").over(w))
        .withColumn("next_cents", F.lead("cents").over(w))
        .select(
            F.explode(
                F.expr(
                    "sequence(src_day, coalesce(date_add(next_day, -1), src_day),"
                    " interval 1 day)"
                )
            ).alias("day"),
            "src_day",
            "next_day",
            "cents",
            "next_cents",
        )
    )
    k = F.datediff(F.col("day"), F.col("src_day"))
    gap = F.datediff(F.col("next_day"), F.col("src_day"))
    interp = F.col("cents") + (F.col("next_cents") - F.col("cents")) * k / gap
    revenue = (
        F.when(F.col("day") == F.col("src_day"), F.col("cents").cast("double"))
        .otherwise(interp)
        / 100.0
    )
    return expanded.select(
        "day",
        revenue.alias("revenue"),
        (F.col("day") != F.col("src_day")).alias("interpolated"),
    )


#: EWMA lookback in days.  The decay factor is pinned to 0.5/day so every
#: weight is an exact power of two: numerator and denominator accumulate
#: as BIGINT (cents · 2^(SPAN−gap)) with NO float pow/exp anywhere, and
#: the single final division is the only IEEE operation — hash-exact
#: against the oracle.  Weights beyond 20 days are < 2^-20 of the newest
#: day's and truncating them is the documented approximation.
EWMA_SPAN_DAYS = 20


def ewma_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of daily revenue (decay 0.5
    per day over an EWMA_SPAN_DAYS window) — the smoothing counterpart
    of rolling_7d_revenue's flat window, for irregular series: missing
    days contribute neither numerator nor denominator weight.

    Scale shape: NO range join, NO window, NO join at all — each
    aggregated daily row fans out to SPAN+1 (target_day, weighted-
    contribution) rows via explode(sequence), and ONE equi-key
    re-aggregation finishes it: the gap=0 row smuggles the target day's
    own observed cents through max(), so days the fan-out reaches but
    the corpus never observed filter out without joining back (a join
    would re-expand the daily subtree into a second orders scan — plan-
    locked in test_r5_plans). Everything runs on the ~|days| daily
    frame, never raw orders."""
    daily = _daily_cents(load_table(spark, sf_dir, "orders"))
    contrib = daily.select(
        F.col("day").alias("src_day"),
        "cents",
        F.explode(F.expr(f"sequence(0, {EWMA_SPAN_DAYS})")).alias("gap"),
    ).select(
        F.expr("date_add(src_day, gap)").alias("day"),
        F.expr(
            f"cents * shiftleft(CAST(1 AS BIGINT), {EWMA_SPAN_DAYS} - gap)"
        ).alias("num_part"),
        F.expr(f"shiftleft(CAST(1 AS BIGINT), {EWMA_SPAN_DAYS} - gap)").alias(
            "den_part"
        ),
        F.expr("IF(gap = 0, cents, CAST(NULL AS BIGINT))").alias("obs_cents"),
    )
    smoothed = contrib.groupBy("day").agg(
        F.sum("num_part").alias("num"),
        F.sum("den_part").alias("den"),
        F.max("obs_cents").alias("cents"),
    )
    return smoothed.where(F.col("cents").isNotNull()).select(
        "day",
        F.expr("CAST(cents AS DOUBLE) / 100.0").alias("revenue"),
        F.expr("CAST(num AS DOUBLE) / CAST(den AS DOUBLE) / 100.0").alias(
            "ewma_20d"
        ),
    )


#: anomaly threshold in sigmas.
ANOMALY_SIGMAS = 2


def revenue_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-revenue anomaly detection: flag days whose revenue deviates
    from the corpus mean by more than ANOMALY_SIGMAS standard deviations
    — the monitoring shape a warehouse team alerts on.

    Exactness discipline: naive variance via n·Σx² − (Σx)² overflows
    int64 on large corpora, and a distributed double sum is
    addition-order dependent — so μ and σ² fold SEQUENTIALLY over the
    COLLECTED sorted daily-cents array (≈|days| values, trivially
    driver-side-free but single-row). Both engines fold the identical
    sorted list, so every double is bit-identical; the only comparison is
    |x−μ| > k·σ with those shared values, and no rounding call exists
    anywhere."""
    orders = load_table(spark, sf_dir, "orders")
    daily = _daily_cents(orders)
    # μ from the EXACT integer cent sum (order-free) divided once; only
    # the squared-deviation sum needs a float fold, done sequentially
    # over the sorted list on both engines (Spark aggregate() ≙ DuckDB
    # list_reduce, both strict left folds). μ/σ attach as WINDOWS over
    # the aggregated daily frame — a separate agg + crossJoin re-expands
    # the orders subtree into a second corpus scan (plan-locked); the
    # per-row sorted array is |days|², bounded forever (≤10k days).
    g = Window.partitionBy()
    stats = daily.select(
        "day",
        "cents",
        (F.sum("cents").over(g).cast("double") / F.count("*").over(g)).alias("mu"),
        F.sort_array(F.collect_list("cents").over(g)).alias("xs"),
    ).select(
        "day",
        "cents",
        "mu",
        F.expr(
            "sqrt(aggregate(xs, CAST(0.0 AS DOUBLE),"
            " (a, x) -> a + (x - mu) * (x - mu)) / size(xs))"
        ).alias("sigma"),
    )
    return (
        stats.where(
            F.abs(F.col("cents") - F.col("mu"))
            > F.lit(ANOMALY_SIGMAS) * F.col("sigma")
        )
        .select(
            "day",
            (F.col("cents").cast("double") / 100).alias("revenue"),
            (F.col("mu") / 100).alias("mean_revenue"),
            ((F.col("cents") - F.col("mu")) / F.col("sigma")).alias("z_score"),
        )
    )


def median_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per order status (oracle-checked);
    the 100 TB variant is median_order_value_approx below."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 2).alias("median_value"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 2).alias("p90_value"),
        F.count("*").alias("n_orders"),
    )


def median_order_value_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (single-pass sketch) — the at-scale swap-in;
    rows-only checked (approximate; the oracle-backed claim lives in
    median_order_value_approx_check)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.expr("approx_percentile(o_totalprice, 0.5)").alias("median_value_approx"),
        F.count("*").alias("n_orders"),
    )


#: relative tolerance for the approx-median bounds check; Spark's
#: approx_percentile default accuracy (1e4) keeps the rank error far
#: inside this on any group of > a few hundred rows.
APPROX_MEDIAN_EPS = 0.02


def median_order_value_approx_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-backed bounds check of the approx-percentile sketch: the
    estimate itself is nondeterministic-ish across engines, but the CLAIM
    "approx within 2% of exact" is deterministic — emit it as a boolean
    beside the oracle-checkable exact values, so the driver hash-verifies
    the sketch's accuracy contract rather than skipping it (rows-only).
    One pass computes both aggregates; no extra scan."""
    orders = load_table(spark, sf_dir, "orders")
    g = orders.groupBy("o_orderstatus").agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("exact_med"),
        F.expr("approx_percentile(o_totalprice, 0.5)").alias("approx_med"),
        F.count("*").alias("n_orders"),
    )
    return g.select(
        "o_orderstatus",
        F.round("exact_med", 2).alias("median_value"),
        "n_orders",
        (
            F.abs(F.col("approx_med") - F.col("exact_med"))
            <= F.lit(APPROX_MEDIAN_EPS) * F.abs(F.col("exact_med"))
        ).alias("within_tolerance"),
    )


QUERIES = {
    "events_json_props": events_json_props,
    "scalar_datetime_ops": scalar_datetime_ops,
    "daily_event_stats": daily_event_stats,
    "resample_daily_revenue": resample_daily_revenue,
    "interpolate_daily_revenue": interpolate_daily_revenue,
    "ewma_daily_revenue": ewma_daily_revenue,
    "revenue_anomalies": revenue_anomalies,
    "session_window_stats": session_window_stats,
    "event_sessions": event_sessions,
    "session_bounce_rate": session_bounce_rate,
    "asof_latest_order": asof_latest_order,
    "median_order_value": median_order_value,
    "median_order_value_approx": median_order_value_approx,
    "median_order_value_approx_check": median_order_value_approx_check,
}

ORACLE = {
    # entry event derived independently (row_number()=1) vs the Spark
    # side's min(struct) pick
    "session_bounce_rate": f"""
        WITH flagged AS (
            SELECT user_id, event_id, ts, event_type,
                   CASE WHEN lag(ts) OVER w IS NULL THEN 1
                        WHEN epoch(ts) - epoch(lag(ts) OVER w)
                             > {SESSION_GAP_MINUTES * 60} THEN 1
                        ELSE 0 END AS new_session
            FROM events
            WHERE user_id IS NOT NULL AND ts IS NOT NULL
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sessions AS (
            SELECT user_id, event_id, ts, event_type,
                   CAST(SUM(new_session) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS session_id
            FROM flagged
        ),
        entry AS (
            SELECT user_id, session_id, event_type AS entry_type FROM (
                SELECT *, row_number() OVER (PARTITION BY user_id, session_id
                                             ORDER BY ts, event_id) AS rn
                FROM sessions
            ) WHERE rn = 1
        ),
        per_session AS (
            SELECT user_id, session_id, count(*) AS n_events
            FROM sessions GROUP BY 1, 2
        ),
        j AS (
            SELECT e.entry_type, p.n_events
            FROM per_session p
            JOIN entry e ON e.user_id = p.user_id
                        AND e.session_id = p.session_id
        ),
        g AS (
            SELECT entry_type,
                   count(*) AS n_sessions,
                   CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_bounces,
                   CAST(sum(n_events) AS BIGINT) AS n_events_total
            FROM j GROUP BY 1
        )
        SELECT entry_type, n_sessions, n_bounces, n_events_total,
               (n_bounces * 10000) // n_sessions AS bounce_bp
        FROM g
    """,
    "events_json_props": f"""
        SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod10,
               count(*) AS n_events,
               min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
               max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
               {money_sum_sql('value')} AS total_value
        FROM events
        GROUP BY 1
    """,
    "scalar_datetime_ops": """
        SELECT o_orderkey,
               year(o_orderdate) AS y,
               month(o_orderdate) AS m,
               day(o_orderdate) AS d,
               strftime(o_orderdate, '%Y-%m') AS month_tag,
               CAST(o_orderdate AS DATE) - 30 AS minus_30d,
               date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since_95
        FROM orders
    """,
    # the hand-rolled lag/cumsum sessionization — the built-in
    # session_window must produce identical sessions
    "session_window_stats": f"""
        WITH flagged AS (
            SELECT user_id, ts, event_id, value,
                   CASE WHEN lag(ts) OVER w IS NULL THEN 1
                        WHEN epoch(ts) - epoch(lag(ts) OVER w)
                             > {SESSION_GAP_MINUTES * 60} THEN 1
                        ELSE 0 END AS new_session
            FROM events
            WHERE user_id IS NOT NULL AND ts IS NOT NULL
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sessions AS (
            -- cumsum MUST use the same (ts, event_id) tie-break as the
            -- flag window: with duplicate timestamps a ts-only ROWS frame
            -- can sort the flagged row after its tie and split a session
            SELECT user_id, ts, value,
                   sum(new_session) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS session_id
            FROM flagged
        )
        SELECT user_id,
               min(ts) AS session_start,
               max(ts) + INTERVAL {SESSION_GAP_MINUTES} MINUTE AS session_end,
               count(*) AS n_events,
               {money_sum_sql('value')} AS total_value
        FROM sessions
        GROUP BY user_id, session_id
    """,
    # μ = exact BIGINT cent sum / n (one division, order-free); the
    # squared-deviation sum folds SEQUENTIALLY over the same sorted list
    # on both engines — DuckDB list_reduce and Spark aggregate() are both
    # strict left folds, so σ is bit-identical (list_sum's internal
    # summation order is NOT guaranteed, hence list_reduce + a prepended
    # 0.0 seed)
    "revenue_anomalies": f"""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                       AS cents
            FROM orders GROUP BY 1
        ),
        arr AS (
            SELECT list_sort(list(cents)) AS xs,
                   CAST(sum(cents) AS BIGINT) AS s,
                   count(*) AS n
            FROM daily
        ),
        s AS (SELECT CAST(s AS DOUBLE) / n AS mu, xs FROM arr),
        st AS (
            SELECT mu,
                   sqrt(list_reduce(
                        list_prepend(CAST(0.0 AS DOUBLE),
                            list_transform(xs, x -> (x - mu) * (x - mu))),
                        (a, b) -> a + b) / len(xs)) AS sigma
            FROM s
        )
        SELECT day,
               CAST(cents AS DOUBLE) / 100 AS revenue,
               mu / 100 AS mean_revenue,
               (cents - mu) / sigma AS z_score
        FROM daily, st
        WHERE abs(cents - mu) > {ANOMALY_SIGMAS} * sigma
    """,
    # same lead()-gap expansion; interpolation is int + (int·int)/int with
    # no rounding call, so the doubles are bit-identical across engines
    "interpolate_daily_revenue": """
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS src_day,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                       AS cents
            FROM orders GROUP BY 1
        ),
        led AS (
            SELECT src_day, cents,
                   lead(src_day) OVER (ORDER BY src_day) AS next_day,
                   lead(cents) OVER (ORDER BY src_day) AS next_cents
            FROM daily
        ),
        days AS (
            SELECT src_day, next_day, cents, next_cents,
                   CAST(unnest(generate_series(CAST(src_day AS TIMESTAMP),
                        CAST(coalesce(next_day - 1, src_day) AS TIMESTAMP),
                        INTERVAL 1 DAY)) AS DATE) AS day
            FROM led
        )
        SELECT day,
               CASE WHEN day = src_day THEN CAST(cents AS DOUBLE)
                    ELSE cents + (next_cents - cents)
                         * date_diff('day', src_day, day)
                         / date_diff('day', src_day, next_day)
               END / 100.0 AS revenue,
               day != src_day AS interpolated
        FROM days
    """,
    "ewma_daily_revenue": f"""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                       AS cents
            FROM orders GROUP BY 1
        ),
        contrib AS (
            SELECT daily.day + CAST(gap AS INT) AS day,
                   cents * (CAST(1 AS BIGINT) << ({EWMA_SPAN_DAYS} - gap))
                       AS num_part,
                   (CAST(1 AS BIGINT) << ({EWMA_SPAN_DAYS} - gap)) AS den_part
            FROM daily
            CROSS JOIN (SELECT unnest(range(0, {EWMA_SPAN_DAYS + 1})) AS gap) g
        ),
        sm AS (
            SELECT day, CAST(sum(num_part) AS BIGINT) AS num,
                   CAST(sum(den_part) AS BIGINT) AS den
            FROM contrib GROUP BY day
        )
        SELECT daily.day, CAST(cents AS DOUBLE) / 100.0 AS revenue,
               CAST(num AS DOUBLE) / CAST(den AS DOUBLE) / 100.0 AS ewma_20d
        FROM daily JOIN sm USING (day)
    """,
    # independent algorithm on purpose: the oracle joins a generate_series
    # calendar, the Spark side expands lead() gaps — same dense result.
    "resample_daily_revenue": f"""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   {money_sum_sql('o_totalprice')} AS revenue,
                   count(*) AS n_orders
            FROM orders
            GROUP BY 1
        ),
        cal AS (
            SELECT CAST(unnest(generate_series(
                       (SELECT min(day) FROM daily),
                       (SELECT max(day) FROM daily),
                       INTERVAL 1 DAY)) AS DATE) AS day
        )
        SELECT c.day,
               coalesce(d.revenue, 0.0) AS revenue,
               coalesce(d.n_orders, 0) AS n_orders,
               d.day IS NULL AS gap_filled
        FROM cal c LEFT JOIN daily d USING (day)
    """,
    "daily_event_stats": f"""
        WITH daily AS (
            SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                   event_type,
                   count(*) AS n_events,
                   {money_sum_sql('value')} AS day_total
            FROM events
            GROUP BY 1, 2
        )
        SELECT day, event_type, n_events, day_total,
               CAST(SUM(n_events) OVER (PARTITION BY event_type ORDER BY day
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS running_events
        FROM daily
    """,
    "event_sessions": f"""
        WITH flagged AS (
            SELECT user_id, event_id, ts,
                   CASE WHEN lag(ts) OVER w IS NULL THEN 1
                        WHEN epoch(ts) - epoch(lag(ts) OVER w) > {SESSION_GAP_MINUTES * 60} THEN 1
                        ELSE 0 END AS new_session
            FROM events
            WHERE user_id IS NOT NULL AND ts IS NOT NULL
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sessions AS (
            SELECT user_id, event_id,
                   CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                       AS session_id
            FROM flagged
        ),
        per_session AS (
            SELECT user_id, session_id, count(*) AS n_events,
                   min(event_id) AS first_event, max(event_id) AS last_event
            FROM sessions GROUP BY 1, 2
        )
        SELECT user_id, count(*) AS n_sessions,
               max(n_events) AS longest_session_events,
               CAST(sum(n_events) AS BIGINT) AS total_events
        FROM per_session GROUP BY 1
    """,
    "asof_latest_order": """
        SELECT event_id, user_id, latest_orderkey, order_date FROM (
            SELECT e.event_id, e.user_id,
                   o.o_orderkey AS latest_orderkey,
                   CAST(o.o_orderdate AS DATE) AS order_date,
                   ROW_NUMBER() OVER (PARTITION BY e.event_id
                                      ORDER BY CAST(o.o_orderdate AS DATE) DESC, o.o_orderkey DESC) AS rn
            FROM (SELECT event_id, user_id, CAST(ts AS DATE) AS event_date FROM events) e
            JOIN orders o ON e.user_id = o.o_custkey AND CAST(o.o_orderdate AS DATE) <= e.event_date
        ) WHERE rn = 1
    """,
    # the oracle asserts the CLAIM (within_tolerance literal TRUE) plus the
    # exact values; Spark computes the boolean from its live sketch
    "median_order_value_approx_check": """
        SELECT o_orderstatus,
               round(quantile_cont(o_totalprice, 0.5), 2) AS median_value,
               count(*) AS n_orders,
               TRUE AS within_tolerance
        FROM orders
        GROUP BY o_orderstatus
    """,
    "median_order_value": """
        SELECT o_orderstatus,
               round(quantile_cont(o_totalprice, 0.5), 2) AS median_value,
               round(quantile_cont(o_totalprice, 0.9), 2) AS p90_value,
               count(*) AS n_orders
        FROM orders
        GROUP BY 1
    """,
}
