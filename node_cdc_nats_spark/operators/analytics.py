"""Event-analytics operators: sessionization, funnels, cohort retention.

The reference's event stream (``/root/reference/lib/nats.js`` delivers
opaque subject+payload messages; lib/nats.js:94-96 is its only routing
predicate) leaves downstream analytics to the consumer. These three ops
are the canonical consumer-side analyses any event pipeline grows —
expressed as single-pass window/agg plans, no Python in the hot path.

Scale notes (100 TB events):
- All three shuffle ONCE on ``user_id`` (the window partition key) and
  then reduce; per-user state is a single partition's sort, never
  driver-side. User-count grows with data, so the key space is wide and
  un-skewed by construction (a hot user would be salted the same way
  ``join_skew_salted`` demonstrates).
- ``funnel_conversion`` evaluates all three stages inside ONE Window
  operator (same partition/order spec → Spark fuses the running minima),
  then two narrow aggregations.
- ``retention_cohorts`` avoids ``COUNT(DISTINCT)``'s Expand plan with the
  same two-level dedup-then-count the TPC-H q16/q21 flagships use.

Cross-engine determinism: inactivity gaps are computed in integer
epoch-microseconds (``timestampdiff`` against the NTZ epoch — pure
wall-clock arithmetic, no session-timezone dependence; DuckDB's
``epoch_us`` is the exact mirror), orderings are tie-broken by the unique
``event_id``, and week math is integer day-diffs of Monday-anchored
``date_trunc`` weeks, identical in Spark and DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..io import load_table
from ..cache import managed_persist
from ..registry import register
from .exact import DEC, dsum, sql_dsum

SESSION_GAP_US = 30 * 60 * 1_000_000  # 30-minute inactivity closes a session


@register(
    "sessionize_events",
    oracle=f"""
    WITH g AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > {SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, ts, value,
             -- CAST: DuckDB SUM(int) is HUGEINT, which lands in pandas as
             -- float64; the driver's hash is dtype-sensitive, so an
             -- uncast sum hash-mismatches Spark's int64 on EQUAL values
             -- (the r5 hash-fail root cause).
             CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS session_id
      FROM g
    )
    SELECT user_id, session_id,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           COUNT(*) AS n_events, {sql_dsum('value')} AS total_value
    FROM s GROUP BY user_id, session_id
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: 30-min-gap sessions per user via one
    lag + running-sum window (one user_id shuffle), then a per-session
    aggregate. The streaming twin is ``stream_session``
    (streaming/windows.py); this is the backfill/batch path over the
    same semantics."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_run = w.rowsBetween(Window.unboundedPreceding, 0)
    ts_us = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    )
    gap = F.col("ts_us") - F.lag("ts_us").over(w)
    is_new = F.when(gap.isNull() | (gap > SESSION_GAP_US), 1).otherwise(0)
    return (
        ev.select("user_id", "ts", "event_id", "value", ts_us.alias("ts_us"))
        .withColumn("session_id", F.sum(is_new).over(w_run))
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
    )


# Shared with the streaming twin (streaming/funnel.py), which splices this
# exact SQL as its oracle so the two registrations can never drift.
FUNNEL_ORACLE = """
    WITH staged AS (
      SELECT user_id, ts, event_id, event_type,
             MIN(CASE WHEN event_type = 'signup' THEN ts END) OVER w AS first_signup
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING)
    ),
    staged2 AS (
      SELECT user_id, ts, event_type, first_signup,
             MIN(CASE WHEN event_type = 'click' AND first_signup IS NOT NULL
                      THEN ts END) OVER w AS first_click
      FROM staged
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING)
    ),
    per_user AS (
      SELECT user_id,
             MAX(CASE WHEN first_signup IS NOT NULL THEN 1 ELSE 0 END) AS s1,
             MAX(CASE WHEN event_type = 'click' AND first_signup IS NOT NULL
                      THEN 1 ELSE 0 END) AS s2,
             MAX(CASE WHEN event_type = 'purchase' AND first_click IS NOT NULL
                      THEN 1 ELSE 0 END) AS s3
      FROM staged2 GROUP BY user_id
    )
    -- CAST: SUM(int) is HUGEINT → pandas float64 → driver hash-mismatch
    -- vs Spark int64 on equal values (the r5 hash-fail root cause).
    SELECT CAST(SUM(s1) AS BIGINT) AS n_signup,
           CAST(SUM(s2) AS BIGINT) AS n_click_after_signup,
           CAST(SUM(s3) AS BIGINT) AS n_purchase_after_click
    FROM per_user
    """


@register("funnel_conversion", oracle=FUNNEL_ORACLE)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel signup → click → purchase: running first-stage
    minima inside one user_id window pass, then per-user flags and a
    global census. A user counts for stage N only if an N-type event
    occurs at-or-after their first (N-1)-stage completion."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    staged = ev.withColumn(
        "first_signup",
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).over(w_run),
    )
    # Both windows share the (ts, event_id) tiebreak — equal-ts rows must
    # see the same prefix in both engines or a same-instant click/purchase
    # pair could flip a stage flag; Spark fuses both minima into one
    # Window operator because the specs match.
    staged = staged.withColumn(
        "first_click",
        F.min(
            F.when(
                (F.col("event_type") == "click") & F.col("first_signup").isNotNull(),
                F.col("ts"),
            )
        ).over(w_run),
    )
    per_user = staged.groupBy("user_id").agg(
        F.max(F.when(F.col("first_signup").isNotNull(), 1).otherwise(0)).alias("s1"),
        F.max(
            F.when(
                (F.col("event_type") == "click") & F.col("first_signup").isNotNull(), 1
            ).otherwise(0)
        ).alias("s2"),
        F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & F.col("first_click").isNotNull(),
                1,
            ).otherwise(0)
        ).alias("s3"),
    )
    return per_user.agg(
        F.sum("s1").alias("n_signup"),
        F.sum("s2").alias("n_click_after_signup"),
        F.sum("s3").alias("n_purchase_after_click"),
    )


# Shared with the streaming twin (streaming/retention.py): both ops register
# this oracle and build their result with retention_report.
RETENTION_ORACLE = """
    WITH firsts AS (
      SELECT user_id, ts,
             MIN(ts) OVER (PARTITION BY user_id) AS first_ts
      FROM events
    ),
    marked AS (
      SELECT DISTINCT
             CAST(DATE_TRUNC('week', first_ts) AS DATE) AS cohort_week,
             DATE_DIFF('day', CAST(DATE_TRUNC('week', first_ts) AS DATE),
                              CAST(DATE_TRUNC('week', ts) AS DATE)) // 7 AS week_offset,
             user_id
      FROM firsts
    )
    SELECT cohort_week, week_offset, COUNT(*) AS n_users
    FROM marked GROUP BY cohort_week, week_offset
    ORDER BY cohort_week, week_offset
    """


def retention_report(active: DataFrame) -> DataFrame:
    """The cohort table over ``(user_id, first_ts, wk)`` rows (a user's
    first event time and one week they were active in): cohort = Monday-
    anchored week of ``first_ts``, offset = whole weeks from it to ``wk``,
    then the two-level dedup-then-count of distinct users per cell."""
    cohort = F.date_trunc("week", F.col("first_ts")).cast("date")
    offset = (F.datediff(F.col("wk").cast("date"), cohort) / 7).cast("long")
    return (
        active.select(cohort.alias("cohort_week"), offset.alias("week_offset"), "user_id")
        .distinct()
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


@register("retention_cohorts", oracle=RETENTION_ORACLE)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: cohort = Monday-anchored week of the
    user's first event; count distinct users active at each week offset.
    One user_id window shuffle + the two-level dedup-then-count."""
    ev = load_table(spark, sf_dir, "events")
    return retention_report(
        ev.select(
            "user_id",
            F.min("ts").over(Window.partitionBy("user_id")).alias("first_ts"),
            F.date_trunc("week", F.col("ts")).alias("wk"),
        )
    )


ANOMALY_ZSCORE_ORACLE = """
    WITH s AS (
      SELECT event_type,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(value * value AS DECIMAL(30,4))) AS DOUBLE) AS sxx
      FROM events GROUP BY event_type)
    SELECT event_id, e.event_type AS event_type, value,
           (value - (sx / n))
             / NULLIF(SQRT(GREATEST((sxx / n) - (sx / n) * (sx / n), 0)), 0)
             AS zscore
    FROM events e JOIN s ON e.event_type = s.event_type
    WHERE ABS((value - (sx / n))
              / NULLIF(SQRT(GREATEST((sxx / n) - (sx / n) * (sx / n), 0)), 0))
          > 3.0
    """


def anomaly_moments(ev: DataFrame) -> DataFrame:
    """Per-event-type population moments ``(n, Σx, Σx²)`` as doubles —
    DECIMAL-accumulated (order-independent, AQE-stable — same machinery as
    agg_corr) then cast once. The sums are ADDITIVE, which is what lets
    ``stream_anomaly_zscore`` maintain the identical values incrementally
    as a native update-mode streaming aggregate."""
    x = F.col("value")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x.cast(DEC)).cast("double").alias("sx"),
        F.sum((x * x).cast("decimal(30,4)")).cast("double").alias("sxx"),
    )


def zscore_flags(ev: DataFrame, stats: DataFrame) -> DataFrame:
    """Join the per-type moments back and keep events beyond 3σ — the
    shared z-flag tail of ``events_anomaly_zscore`` and its streaming twin
    (one expression tree, so the twins cannot drift). The stats join is
    UNHINTED on purpose: a handful of event-type rows — AQE broadcasts;
    never a pin."""
    x = F.col("value")
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    m = sx / n
    sd = F.sqrt(F.greatest((sxx / n) - m * m, F.lit(0.0)))
    z = (x - m) / F.nullif(sd, F.lit(0.0))
    return (
        ev.join(stats, "event_type")
        .select("event_id", "event_type", "value", z.alias("zscore"))
        .filter(F.abs(F.col("zscore")) > 3.0)
    )


@register("events_anomaly_zscore", oracle=ANOMALY_ZSCORE_ORACLE)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-z-score outlier flagging per event type: events whose
    value sits >3σ from their type's mean — the standing data-quality
    monitor an event pipeline runs before metrics trust the feed.

    Engine-exact: moments are DECIMAL-accumulated (``anomaly_moments``),
    and mean/variance/z each close with the identical IEEE expression tree
    on both engines (``zscore_flags``), with the same GREATEST/NULLIF
    degenerate-group guards. Scale: one partial+final aggregation on the
    tiny event_type key space, then the per-type stats join back UNHINTED
    (a handful of rows — AQE broadcasts; never a pin) and the z filter is
    map-side. Both halves are shared verbatim with
    ``stream_anomaly_zscore`` (streaming/anomaly.py)."""
    ev = load_table(spark, sf_dir, "events")
    return zscore_flags(ev, anomaly_moments(ev))


@register(
    "events_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT event_type AS next_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    pairs AS (
      SELECT prev_type, next_type, COUNT(*) AS n_transitions
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, next_type
    )
    SELECT prev_type, next_type, n_transitions,
           -- int64/int64 double division: both engines round the exact
           -- rational to the same nearest double, so the hash is stable.
           CAST(n_transitions AS DOUBLE) /
             SUM(n_transitions) OVER (PARTITION BY prev_type) AS p_next
    FROM pairs
    """,
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition census over the per-user event
    sequence: for every (prev_type -> next_type) pair, the transition
    count and its row-normalized probability. This is the behavioral
    summary a next-event model trains on, and the reference's consumers
    would build it from the same delivered stream `sessionize_events`
    reads (lib/nats.js:94-96 routes, analysis is consumer-side).

    Scale (100 TB events): ONE shuffle on user_id for the lag window —
    the same partition spec as the other event ops, so a multi-analysis
    job reuses the Exchange — then the pair census is a partial+final
    hash aggregate over at most |event_type|^2 groups (tiny, bounded by
    the type vocabulary, not by data volume). The p_next window runs on
    that tiny census, not on the events. No Python, no skew risk beyond
    the hot-user case `join_skew_salted` demonstrates the salting for.
    Determinism: lag ordered by (ts, event_id) — the unique tiebreak —
    and the probability is an int64/int64 double division, identical in
    both engines.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.lag("event_type").over(w).alias("prev_type"),
            F.col("event_type").alias("next_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    w_prev = Window.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "next_type",
        "n_transitions",
        (
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(w_prev)
        ).alias("p_next"),
    )


@register(
    "rolling_active_users",
    oracle="""
    WITH user_days AS (
      SELECT DISTINCT user_id, CAST(DATE_TRUNC('day', ts) AS DATE) AS d
      FROM events
    ),
    grid AS (SELECT DISTINCT d FROM user_days),
    in_window AS (
      SELECT DISTINCT g.d AS day, u.user_id
      FROM grid g JOIN user_days u
        ON DATE_DIFF('day', u.d, g.d) BETWEEN 0 AND 6
    )
    SELECT day, COUNT(*) AS active_7d
    FROM in_window GROUP BY day ORDER BY day
    """,
)
def rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day — the canonical
    engagement metric a rolling COUNT(DISTINCT) range frame cannot
    express in either engine (distinct aggregates are not frameable).

    Plan: dedup events to (user_id, day) pairs (one shuffle; at 100 TB
    this is the big reduction — billions of events collapse to
    |users|x|days| pairs), then a range join against the DAY GRID.
    The grid is bounded by calendar time, not data volume (10 years
    = ~3.7k rows), so it is the one side a pinned `broadcast()` is
    permanently safe for — the same reasoning that keeps region/nation
    pins legal while SF-proportional pins were removed in r6. Spark
    plans the theta-join as BroadcastNestedLoopJoin over the tiny grid
    (each user-day fans out to <=7 grid days), and the final distinct +
    count is the two-level dedup-then-count the other analytics ops use
    to avoid an Expand plan. Determinism: day arithmetic is integer
    datediff on DATE — no timezone, no floats.
    """
    ev = load_table(spark, sf_dir, "events")
    user_days = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).cast("date").alias("d")
    ).distinct()
    grid = user_days.select("d").distinct()
    return (
        user_days.alias("u")
        .join(
            F.broadcast(grid.alias("g")),
            F.datediff(F.col("g.d"), F.col("u.d")).between(0, 6),
        )
        .select(F.col("g.d").alias("day"), "user_id")
        .distinct()
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("active_7d"))
        .orderBy("day")
    )


@register(
    "funnel_latency_stats",
    oracle=f"""
    WITH staged AS (
      SELECT user_id, ts, event_id, event_type,
             MIN(CASE WHEN event_type = 'signup' THEN ts END) OVER w
               AS first_signup
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING)
    ),
    conv AS (
      SELECT user_id,
             MIN(first_signup) AS first_signup,
             MIN(ts) AS first_purchase
      FROM staged
      WHERE event_type = 'purchase' AND first_signup IS NOT NULL
      GROUP BY user_id
    ),
    lat AS (
      -- CAST: DuckDB DATE_TRUNC('week') yields DATE; Spark date_trunc
      -- yields TIMESTAMP — align the dtypes for the driver's comparison.
      SELECT CAST(DATE_TRUNC('week', first_signup) AS TIMESTAMP) AS cohort_week,
             epoch_us(first_purchase) - epoch_us(first_signup) AS lat_us
      FROM conv
    )
    SELECT cohort_week,
           CAST(COUNT(*) AS BIGINT) AS n_converted,
           CAST(MIN(lat_us) AS DOUBLE) / 1000000.0 AS min_s,
           CAST(MAX(lat_us) AS DOUBLE) / 1000000.0 AS max_s,
           CAST(SUM(CAST(lat_us AS DECIMAL(30,0))) AS DOUBLE)
             / (CAST(COUNT(*) AS DOUBLE) * 1000000.0) AS avg_s
    FROM lat GROUP BY cohort_week
    ORDER BY cohort_week
    """,
)
def funnel_latency_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert: for every user whose purchase follows their first
    signup (the same ordered-funnel semantics as `funnel_conversion`),
    the signup→first-purchase latency, aggregated per Monday-anchored
    signup-week cohort — the growth-team report behind "conversion is
    getting slower for recent cohorts".

    Plan: ONE user_id window shuffle (the running first-signup minimum —
    identical spec to `funnel_conversion`, so the partitioning is
    reusable across both queries in a shared pipeline), a per-user
    aggregate that REUSES the same user_id partitioning (no second
    exchange), then a cohort-week census of at most a few hundred rows.
    Latencies are integer epoch-microsecond differences (timezone-free,
    exact); the mean is decimal-accumulated so it is identical across
    engines and partitionings; min/max/avg leave integer space in ONE
    double division each."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    staged = ev.withColumn(
        "first_signup",
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).over(w_run),
    )
    conv = (
        staged.filter(
            (F.col("event_type") == "purchase") & F.col("first_signup").isNotNull()
        )
        .groupBy("user_id")
        .agg(
            F.min("first_signup").alias("first_signup"),
            F.min("ts").alias("first_purchase"),
        )
    )
    us = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {c})"
    lat = conv.select(
        F.date_trunc("week", F.col("first_signup")).alias("cohort_week"),
        (
            F.expr(us.format(c="first_purchase"))
            - F.expr(us.format(c="first_signup"))
        ).alias("lat_us"),
    )
    return (
        lat.groupBy("cohort_week")
        .agg(
            F.count(F.lit(1)).alias("n_converted"),
            (F.min("lat_us").cast("double") / F.lit(1000000.0)).alias("min_s"),
            (F.max("lat_us").cast("double") / F.lit(1000000.0)).alias("max_s"),
            (
                F.sum(F.col("lat_us").cast("decimal(30,0)")).cast("double")
                / (F.count(F.lit(1)).cast("double") * F.lit(1000000.0))
            ).alias("avg_s"),
        )
        .orderBy("cohort_week")
    )


@register(
    "events_hourly_cusum",
    oracle="""
    WITH e AS (
      SELECT event_type, DATE_TRUNC('hour', ts) AS hour FROM events),
    census AS (
      SELECT event_type, hour, CAST(COUNT(*) AS BIGINT) AS n
      FROM e GROUP BY event_type, hour),
    bounds AS (SELECT MIN(hour) AS h0, MAX(hour) AS h1 FROM e),
    hours AS (
      SELECT UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
      FROM bounds),
    types AS (SELECT DISTINCT event_type FROM e),
    dense AS (
      SELECT t.event_type, h.hour, COALESCE(c.n, CAST(0 AS BIGINT)) AS n
      FROM types t CROSS JOIN hours h
      LEFT JOIN census c ON c.event_type = t.event_type AND c.hour = h.hour),
    tot AS (
      SELECT event_type, CAST(SUM(n) AS BIGINT) AS total,
             CAST(COUNT(*) AS BIGINT) AS d
      FROM dense GROUP BY event_type)
    SELECT dense.event_type, dense.hour, dense.n AS n_events,
           CAST(SUM(CAST(dense.n * tot.d - tot.total AS DECIMAL(38,0)))
                  OVER (PARTITION BY dense.event_type ORDER BY dense.hour
                        ROWS UNBOUNDED PRECEDING) AS DOUBLE)
             / CAST(tot.d AS DOUBLE) AS cusum
    FROM dense JOIN tot ON tot.event_type = dense.event_type
    ORDER BY dense.event_type, dense.hour
    """,
)
def events_hourly_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM drift detection over hourly event-type rates: cumulative sum
    of each hour's deviation from the type's mean hourly rate, on a DENSE
    hour grid (zero-event hours count — a silent outage IS drift). A
    sustained rate shift shows as a monotone cusum ramp long before any
    single hour looks anomalous — the classic change-point telemetry next
    to `events_anomaly_zscore`'s pointwise 3σ flags.

    Determinism: deviations are pre-scaled integers (n·D − total, never
    the fractional mean), the running sum accumulates DECIMAL in the
    window's defined hour order, and the only doubles are one division
    per output row. Plan: one corpus-sized census shuffle with map-side
    partials ((type, hour) groups — calendar-bounded, not data-bounded);
    the dense grid is |types|·|hours| rows built from a 1-row bounds agg
    and broadcast; the window runs per type over grid-sized input. At
    100 TB the census shuffle dominates and moves only grid-sized
    partials per task."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    )
    census = ev.groupBy("event_type", "hour").agg(F.count(F.lit(1)).alias("n"))
    bounds = ev.agg(F.min("hour").alias("h0"), F.max("hour").alias("h1"))
    hours = bounds.select(
        F.explode(F.expr("sequence(h0, h1, interval 1 hour)")).alias("hour")
    )
    types = ev.select("event_type").distinct()
    dense = (
        types.crossJoin(F.broadcast(hours))
        .join(census, ["event_type", "hour"], "left")
        .select(
            "event_type",
            "hour",
            F.coalesce(F.col("n"), F.lit(0).cast("long")).alias("n"),
        )
    )
    tot = dense.groupBy("event_type").agg(
        F.sum("n").alias("total"), F.count(F.lit(1)).alias("d")
    )
    dev = (F.col("n") * F.col("d") - F.col("total")).cast("decimal(38,0)")
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        dense.join(tot, "event_type")
        .select("event_type", "hour", F.col("n").alias("n_events"),
                dev.alias("dev"), "d")
        .withColumn(
            "cusum",
            F.sum("dev").over(w).cast("double") / F.col("d").cast("double"),
        )
        .select("event_type", "hour", "n_events", "cusum")
        .orderBy("event_type", "hour")
    )


@register(
    "events_user_concentration",
    oracle="""
    WITH pu AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY user_id),
    census AS (
      SELECT cnt, CAST(COUNT(*) AS BIGINT) AS n_users FROM pu GROUP BY cnt),
    c2 AS (
      SELECT cnt, n_users, CAST(cnt * n_users AS BIGINT) AS n_events
      FROM census)
    SELECT cnt AS events_per_user, n_users, n_events,
           CAST(CAST(SUM(n_users) OVER (
                  ORDER BY cnt DESC ROWS UNBOUNDED PRECEDING) AS BIGINT)
                AS DOUBLE)
             / CAST(CAST(SUM(n_users) OVER (
                  ORDER BY cnt DESC ROWS BETWEEN UNBOUNDED PRECEDING
                  AND UNBOUNDED FOLLOWING) AS BIGINT) AS DOUBLE)
             AS cum_users_share,
           CAST(CAST(SUM(n_events) OVER (
                  ORDER BY cnt DESC ROWS UNBOUNDED PRECEDING) AS BIGINT)
                AS DOUBLE)
             / CAST(CAST(SUM(n_events) OVER (
                  ORDER BY cnt DESC ROWS BETWEEN UNBOUNDED PRECEDING
                  AND UNBOUNDED FOLLOWING) AS BIGINT) AS DOUBLE)
             AS cum_events_share
    FROM c2
    ORDER BY events_per_user DESC
    """,
)
def events_user_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity-concentration (Lorenz) census: how much of the event volume
    the most-active users account for. For every distinct events-per-user
    value, the number of users at that activity level and the CUMULATIVE
    share of users/events at-or-above it — the "top 1% of users generate
    X% of traffic" power curve that sizes per-user state stores, salting
    thresholds, and rate limits.

    The naive spelling (NTILE over all users ordered by activity) needs a
    GLOBAL sort of the per-user aggregate — a single-task bottleneck at
    10^9 users. This is its scalable spelling: the user census collapses
    to an ACTIVITY-VALUE census first (bounded by the most active user's
    count, ~hundreds of distinct values regardless of corpus size), and
    the Lorenz cumulative runs over that tiny census. Plan: one
    corpus-sized shuffle on user_id with map-side partials, one user-sized
    census shuffle on cnt, then ONE single-partition Window operator
    (bounded, deliberate) that computes both the running and the
    full-frame totals — same partition/order spec, so Spark fuses all
    four window expressions and the census is scanned once, no total-row
    join anywhere.

    Determinism: every count and cumulative is exact integer arithmetic;
    the only doubles are the two final divisions per output row (exact
    int→double conversions below 2^53, IEEE division — bit-identical in
    DuckDB). Ties are impossible: ``cnt`` is the census key.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id")
    per_user = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    census = (
        per_user.groupBy("cnt")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .withColumn("n_events", F.col("cnt") * F.col("n_users"))
    )
    w_run = Window.orderBy(F.col("cnt").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.orderBy(F.col("cnt").desc()).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        census.select(
            F.col("cnt").alias("events_per_user"),
            "n_users",
            "n_events",
            (
                F.sum("n_users").over(w_run).cast("double")
                / F.sum("n_users").over(w_all).cast("double")
            ).alias("cum_users_share"),
            (
                F.sum("n_events").over(w_run).cast("double")
                / F.sum("n_events").over(w_all).cast("double")
            ).alias("cum_events_share"),
        )
        .orderBy(F.col("events_per_user").desc())
    )


CHURN_DAYS = 14  # inactivity horizon: no event in the trailing 14 days


@register(
    "events_inactivity_churn",
    oracle=f"""
    WITH lastev AS (
      SELECT user_id, MAX(ts) AS last_ts FROM events GROUP BY user_id),
    horizon AS (SELECT MAX(last_ts) AS max_ts FROM lastev),
    census AS (
      SELECT CAST(DATE_TRUNC('week', last_ts) AS DATE) AS last_week,
             CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(CASE WHEN last_ts < max_ts - INTERVAL {CHURN_DAYS} DAY
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_churned
      FROM lastev CROSS JOIN horizon
      GROUP BY 1)
    SELECT last_week, n_users, n_churned,
           CAST(n_churned AS DOUBLE) / CAST(n_users AS DOUBLE) AS churn_rate
    FROM census ORDER BY last_week
    """,
)
def events_inactivity_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inactivity churn census: a user is churned when their LAST event
    is more than 14 days before the corpus's latest activity (the
    observation horizon — never wall-clock now(), which would make the
    result nondeterministic). Users are bucketed by the Monday-anchored
    week they were last seen, with the churned count and rate per bucket
    — the weekly at-risk report behind re-engagement campaigns.

    Plan: the corpus collapses to one per-user MAX in a single user_id
    shuffle with map-side partials; the horizon is a 1-row aggregate of
    the user-level relation broadcast back (same pattern as q15's max
    and the Bloom bitmap); the week census groups user-sized input into
    calendar-bounded buckets. Determinism: timestamp comparisons are
    NTZ wall-clock in both engines, counts are exact integers, and
    ``churn_rate`` is one int→double division per output row."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    lastev = ev.groupBy("user_id").agg(F.max("ts").alias("last_ts"))
    horizon = lastev.agg(F.max("last_ts").alias("max_ts"))
    churned = (
        F.col("last_ts")
        < F.col("max_ts") - F.expr(f"INTERVAL {CHURN_DAYS} DAYS")
    ).cast("long")
    census = (
        lastev.crossJoin(F.broadcast(horizon))
        .groupBy(
            F.date_trunc("week", F.col("last_ts")).cast("date").alias("last_week")
        )
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum(churned).alias("n_churned"),
        )
    )
    return census.select(
        "last_week",
        "n_users",
        "n_churned",
        (
            F.col("n_churned").cast("double") / F.col("n_users").cast("double")
        ).alias("churn_rate"),
    ).orderBy("last_week")


@register(
    "events_weekly_stickiness",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(DATE_TRUNC('day', ts) AS DATE) AS day
      FROM events),
    daily AS (
      SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY day),
    uw AS (
      SELECT DISTINCT user_id, CAST(DATE_TRUNC('week', day) AS DATE) AS week
      FROM ud),
    weekly AS (
      SELECT week, CAST(COUNT(*) AS BIGINT) AS wau FROM uw GROUP BY week)
    SELECT w.week, w.wau,
           CAST(SUM(d.dau) AS BIGINT) AS active_user_days,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(d.dau) AS DOUBLE)
             / (CAST(COUNT(*) AS DOUBLE) * CAST(w.wau AS DOUBLE))
             AS stickiness
    FROM daily d
    JOIN weekly w ON CAST(DATE_TRUNC('week', d.day) AS DATE) = w.week
    GROUP BY w.week, w.wau
    ORDER BY w.week
    """,
)
def events_weekly_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly stickiness (the DAU/WAU engagement ratio): for each
    Monday-anchored week, the weekly active users, the sum and count of
    daily-active figures, and stickiness = avg-DAU / WAU — 1.0 means
    every weekly user shows up every day, 1/7 means each appears once.
    The standard product-engagement census next to `retention_cohorts`
    and `events_inactivity_churn`.

    Plan: ONE corpus-sized exchange — the (user_id, day) dedup (two-level
    pattern: distinct first, then both censuses count pre-deduped rows,
    never COUNT(DISTINCT) with Expand). The user-day table is PERSISTED:
    it feeds both the daily census and the week-level dedup, and without
    the persist each branch replays the corpus scan + dedup exchange
    (exchange reuse does not fire across the differing parents). The
    (user_id, week) dedup re-keys user-day-sized input (strictly smaller
    than the corpus); the day-census × week-census join is
    calendar-sized and AQE-broadcast. Determinism: integer counts, one
    double expression per output week; `date_trunc('week')` is
    Monday-anchored in both engines."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    )
    ud = managed_persist(ev.distinct())
    daily = ud.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    uw = ud.select(
        "user_id", F.date_trunc("week", F.col("day")).cast("date").alias("week")
    ).distinct()
    weekly = uw.groupBy("week").agg(F.count(F.lit(1)).alias("wau"))
    return (
        daily.withColumn(
            "week", F.date_trunc("week", F.col("day")).cast("date")
        )
        .join(weekly, "week")
        .groupBy("week", "wau")
        .agg(
            F.sum("dau").cast("long").alias("active_user_days"),
            F.count(F.lit(1)).alias("n_days"),
        )
        .select(
            "week",
            "wau",
            "active_user_days",
            "n_days",
            (
                F.col("active_user_days").cast("double")
                / (
                    F.col("n_days").cast("double")
                    * F.col("wau").cast("double")
                )
            ).alias("stickiness"),
        )
        .orderBy("week")
    )


# Path-analysis bounds: first PATH_LEN events of a session define its
# path signature; the report keeps the PATH_TOPK most frequent paths.
PATH_LEN = 8
PATH_TOPK = 20


@register(
    "events_session_paths_topk",
    oracle=f"""
    WITH g AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > {SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, ts, event_id, event_type,
             CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS session_id
      FROM g
    ),
    sr AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, session_id
                                   ORDER BY ts, event_id) AS rn
      FROM s
    ),
    paths AS (
      SELECT user_id, session_id,
             STRING_AGG(event_type, '>' ORDER BY ts, event_id) AS path
      FROM sr WHERE rn <= {PATH_LEN}
      GROUP BY user_id, session_id)
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
    FROM paths GROUP BY path
    ORDER BY n_sessions DESC, path LIMIT {PATH_TOPK}
    """,
)
def events_session_paths_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top navigation paths: the PATH_TOPK=20 most frequent session event
    sequences (first PATH_LEN=8 event types of each 30-min-gap session,
    joined with '>') — the path-analysis report behind "how do users
    actually move through the product". Shares `sessionize_events`'
    exact session definition, so a path census row corresponds 1:1 to
    that operator's sessions.

    Plan: ONE user_id exchange carries the session assignment (lag +
    running sum), the in-session ROW_NUMBER truncation, and the ordered
    per-session path collect (sort_array over per-session structs —
    state bounded by PATH_LEN after the rn filter, not session length);
    the path census is a partial+final hash agg on path strings
    (bounded by |event_types|^PATH_LEN but in practice census-sized),
    and the top-k is TakeOrderedAndProject with the count-then-path
    tiebreak — never a global sort. Determinism: the (ts, event_id)
    ordering is total, the path string render order is pinned by
    sort_array, and counts are exact integers."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_run = w.rowsBetween(Window.unboundedPreceding, 0)
    ts_us = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    )
    gap = F.col("ts_us") - F.lag("ts_us").over(w)
    is_new = F.when(gap.isNull() | (gap > SESSION_GAP_US), 1).otherwise(0)
    sessioned = (
        ev.select("user_id", "ts", "event_id", "event_type", ts_us.alias("ts_us"))
        .withColumn("session_id", F.sum(is_new).over(w_run))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id", "session_id").orderBy(
                    "ts", "event_id"
                )
            ),
        )
        .filter(F.col("rn") <= PATH_LEN)
    )
    paths = (
        sessioned.groupBy("user_id", "session_id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.struct("ts_us", "event_id", "event_type")
                        )
                    ),
                    lambda s: s["event_type"],
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(PATH_TOPK)
    )


AB_LIFT_ORACLE = """
    WITH per AS (
      SELECT user_id,
             CASE WHEN SUBSTRING(MD5(CAST(user_id AS VARCHAR)), 1, 1)
                       BETWEEN '0' AND '7'
                  THEN 'A' ELSE 'B' END AS variant,
             MAX(CASE WHEN event_type = 'purchase' AND value > 200
                      THEN 1 ELSE 0 END) AS cv
      FROM events GROUP BY user_id),
    s AS (
      SELECT CAST(SUM(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             CAST(SUM(CASE WHEN variant = 'A' THEN cv ELSE 0 END) AS BIGINT) AS conv_a,
             CAST(SUM(CASE WHEN variant = 'B' THEN cv ELSE 0 END) AS BIGINT) AS conv_b
      FROM per),
    r AS (
      SELECT n_a, n_b, conv_a, conv_b,
             conv_a / n_a AS rate_a,
             conv_b / n_b AS rate_b,
             (conv_a + conv_b) / (n_a + n_b) AS p
      FROM s)
    SELECT n_a, n_b, conv_a, conv_b, rate_a, rate_b,
           rate_b - rate_a AS lift,
           (rate_b - rate_a)
             / SQRT((p * (CAST(1 AS DOUBLE) - p))
                    * (CAST(1 AS DOUBLE) / n_a + CAST(1 AS DOUBLE) / n_b))
             AS zscore
    FROM r
"""


def ab_lift_report(per: DataFrame) -> DataFrame:
    """The variant census + lift/z-score tree over a per-user conversion
    table ``(user_id, cv)`` — shared verbatim by ``events_ab_lift`` and
    its streaming twin ``stream_ab_lift`` so the two can never drift.
    All censuses are exact integers; every derived statistic is a
    map-side IEEE expression over the single census row, mirrored
    operation-for-operation by AB_LIFT_ORACLE."""
    variant = F.when(
        F.substring(
            F.md5(F.col("user_id").cast("string").cast("binary")), 1, 1
        ).between("0", "7"),
        "A",
    ).otherwise("B")
    tagged = per.select(variant.alias("variant"), "cv")
    s = tagged.agg(
        F.sum(F.when(F.col("variant") == "A", 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("variant") == "B", 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
        F.sum(F.when(F.col("variant") == "A", F.col("cv")).otherwise(0))
        .cast("long")
        .alias("conv_a"),
        F.sum(F.when(F.col("variant") == "B", F.col("cv")).otherwise(0))
        .cast("long")
        .alias("conv_b"),
    )
    one = F.lit(1).cast("double")
    r = s.select(
        "*",
        (F.col("conv_a") / F.col("n_a")).alias("rate_a"),
        (F.col("conv_b") / F.col("n_b")).alias("rate_b"),
        (
            (F.col("conv_a") + F.col("conv_b"))
            / (F.col("n_a") + F.col("n_b"))
        ).alias("p"),
    )
    return r.select(
        "n_a", "n_b", "conv_a", "conv_b", "rate_a", "rate_b",
        (F.col("rate_b") - F.col("rate_a")).alias("lift"),
        (
            (F.col("rate_b") - F.col("rate_a"))
            / F.sqrt(
                (F.col("p") * (one - F.col("p")))
                * (one / F.col("n_a") + one / F.col("n_b"))
            )
        ).alias("zscore"),
    )


@register("events_ab_lift", oracle=AB_LIFT_ORACLE)
def events_ab_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B conversion-lift report — the experimentation staple a consumer
    of the CDC event stream runs first: users are assigned to variants by
    a deterministic md5 bucket of their id (the standard hash-bucketing,
    NOT user_id parity — id parity correlates with assignment schemes),
    conversion = at least one HIGH-VALUE purchase (value > 200 — at the
    fixture's event density every user has some purchase, so the raw
    purchase flag saturates at p = 1 and the pooled variance collapses to
    0; a rare conversion is also the realistic shape), and the 1-row
    report carries both rates, the absolute lift, and the pooled
    two-proportion z-score.

    Scale plan: the per-user conversion flag is one partial+final MAX
    aggregate keyed on user_id — the single corpus-sized exchange; the
    variant census is a second, |users|-sized aggregate to ONE row, and
    every derived statistic is a map-side expression over that row.

    Determinism: all censuses are exact integers; the rates, pooled
    variance, and z-score are double divisions/products in expression
    shapes mirrored exactly by the oracle (integer/integer division is
    double in both engines; SQRT is IEEE correctly-rounded), so the
    report is bit-identical cross-engine.
    """
    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 200),
                1,
            ).otherwise(0)
        ).alias("cv")
    )
    return ab_lift_report(per)
