"""§2.10 Streaming semantics — batch-graded equivalents.

The fixture `events` table is a static parquet of a stream; the
oracle is batch-only. Each streaming semantic is implemented twice:
the graded batch query here, and the genuine Structured Streaming
version in ``streaming/demo.py`` (smoke-tested for stream/batch
parity — that parity IS the §2.10 correctness statement).

Scale notes: tumbling windows are plain hash aggs on a derived key
(partial agg applies); sessionization is one shuffle on user_id +
an in-partition sort — identical to what
``session_window``/``applyInPandasWithState`` do inside Structured
Streaming, minus the state store.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..io import load_table
from ..registry import register


@register(
    "stream_tumbling_1h",
    oracle="""
    SELECT DATE_TRUNC('hour', ts) AS window_start, event_type,
           COUNT(*) AS event_cnt,
           ROUND(SUM(value), 2) AS total_value
    FROM events
    GROUP BY DATE_TRUNC('hour', ts), event_type
    """,
)
def stream_tumbling_1h(spark, sf_dir):
    """Tumbling 1-hour window counts (streaming: groupBy(window(ts,
    '1 hour'), ...) with a watermark — see streaming/demo.py)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("hour", "ts").alias("window_start"), "event_type"
    ).agg(
        F.count("*").alias("event_cnt"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@register(
    "stream_sliding_1h_15m",
    oracle="""
    SELECT DATE_TRUNC('minute', ts)
             - INTERVAL 1 MINUTE * (EXTRACT(minute FROM ts) % 15)
             - INTERVAL 15 MINUTE * k AS window_start,
           COUNT(*) AS event_cnt
    FROM events, range(0, 4) r(k)
    GROUP BY 1
    """,
)
def stream_sliding_1h_15m(spark, sf_dir):
    """Sliding window (1 h length, 15 min slide): every event belongs
    to exactly 4 windows — explode the 4 slide offsets, then it's a
    plain hash agg keyed by window start (how Spark's window() with
    slide works internally)."""
    ev = load_table(spark, sf_dir, "events")
    slide_base = F.col("ts") - F.expr("make_interval(0,0,0,0,0, minute(ts) % 15, 0)")
    exploded = ev.select(
        F.date_trunc("minute", slide_base).alias("slide0"),
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("k"),
    )
    return exploded.select(
        (F.col("slide0") - F.expr("make_interval(0,0,0,0,0, 15 * k, 0)")).alias(
            "window_start"
        )
    ).groupBy("window_start").agg(F.count("*").alias("event_cnt"))


@register(
    "stream_session_30m",
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts, value, event_id,
             CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
                  OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts, value,
             CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS session_id
      FROM gaps
    )
    SELECT user_id, session_id,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS session_value
    FROM sess
    GROUP BY user_id, session_id
    """,
)
def stream_session_30m(spark, sf_dir):
    """Session windows, 30-min gap, via Spark's native
    ``session_window`` in batch mode — the same expression the
    streaming twin uses. Plan shape (and the reason this beats the
    lag-gap/running-sum form at scale): map-side PARTIAL session
    merging inside each input partition, ONE exchange on user_id of
    pre-merged session fragments (not raw events), final merge agg —
    vs the window form, which shuffles every raw event and makes two
    full window passes. The oracle's ordinal session numbering is
    recovered with row_number over the (small) per-user session list.

    Boundary exactness: the gap compare runs on integer MICROSECONDS
    on both engines (session_window gap 1800000001us merges iff
    diff <= 1800s; oracle epoch_us > 1800000000 breaks) — the
    fractional-second fixtures make a double epoch() vs
    floor-second cast('long') comparison a regen-roll boundary
    coin-flip, same class as num.py's cents contract."""
    ev = load_table(spark, sf_dir, "events")
    sess = ev.groupBy(
        "user_id", F.session_window("ts", "1800000001 microseconds").alias("sw")
    ).agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("session_value"),
    )
    wnum = Window.partitionBy("user_id").orderBy("session_start")
    return sess.select(
        "user_id",
        F.row_number().over(wnum).cast("long").alias("session_id"),
        "session_start",
        "session_end",
        "n_events",
        "session_value",
    )


@register(
    "click_to_purchase_1h",
    oracle="""
    SELECT c.user_id,
           COUNT(*) AS conversions,
           ROUND(SUM(p.value), 2) AS converted_value
    FROM events c
    JOIN events p
      ON c.user_id = p.user_id
     AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    GROUP BY c.user_id
    """,
)
def click_to_purchase_1h(spark, sf_dir):
    """Stream-stream join semantics, batch twin: purchases within 1h
    after a click, per user. Equi-key (user_id) + time band — the
    exact shape Structured Streaming's stream-stream join executes
    with watermark-bounded state (see streaming/demo.py
    run_stream_stream_join_demo); here it's a sort-merge join with
    the band as a post-join filter."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"), "value"
    )
    return (
        c.join(
            p,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("p_ts") > F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
        )
        .groupBy(F.col("c_user").alias("user_id"))
        .agg(
            F.count("*").alias("conversions"),
            F.round(F.sum("value"), 2).alias("converted_value"),
        )
    )


@register(
    "time_series_gap_fill",
    oracle="""
    WITH hours AS (
      SELECT UNNEST(generate_series(TIMESTAMP '2024-01-01 00:00:00',
                                    TIMESTAMP '2024-01-03 23:00:00',
                                    INTERVAL 1 HOUR)) AS hour_start
    ),
    actual AS (
      SELECT DATE_TRUNC('hour', ts) AS hour_start,
             COUNT(*) AS event_cnt, ROUND(SUM(value), 2) AS total_value
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
        AND ts <  TIMESTAMP '2024-01-04 00:00:00'
      GROUP BY 1
    )
    SELECT h.hour_start,
           COALESCE(a.event_cnt, 0) AS event_cnt,
           COALESCE(a.total_value, 0.0) AS total_value
    FROM hours h LEFT JOIN actual a ON h.hour_start = a.hour_start
    """,
)
def time_series_gap_fill(spark, sf_dir):
    """Dense time series from sparse events: generate the hourly
    spine with sequence() (no driver loop), left-join the actual
    aggregates, zero-fill gaps — dashboards need every bucket, not
    just the non-empty ones. The spine is one row exploded JVM-side
    and broadcast; the events agg is the only shuffle."""
    ev = load_table(spark, sf_dir, "events")
    lo = F.lit("2024-01-01 00:00:00").cast("timestamp")
    hi = F.lit("2024-01-04 00:00:00").cast("timestamp")
    spine = spark.range(1).select(
        F.explode(
            F.sequence(lo, F.lit("2024-01-03 23:00:00").cast("timestamp"), F.expr("INTERVAL 1 HOUR"))
        ).alias("hour_start")
    )
    actual = (
        ev.filter((F.col("ts") >= lo) & (F.col("ts") < hi))
        .groupBy(F.date_trunc("hour", "ts").alias("hour_start"))
        .agg(F.count("*").alias("event_cnt"), F.round(F.sum("value"), 2).alias("total_value"))
    )
    return (
        F.broadcast(spine)  # bcast: grid
        .join(actual, "hour_start", "left")
        .select(
            "hour_start",
            F.coalesce("event_cnt", F.lit(0)).alias("event_cnt"),
            F.coalesce("total_value", F.lit(0.0)).alias("total_value"),
        )
    )


@register(
    "stream_dedup_by_key",
    oracle="""
    SELECT user_id, event_type, minute_bucket, event_id, value
    FROM (
      SELECT user_id, event_type, DATE_TRUNC('minute', ts) AS minute_bucket,
             event_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type, DATE_TRUNC('minute', ts)
                                ORDER BY ts, event_id) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def stream_dedup_by_key(spark, sf_dir):
    """Exactly-once by business key (streaming: dropDuplicates
    WithinWatermark): first event per (user, type, minute)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type", F.date_trunc("minute", "ts")).orderBy(
        "ts", "event_id"
    )
    return (
        ev.withColumn("minute_bucket", F.date_trunc("minute", "ts"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "minute_bucket", "event_id", "value")
    )


@register(
    "rollup_time_hierarchy",
    oracle="""
    WITH hourly AS (
      SELECT event_type, DATE_TRUNC('hour', ts) AS bucket,
             COUNT(*) AS event_cnt, SUM(value) AS sum_value
      FROM events GROUP BY 1, 2
    ),
    daily AS (
      SELECT event_type, DATE_TRUNC('day', bucket) AS bucket,
             CAST(SUM(event_cnt) AS BIGINT) AS event_cnt, SUM(sum_value) AS sum_value
      FROM hourly GROUP BY 1, 2
    ),
    monthly AS (
      SELECT event_type, DATE_TRUNC('month', bucket) AS bucket,
             CAST(SUM(event_cnt) AS BIGINT) AS event_cnt, SUM(sum_value) AS sum_value
      FROM daily GROUP BY 1, 2
    )
    SELECT 'hour' AS grain, event_type, bucket, event_cnt,
           ROUND(sum_value, 4) AS sum_value FROM hourly
    UNION ALL
    SELECT 'day', event_type, bucket, event_cnt, ROUND(sum_value, 4)
    FROM daily
    UNION ALL
    SELECT 'month', event_type, bucket, event_cnt, ROUND(sum_value, 4)
    FROM monthly
    """,
)
def rollup_time_hierarchy(spark, sf_dir):
    """Hypertable-style continuous-aggregate hierarchy: hour -> day ->
    month, each grain aggregated FROM THE PREVIOUS GRAIN, not the raw
    events. That reuse is the scale point — the day rollup reads
    |hours| rows and the month rollup |days| rows, so refreshing
    coarse grains on a 100 TB hypertable costs O(aggregate), not
    O(raw). In production each grain persists (materialized view /
    foreachBatch MERGE — see streaming/demo.py and merge.py); here
    the three grains are unioned with a `grain` tag. Rounding happens
    once, at emission, so grains stay exactly consistent."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(F.count("*").alias("event_cnt"), F.sum("value").alias("sum_value"))
    daily = hourly.groupBy(
        "event_type", F.date_trunc("day", "bucket").alias("bucket")
    ).agg(F.sum("event_cnt").alias("event_cnt"), F.sum("sum_value").alias("sum_value"))
    monthly = daily.groupBy(
        "event_type", F.date_trunc("month", "bucket").alias("bucket")
    ).agg(F.sum("event_cnt").alias("event_cnt"), F.sum("sum_value").alias("sum_value"))

    def _emit(df, grain):
        return df.select(
            F.lit(grain).alias("grain"),
            "event_type",
            "bucket",
            "event_cnt",
            F.round("sum_value", 4).alias("sum_value"),
        )

    return _emit(hourly, "hour").unionAll(_emit(daily, "day")).unionAll(
        _emit(monthly, "month")
    )


@register(
    "stream_topk_per_window",
    oracle="""
    WITH counted AS (
      SELECT DATE_TRUNC('hour', ts) AS window_start, event_type,
             COUNT(*) AS event_cnt
      FROM events
      GROUP BY 1, 2
    ), ranked AS (
      SELECT window_start, event_type, event_cnt,
             ROW_NUMBER() OVER (
               PARTITION BY window_start
               ORDER BY event_cnt DESC, event_type) AS rnk
      FROM counted
    )
    SELECT window_start, event_type, event_cnt, rnk
    FROM ranked WHERE rnk <= 3
    """,
)
def stream_topk_per_window(spark, sf_dir):
    """Top-3 event types per tumbling hour — the 'trending now'
    streaming analytics shape. Rank-within-window is not
    incrementally computable in Structured Streaming (a late event
    can reorder the board), so production runs the windowed count
    with a watermark and ranks each emitted window in foreachBatch;
    this batch twin states the exact semantics both must produce.
    Scale: the rank input is the |windows| x |event_types| aggregate
    (tiny — partial agg collapses the raw stream map-side), so the
    window-function shuffle is over aggregated rows, never raw
    events. Ties break on event_type for determinism."""
    ev = load_table(spark, sf_dir, "events")
    counted = ev.groupBy(
        F.date_trunc("hour", "ts").alias("window_start"), "event_type"
    ).agg(F.count("*").alias("event_cnt"))
    w = Window.partitionBy("window_start").orderBy(
        F.col("event_cnt").desc(), "event_type"
    )
    return counted.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= 3
    )


@register(
    "stream_windowed_distinct",
    oracle="""
    SELECT DATE_TRUNC('hour', ts) AS window_start,
           COUNT(DISTINCT user_id) AS distinct_users,
           COUNT(*) AS event_cnt
    FROM events GROUP BY 1
    """,
)
def stream_windowed_distinct(spark, sf_dir):
    """Distinct users per tumbling hour — the streaming cardinality
    dashboard. Two-phase shape: pre-aggregate on (window, user_id)
    so there is no Expand and no raw-row shuffle — only per-key
    partial counts move. In the streaming deployment the exact
    distinct is replaced by mergeable HLL registers per window in
    foreachBatch (the 5%-tolerance contract for that sketch is
    graded in agg_approx_distinct, whose groups are large enough for
    the rsd bound to be meaningful — an hour window's ~dozen
    distinct users makes any ±1 estimate miss a 5%% flag, which is a
    fixture-size artifact, not a sketch property)."""
    per_key = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("window_start"), "user_id")
        .agg(F.count("*").alias("key_cnt"))
    )
    return per_key.groupBy("window_start").agg(
        F.count("*").alias("distinct_users"),
        F.sum("key_cnt").alias("event_cnt"),
    )


@register(
    "events_markov_transitions",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    )
    SELECT event_type AS from_type, next_type AS to_type,
           COUNT(*) AS transition_cnt
    FROM ordered WHERE next_type IS NOT NULL
    GROUP BY 1, 2
    """,
)
def events_markov_transitions(spark, sf_dir):
    """First-order behavioral transition matrix: counts of
    (event_type → next event_type) per user session stream — the
    input to Markov attribution, next-action prediction features,
    and anomaly scoring on improbable transitions. One shuffle on
    user_id with an in-partition sort (the LEAD), then a hash agg on
    the tiny (from, to) key space — the same physical shape as
    sessionization, so it scales identically (the per-user window
    never materializes more than a partition)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").alias("transition_cnt"))
    )


@register(
    "events_cusum_changepoint",
    oracle="""
    WITH stats AS (
      SELECT SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS t_cents,
             COUNT(*) AS n_rows
      FROM events
    ),
    walk AS (
      SELECT user_id,
             SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               * (SELECT n_rows FROM stats)
               - (ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id))
                 * (SELECT t_cents FROM stats) AS a
      FROM events
    ),
    per_user AS (
      SELECT user_id, MAX(a) AS a_max, MIN(a) AS a_min,
             (SELECT n_rows FROM stats) AS n
      FROM walk GROUP BY user_id
    )
    SELECT user_id,
           (CASE WHEN a_max >= 0
                 THEN  ((CAST(a_max AS HUGEINT) * 20000 + 100 * n)
                        // (200 * n))
                 ELSE -((CAST(-a_max AS HUGEINT) * 20000 + 100 * n)
                        // (200 * n)) END) / 10000.0 AS max_cusum,
           (CASE WHEN a_min >= 0
                 THEN  ((CAST(a_min AS HUGEINT) * 20000 + 100 * n)
                        // (200 * n))
                 ELSE -((CAST(-a_min AS HUGEINT) * 20000 + 100 * n)
                        // (200 * n)) END) / 10000.0 AS min_cusum,
           (a_max > 200000 * n OR a_min < -200000 * n) AS shifted
    FROM per_user
    """,
)
def events_cusum_changepoint(spark, sf_dir):
    """CUSUM mean-shift detection per user: the running sum of
    deviations from the global mean drifts linearly once a user's
    level shifts — max/min excursion past a threshold flags the
    change (the classic control-chart test, and the batch twin of a
    streaming applyInPandasWithState monitor).

    The walk is carried in EXACT integer units of 1/(100·N):
    a = running_cents·N − rank·total_cents, so cusum = a/(100N).
    MAX/MIN run over integers (exact, order-free), and only the two
    extremal rationals round — half away from zero — through the
    integer div path (the aggregates.py:5708 precedent). The first
    draft rounded the double cusum with ROUND(x,4); with the driver
    fixture N a power of ten, every cusum is an exact 7-decimal
    rational, so the value lands exactly ON a 4-decimal midpoint
    with probability ~1/1000 — where Spark's BigDecimal HALF_UP and
    DuckDB's float-multiply round opposite ways (caught by the r9
    boundary drill; the class is a latent per-regen coin flip on
    real fixtures, not just adversarial data). Headroom: |a| scales
    ~M·N·avg_cents (M = a hot user's row count), which blows past
    2^63 under the repo's own 30%-skew scenario at large event
    counts — and with ANSI off int64 wraps SILENTLY while DuckDB's
    SUM(BIGINT) promotes to HUGEINT, so the walk itself (not just
    the later ×20000 product) must ride DECIMAL(38,0): the per-row
    cents are cast to DECIMAL(38,0) BEFORE both the windowed sum and
    the corpus total, so the accumulation itself rides decimal — a
    user whose cumulative cents exceed 2^63 no longer wraps inside
    the LONG window sum (ADVICE r9 item 2 + r10 item 2). One
    broadcast 1-row stats, one shuffle on user_id —
    sessionization's shape."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + 0.5).cast("decimal(38,0)")
    stats = ev.agg(
        F.sum(cents).alias("t_cents"),
        F.count("*").alias("n_rows"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    rn = Window.partitionBy("user_id").orderBy("ts", "event_id")
    walk = ev.crossJoin(F.broadcast(stats)).select(  # bcast: scalar
        "user_id",
        "n_rows",
        (
            F.sum(cents).over(w)
            * F.col("n_rows")
            - F.row_number().over(rn).cast("decimal(38,0)") * F.col("t_cents")
        ).alias("a"),
    )
    per_user = walk.groupBy("user_id").agg(
        F.max("a").alias("a_max"),
        F.min("a").alias("a_min"),
        F.max("n_rows").alias("n"),
    )
    r4 = (
        "CAST(CASE WHEN {c} >= 0"
        " THEN  ((CAST({c} AS DECIMAL(38,0)) * 20000 + 100 * n) div (200 * n))"
        " ELSE -((CAST(-{c} AS DECIMAL(38,0)) * 20000 + 100 * n) div (200 * n))"
        " END AS BIGINT) / CAST(10000 AS DOUBLE)"
    )
    return per_user.select(
        "user_id",
        F.expr(r4.format(c="a_max")).alias("max_cusum"),
        F.expr(r4.format(c="a_min")).alias("min_cusum"),
        (
            (F.col("a_max") > 200000 * F.col("n"))
            | (F.col("a_min") < -200000 * F.col("n"))
        ).alias("shifted"),
    )


@register(
    "events_seasonality_profile",
    oracle="""
    SELECT event_type,
           CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hour_of_day,
           COUNT(*) AS event_cnt,
           ROUND(COUNT(*) / CAST(SUM(COUNT(*))
                 OVER (PARTITION BY event_type) AS DOUBLE), 6) AS hour_frac
    FROM events GROUP BY 1, 2
    """,
)
def events_seasonality_profile(spark, sf_dir):
    """Hour-of-day seasonality per event type — the capacity-planning
    and anomaly-baseline profile (today's 3am spike is only a spike
    relative to the 3am norm). A 24 x |event_types| aggregate with
    per-type fractions; the window runs over the tiny aggregate. The
    same profile keyed by ingest hour audits a training corpus for
    crawl-schedule bias."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy(
        "event_type", F.hour("ts").cast("long").alias("hour_of_day")
    ).agg(F.count("*").alias("event_cnt"))
    w = Window.partitionBy("event_type")
    return counts.select(
        "event_type",
        "hour_of_day",
        "event_cnt",
        F.round(F.col("event_cnt") / F.sum("event_cnt").over(w), 6).alias("hour_frac"),
    )


@register(
    "events_cohort_ltv_curve",
    oracle="""
    WITH firsts AS (
      SELECT user_id, CAST(DATE_TRUNC('week', MIN(ts)) AS TIMESTAMP) AS cohort_week
      FROM events GROUP BY user_id
    ),
    sized AS (
      SELECT cohort_week, COUNT(*) AS cohort_users FROM firsts GROUP BY cohort_week
    ),
    aged AS (
      SELECT f.cohort_week,
             CAST(FLOOR((epoch(DATE_TRUNC('week', e.ts)) - epoch(f.cohort_week))
                        / 604800.0) AS BIGINT) AS age_weeks,
             CAST(FLOOR(e.value * 100 + 0.5) AS BIGINT) AS cents
      FROM events e JOIN firsts f ON e.user_id = f.user_id
      WHERE e.event_type = 'purchase'
    ),
    weekly AS (
      SELECT cohort_week, age_weeks, SUM(cents) AS week_cents
      FROM aged GROUP BY cohort_week, age_weeks
    )
    SELECT w.cohort_week, w.age_weeks, s.cohort_users,
           ROUND(SUM(w.week_cents) OVER (
                   PARTITION BY w.cohort_week ORDER BY w.age_weeks
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 / 100.0 / s.cohort_users, 4) AS cum_value_per_user
    FROM weekly w JOIN sized s ON w.cohort_week = s.cohort_week
    """,
)
def events_cohort_ltv_curve(spark, sf_dir):
    """Cohort lifetime-value curves: for each signup-week cohort,
    cumulative purchase value per user by cohort age — the growth
    chart every subscription/commerce team draws, and the payback
    model behind acquisition budgets. Purchase cents accumulate as
    exact integers (num.py) so the cumulative window is fp-free up to
    the single final division. Shapes: one agg for first-seen, one
    broadcast-sized cohort table, one (cohort, age) agg, then the
    cumulative window over the tiny weekly matrix — the raw stream is
    touched twice and shuffled on user_id/cohort keys only."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    sized = firsts.groupBy("cohort_week").agg(F.count("*").alias("cohort_users"))
    aged = (
        ev.filter(F.col("event_type") == "purchase")
        .join(firsts, "user_id")
        .select(
            "cohort_week",
            F.floor(
                (
                    F.date_trunc("week", F.col("ts")).cast("long")
                    - F.col("cohort_week").cast("long")
                )
                / 604800.0
            ).alias("age_weeks"),
            F.floor(F.col("value") * 100 + 0.5).alias("cents"),
        )
    )
    weekly = aged.groupBy("cohort_week", "age_weeks").agg(
        F.sum("cents").alias("week_cents")
    )
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("age_weeks")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        weekly.join(F.broadcast(sized), "cohort_week")  # bcast: grid
        .select(
            "cohort_week",
            "age_weeks",
            "cohort_users",
            F.round(
                F.sum("week_cents").over(w) / 100.0 / F.col("cohort_users"), 4
            ).alias("cum_value_per_user"),
        )
    )


@register(
    "events_dau_wau",
    oracle="""
    WITH user_days AS (
      SELECT DISTINCT user_id, CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day
      FROM events
    ),
    dau AS (
      SELECT day, COUNT(*) AS dau FROM user_days GROUP BY day
    ),
    spread AS (
      SELECT user_id, day + INTERVAL 1 DAY * k AS obs_day
      FROM user_days, range(0, 7) r(k)
    ),
    wau AS (
      SELECT obs_day AS day, COUNT(DISTINCT user_id) AS wau
      FROM spread GROUP BY obs_day
    )
    SELECT d.day, d.dau, w.wau,
           ROUND(d.dau / CAST(w.wau AS DOUBLE), 6) AS stickiness
    FROM dau d JOIN wau w ON d.day = w.day
    """,
)
def events_dau_wau(spark, sf_dir):
    """DAU / trailing-7-day WAU / stickiness (DAU/WAU) — the product
    health metrics every growth dashboard leads with. Rolling
    DISTINCT doesn't compose from daily distincts, so the scalable
    trick: reduce to distinct (user, day) pairs first (the only
    shuffle over raw data), then each pair votes into the 7
    observation days it supports — turning a sliding distinct into a
    plain exploded hash agg, partial-aggregated map-side. Trailing
    windows with no activity simply don't appear (JOIN, not a
    calendar spine) — honest about fixture boundaries. Note WAU here
    is per observation day INCLUDING days the user wasn't active
    that day — exactly the trailing-window semantics."""
    ev = load_table(spark, sf_dir, "events")
    user_days = ev.select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).distinct()
    dau = user_days.groupBy("day").agg(F.count("*").alias("dau"))
    spread = user_days.select(
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("k"),
        "day",
    ).select(
        "user_id",
        (F.col("day") + F.make_interval(days=F.col("k"))).alias("day"),
    )
    per_key = spread.groupBy("day", "user_id").agg(F.count("*").alias("_c"))
    wau = per_key.groupBy("day").agg(F.count("*").alias("wau"))
    return dau.join(wau, "day").select(
        "day",
        "dau",
        "wau",
        F.round(F.col("dau") / F.col("wau").cast("double"), 6).alias("stickiness"),
    )


@register(
    "events_path_topk",
    oracle="""
    WITH steps AS (
      SELECT event_type AS s1,
             LEAD(event_type, 1) OVER w AS s2,
             LEAD(event_type, 2) OVER w AS s3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT s1 || '>' || s2 || '>' || s3 AS path,
           COUNT(*) AS path_cnt
    FROM steps WHERE s3 IS NOT NULL
    GROUP BY 1
    ORDER BY path_cnt DESC, path
    LIMIT 20
    """,
)
def events_path_topk(spark, sf_dir):
    """Top-k behavioral paths: the 20 most frequent 3-step event
    sequences across all users — the workhorse of navigation-flow
    and funnel-discovery analysis. Physical shape: one shuffle on
    user_id with an in-partition sort (the two LEADs share a single
    window pass), then a hash agg on the tiny path keyspace (5^3
    possible trigrams — partial agg collapses map-side), then
    TakeOrdered for the top 20 (no global sort). The final ordering
    tie-breaks on the path string itself, so the LIMIT boundary is
    deterministic in both engines."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = ev.select(
        F.col("event_type").alias("s1"),
        F.lead("event_type", 1).over(w).alias("s2"),
        F.lead("event_type", 2).over(w).alias("s3"),
    ).filter(F.col("s3").isNotNull())
    return (
        steps.select(F.concat_ws(">", "s1", "s2", "s3").alias("path"))
        .groupBy("path")
        .agg(F.count("*").alias("path_cnt"))
        .orderBy(F.desc("path_cnt"), "path")
        .limit(20)
    )


@register(
    "stream_late_events_audit",
    oracle="""
    WITH arrivals AS (
      SELECT user_id,
             epoch_us(ts) AS ts_us,
             MAX(epoch_us(ts)) OVER (PARTITION BY user_id
                                     ORDER BY event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS hwm_us
      FROM events
    )
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN hwm_us - ts_us > 1800000000
                         THEN 1 ELSE 0 END) AS BIGINT) AS late_cnt,
           MAX(hwm_us - ts_us) AS max_late_us
    FROM arrivals
    GROUP BY user_id
    """,
)
def stream_late_events_audit(spark, sf_dir):
    """Late-data accounting — the batch audit behind choosing a
    streaming watermark delay. Arrival order is event_id (the
    fixture's ingestion sequence); an event is *late* when it
    arrives after the per-user event-time high-water-mark has moved
    more than 30 min past it — exactly the rows
    ``withWatermark("ts", "30 minutes")`` would drop from a per-user
    stateful aggregation. Output per user: event count, late count,
    and the worst lateness observed (the number that sizes the
    watermark). Integer-µs arithmetic end-to-end (unix_micros ↔
    epoch_us) — no float time math. One shuffle on user_id with an
    in-partition sort for the running max, then a hash agg on the
    same key — the second agg reuses the partitioning, so the plan
    has a single Exchange."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    us = F.unix_micros(F.col("ts"))
    arr = ev.select(
        "user_id",
        us.alias("ts_us"),
        F.max(us).over(w).alias("hwm_us"),
    )
    late = F.col("hwm_us") - F.col("ts_us")
    return arr.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(F.when(late > 1_800_000_000, 1).otherwise(0))
        .cast("bigint")
        .alias("late_cnt"),
        F.max(late).alias("max_late_us"),
    )


@register(
    "events_bot_cadence_score",
    oracle="""
    WITH gaps AS (
      SELECT user_id,
             CAST(FLOOR((epoch_us(ts) - epoch_us(LAG(ts) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id)))
                  / 1000000.0) AS BIGINT) AS gap_s
      FROM events
    ),
    moments AS (
      SELECT user_id,
             COUNT(gap_s) AS n_gaps,
             CAST(SUM(gap_s) AS BIGINT) AS sum_s,
             SUM(gap_s * gap_s) AS sum_s2
      FROM gaps
      GROUP BY user_id
      HAVING COUNT(gap_s) >= 5 AND SUM(gap_s) > 0
    )
    SELECT user_id, n_gaps,
           ROUND(SQRT((sum_s2 - CAST(sum_s AS DOUBLE) * sum_s / n_gaps)
                      / (n_gaps - 1))
                 / (CAST(sum_s AS DOUBLE) / n_gaps), 6) AS cadence_cv,
           ROUND(SQRT((sum_s2 - CAST(sum_s AS DOUBLE) * sum_s / n_gaps)
                      / (n_gaps - 1))
                 / (CAST(sum_s AS DOUBLE) / n_gaps), 6) < 0.5 AS bot_flag
    FROM moments
    """,
)
def events_bot_cadence_score(spark, sf_dir):
    """Bot/automation detection by cadence regularity — a standard
    training-data and abuse filter: humans have bursty inter-event
    gaps (coefficient of variation near or above 1), schedulers and
    scrapers tick metronomically (CV ≪ 1). Per user: gaps in whole
    seconds (integer-µs window arithmetic, floored — exact in both
    engines), then CV from EXACT integer moments (n, Σx, Σx²) so the
    sample-stddev is one deterministic closed-form expression rather
    than an accumulation-order-dependent streaming variance — the
    num.py discipline applied to second moments. Σx² rides
    DECIMAL(38,0): a multi-month gap is ~3e6 s (x² ~ 1e13), so a
    hot user under the repo's 30%-skew scenario overflows int64's
    9.2e18 at ~1e6 gaps — reachable at large event counts (the r10
    headroom audit, same class as events_cusum_changepoint).
    Users with <5 gaps or all-zero
    gaps are excluded (no 0/0). One shuffle on user_id shared by the
    LAG window and the moment agg — sessionization's shape."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gaps = ev.select(
        "user_id",
        F.floor((us - F.unix_micros(F.lag("ts").over(w))) / 1000000.0)
        .cast("bigint")
        .alias("gap_s"),
    )
    moments = (
        gaps.groupBy("user_id")
        .agg(
            F.count("gap_s").alias("n_gaps"),
            F.sum("gap_s").cast("bigint").alias("sum_s"),
            F.sum(F.col("gap_s").cast("decimal(19,0)") * F.col("gap_s")).alias("sum_s2"),
        )
        .filter((F.col("n_gaps") >= 5) & (F.col("sum_s") > 0))
    )
    mean = F.col("sum_s").cast("double") / F.col("n_gaps")
    var = (
        F.col("sum_s2") - F.col("sum_s").cast("double") * F.col("sum_s") / F.col("n_gaps")
    ) / (F.col("n_gaps") - 1)
    cv = F.round(F.sqrt(var) / mean, 6)
    return moments.select(
        "user_id",
        "n_gaps",
        cv.alias("cadence_cv"),
        (cv < 0.5).alias("bot_flag"),
    )


@register(
    "events_audience_overlap",
    oracle="""
    WITH tu AS (
      SELECT DISTINCT event_type, user_id FROM events
    ),
    sizes AS (
      SELECT event_type, COUNT(*) AS n_users FROM tu GROUP BY event_type
    ),
    inter AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             COUNT(*) AS n_both
      FROM tu a JOIN tu b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY a.event_type, b.event_type
    )
    SELECT i.type_a, i.type_b, i.n_both,
           sa.n_users AS n_a, sb.n_users AS n_b,
           ROUND(i.n_both / CAST(sa.n_users + sb.n_users - i.n_both AS DOUBLE), 6)
             AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.event_type = i.type_a
    JOIN sizes sb ON sb.event_type = i.type_b
    """,
)
def events_audience_overlap(spark, sf_dir):
    """Audience overlap between event types — 'how much do viewers
    and purchasers intersect': Jaccard over per-type user sets, the
    segment-overlap matrix behind cross-sell and cohort design. The
    scalable shape: reduce to DISTINCT (type, user) pairs first (the
    only shuffle over raw events — same opening move as DAU/WAU),
    self-join on user_id so co-membership pairs count themselves
    (each user contributes |their types choose 2| rows — bounded by
    the tiny type domain, never |users|²), then broadcast the
    per-type sizes onto the type-pair counts. |A∪B| is derived as
    n_a + n_b − |A∩B| — no union materialization."""
    tu = load_table(spark, sf_dir, "events").select("event_type", "user_id").distinct()
    sizes = tu.groupBy("event_type").agg(F.count("*").alias("n_users"))
    a = tu.alias("a")
    b = tu.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count("*").alias("n_both"))
    )
    sa = sizes.select(
        F.col("event_type").alias("type_a"), F.col("n_users").alias("n_a")
    )
    sb = sizes.select(
        F.col("event_type").alias("type_b"), F.col("n_users").alias("n_b")
    )
    return (
        inter.join(F.broadcast(sa), "type_a")  # bcast: enum
        .join(F.broadcast(sb), "type_b")  # bcast: enum
        .select(
            "type_a",
            "type_b",
            "n_both",
            "n_a",
            "n_b",
            F.round(
                F.col("n_both")
                / (F.col("n_a") + F.col("n_b") - F.col("n_both")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


@register(
    "events_time_to_convert_curve",
    oracle="""
    WITH vw AS (
      SELECT user_id, MIN(epoch_us(ts)) AS view_us
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    pu AS (
      SELECT e.user_id, MIN(epoch_us(e.ts)) AS conv_us
      FROM events e JOIN vw ON e.user_id = vw.user_id
      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= vw.view_us
      GROUP BY e.user_id
    ),
    horizon AS (SELECT MAX(epoch_us(ts)) AS h_us FROM events),
    per_user AS (
      SELECT vw.user_id,
             CAST(FLOOR((pu.conv_us - vw.view_us) / 86400000000.0) AS BIGINT)
               AS conv_days,
             CAST(FLOOR((h.h_us - vw.view_us) / 86400000000.0) AS BIGINT)
               AS censor_days
      FROM vw LEFT JOIN pu ON vw.user_id = pu.user_id
      CROSS JOIN horizon h
    ),
    spine AS (SELECT UNNEST(range(0, 14)) AS d)
    SELECT s.d,
           COUNT(*) AS cohort_n,
           CAST(SUM(CASE WHEN p.conv_days IS NOT NULL AND p.conv_days <= s.d
                         THEN 1 ELSE 0 END) AS BIGINT) AS converted_by_d,
           CAST(SUM(CASE WHEN p.censor_days >= s.d THEN 1 ELSE 0 END)
                AS BIGINT) AS observable_n,
           ROUND(SUM(CASE WHEN p.conv_days IS NOT NULL AND p.conv_days <= s.d
                          THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE), 6)
             AS conv_rate
    FROM per_user p CROSS JOIN spine s
    GROUP BY s.d
    """,
)
def events_time_to_convert_curve(spark, sf_dir):
    """Time-to-event (survival-style) conversion curve: for the
    cohort of users with a 'view', how many have purchased within d
    days of their FIRST view, for d = 0..13 — with the censoring
    count (users whose observation window even reaches day d, from
    the dataset horizon) reported alongside, which is what separates
    an honest conversion curve from one that silently undercounts
    late cohorts. All durations are integer-µs arithmetic floored to
    whole days. Physical shape: two user-keyed aggs + a left join
    (all on the same user_id partitioning), ONE broadcast 1-row
    horizon (the repo's scalar-attachment pattern — no driver
    collect), then a 14-day literal spine exploded against the
    per-user frame and hash-aggregated by day: linear in users, and
    the spine fan-out is a constant 14."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    vw = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(us).alias("view_us"))
    )
    pu = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", us.alias("p_us"))
        .join(vw, "user_id")
        .filter(F.col("p_us") >= F.col("view_us"))
        .groupBy("user_id")
        .agg(F.min("p_us").alias("conv_us"))
    )
    horizon = ev.agg(F.max(us).alias("h_us"))
    day_us = 86400000000.0
    per_user = (
        vw.join(pu, "user_id", "left")
        .crossJoin(F.broadcast(horizon))  # bcast: scalar
        .select(
            F.floor((F.col("conv_us") - F.col("view_us")) / day_us)
            .cast("bigint")
            .alias("conv_days"),
            F.floor((F.col("h_us") - F.col("view_us")) / day_us)
            .cast("bigint")
            .alias("censor_days"),
        )
    )
    spine = per_user.select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(13))).alias("d")
    )
    converted = (F.col("conv_days").isNotNull()) & (
        F.col("conv_days") <= F.col("d")
    )
    return spine.groupBy("d").agg(
        F.count("*").alias("cohort_n"),
        F.sum(F.when(converted, 1).otherwise(0)).cast("bigint").alias("converted_by_d"),
        F.sum(F.when(F.col("censor_days") >= F.col("d"), 1).otherwise(0))
        .cast("bigint")
        .alias("observable_n"),
        F.round(
            F.sum(F.when(converted, 1).otherwise(0))
            / F.count("*").cast("double"),
            6,
        ).alias("conv_rate"),
    )


@register(
    "events_forecast_holt",
    oracle="""
    WITH daily AS (
      SELECT event_type, DATE_TRUNC('day', ts) AS day,
             CAST(COUNT(*) AS DOUBLE) AS cnt
      FROM events GROUP BY event_type, DATE_TRUNC('day', ts)
    ),
    series AS (
      SELECT event_type, list(cnt ORDER BY day) AS vals
      FROM daily GROUP BY event_type
      HAVING COUNT(*) >= 2
    ),
    withdiffs AS (
      SELECT event_type, len(vals) AS n_days, vals,
             list_transform(range(2, len(vals) + 1),
                            i -> vals[i] - vals[i - 1]) AS diffs
      FROM series
    ),
    fitted AS (
      SELECT event_type, n_days,
             list_reduce(vals, (acc, x) -> 0.5 * x + 0.5 * acc) AS level,
             list_reduce(diffs, (acc, x) -> 0.3 * x + 0.7 * acc) AS trend
      FROM withdiffs
    )
    SELECT event_type,
           CAST(n_days AS BIGINT) AS n_days,
           ROUND(level, 6) AS level,
           ROUND(trend, 6) AS trend,
           ROUND(level + 7 * trend, 6) AS forecast_7d
    FROM fitted
    """,
)
def events_forecast_holt(spark, sf_dir):
    """Holt-style trend forecast per event type, decoupled into two
    SCALAR exponential smoothings — an EWMA of the daily counts
    (level, alpha = 0.5, seeded from day one) and an EWMA of the
    day-over-day differences (trend, beta = 0.3) — extrapolated 7
    days out for capacity planning. The recursions run as ARRAY
    FOLDS inside one row per group (Spark `aggregate` HOF <->
    DuckDB `list_reduce`): a fixed left-to-right fold, so the float
    sequence is engine-identical, with no per-iteration shuffle and
    no driver loop. Scalar folds on purpose: DuckDB's list_reduce
    evaluates struct-literal fields SEQUENTIALLY against the
    in-place-updated accumulator (later fields observe earlier
    fields' new values), so coupled two-field state diverges between
    engines - decoupling the state into two scalar folds removes the
    hazard entirely. One daily hash agg + one bounded collect_list
    per type; series stay short even when keys are billions."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count("*").cast("double").alias("cnt"))
    series = (
        daily.groupBy("event_type")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(day, cnt))), x -> x.cnt)"
            ).alias("vals")
        )
        .filter(F.size("vals") >= 2)
    )
    fitted = series.select(
        "event_type",
        F.size("vals").cast("bigint").alias("n_days"),
        F.expr(
            "aggregate(slice(vals, 2, size(vals) - 1), vals[0],"
            " (acc, x) -> 0.5 * x + 0.5 * acc)"
        ).alias("level"),
        F.expr(
            "aggregate("
            " slice(zip_with(slice(vals, 2, size(vals) - 1),"
            "                slice(vals, 1, size(vals) - 1),"
            "                (a, b) -> a - b), 2, size(vals) - 2),"
            " vals[1] - vals[0],"
            " (acc, x) -> 0.3 * x + 0.7 * acc)"
        ).alias("trend"),
    )
    return fitted.select(
        "event_type",
        "n_days",
        F.round(F.col("level"), 6).alias("level"),
        F.round(F.col("trend"), 6).alias("trend"),
        F.round(F.col("level") + 7 * F.col("trend"), 6).alias("forecast_7d"),
    )


@register(
    "events_peak_concurrency",
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
                  OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
      SELECT user_id,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS sess_no,
             epoch_us(ts) AS us
      FROM gaps
    ),
    sess AS (
      SELECT user_id, MIN(us) AS start_us, MAX(us) AS end_us
      FROM numbered GROUP BY user_id, sess_no
    ),
    bounds AS (
      SELECT user_id, start_us AS us, 1 AS delta, start_us AS sid FROM sess
      UNION ALL
      SELECT user_id, end_us + 1 AS us, -1 AS delta, start_us AS sid FROM sess
    ),
    swept AS (
      SELECT us,
             SUM(delta) OVER (ORDER BY us, delta DESC, user_id, sid
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS c
      FROM bounds
    ),
    mx AS (SELECT CAST(MAX(c) AS BIGINT) AS peak FROM swept)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM sess) AS n_sessions,
           mx.peak AS peak_concurrency,
           CAST((SELECT MIN(us) FROM swept WHERE swept.c = mx.peak) AS BIGINT)
             AS peak_at_us
    FROM mx
    """,
)
def events_peak_concurrency(spark, sf_dir):
    """Exact peak concurrent sessions — the capacity number ('how
    many sessions were open at the worst moment') that hourly
    active-user counts only bound. Sessions come from the same
    30-min-gap sessionization the engine grades elsewhere; each
    emits a +1/−1 boundary event, and the sweep-line running count
    uses the distributed PREFIX-SUM kernel (operators/ranking.py
    with_global_prefix_sum — range-shuffle + per-partition cumsum +
    K-row offsets), so the global ordered sum never concentrates on
    one task, unlike the textbook single ``SUM() OVER (ORDER BY
    ts)``. Boundary ordering tie-breaks (+1 before −1 at equal µs,
    then user/session) make touching sessions count as concurrent
    and the answer engine-deterministic. Output: session count, the
    peak, and the first microsecond it was reached."""
    from .ranking import with_global_prefix_sum

    ev = load_table(spark, sf_dir, "events")
    sess = (
        ev.groupBy(
            "user_id",
            F.session_window("ts", "1800000001 microseconds").alias("sw"),
        )
        .agg(
            F.min(F.unix_micros(F.col("ts"))).alias("start_us"),
            F.max(F.unix_micros(F.col("ts"))).alias("end_us"),
        )
        .select("user_id", "start_us", "end_us")
    )
    bounds = sess.select(
        "user_id",
        F.col("start_us").alias("us"),
        F.lit(1).alias("delta"),
        F.col("start_us").alias("sid"),
    ).unionByName(
        sess.select(
            "user_id",
            (F.col("end_us") + 1).alias("us"),
            F.lit(-1).alias("delta"),
            F.col("start_us").alias("sid"),
        )
    )
    swept = with_global_prefix_sum(
        bounds,
        ["us", F.col("delta").desc(), "user_id", "sid"],
        "delta",
        "c",
    )
    # r13 single-pass rollup (VERDICT r12 item 6): the old spelling
    # consumed `swept` twice (peak agg + the peak_at broadcast-join
    # pass) AND re-ran the whole session_window aggregation a third
    # time just to count sessions — three passes, no ReusedExchange
    # (the kernel pins its range-shuffled frame, but each consumer
    # re-ran the window+join above it, and n_sess re-ran the events
    # scan + user_id shuffle from scratch). One aggregate now reads
    # the sweep once and derives all three outputs exactly:
    #   n_sessions = COUNT of +1 boundary rows (each session emits
    #     exactly one) — integer-identical to COUNT(*) over sess;
    #   peak = MAX(c);
    #   peak_at_us = MIN(us) at the peak, via MAX(struct(c, -us)) —
    #     lexicographic struct max picks max c then min us, the same
    #     value the broadcast-join pass computed (exact integers, no
    #     float ordering anywhere).
    return swept.agg(
        F.count(F.when(F.col("delta") == 1, F.lit(1))).alias("n_sessions"),
        F.max(F.struct(F.col("c"), (-F.col("us")).alias("nus"))).alias("_best"),
    ).select(
        "n_sessions",
        F.col("_best.c").cast("bigint").alias("peak_concurrency"),
        (-F.col("_best.nus")).cast("bigint").alias("peak_at_us"),
    )


@register(
    "events_forecast_backtest",
    oracle="""
    WITH daily AS (
      SELECT event_type, DATE_TRUNC('day', ts) AS day,
             CAST(COUNT(*) AS DOUBLE) AS cnt
      FROM events GROUP BY event_type, DATE_TRUNC('day', ts)
    ),
    series AS (
      SELECT event_type, list(cnt ORDER BY day) AS vals
      FROM daily GROUP BY event_type
      HAVING COUNT(*) >= 3
    ),
    errs AS (
      SELECT event_type, len(vals) AS n_days,
             list_transform(range(2, len(vals) + 1),
               i -> ABS(vals[i] - list_reduce(list_slice(vals, 1, i - 1),
                                              (acc, x) -> 0.5 * x + 0.5 * acc)))
               AS e_ewma,
             list_transform(range(2, len(vals) + 1),
               i -> ABS(vals[i] - vals[i - 1])) AS e_naive
      FROM series
    ),
    mae AS (
      SELECT event_type, n_days,
             list_reduce(e_ewma, (acc, x) -> acc + x) / (n_days - 1) AS mae_ewma,
             list_reduce(e_naive, (acc, x) -> acc + x) / (n_days - 1) AS mae_naive
      FROM errs
    )
    SELECT event_type,
           CAST(n_days AS BIGINT) AS n_days,
           ROUND(mae_ewma, 6) AS mae_ewma,
           ROUND(mae_naive, 6) AS mae_naive,
           ROUND(CASE WHEN mae_naive > 0 THEN 1 - mae_ewma / mae_naive END, 6)
             AS skill
    FROM mae
    """,
)
def events_forecast_backtest(spark, sf_dir):
    """Walk-forward backtest of the EWMA forecaster — the evaluation
    half the fitted model (events_forecast_holt) needs before anyone
    trusts it: for every day i, predict it from days 1..i−1 only
    (the EWMA prefix fold), score the absolute error, and compare
    MAE against the lag-1 naive baseline; ``skill`` > 0 means the
    smoother actually beats 'tomorrow = today'. The per-step
    predictions are NESTED array folds (a transform over steps, a
    fold per prefix — O(days²) per key, trivially bounded), and the
    error means are explicit left folds, so every float op runs in
    the same fixed order in both engines. Same physical shape as the
    fit: one daily hash agg + one bounded collect per key — backtest
    billions of per-key series in one pass, no loop, no state."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count("*").cast("double").alias("cnt"))
    series = (
        daily.groupBy("event_type")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(day, cnt))), x -> x.cnt)"
            ).alias("vals")
        )
        .filter(F.size("vals") >= 3)
    )
    errs = series.select(
        "event_type",
        F.size("vals").cast("bigint").alias("n_days"),
        F.expr(
            "transform(sequence(2, size(vals)),"
            " i -> abs(element_at(vals, i)"
            "  - aggregate(slice(vals, 2, i - 2), vals[0],"
            "              (acc, x) -> 0.5 * x + 0.5 * acc)))"
        ).alias("e_ewma"),
        F.expr(
            "transform(sequence(2, size(vals)),"
            " i -> abs(element_at(vals, i) - element_at(vals, i - 1)))"
        ).alias("e_naive"),
    )
    fold_sum = (
        "aggregate(slice({c}, 2, size({c}) - 1), element_at({c}, 1),"
        " (acc, x) -> acc + x)"
    )
    mae = errs.select(
        "event_type",
        "n_days",
        (F.expr(fold_sum.format(c="e_ewma")) / (F.col("n_days") - 1)).alias(
            "mae_ewma"
        ),
        (F.expr(fold_sum.format(c="e_naive")) / (F.col("n_days") - 1)).alias(
            "mae_naive"
        ),
    )
    return mae.select(
        "event_type",
        "n_days",
        F.round("mae_ewma", 6).alias("mae_ewma"),
        F.round("mae_naive", 6).alias("mae_naive"),
        F.round(
            F.when(
                F.col("mae_naive") > 0, 1 - F.col("mae_ewma") / F.col("mae_naive")
            ),
            6,
        ).alias("skill"),
    )


@register(
    "events_session_bounce_rate",
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
                  OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
      SELECT user_id, ts,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS sess_no
      FROM gaps
    ),
    sess AS (
      SELECT user_id, sess_no,
             CAST(DATE_TRUNC('day', MIN(ts)) AS TIMESTAMP) AS day,
             COUNT(*) AS n_events
      FROM numbered GROUP BY user_id, sess_no
    )
    SELECT day,
           COUNT(*) AS n_sessions,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS bounced,
           ROUND(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS bounce_rate
    FROM sess GROUP BY day
    """,
)
def events_session_bounce_rate(spark, sf_dir):
    """Daily bounce rate — the fraction of sessions that end after a
    single event, bucketed by the day the session started: the
    canonical engagement-health metric next to DAU and retention.
    Rides the same native ``session_window`` sessionization the
    engine grades elsewhere (map-side partial session merging, one
    user_id shuffle), then a two-level hash agg on the tiny
    (day) key. Exact integer-µs gap semantics keep session
    boundaries — and therefore the bounce flag — engine-identical."""
    ev = load_table(spark, sf_dir, "events")
    sess = ev.groupBy(
        "user_id",
        F.session_window("ts", "1800000001 microseconds").alias("sw"),
    ).agg(
        F.date_trunc("day", F.min("ts")).alias("day"),
        F.count("*").alias("n_events"),
    )
    return sess.groupBy("day").agg(
        F.count("*").alias("n_sessions"),
        F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("bounced"),
        F.round(
            F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
            / F.count("*").cast("double"),
            6,
        ).alias("bounce_rate"),
    )


@register(
    "events_coactivity_topk",
    oracle="""
    WITH uh AS (
      SELECT DISTINCT user_id, DATE_TRUNC('hour', ts) AS hr FROM events
    ),
    pairs AS (
      SELECT a.user_id AS user_a, b.user_id AS user_b,
             COUNT(*) AS shared_hours
      FROM uh a JOIN uh b
        ON a.hr = b.hr AND a.user_id < b.user_id
      GROUP BY a.user_id, b.user_id
    )
    SELECT user_a, user_b, shared_hours
    FROM pairs
    ORDER BY shared_hours DESC, user_a, user_b
    LIMIT 20
    """,
)
def events_coactivity_topk(spark, sf_dir):
    """Top-20 co-active user pairs — 'who is online together' — and
    the template for KEYLESS interval-overlap joins at scale: two
    interval sets with no shared join key (here, user activity
    periods) cannot equi-join directly, so intervals are quantized
    into time bins (hours), overlap becomes a plain equi-join on the
    bin, and counting DISTINCT bins per pair absorbs the
    multi-bin-span double-counting that naive bin joins suffer. The
    reduction to distinct (user, hour) first bounds the join input
    by actives-per-hour, not events; the per-bin pair expansion is
    quadratic only in concurrent actives — the skew hazard is a hot
    global hour, handled by AQE skew-split (tests/test_aqe.py) or a
    finer bin. TakeOrdered top-20 with a full pair tie-break.

    The self-join carries an explicit merge (SMJ) hint: Catalyst's
    size estimate for the distinct frame undershoots, so it picked a
    BROADCAST build at scale — a HashedRelation of the entire
    (user, hour) set replicated into every task, which OOM-killed
    the 8 g JVM at the ×32 census (r8, SCALE.md). A broadcast build
    side is the one shape AQE skew-split cannot rescue; sort-merge
    on the bin streams per-key groups (buffer = one hour's actives)
    and stays skew-splittable.

    r13 negative result (VERDICT r12 item 8): the in-row restatement —
    groupBy(hr).collect_set(user_id), then expand each hour's ordered
    pairs inside the row (the minhash members pattern) — was built
    and A/B-measured. Value-identical (top-20 equal at x32) but 3x
    slower: x32 noop best-of-3 17.54 s (this SMJ) vs 50.68 s
    (in-row). One task per hour serializes the expansion that the
    SMJ plus AQE skew-split parallelize, and the collect_set row is
    the uncapped hot-hour buffer this docstring rejects above
    (OPTIMIZATION_r13.md §5). The SMJ shape stands."""
    uh = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.date_trunc("hour", "ts").alias("hr"))
        .distinct()
    )
    a, b = uh.alias("a"), uh.alias("b").hint("merge")
    return (
        a.join(
            b,
            (F.col("a.hr") == F.col("b.hr"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .groupBy(
            F.col("a.user_id").alias("user_a"), F.col("b.user_id").alias("user_b")
        )
        .agg(F.count("*").alias("shared_hours"))
        .orderBy(F.desc("shared_hours"), "user_a", "user_b")
        .limit(20)
    )


from ..num import d_money_sum as _d_money_sum  # noqa: E402
from ..num import money_sum as _money_sum  # noqa: E402

_ATTRIB_WINDOW_US = 7 * 86_400 * 1_000_000  # 7-day attribution lookback


@register(
    "events_attribution_last_touch",
    oracle=f"""
    WITH base AS (
      SELECT user_id, event_id, event_type, value, epoch_us(ts) AS us
      FROM events),
    marked AS (
      SELECT event_type, value, us,
             LAST_VALUE(CASE WHEN event_type IN ('click', 'view') THEN us END
                        IGNORE NULLS) OVER w AS lt_us,
             LAST_VALUE(CASE WHEN event_type IN ('click', 'view') THEN event_type END
                        IGNORE NULLS) OVER w AS lt_type
      FROM base
      WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
    SELECT CASE WHEN lt_us IS NOT NULL AND us - lt_us <= {_ATTRIB_WINDOW_US}
                THEN lt_type ELSE 'direct' END AS channel,
           COUNT(*) AS n_purchases,
           {_d_money_sum('value')} AS revenue
    FROM marked
    WHERE event_type = 'purchase'
    GROUP BY 1
    """,
)
def events_attribution_last_touch(spark, sf_dir):
    """Last-touch marketing attribution: every purchase is credited
    to the user's most recent click/view touchpoint within a 7-day
    lookback, else to 'direct' — the standard attribution report.
    Implemented WITHOUT a purchases-x-touches join: one pass over
    the per-user event timeline carries the last touch forward via
    LAST_VALUE(... IGNORE NULLS) over ROWS UNBOUNDED PRECEDING..1
    PRECEDING (ordered by exact integer microseconds + event_id, so
    same-timestamp ties are engine-deterministic), then purchases
    filter + a 3-key hash agg. Revenue sums use the integer-cents
    contract (num.py) so totals are accumulation-order-independent.
    Scale shape: ONE shuffle on user_id feeding an in-partition
    sort; the touch state is O(1) per row (vs the band-join form,
    which re-scans each user's touch history per purchase) — the
    same state-machine Structured Streaming would run with
    transformWithState, minus the state store.
    """
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "user_id",
        "event_id",
        "event_type",
        "value",
        F.unix_micros("ts").alias("us"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_touch = F.col("event_type").isin("click", "view")
    marked = base.select(
        "event_type",
        "value",
        "us",
        F.last(F.when(is_touch, F.col("us")), ignorenulls=True).over(w).alias("lt_us"),
        F.last(F.when(is_touch, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("lt_type"),
    ).filter(F.col("event_type") == "purchase")
    channel = F.when(
        F.col("lt_us").isNotNull()
        & (F.col("us") - F.col("lt_us") <= _ATTRIB_WINDOW_US),
        F.col("lt_type"),
    ).otherwise(F.lit("direct"))
    return (
        marked.select(channel.alias("channel"), "value")
        .groupBy("channel")
        .agg(
            F.count("*").alias("n_purchases"),
            _money_sum("value").alias("revenue"),
        )
    )


@register(
    "events_feature_pit_join",
    oracle=f"""
    WITH base AS (
      SELECT event_id, user_id, event_type, value, epoch_us(ts) AS us
      FROM events),
    feat AS (
      SELECT event_id, user_id, event_type, value, us,
             COUNT(*) OVER w AS n_prior_7d,
             CAST(COALESCE(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) OVER w, 0)
                  AS BIGINT) AS cents_7d
      FROM base
      WINDOW w AS (PARTITION BY user_id ORDER BY us
                   RANGE BETWEEN {7 * 86_400 * 1_000_000} PRECEDING
                             AND 1 PRECEDING))
    SELECT event_id, user_id, n_prior_7d, cents_7d / 100.0 AS value_7d,
           value AS label_value
    FROM feat
    WHERE event_type = 'purchase'
    """,
)
def events_feature_pit_join(spark, sf_dir):
    """Point-in-time-correct feature join — the feature-store
    primitive that makes ML training data leakage-free: each label
    row (purchases) is enriched with rolling features (7-day event
    count and value sum per user) computed STRICTLY BEFORE the label
    timestamp — never at or after it, so no target leakage. The
    classic implementation is an as-of join of labels against a
    feature snapshot table; here features and labels share one
    event stream, so ONE range-frame window pass computes the
    feature state every row would have seen ([-7d, current) in exact
    integer microseconds — the 1-PRECEDING bound excludes same-
    instant rows entirely, an edge as-of joins routinely get wrong)
    and the label filter keeps the purchase rows. Feature sums ride
    the integer-cents contract, so sliding-frame accumulation order
    cannot flip a cent. Scale shape: one shuffle on user_id + an
    in-partition sort; the range frame advances monotonically (two
    pointers), never re-scanning the partition per row.
    """
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.unix_micros("ts").alias("us"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-7 * 86_400 * 1_000_000, -1)
    )
    cents = F.floor(F.col("value") * 100 + 0.5)
    feat = base.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.count("*").over(w).alias("n_prior_7d"),
        F.coalesce(F.sum(cents).over(w), F.lit(0)).cast("bigint").alias("cents_7d"),
    )
    return feat.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "n_prior_7d",
        (F.col("cents_7d") / 100.0).alias("value_7d"),
        F.col("value").alias("label_value"),
    )


@register(
    "events_attribution_linear",
    oracle=f"""
    WITH base AS (
      SELECT event_id, user_id, event_type, value, epoch_us(ts) AS us
      FROM events),
    counted AS (
      SELECT event_type, value, us,
             CAST(COALESCE(SUM(CASE WHEN event_type = 'click' THEN 1 END)
                           OVER w, 0) AS BIGINT) AS nc,
             CAST(COALESCE(SUM(CASE WHEN event_type = 'view' THEN 1 END)
                           OVER w, 0) AS BIGINT) AS nv
      FROM base
      WINDOW w AS (PARTITION BY user_id ORDER BY us
                   RANGE BETWEEN {7 * 86_400 * 1_000_000} PRECEDING
                             AND 1 PRECEDING)),
    split AS (
      SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) * 1000000 AS mc,
             nc, nv,
             CASE WHEN nc > 0 AND nv > 0
                  THEN (CAST(FLOOR(value * 100 + 0.5) AS BIGINT) * 1000000 * nc)
                       // (nc + nv)
                  WHEN nc > 0 THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT) * 1000000
                  ELSE 0 END AS click_mc
      FROM counted
      WHERE event_type = 'purchase'),
    chan AS (
      SELECT 'click' AS channel, click_mc AS mc_attr,
             CASE WHEN nc > 0 THEN 1 ELSE 0 END AS touched FROM split
      UNION ALL
      SELECT 'view', CASE WHEN nc + nv > 0 THEN mc - click_mc ELSE 0 END,
             CASE WHEN nv > 0 THEN 1 ELSE 0 END FROM split
      UNION ALL
      SELECT 'direct', CASE WHEN nc + nv = 0 THEN mc ELSE 0 END,
             CASE WHEN nc + nv = 0 THEN 1 ELSE 0 END FROM split)
    SELECT channel,
           CAST(SUM(touched) AS BIGINT) AS n_purchases,
           CAST(SUM(mc_attr) AS BIGINT) / 100000000.0 AS attributed_revenue
    FROM chan
    GROUP BY channel
    """,
)
def events_attribution_linear(spark, sf_dir):
    """LINEAR multi-touch attribution — the fair-share counterpart
    of `events_attribution_last_touch`: each purchase's revenue is
    split across ALL click/view touchpoints in its 7-day lookback in
    proportion to their counts (no touches -> 'direct'). Exactness
    discipline: revenue enters as integer micro-cents and the split
    uses INTEGER division (click gets floor(mc*nc/(nc+nv)), view the
    exact remainder) — floating division here would round
    differently per engine at the 15th digit and the final division
    by 1e8 is one exact-integer-to-double op, so the graded totals
    are accumulation-order- and engine-independent with no ROUND
    crutch. Touch counts come from the same strictly-before range
    frame as `events_feature_pit_join` (one window pass, no
    purchases x touches join). Scale: one shuffle on user_id; the
    3-way channel expansion is per-purchase-row, map-side; int64
    micro-cents headroom is ~9e15 (documented: at fleet scale the
    final rollup re-scales to cents before summing shards).
    """
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "user_id",
        "event_type",
        "value",
        F.unix_micros("ts").alias("us"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-7 * 86_400 * 1_000_000, -1)
    )
    cnt = lambda t: F.coalesce(  # noqa: E731
        F.sum(F.when(F.col("event_type") == t, 1)).over(w), F.lit(0)
    ).cast("bigint")
    counted = base.select(
        "event_type",
        "value",
        cnt("click").alias("nc"),
        cnt("view").alias("nv"),
    ).filter(F.col("event_type") == "purchase")
    split = counted.select(
        (F.floor(F.col("value") * 100 + 0.5).cast("bigint") * 1_000_000).alias("mc"),
        "nc",
        "nv",
    ).withColumn(
        "click_mc",
        F.when(
            (F.col("nc") > 0) & (F.col("nv") > 0),
            F.expr("(mc * nc) div (nc + nv)"),
        )
        .when(F.col("nc") > 0, F.col("mc"))
        .otherwise(F.lit(0).cast("bigint")),
    )
    chan = split.selectExpr(
        "stack(3,"
        " 'click', click_mc, CASE WHEN nc > 0 THEN 1 ELSE 0 END,"
        " 'view', CASE WHEN nc + nv > 0 THEN mc - click_mc ELSE CAST(0 AS bigint) END,"
        "         CASE WHEN nv > 0 THEN 1 ELSE 0 END,"
        " 'direct', CASE WHEN nc + nv = 0 THEN mc ELSE CAST(0 AS bigint) END,"
        "           CASE WHEN nc + nv = 0 THEN 1 ELSE 0 END"
        ") AS (channel, mc_attr, touched)"
    )
    return chan.groupBy("channel").agg(
        F.sum("touched").cast("bigint").alias("n_purchases"),
        (F.sum("mc_attr").cast("bigint") / 100_000_000.0).alias("attributed_revenue"),
    )


@register(
    "events_retention_matrix",
    oracle="""
    WITH act AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events),
    cohort AS (
      SELECT user_id, MIN(wk) AS cwk FROM act GROUP BY user_id),
    cells AS (
      SELECT c.cwk AS cohort_week,
             CAST(date_diff('day', c.cwk, a.wk) / 7 AS BIGINT) AS week_offset,
             CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_active
      FROM act a JOIN cohort c ON c.user_id = a.user_id
      GROUP BY c.cwk, date_diff('day', c.cwk, a.wk) / 7),
    base AS (
      SELECT cohort_week, n_active AS n_cohort FROM cells WHERE week_offset = 0)
    SELECT ce.cohort_week, ce.week_offset, ce.n_active, b.n_cohort,
           ROUND(ce.n_active * 1.0 / b.n_cohort, 6) AS retention
    FROM cells ce JOIN base b ON b.cohort_week = ce.cohort_week
    """,
)
def events_retention_matrix(spark, sf_dir):
    """The cohort retention triangle — the growth-analytics staple:
    users bucketed by their first-active ISO week (cohort), each
    later week's distinct actives divided by the cohort size, one
    row per (cohort_week, week_offset). Complements
    `events_retention_daily` (one cohort, day granularity) and
    `events_cohort_ltv_curve` (revenue, not presence) with the
    presence matrix every dashboard draws.

    Determinism: date_trunc('week') is ISO-Monday in both engines;
    offsets are exact integer day-diffs / 7; every count is a
    BIGINT and only the final ratio is a (rounded) float. Scale:
    one distinct-(user, week) projection — the shuffle — then a
    user-keyed min and two metadata-scale joins on the ~weeks²
    cells frame."""
    ev = load_table(spark, sf_dir, "events")
    # to_date: DuckDB date_trunc('week') yields DATE (day-or-coarser
    # granularity), Spark yields TIMESTAMP — kind-gate caught
    act = ev.select(
        "user_id", F.to_date(F.date_trunc("week", "ts")).alias("wk")
    ).distinct()
    cohort = act.groupBy("user_id").agg(F.min("wk").alias("cwk"))
    cells = (
        act.join(cohort, "user_id")
        .select(
            F.col("cwk").alias("cohort_week"),
            (F.datediff(F.col("wk"), F.col("cwk")) / 7)
            .cast("bigint")
            .alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").cast("bigint").alias("n_active"))
    )
    base = cells.filter(F.col("week_offset") == 0).select(
        "cohort_week", F.col("n_active").alias("n_cohort")
    )
    return cells.join(F.broadcast(base), "cohort_week").select(  # bcast: grid
        "cohort_week",
        "week_offset",
        "n_active",
        "n_cohort",
        F.round(F.col("n_active") * 1.0 / F.col("n_cohort"), 6).alias("retention"),
    )


@register(
    "events_markov_entropy",
    oracle="""
    WITH ordered AS (
      SELECT event_type AS src,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS dst
      FROM events
    ),
    t AS (
      SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n_st
      FROM ordered WHERE dst IS NOT NULL GROUP BY src, dst
    ),
    s AS (
      SELECT src, dst, n_st,
             CAST(SUM(n_st) OVER (PARTITION BY src) AS BIGINT) AS n_s
      FROM t
    ),
    terms AS (
      SELECT src, n_s, n_st,
             CAST(FLOOR(1000000000.0
                        * ((CAST(n_st AS DOUBLE) / CAST(n_s AS DOUBLE))
                           * LN(CAST(n_s AS DOUBLE) / CAST(n_st AS DOUBLE))))
                  AS BIGINT) AS term_nano
      FROM s
    )
    SELECT src, CAST(MAX(n_s) AS BIGINT) AS n_out,
           CAST(COUNT(*) AS BIGINT) AS n_dst,
           CAST(SUM(term_nano) AS BIGINT) AS h_cond_nano
    FROM terms GROUP BY src
    """,
)
def events_markov_entropy(spark, sf_dir):
    """Conditional next-action entropy per source state — the
    information content of the behavioral transition matrix
    (H(next | src) = Σ_t −p_t ln p_t with p_t = n_st / n_s): low
    entropy states are deterministic funnels, high entropy states
    are browse/explore hubs, and drift in this profile is a
    canonical bot / UX-change detector on top of
    events_markov_transitions. Float discipline is the
    win_parkinson_volatility contract: each transition's entropy
    term is ONE per-row double expression over two exact BIGINTs
    (ratio times LN of the reciprocal ratio), floored to nano units
    immediately, and the per-state accumulation is an order-proof
    BIGINT sum — no accumulation-order float hazard anywhere.
    Self-loops with p=1 contribute exactly LN(1)=0.

    Scale shape: the transition extraction is one exchange on
    user_id with an in-partition sort (shared shape with
    sessionization); everything after runs on the (src, dst) key
    space — 25 rows here, bounded by the square of the event-type
    vocabulary at any scale."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = (
        ev.select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_st"))
    )
    s = t.withColumn(
        "n_s", F.sum("n_st").over(Window.partitionBy("src")).cast("bigint")
    )
    terms = s.withColumn(
        "term_nano",
        F.expr(
            "CAST(FLOOR(1000000000.0"
            " * ((CAST(n_st AS DOUBLE) / CAST(n_s AS DOUBLE))"
            "    * LN(CAST(n_s AS DOUBLE) / CAST(n_st AS DOUBLE))))"
            " AS BIGINT)"
        ),
    )
    return terms.groupBy("src").agg(
        F.max("n_s").cast("bigint").alias("n_out"),
        F.count(F.lit(1)).cast("bigint").alias("n_dst"),
        F.sum("term_nano").cast("bigint").alias("h_cond_nano"),
    )
