"""§2.5 Aggregations.

RowCounter / CellCounter / AggregationClient coprocessor semantics
(public HBase tooling, SURVEY.md §2.5) as hash aggregations. Spark
plans every groupBy here as partial (map-side) + final aggregation,
which is exactly the coprocessor's region-local-then-merge shape —
at 100 TB only the partial results cross the network.

Float parity: price-scale sums accumulate integer cents (num.py —
ROUND(SUM(double)) is a latent boundary coin-flip once the per-round
fixture regen moves the data; integer sums are order-independent).
Small-magnitude aggregates (events.value sums, stddevs) keep plain
ROUND: their absolute error is orders of magnitude below the
rounding grid, as documented per site.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..io import load_table, pin as _pin
from ..num import money_sum, round_z
from ..registry import register


@register(
    "agg_rowcount",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS row_cnt
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_rowcount(spark, sf_dir):
    """RowCounter MR job / AggregationClient.rowCount."""
    return load_table(spark, sf_dir, "lineitem").groupBy("l_returnflag").agg(
        F.count("*").alias("row_cnt")
    )


@register(
    "agg_cellcount",
    oracle="""
    SELECT qualifier, COUNT(*) AS cell_cnt, ROUND(SUM(cell_value), 2) AS cell_sum
    FROM (
      SELECT 'l_quantity' AS qualifier, l_quantity AS cell_value FROM lineitem
      UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
      UNION ALL SELECT 'l_discount', l_discount FROM lineitem
      UNION ALL SELECT 'l_tax', l_tax FROM lineitem
    )
    GROUP BY qualifier
    """,
)
def agg_cellcount(spark, sf_dir):
    """CellCounter — cells per qualifier. Columns unpivoted to
    (qualifier, value) rows with `stack`, i.e. the row-to-cell-log
    transform, then counted per qualifier."""
    li = load_table(spark, sf_dir, "lineitem")
    cells = li.select(
        F.expr(
            "stack(4, 'l_quantity', l_quantity, 'l_extendedprice', l_extendedprice,"
            " 'l_discount', l_discount, 'l_tax', l_tax) AS (qualifier, cell_value)"
        )
    )
    return cells.groupBy("qualifier").agg(
        F.count("*").alias("cell_cnt"),
        F.round(F.sum("cell_value"), 2).alias("cell_sum"),
    )


@register(
    "agg_sum_min_max_avg",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) / 100.0        AS sum_qty,
           SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) / 100.0   AS sum_base_price,
           SUM(CAST(FLOOR((l_extendedprice * (1 - l_discount)) * 100 + 0.5)
                    AS BIGINT)) / 100.0                                AS sum_disc_price,
           SUM(CAST(FLOOR((l_extendedprice * (1 - l_discount) * (1 + l_tax)) * 100 + 0.5)
                    AS BIGINT)) / 100.0                                AS sum_charge,
           ROUND(SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) / 100.0
                 / COUNT(*), 6)                                        AS avg_qty,
           ROUND(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) / 100.0
                 / COUNT(*), 6)                                        AS avg_price,
           ROUND(SUM(CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT)) / 100.0
                 / COUNT(*), 6)                                        AS avg_disc,
           MIN(l_extendedprice)                                        AS min_price,
           MAX(l_extendedprice)                                        AS max_price,
           COUNT(*)                                                    AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_sum_min_max_avg(spark, sf_dir):
    """AggregationClient sum/min/max/avg — the TPC-H Q1 pricing
    summary shape (bench headline q1)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2000-09-02 00:00:00").cast("timestamp")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        money_sum("l_quantity").alias("sum_qty"),
        money_sum("l_extendedprice").alias("sum_base_price"),
        money_sum(disc_price).alias("sum_disc_price"),
        money_sum(disc_price * (1 + F.col("l_tax"))).alias("sum_charge"),
        F.round(money_sum("l_quantity") / F.count("*"), 6).alias("avg_qty"),
        F.round(money_sum("l_extendedprice") / F.count("*"), 6).alias("avg_price"),
        F.round(money_sum("l_discount") / F.count("*"), 6).alias("avg_disc"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        F.count("*").alias("count_order"),
    )


@register(
    "agg_std_median",
    oracle="""
    SELECT l_returnflag,
           ROUND(STDDEV_SAMP(l_extendedprice), 6) AS std_price,
           ROUND(MEDIAN(CAST(l_extendedprice AS DOUBLE)), 6) AS med_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_std_median(spark, sf_dir):
    """AggregationClient std/median. Restructured r9: the original
    used Spark's exact `median` aggregate, whose ObjectHashAggregate
    buffer holds every value of a group in ONE task — and the group
    key is the 3-value l_returnflag, so the buffer grows with the
    fact table: the exact shape that OOM-killed
    `agg_percentile_exact_groups` at the r8 ×32 census, on the same
    table (caught by the r9 buffering-aggregate audit,
    tests/test_buffering_aggs.py). Median now rides the same VALUE
    GRID as that query (hash-agg to the (flag, price) distinct-value
    grid — map-side combined, price-domain-bounded — cumulative
    counts over the grid, interpolated order statistics via
    `_pct_grid_snippets`, bit-identical to quantile_cont); stddev
    stays the native one-pass moments aggregate. The two 3-row
    frames broadcast-join on the flag."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    std = li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_extendedprice"), 6).alias("std_price")
    )
    g = (
        li.select(
            "l_returnflag", F.col("l_extendedprice").cast("double").alias("v")
        )
        .groupBy("l_returnflag", "v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    w_grp = Window.partitionBy("l_returnflag")
    c = g.select(
        "l_returnflag",
        "v",
        "cnt",
        F.sum("cnt")
        .over(w_grp.orderBy("v").rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint")
        .alias("cum"),
        F.sum("cnt")
        .over(
            w_grp.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .cast("bigint")
        .alias("n"),
    )
    med = c.groupBy("l_returnflag").agg(
        F.expr(_pct_grid_snippets(1, 2, "n", "MAX(n)", "cum", "cnt", "v")).alias(
            "med_price"
        )
    )
    return std.join(F.broadcast(med), "l_returnflag").select(  # bcast: enum
        "l_returnflag", "std_price", "med_price"
    )


@register(
    "agg_distinct",
    oracle="""
    SELECT o_orderstatus,
           COUNT(DISTINCT o_custkey) AS distinct_customers,
           COUNT(*) AS order_cnt
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_distinct(spark, sf_dir):
    return load_table(spark, sf_dir, "orders").groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("distinct_customers"),
        F.count("*").alias("order_cnt"),
    )


@register(
    "events_profile_agg",
    oracle="""
    SELECT user_id, event_type,
           COUNT(*) AS event_cnt,
           ROUND(SUM(value), 2) AS total_value,
           MIN(ts) AS first_seen,
           MAX(ts) AS last_seen
    FROM events
    GROUP BY user_id, event_type
    """,
)
def events_profile_agg(spark, sf_dir):
    """Per-(rowkey, qualifier) profile — 2-key hash agg over the cell
    log (bench headline events_sessionize_agg's shape in
    BASELINE.md)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id", "event_type").agg(
        F.count("*").alias("event_cnt"),
        F.round(F.sum("value"), 2).alias("total_value"),
        F.min("ts").alias("first_seen"),
        F.max("ts").alias("last_seen"),
    )


@register(
    "agg_distinct_users",
    oracle="SELECT COUNT(DISTINCT user_id) AS distinct_users FROM events",
)
def agg_distinct_users(spark, sf_dir):
    """Exact global distinct (bench headline; the approx twin below
    is the 100-TB path)."""
    return load_table(spark, sf_dir, "events").agg(
        F.countDistinct("user_id").alias("distinct_users")
    )


@register(
    "agg_approx_distinct",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           COUNT(*) AS event_cnt,
           TRUE AS approx_within_5pct
    FROM events GROUP BY event_type
    """,
)
def agg_approx_distinct(spark, sf_dir):
    """The 100-TB substitute for exact distinct: HyperLogLog++ with
    2% rsd — single pass, fixed memory, no shuffle of raw keys.

    Gradable surface: the HLL estimate itself is engine-specific, so
    the query emits the exact count plus a deterministic
    within-tolerance boolean (the estimate is a pure function of the
    fixed input, so the boolean is stable; the oracle asserts it
    literally). The exact count is the verification surface — the
    production plan at scale is the sketch alone.

    Physical shape: the exact distinct is staged as a two-phase agg
    (pre-aggregate on (event_type, user_id), then count) instead of
    mixing countDistinct with the other aggregates — the mixed form
    plans an Expand that triplicates every input row before the
    shuffle (measured 3x slower at sf0.1); this form shuffles only
    per-key partial counts, and the HLL runs over the already-
    distinct keys (same estimate input: the sketch only sees each
    key's presence)."""
    per_key = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", "user_id")
        .agg(F.count("*").alias("key_cnt"))
    )
    per_type = per_key.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.02).alias("approx_users"),
        F.count("*").alias("exact_users"),
        F.sum("key_cnt").alias("event_cnt"),
    )
    within = (
        F.abs(F.col("approx_users") - F.col("exact_users"))
        <= 0.05 * F.col("exact_users")
    )
    return per_type.select(
        "event_type", "exact_users", "event_cnt", within.alias("approx_within_5pct")
    )


@register(
    "agg_percentile_approx",
    oracle="""
    SELECT event_type,
           ROUND(quantile_cont(value, 0.5), 6)  AS p50,
           ROUND(quantile_cont(value, 0.95), 6) AS p95,
           ROUND(quantile_cont(value, 0.99), 6) AS p99,
           TRUE AS approx_within_tol
    FROM events GROUP BY event_type
    """,
)
def agg_percentile_approx(spark, sf_dir):
    """Latency-percentile dashboards: approx_percentile sketch —
    mergeable, bounded memory, the scale path for medians.

    Gradable surface: three SCALAR columns (p50/p95/p99 — an array
    column crashes the driver's hasher) holding the exact
    interpolated percentiles (Spark `percentile` == DuckDB
    `quantile_cont`), plus a deterministic boolean verifying the GK
    sketch's actual contract: each estimate is a data value whose
    rank interval [count(<v), count(<=v)] intersects the target rank
    p*n within the guaranteed rank error n/accuracy (+1 slack for
    floor/ceil). A value-distance tolerance would NOT be
    deterministic — the sketch returns order statistics while the
    exact percentile interpolates, and the gap between adjacent
    order stats is data-dependent. The rank check is true by the
    sketch's published guarantee at every SF, so the oracle pins a
    literal TRUE."""
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.round(F.percentile("value", 0.5), 6).alias("p50"),
        F.round(F.percentile("value", 0.95), 6).alias("p95"),
        F.round(F.percentile("value", 0.99), 6).alias("p99"),
        F.percentile_approx("value", 0.5, 10000).alias("a50"),
        F.percentile_approx("value", 0.95, 10000).alias("a95"),
        F.percentile_approx("value", 0.99, 10000).alias("a99"),
    )
    # Second pass: exact rank interval of each estimate within its
    # group. The per-group aggregate has |event_types| rows — tiny at
    # any scale — so the join back onto the cell stream broadcasts.
    ranked = (
        ev.join(F.broadcast(agg), "event_type")  # bcast: enum
        .groupBy("event_type", "p50", "p95", "p99", "a50", "a95", "a99")
        .agg(
            F.count("*").alias("n"),
            *[
                s
                for q in ("50", "95", "99")
                for s in (
                    F.sum((F.col("value") < F.col(f"a{q}")).cast("long")).alias(f"lt{q}"),
                    F.sum((F.col("value") <= F.col(f"a{q}")).cast("long")).alias(f"le{q}"),
                )
            ],
        )
    )
    err = F.col("n") / 10000.0 + 1.0
    rank_ok = lambda q, p: (  # noqa: E731
        (F.col(f"lt{q}") + 1 <= p * F.col("n") + err)
        & (F.col(f"le{q}") >= p * F.col("n") - err)
    )
    return ranked.select(
        "event_type",
        "p50",
        "p95",
        "p99",
        (rank_ok("50", 0.5) & rank_ok("95", 0.95) & rank_ok("99", 0.99)).alias(
            "approx_within_tol"
        ),
    )


@register(
    "agg_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS cnt,
           SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) / 100.0 AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup(spark, sf_dir):
    return load_table(spark, sf_dir, "lineitem").rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("cnt"),
        money_sum("l_quantity").alias("sum_qty"),
    )


@register(
    "agg_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def agg_cube(spark, sf_dir):
    return load_table(spark, sf_dir, "orders").cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("cnt")
    )


@register(
    "agg_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def agg_grouping_sets(spark, sf_dir):
    ensure = load_table(spark, sf_dir, "orders")
    ensure.createOrReplaceTempView("gs_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS cnt,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS total
        FROM gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@register(
    "agg_conditional",
    oracle="""
    SELECT event_type,
           CAST(SUM(CASE WHEN value > 100 THEN 1 ELSE 0 END) AS BIGINT) AS big_cnt,
           COUNT(*) FILTER (WHERE value <= 100) AS small_cnt,
           ROUND(SUM(CASE WHEN value > 100 THEN value ELSE 0 END), 2) AS big_value
    FROM events GROUP BY event_type
    """,
)
def agg_conditional(spark, sf_dir):
    """Filtered counters — conditional aggregation, one pass."""
    ev = load_table(spark, sf_dir, "events")
    big = F.when(F.col("value") > 100, 1).otherwise(0)
    return ev.groupBy("event_type").agg(
        F.sum(big).alias("big_cnt"),
        F.count_if(F.col("value") <= 100).alias("small_cnt"),
        F.round(F.sum(F.when(F.col("value") > 100, F.col("value")).otherwise(0.0)), 2).alias(
            "big_value"
        ),
    )


@register(
    "agg_corr_covar",
    oracle="""
    SELECT l_returnflag,
           (ROUND(CORR(l_quantity, l_extendedprice), 6) + 0.0)       AS qty_price_corr,
           (ROUND(COVAR_SAMP(l_quantity, l_extendedprice), 2) + 0.0) AS qty_price_covar,
           (ROUND(COVAR_POP(l_discount, l_tax), 6) + 0.0)            AS disc_tax_covar
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_corr_covar(spark, sf_dir):
    """Bivariate statistics — single-pass streaming moments (partial
    + merge, like all algebraic aggregates here). Signed aggregates
    round through :func:`num.round_z` (+ 0.0) so a tiny negative that
    rounds to zero emits +0.0 in both engines — DuckDB's
    ROUND(COVAR_POP(l_discount,l_tax),6) is IEEE -0.0 for
    l_returnflag='N' at sf0.01 while Spark's is +0.0, and the
    driver's value hash is sign-of-zero sensitive (VERDICT r03)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        round_z(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
        round_z(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias("qty_price_covar"),
        round_z(F.covar_pop("l_discount", "l_tax"), 6).alias("disc_tax_covar"),
    )


@register(
    "events_funnel",
    oracle="""
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'click' AND e.ts > s1.t1
      GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2
      GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM s1) AS stage1_signup,
           (SELECT COUNT(*) FROM s2) AS stage2_click,
           (SELECT COUNT(*) FROM s3) AS stage3_purchase
    """,
)
def events_funnel(spark, sf_dir):
    """Ordered funnel: signup → later click → later purchase, per
    user (the event-sequence analytics staple). Each stage is a
    keyed min-aggregate joined to the previous stage's frontier —
    three shuffles on user_id, reusable partitioning throughout."""
    ev = load_table(spark, sf_dir, "events")

    def stage(event_type, prev, tcol_prev, tcol):
        base = ev.filter(F.col("event_type") == event_type)
        if prev is not None:
            base = base.join(prev, "user_id").filter(F.col("ts") > F.col(tcol_prev))
        return base.groupBy("user_id").agg(F.min("ts").alias(tcol))

    s1 = stage("signup", None, None, "t1")
    s2 = stage("click", s1, "t1", "t2")
    s3 = stage("purchase", s2, "t2", "t3")
    return (
        s1.agg(F.count("*").alias("stage1_signup"))
        .crossJoin(s2.agg(F.count("*").alias("stage2_click")))
        .crossJoin(s3.agg(F.count("*").alias("stage3_purchase")))
    )


@register(
    "agg_salted_two_phase",
    oracle="""
    SELECT event_type, COUNT(*) AS cnt, ROUND(SUM(value), 2) AS total
    FROM events GROUP BY event_type
    """,
)
def agg_salted_two_phase(spark, sf_dir):
    """Hot-key (rowkey-hotspot) mitigation: salt the key into 16
    shards, aggregate partially per (key, salt), then merge shards.
    The result is salt-independent — the oracle is the plain groupBy.
    With only 5 event_type values, every final-agg row would
    otherwise land on one reducer; salting spreads phase 1 across
    the cluster (HBase rowkey-salting, relocated to the agg layer).
    """
    ev = load_table(spark, sf_dir, "events")
    salted = ev.withColumn("salt", F.pmod(F.xxhash64("event_id"), F.lit(16)))
    partial = salted.groupBy("event_type", "salt").agg(
        F.count("*").alias("p_cnt"), F.sum("value").alias("p_sum")
    )
    return partial.groupBy("event_type").agg(
        F.sum("p_cnt").alias("cnt"),
        F.round(F.sum("p_sum"), 2).alias("total"),
    )


@register(
    "agg_hll_sketch_mergeable",
    oracle="""
    SELECT COUNT(DISTINCT user_id) AS exact_total_users,
           COUNT(*) AS total_events,
           TRUE AS merged_est_within_5pct
    FROM events
    """,
)
def agg_hll_sketch_mergeable(spark, sf_dir):
    """Mergeable distinct sketches (Apache DataSketches HLL, built
    into Spark 3.5+): per-shard sketches union into corpus-level
    cardinalities without re-scanning raw keys — the materialized-
    rollup pattern for 100-TB distinct counts.

    Gradable surface: the merged-sketch estimate is deterministic but
    engine-specific, so the output carries the exact global distinct
    plus a boolean pinning the merged estimate within 5% — proving
    the per-shard sketches really merged into a usable global count.
    """
    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.expr("hll_sketch_agg(user_id)").alias("sk"), F.count("*").alias("cnt")
    )
    merged = per_type.agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est_total_users"),
        F.sum("cnt").alias("total_events"),
    )
    exact = ev.agg(F.countDistinct("user_id").alias("exact_total_users"))
    return merged.crossJoin(F.broadcast(exact)).select(  # bcast: scalar
        "exact_total_users",
        "total_events",
        (
            F.abs(F.col("est_total_users") - F.col("exact_total_users"))
            <= 0.05 * F.col("exact_total_users")
        ).alias("merged_est_within_5pct"),
    )


@register(
    "agg_pivot",
    oracle="""
    SELECT user_id,
           CAST(COALESCE(SUM(CASE WHEN event_type = 'click'    THEN 1 END), 0) AS BIGINT) AS click,
           CAST(COALESCE(SUM(CASE WHEN event_type = 'error'    THEN 1 END), 0) AS BIGINT) AS error,
           CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1 END), 0) AS BIGINT) AS purchase,
           CAST(COALESCE(SUM(CASE WHEN event_type = 'signup'   THEN 1 END), 0) AS BIGINT) AS signup,
           CAST(COALESCE(SUM(CASE WHEN event_type = 'view'     THEN 1 END), 0) AS BIGINT) AS view
    FROM events WHERE user_id < 50
    GROUP BY user_id
    """,
)
def agg_pivot(spark, sf_dir):
    """Qualifier pivot: cell-log rows → wide per-rowkey layout (the
    HBase row materialization). Pivot values are enumerated so the
    plan is a single pass (no extra distinct-values job)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    return (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .count()
        .na.fill(0)
    )


@register(
    "events_retention_daily",
    oracle="""
    WITH active AS (
      SELECT DISTINCT user_id, CAST(DATE_TRUNC('day', ts) AS DATE) AS day
      FROM events
    ),
    cohort AS (SELECT user_id FROM active WHERE day = DATE '2024-01-01')
    SELECT a.day,
           COUNT(DISTINCT a.user_id) AS retained,
           (SELECT COUNT(*) FROM cohort) AS cohort_size
    FROM active a JOIN cohort c ON a.user_id = c.user_id
    WHERE a.day BETWEEN DATE '2024-01-01' AND DATE '2024-01-14'
    GROUP BY a.day
    """,
)
def events_retention_daily(spark, sf_dir):
    """Cohort retention: of users active on day 0, how many return
    each subsequent day — the activation dashboard staple. The
    cohort is USER-scale (one day's DAU — 1e8+ at real scale), so
    the join against the daily activity fact carries no broadcast
    hint (r10 broadcast-hint audit): AQE broadcasts it when small,
    shuffle-joins co-partitioned with the distinct otherwise."""
    ev = load_table(spark, sf_dir, "events")
    active = ev.select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
    ).distinct()
    cohort = active.filter(F.col("day") == F.lit("2024-01-01").cast("date")).select("user_id")
    cohort_size = cohort.agg(F.count("*").alias("cohort_size"))
    return (
        active.filter(F.col("day").between("2024-01-01", "2024-01-14"))
        # cohort = one day's active USERS — user-scale, not a dim;
        # no broadcast hint (r10 broadcast-hint audit): at 1e8+ DAU a
        # forced broadcast is a driver OOM, while the unhinted join
        # co-partitions with the distinct that built the cohort and
        # AQE still broadcasts it when the runtime size is small.
        .join(cohort, "user_id")
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("retained"))
        .crossJoin(F.broadcast(cohort_size))  # bcast: scalar
        .select("day", "retained", "cohort_size")
    )


@register(
    "agg_histogram_fixed_bins",
    oracle="""
    SELECT CAST(LEAST(FLOOR(value / 50.0), 9) AS INT) AS bin,
           COUNT(*) AS cnt,
           ROUND(MIN(value), 2) AS bin_min,
           ROUND(MAX(value), 2) AS bin_max
    FROM events
    GROUP BY 1
    """,
)
def agg_histogram_fixed_bins(spark, sf_dir):
    """Fixed-width histogram (50-unit bins, clamped top bin) — the
    deterministic twin of sketch-based histogram_numeric; plain hash
    agg on the derived bin key."""
    ev = load_table(spark, sf_dir, "events")
    bin_ = F.least(F.floor(F.col("value") / 50.0), F.lit(9)).cast("int")
    return ev.groupBy(bin_.alias("bin")).agg(
        F.count("*").alias("cnt"),
        F.round(F.min("value"), 2).alias("bin_min"),
        F.round(F.max("value"), 2).alias("bin_max"),
    )


@register(
    "agg_collect",
    oracle="""
    SELECT o_custkey, STRING_AGG(o_orderkey::VARCHAR, ',' ORDER BY o_orderkey) AS order_keys
    FROM orders WHERE o_custkey < 50 GROUP BY o_custkey
    """,
)
def agg_collect(spark, sf_dir):
    """Row materialization per key. collect_list is unordered by
    contract, so sort_array before joining — determinism rule for all
    set-returning aggregates (SURVEY.md §7 hard-part 3)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 50)
    return o.groupBy("o_custkey").agg(
        F.array_join(
            F.transform(F.array_sort(F.collect_list("o_orderkey")), lambda x: x.cast("string")),
            ",",
        ).alias("order_keys")
    )


@register(
    "table_profile_stats",
    oracle="""
    SELECT 'o_custkey' AS col_name,
           COUNT(*) - COUNT(o_custkey) AS n_null,
           COUNT(DISTINCT o_custkey) AS n_distinct,
           CAST(MIN(o_custkey) AS VARCHAR) AS min_val,
           CAST(MAX(o_custkey) AS VARCHAR) AS max_val
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', COUNT(*) - COUNT(o_orderpriority),
           COUNT(DISTINCT o_orderpriority),
           MIN(o_orderpriority), MAX(o_orderpriority)
    FROM orders
    UNION ALL
    SELECT 'o_orderdate', COUNT(*) - COUNT(o_orderdate),
           COUNT(DISTINCT o_orderdate),
           CAST(MIN(o_orderdate) AS VARCHAR), CAST(MAX(o_orderdate) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', COUNT(*) - COUNT(o_totalprice),
           COUNT(DISTINCT o_totalprice),
           CAST(ROUND(MIN(o_totalprice), 2) AS VARCHAR),
           CAST(ROUND(MAX(o_totalprice), 2) AS VARCHAR)
    FROM orders
    """,
)
def table_profile_stats(spark, sf_dir):
    """ANALYZE-style column profiling (null count, distinct count,
    min/max) in ONE scan: all measures in a single agg, then stack()
    pivots the 1-row result into per-column rows. Multiple exact
    COUNT(DISTINCT)s share the scan via Spark's Expand; at 100 TB
    swap them for approx_count_distinct — same single-pass shape.
    Values surface as strings so heterogeneous column types share one
    schema (min/max of doubles pre-rounded to 2)."""
    o = load_table(spark, sf_dir, "orders")
    a = o.agg(
        F.count("*").alias("n"),
        *[
            e
            for c, mn, mx in [
                ("o_custkey", F.min("o_custkey").cast("string"), F.max("o_custkey").cast("string")),
                ("o_orderpriority", F.min("o_orderpriority"), F.max("o_orderpriority")),
                ("o_orderdate", F.min("o_orderdate").cast("string"), F.max("o_orderdate").cast("string")),
                (
                    "o_totalprice",
                    F.round(F.min("o_totalprice"), 2).cast("string"),
                    F.round(F.max("o_totalprice"), 2).cast("string"),
                ),
            ]
            for e in (
                F.count(c).alias(f"cnt_{c}"),
                F.countDistinct(c).alias(f"nd_{c}"),
                mn.alias(f"min_{c}"),
                mx.alias(f"max_{c}"),
            )
        ],
    )
    cols = ["o_custkey", "o_orderpriority", "o_orderdate", "o_totalprice"]
    stack_args = ", ".join(
        f"'{c}', n - cnt_{c}, nd_{c}, min_{c}, max_{c}" for c in cols
    )
    return a.selectExpr(
        f"stack({len(cols)}, {stack_args}) AS (col_name, n_null, n_distinct, min_val, max_val)"
    )


@register(
    "events_rfm_segmentation",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             MAX(ts) AS last_seen,
             COUNT(*) AS frequency,
             SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) / 100.0 AS monetary
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id
    )
    SELECT user_id, last_seen, frequency, monetary,
           NTILE(5) OVER (ORDER BY last_seen, user_id) AS r_score,
           NTILE(5) OVER (ORDER BY frequency, user_id) AS f_score,
           NTILE(5) OVER (ORDER BY monetary, user_id) AS m_score
    FROM per_user
    """,
)
def events_rfm_segmentation(spark, sf_dir):
    """RFM segmentation — the classic behavioral scoring: per user,
    recency (last purchase), frequency, and monetary value, each
    bucketed into quintiles. One hash agg over the purchase stream,
    then three exact quintile scorings over the |users| aggregate.
    A naive ``NTILE(5) OVER (ORDER BY ...)`` would single-partition
    |users| (billions of rows at 100 TB on ONE task); instead each
    score uses the distributed rank kernel (operators/ranking.py):
    range-shuffle + per-partition row_number + K-row broadcast
    offsets, then NTILE derived arithmetically from (rank, n) —
    value-identical to the window form (the oracle still states
    NTILE), with every stage parallel. Monetary uses the cents
    contract; every ordering tie-breaks on user_id so quintile
    boundaries are deterministic across engines."""
    from .ranking import ntile_from_rank, with_global_rank

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    per_user = ev.groupBy("user_id").agg(
        F.max("ts").alias("last_seen"),
        F.count("*").alias("frequency"),
        money_sum("value").alias("monetary"),
    )
    ranked = with_global_rank(
        per_user, ["last_seen", "user_id"], "_r_rank", total_col="_n"
    )
    ranked = with_global_rank(ranked, ["frequency", "user_id"], "_f_rank")
    ranked = with_global_rank(ranked, ["monetary", "user_id"], "_m_rank")
    n = F.col("_n")
    return ranked.select(
        "user_id",
        "last_seen",
        "frequency",
        "monetary",
        ntile_from_rank(F.col("_r_rank"), n, 5).alias("r_score"),
        ntile_from_rank(F.col("_f_rank"), n, 5).alias("f_score"),
        ntile_from_rank(F.col("_m_rank"), n, 5).alias("m_score"),
    )


@register(
    "agg_benford_first_digit",
    oracle="""
    WITH digits AS (
      SELECT CAST(SUBSTRING(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
                  AS BIGINT) AS d
      FROM orders WHERE o_totalprice >= 1
    )
    SELECT d AS first_digit, COUNT(*) AS n,
           ROUND(COUNT(*) / CAST(SUM(COUNT(*)) OVER () AS DOUBLE), 6)
             AS observed_frac,
           ROUND(LOG10(1.0 + 1.0 / d), 6) AS benford_frac
    FROM digits GROUP BY d
    """,
)
def agg_benford_first_digit(spark, sf_dir):
    """Benford's-law audit — the data-quality/fraud screen: the
    first significant digit of naturally occurring amounts follows
    log10(1 + 1/d); fabricated or truncated data doesn't. Emits the
    observed vs expected distribution per digit. The digit extraction
    goes through an explicit FLOOR then string head — DuckDB's bare
    double→BIGINT cast rounds while Spark's truncates, and a double's
    string form differs between engines — and the whole audit is
    one map-side projection plus a 9-key hash agg: screening 100 TB
    of ledger costs one scan."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    digits = o.select(
        F.substring(F.floor("o_totalprice").cast("string"), 1, 1)
        .cast("long")
        .alias("d")
    )
    counts = digits.groupBy("d").agg(F.count("*").alias("n"))
    w = Window.partitionBy()
    return counts.select(
        F.col("d").alias("first_digit"),
        "n",
        F.round(F.col("n") / F.sum("n").over(w), 6).alias("observed_frac"),
        F.round(F.log10(1.0 + 1.0 / F.col("d")), 6).alias("benford_frac"),
    )


@register(
    "agg_entropy_behavior",
    oracle="""
    WITH per AS (
      SELECT user_id, event_type, COUNT(*) AS n
      FROM events GROUP BY user_id, event_type
    ),
    tot AS (
      SELECT user_id, CAST(SUM(n) AS BIGINT) AS total FROM per GROUP BY user_id
    )
    SELECT p.user_id,
           t.total AS n_events,
           COUNT(*) AS n_types,
           (ROUND(-SUM((p.n / CAST(t.total AS DOUBLE)) *
                       LN(p.n / CAST(t.total AS DOUBLE))), 6) + 0.0)
             AS behavior_entropy
    FROM per p JOIN tot t ON p.user_id = t.user_id
    GROUP BY p.user_id, t.total
    """,
)
def agg_entropy_behavior(spark, sf_dir):
    """Shannon entropy of each user's event-type distribution — the
    behavioral-diversity feature (bots and scrapers sit near zero or
    at the uniform maximum; organic users in between), and the same
    kernel scores class balance of a training corpus per source. Two
    cascaded hash aggs on keys that only narrow ((user, type) →
    user); the -Σ p ln p runs over ≤|event_types| terms per user, so
    the ln arithmetic is far below the round-6 boundary-risk class
    (num.py). The entropy rounds through round_z: a SINGLE-TYPE user
    has p=1 so the sum is exactly 0 and the leading negation emits
    IEEE -0.0 in DuckDB but +0.0 through Spark's BigDecimal — the
    r3 sign-of-zero class, dormant for nine rounds because every
    sf0.01 user happened to have ≥2 event types; the r9 2%-thin
    drill created one-event users and flipped it."""
    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    tot = per.groupBy("user_id").agg(F.sum("n").alias("total"))
    p = F.col("n") / F.col("total").cast("double")
    return (
        per.join(tot, "user_id")
        .groupBy("user_id", "total")
        .agg(
            F.count("*").alias("n_types"),
            round_z(-F.sum(p * F.log(p)), 6).alias("behavior_entropy"),
        )
        .select(
            "user_id",
            F.col("total").alias("n_events"),
            "n_types",
            "behavior_entropy",
        )
    )


@register(
    "agg_gini_concentration",
    oracle="""
    WITH spend AS (
      SELECT o_custkey,
             SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT cents,
             ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS i,
             COUNT(*) OVER () AS n,
             SUM(cents) OVER () AS total
      FROM spend
    )
    SELECT MAX(n) AS n_customers,
           ROUND(MAX(total) / 100.0, 2) AS total_spend,
           ROUND(2.0 * SUM(CAST(i AS HUGEINT) * cents) / (MAX(n) * CAST(MAX(total) AS DOUBLE))
                 - (MAX(n) + 1.0) / MAX(n), 6) AS gini
    FROM ranked
    """,
)
def agg_gini_concentration(spark, sf_dir):
    """Gini coefficient of customer spend — the concentration audit
    ('what fraction of revenue rides on the top accounts', and the
    same kernel measures source/domain concentration of a training
    corpus). Closed form over the rank-ordered totals:
    G = 2*Σ(i*x_i) / (n*Σx) - (n+1)/n. Spend accumulates as exact
    integer cents (num.py), ranks tie-break on the customer key, and
    Σ(i*cents) is an exact integer sum — so the only float op is the
    final division. The rank comes from the distributed kernel
    (operators/ranking.py) — no single-partition sort of |customers|
    — and n / Σx fold into the final 1-row aggregate instead of
    riding a global window. One agg, one range shuffle, one pass."""
    from .ranking import with_global_rank

    o = load_table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5)).alias("cents")
    )
    ranked = with_global_rank(spend, ["cents", "o_custkey"], "i")
    n = F.count("*")
    total = F.sum("cents")
    return ranked.agg(
        n.alias("n_customers"),
        F.round(total / 100.0, 2).alias("total_spend"),
        F.round(
            # 128-bit rank-weighted sum (r9 ×512 probe catch):
            # Σ(i·cents) passes 9.2e18 at ×512 spend magnitudes.
            # Spark DECIMAL(38,0) / DuckDB HUGEINT are exact integer
            # accumulators; both convert the same exact integer to
            # double (IEEE nearest) for the single float division.
            2.0 * F.sum(F.col("i").cast("decimal(38,0)") * F.col("cents")).cast("double")
            / (n * total.cast("double"))
            - (n + 1.0) / n,
            6,
        ).alias("gini"),
    )


@register(
    "agg_mode_deterministic",
    oracle="""
    WITH counts AS (
      SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
      FROM orders GROUP BY o_orderstatus, o_orderpriority
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                   ORDER BY cnt DESC, o_orderpriority) AS rn
      FROM counts
    )
    SELECT o_orderstatus, o_orderpriority AS modal_priority, cnt AS modal_cnt
    FROM ranked WHERE rn = 1
    """,
)
def agg_mode_deterministic(spark, sf_dir):
    """MODE() with a pinned tie-break — engines (and Spark itself
    across partitionings) disagree on which value a bare mode()
    returns when counts tie, so the graded form states the rule:
    highest count, ties to the lexicographically smallest value.
    Two-level shape: a hash agg on the (group, value) pair (partial
    agg collapses map-side — the value domain, not the row count,
    reaches the shuffle), then a per-group top-1 rank over the tiny
    count table. The same template computes any 'most frequent X per
    Y' (top referrer, dominant language, hottest qualifier)."""
    from pyspark.sql import Window

    counts = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("cnt").desc(), "o_orderpriority"
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("modal_priority"),
            F.col("cnt").alias("modal_cnt"),
        )
    )


@register(
    "agg_winsorized_mean",
    oracle="""
    WITH bounds AS (
      SELECT event_type,
             quantile_cont(value, 0.05) AS p5,
             quantile_cont(value, 0.95) AS p95
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           COUNT(*) AS n,
           ROUND(MAX(b.p5), 6) AS p5,
           ROUND(MAX(b.p95), 6) AS p95,
           ROUND(SUM(CAST(FLOOR(LEAST(GREATEST(e.value, b.p5), b.p95) * 100 + 0.5)
                          AS BIGINT)) / 100.0 / COUNT(*), 6) AS winsorized_mean,
           ROUND(SUM(CAST(FLOOR(e.value * 100 + 0.5) AS BIGINT)) / 100.0
                 / COUNT(*), 6) AS raw_mean
    FROM events e JOIN bounds b USING (event_type)
    GROUP BY e.event_type
    """,
)
def agg_winsorized_mean(spark, sf_dir):
    """Winsorized mean per group — the robust-statistics answer to
    'one whale distorts the average': values are clamped to the
    exact [p5, p95] band before averaging, reported next to the raw
    mean so the outlier impact is visible. Two passes over the
    group: exact interpolated percentiles (Spark `percentile` ==
    DuckDB `quantile_cont` — the same equivalence
    agg_percentile_approx grades), broadcast back onto the stream
    (|event_types| rows), clamp via LEAST/GREATEST, then a
    cents-contract sum so the clamped mean is accumulation-order
    independent. At 100 TB swap the exact percentile for
    percentile_approx at the same seam — the clamp/mean machinery is
    unchanged."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.groupBy("event_type").agg(
        F.percentile("value", 0.05).alias("p5"),
        F.percentile("value", 0.95).alias("p95"),
    )
    w = F.least(F.greatest(F.col("value"), F.col("p5")), F.col("p95"))
    return (
        ev.join(F.broadcast(bounds), "event_type")  # bcast: enum
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.max("p5"), 6).alias("p5"),
            F.round(F.max("p95"), 6).alias("p95"),
            F.round(
                F.sum(F.floor(w * 100 + 0.5)) / 100.0 / F.count("*"), 6
            ).alias("winsorized_mean"),
            F.round(
                F.sum(F.floor(F.col("value") * 100 + 0.5)) / 100.0 / F.count("*"),
                6,
            ).alias("raw_mean"),
        )
    )


from ..hashutil import d_h60 as _d_abh, h60 as _h_abh  # noqa: E402

_ABH = _h_abh("concat('exp1|', cast(user_id AS string))")
_D_ABH = _d_abh("'exp1|' || CAST(user_id AS VARCHAR)")


@register(
    "events_abtest_ztest",
    oracle="""
    WITH assign AS (
      SELECT user_id,
             {H} % 2 AS arm,
             CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                       > 13 THEN 1 ELSE 0 END AS converted
      FROM events
      GROUP BY user_id
    ),
    arms AS (
      SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             CAST(SUM(CASE WHEN arm = 0 THEN converted ELSE 0 END) AS BIGINT)
               AS conv_a,
             CAST(SUM(CASE WHEN arm = 1 THEN converted ELSE 0 END) AS BIGINT)
               AS conv_b
      FROM assign
    )
    SELECT n_a, n_b, conv_a, conv_b,
           ROUND(conv_a / CAST(n_a AS DOUBLE), 6) AS rate_a,
           ROUND(conv_b / CAST(n_b AS DOUBLE), 6) AS rate_b,
           ROUND(z, 6) AS z_score,
           COALESCE(ABS(z) > 1.96, FALSE) AS significant
    FROM (
      SELECT *,
             CASE WHEN n_a > 0 AND n_b > 0
                   AND conv_a + conv_b > 0 AND conv_a + conv_b < n_a + n_b
                  THEN (conv_a / CAST(n_a AS DOUBLE) - conv_b / CAST(n_b AS DOUBLE))
                       / SQRT(((conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE))
                              * (1 - (conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE))
                              * (1.0 / n_a + 1.0 / n_b))
             END AS z
      FROM arms
    )
    """.replace("{H}", _D_ABH),
)
def events_abtest_ztest(spark, sf_dir):
    """Experimentation readout: two-proportion z-test on purchase
    conversion between hash-assigned arms — the A/B analysis every
    growth team runs, in-engine. Assignment is a salted portable
    hash of the user id (stable across runs/engines — the same user
    always lands in the same arm, the property assignment systems
    must guarantee); conversion is a per-user MAX flag, so the whole
    test reduces to ONE user-keyed agg + a 4-integer global roll-up,
    and the z statistic is a closed-form expression over exact
    integer counts (pooled variance, |z| > 1.96 at the 5% level).
    Scanning 100 TB of events for a significance readout costs one
    pass + one 1-row reduce."""
    ev = load_table(spark, sf_dir, "events")
    assign = ev.groupBy("user_id").agg(
        F.when(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            > 13,
            1,
        )
        .otherwise(0)
        .alias("converted")
    ).select(
        (F.expr(_ABH) % 2).alias("arm"),
        "converted",
    )
    arms = assign.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("bigint").alias("n_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("bigint").alias("n_b"),
        F.sum(F.when(F.col("arm") == 0, F.col("converted")).otherwise(0))
        .cast("bigint")
        .alias("conv_a"),
        F.sum(F.when(F.col("arm") == 1, F.col("converted")).otherwise(0))
        .cast("bigint")
        .alias("conv_b"),
    )
    ra = F.col("conv_a") / F.col("n_a").cast("double")
    rb = F.col("conv_b") / F.col("n_b").cast("double")
    conv = F.col("conv_a") + F.col("conv_b")
    tot = F.col("n_a") + F.col("n_b")
    pool = conv / tot.cast("double")
    # guard the degenerate arms (empty arm / all-or-none conversion):
    # the pooled variance is 0 there and ANSI double division raises
    z = F.when(
        (F.col("n_a") > 0) & (F.col("n_b") > 0) & (conv > 0) & (conv < tot),
        (ra - rb)
        / F.sqrt(pool * (1 - pool) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))),
    )
    return arms.select(
        "n_a",
        "n_b",
        "conv_a",
        "conv_b",
        F.round(ra, 6).alias("rate_a"),
        F.round(rb, 6).alias("rate_b"),
        F.round(z, 6).alias("z_score"),
        F.coalesce(F.abs(z) > 1.96, F.lit(False)).alias("significant"),
    )


@register(
    "events_ratio_metric_delta_ci",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                           THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS x_cents,
             COUNT(*) AS y_events
      FROM events GROUP BY user_id
    ),
    moments AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(x_cents) AS BIGINT) AS sx,
             CAST(SUM(y_events) AS BIGINT) AS sy,
             -- second moments stay HUGEINT: the engine carries them
             -- in DECIMAL(38,0) (r10 headroom audit) and a BIGINT
             -- cast here would overflow at whale-revenue magnitudes
             SUM(x_cents * x_cents) AS sxx,
             SUM(y_events * y_events) AS syy,
             SUM(x_cents * y_events) AS sxy
      FROM per_user
    )
    SELECT n,
           ROUND(sx / 100.0, 2) AS total_revenue,
           sy AS total_events,
           ROUND(r, 6) AS revenue_per_event,
           ROUND(se, 6) AS se,
           ROUND(r - 1.96 * se, 6) AS ci_lo,
           ROUND(r + 1.96 * se, 6) AS ci_hi
    FROM (
      SELECT n, sx, sy,
             (sx / 100.0) / sy AS r,
             SQRT(GREATEST(
               ( (sxx / 10000.0 - (sx / 100.0) * (sx / 100.0) / n)
                 + ((sx / 100.0) / sy) * ((sx / 100.0) / sy)
                   * (syy - CAST(sy AS DOUBLE) * sy / n)
                 - 2 * ((sx / 100.0) / sy)
                   * (sxy / 100.0 - (sx / 100.0) * sy / n)
               ) / (n - 1), 0.0))
             / (sy / CAST(n AS DOUBLE)) / SQRT(CAST(n AS DOUBLE)) AS se
      FROM moments WHERE n >= 2 AND sy > 0
    )
    """,
)
def events_ratio_metric_delta_ci(spark, sf_dir):
    """Delta-method confidence interval for a RATIO metric — revenue
    per event with users as the randomization unit. Naive per-event
    variance is wrong when the unit is the user (events within a
    user correlate), so real experimentation platforms compute
    Var(X̄/Ȳ) ≈ (Var x + R²·Var y − 2R·Cov(x,y)) / (n·ȳ²) over
    per-user totals — stated here as one closed-form expression over
    EXACT integer moments (cents, counts, and their cross products —
    the num.py discipline extended to second moments), so the CI is
    identical on any engine or partitioning. Two hash aggs (user
    roll-up, then a 1-row moment reduce) — scanning 100 TB for a
    trustworthy CI costs one pass. Degenerate inputs (n<2, no
    events) yield no row rather than a divide-by-zero."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.floor(F.col("value") * 100 + 0.5).cast("bigint"),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("x_cents"),
        F.count("*").alias("y_events"),
    )
    m = per_user.agg(
        F.count("*").alias("n"),
        F.sum("x_cents").cast("bigint").alias("sx"),
        F.sum("y_events").cast("bigint").alias("sy"),
        F.sum(F.col("x_cents").cast("decimal(19,0)") * F.col("x_cents")).alias("sxx"),
        F.sum(F.col("y_events").cast("decimal(19,0)") * F.col("y_events")).alias("syy"),
        F.sum(F.col("x_cents").cast("decimal(19,0)") * F.col("y_events")).alias("sxy"),
    ).filter((F.col("n") >= 2) & (F.col("sy") > 0))
    xd = F.col("sx") / 100.0
    r = xd / F.col("sy")
    var_x = F.col("sxx") / 10000.0 - xd * xd / F.col("n")
    var_y = F.col("syy") - F.col("sy").cast("double") * F.col("sy") / F.col("n")
    cov = F.col("sxy") / 100.0 - xd * F.col("sy") / F.col("n")
    se = (
        F.sqrt(
            F.greatest(
                (var_x + r * r * var_y - 2 * r * cov) / (F.col("n") - 1),
                F.lit(0.0),
            )
        )
        / (F.col("sy") / F.col("n").cast("double"))
        / F.sqrt(F.col("n").cast("double"))
    )
    return m.select(
        "n",
        F.round(xd, 2).alias("total_revenue"),
        F.col("sy").alias("total_events"),
        F.round(r, 6).alias("revenue_per_event"),
        F.round(se, 6).alias("se"),
        F.round(r - 1.96 * se, 6).alias("ci_lo"),
        F.round(r + 1.96 * se, 6).alias("ci_hi"),
    )


@register(
    "events_cuped_adjustment",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00'
                           THEN 1 ELSE 0 END) AS BIGINT) AS pre,
             CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00'
                           THEN 1 ELSE 0 END) AS BIGINT) AS post
      FROM events GROUP BY user_id
    ),
    m AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(pre) AS BIGINT) AS sp,
             CAST(SUM(post) AS BIGINT) AS sq,
             SUM(pre * pre) AS spp,
             SUM(post * post) AS sqq,
             SUM(pre * post) AS spq
      FROM per_user
    )
    SELECT n,
           ROUND(theta, 6) AS theta,
           ROUND(var_post, 6) AS var_post,
           ROUND(var_post - theta * theta * var_pre, 6) AS var_adjusted,
           ROUND(100.0 * theta * theta * var_pre / var_post, 6)
             AS variance_reduction_pct
    FROM (
      SELECT n,
             (spq - CAST(sp AS DOUBLE) * sq / n) / (n - 1) /
               ((spp - CAST(sp AS DOUBLE) * sp / n) / (n - 1)) AS theta,
             (sqq - CAST(sq AS DOUBLE) * sq / n) / (n - 1) AS var_post,
             (spp - CAST(sp AS DOUBLE) * sp / n) / (n - 1) AS var_pre
      FROM m
      WHERE n >= 2 AND spp * n > sp * sp AND sqq * n > sq * sq
    )
    """,
)
def events_cuped_adjustment(spark, sf_dir):
    """CUPED variance reduction — the standard pre-experiment
    covariate adjustment (Deng et al. 2013): θ = Cov(pre, post) /
    Var(pre) over per-user activity in the pre-period (first half of
    the fixture window) vs the post-period, and the share of metric
    variance the adjustment removes — the number that tells an
    experimenter how much smaller their sample can be. Like the
    z-test and delta-method CI beside it, everything reduces to
    exact integer moments over one user-keyed agg, so θ and the
    variance-reduction percentage are engine- and partitioning-
    identical; degenerate variance (constant pre or post) yields no
    row. One scan + a 1-row reduce at any scale."""
    ev = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-15 00:00:00").cast("timestamp")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < cut, 1).otherwise(0))
        .cast("bigint")
        .alias("pre"),
        F.sum(F.when(F.col("ts") >= cut, 1).otherwise(0))
        .cast("bigint")
        .alias("post"),
    )
    m = per_user.agg(
        F.count("*").alias("n"),
        F.sum("pre").cast("bigint").alias("sp"),
        F.sum("post").cast("bigint").alias("sq"),
        F.sum(F.col("pre").cast("decimal(19,0)") * F.col("pre")).alias("spp"),
        F.sum(F.col("post").cast("decimal(19,0)") * F.col("post")).alias("sqq"),
        F.sum(F.col("pre").cast("decimal(19,0)") * F.col("post")).alias("spq"),
    ).filter(
        (F.col("n") >= 2)
        & (F.col("spp") * F.col("n") > F.col("sp").cast("decimal(19,0)") * F.col("sp"))
        & (F.col("sqq") * F.col("n") > F.col("sq").cast("decimal(19,0)") * F.col("sq"))
    )
    nd = F.col("n")
    var_pre = (F.col("spp") - F.col("sp").cast("double") * F.col("sp") / nd) / (
        nd - 1
    )
    var_post = (F.col("sqq") - F.col("sq").cast("double") * F.col("sq") / nd) / (
        nd - 1
    )
    cov = (F.col("spq") - F.col("sp").cast("double") * F.col("sq") / nd) / (nd - 1)
    theta = cov / var_pre
    return m.select(
        "n",
        F.round(theta, 6).alias("theta"),
        F.round(var_post, 6).alias("var_post"),
        F.round(var_post - theta * theta * var_pre, 6).alias("var_adjusted"),
        F.round(100.0 * theta * theta * var_pre / var_post, 6).alias(
            "variance_reduction_pct"
        ),
    )


@register(
    "events_lifecycle_states",
    oracle="""
    WITH act AS (
      SELECT DISTINCT CAST(DATE_TRUNC('day', ts) AS DATE) AS day, user_id
      FROM events),
    st AS (
      SELECT day,
             CASE WHEN prev IS NULL THEN 'new'
                  WHEN prev = day - 1 THEN 'retained'
                  ELSE 'resurrected' END AS state
      FROM (SELECT day, user_id,
                   LAG(day) OVER (PARTITION BY user_id ORDER BY day) AS prev
            FROM act))
    SELECT day,
           CAST(SUM(CASE WHEN state = 'new' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_new,
           CAST(SUM(CASE WHEN state = 'retained' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_retained,
           CAST(SUM(CASE WHEN state = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_resurrected,
           COUNT(*) AS n_active
    FROM st
    GROUP BY day
    """,
)
def events_lifecycle_states(spark, sf_dir):
    """Growth accounting — the DAU quality report behind every
    'active users' dashboard: each user-day is classified as NEW
    (first-ever active day), RETAINED (also active the previous
    day), or RESURRECTED (returning after a gap), and the daily
    report counts each state. Complements `events_retention_daily`
    (one cohort's decay curve) and `events_dau_wau` (volume only) by
    decomposing WHERE each day's actives came from. Scale shape:
    per-user-day dedup is a partial-agg-friendly groupBy; the state
    classification is one lag() over (user_id) — the per-user
    active-day list is at most days-of-history long, so no partition
    skew regardless of user count; final daily rollup is a tiny hash
    agg. Three keyed shuffles, all on bounded keys, no joins.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    act = ev.select(
        F.to_date(F.date_trunc("day", "ts")).alias("day"), "user_id"
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    prev = F.lag("day").over(w)
    st = act.select(
        "day",
        F.when(prev.isNull(), "new")
        .when(F.date_add(prev, 1) == F.col("day"), "retained")
        .otherwise("resurrected")
        .alias("state"),
    )
    one = lambda s: F.sum(F.when(F.col("state") == s, 1).otherwise(0)).cast("bigint")  # noqa: E731
    return st.groupBy("day").agg(
        one("new").alias("n_new"),
        one("retained").alias("n_retained"),
        one("resurrected").alias("n_resurrected"),
        F.count("*").alias("n_active"),
    )


@register(
    "agg_quantile_exact_global",
    oracle="""
    WITH ranked AS (
      SELECT l_extendedprice AS value,
             ROW_NUMBER() OVER (ORDER BY l_extendedprice, l_orderkey,
                                         l_linenumber) AS rank_at,
             COUNT(*) OVER () AS n
      FROM lineitem),
    p AS (SELECT CAST(UNNEST([0.5, 0.9, 0.99]) AS DOUBLE) AS pct)
    SELECT p.pct, ranked.value, ranked.rank_at, ranked.n
    FROM p JOIN ranked ON ranked.rank_at = CAST(CEIL(p.pct * ranked.n) AS BIGINT)
    """,
)
def agg_quantile_exact_global(spark, sf_dir):
    """EXACT global quantiles (p50/p90/p99) of a fact-table measure —
    the complement of `agg_percentile_approx`: approximate sketches
    answer dashboards, but billing cutoffs and SLO thresholds need
    the exact order statistic. The naive exact form is a global sort
    (single-partition window) — fatal at 100 TB.

    Scale shape (restructured in the r7 ×128 audit): the previous
    form ran the distributed rank kernel over every ROW, whose
    localCheckpoint materializes the whole table — measured
    super-linear at ×128 (41 s shared-session; OOM standalone,
    UNABLE_TO_ACQUIRE_MEMORY in the checkpoint stage at 76.8M
    rows). The order statistic only needs the VALUE DISTRIBUTION:
    hash-agg to the distinct-value grid first (map-side combine —
    the shuffle and the kernel's materialization carry |distinct
    values|, not rows), distributed prefix-sum of the counts over
    the value order, then the quantile row is the unique grid row
    whose count interval straddles ceil(p*n), selected by a 3-row
    broadcast join. Because a value's rank interval covers all its
    tied row-level ranks, the selected VALUE — and the reported
    rank_at = ceil(p*n), n — are identical to the row-level form;
    the oracle keeps the row-level ROW_NUMBER restatement as the
    independent derivation.
    """
    from .ranking import with_global_prefix_sum

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("value")
    )
    grid = li.groupBy("value").agg(F.count(F.lit(1)).alias("cnt"))
    g = with_global_prefix_sum(grid, ["value"], "cnt", "cum")
    tot = g.agg(F.sum("cnt").cast("bigint").alias("n"))
    pcts = spark.range(1).select(
        F.explode(F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99))).alias("pct")
    )
    targets = pcts.crossJoin(F.broadcast(tot)).select(  # bcast: scalar
        "pct", "n", F.ceil(F.col("pct") * F.col("n")).alias("rank_at")
    )
    return (
        g.join(
            F.broadcast(targets),  # bcast: grid
            (F.col("cum") - F.col("cnt") < F.col("rank_at"))
            & (F.col("rank_at") <= F.col("cum")),
        )
        .select("pct", "value", F.col("rank_at").cast("bigint").alias("rank_at"), "n")
    )


@register(
    "events_kstest_arms",
    oracle=f"""
    WITH per_user AS (
      SELECT {_D_ABH} % 2 AS arm,
             CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
                   THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT) END), 0)
                  AS BIGINT) AS metric
      FROM events GROUP BY user_id),
    counts AS (
      SELECT metric,
             CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
             CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
      FROM per_user GROUP BY metric),
    cum AS (
      SELECT metric,
             SUM(ca) OVER (ORDER BY metric) AS pa,
             SUM(cb) OVER (ORDER BY metric) AS pb
      FROM counts),
    tot AS (
      SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      FROM per_user),
    d AS (
      SELECT CAST(MAX(ABS(pa * tot.n_b - pb * tot.n_a)) AS BIGINT) AS d_num
      FROM cum, tot)
    SELECT tot.n_a, tot.n_b, d.d_num,
           ROUND(d.d_num * 1.0 / (tot.n_a * tot.n_b), 6) AS d_stat,
           (d.d_num * 1.0 / (tot.n_a * tot.n_b) >
            1.358 * SQRT((tot.n_a + tot.n_b) * 1.0 / (tot.n_a * tot.n_b)))
             AS significant
    FROM tot, d
    """,
)
def events_kstest_arms(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov test between the hash-assigned
    experiment arms — the distribution-level readout the z-test
    (`events_abtest_ztest`) can't give: does the WHOLE per-user
    revenue distribution differ, not just its mean? Exactness
    discipline: the KS statistic sup|F_a - F_b| is computed entirely
    in integers — per-user metrics are exact cents, the two
    empirical CDFs are integer prefix sums over the distinct-value
    frame (the distributed prefix-sum kernel, operators/ranking.py —
    no single-partition cumulative window over the value domain),
    and the D numerator is max|pa*n_b - pb*n_a| (cross-multiplied,
    BIGINT) so no float enters until the final division and the
    1.358*sqrt critical-value comparison (both single deterministic
    expressions over the same integers in both engines). Scale: one
    user-keyed agg, one distinct-value agg, two chained prefix-sum
    passes, a 1-row reduce; int64 headroom documented — pa*n_b tops
    out near 1e18 at ~1e9 users/arm, the re-scaling point.
    """
    from .ranking import with_global_prefix_sum

    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + 0.5).cast("bigint")
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("event_type") == "purchase", cents)), F.lit(0)
            )
            .cast("bigint")
            .alias("metric")
        )
        .select((F.expr(_ABH) % 2).alias("arm"), "metric")
    )
    counts = per_user.groupBy("metric").agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("bigint").alias("ca"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("bigint").alias("cb"),
    )
    cum = with_global_prefix_sum(counts, ["metric"], "ca", "pa")
    cum = with_global_prefix_sum(cum, ["metric"], "cb", "pb")
    tot = per_user.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("bigint").alias("n_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("bigint").alias("n_b"),
    )
    d = (
        cum.crossJoin(F.broadcast(tot))  # bcast: scalar
        .select(
            F.abs(
                F.col("pa").cast("decimal(19,0)") * F.col("n_b")
                - F.col("pb").cast("decimal(19,0)") * F.col("n_a")
            ).alias("diff")
        )
        .agg(F.max("diff").cast("bigint").alias("d_num"))
    )
    d_stat = F.col("d_num") / (F.col("n_a").cast("double") * F.col("n_b"))
    crit = 1.358 * F.sqrt(
        (F.col("n_a") + F.col("n_b"))
        / (F.col("n_a").cast("double") * F.col("n_b"))
    )
    return (
        tot.crossJoin(d)
        .select(
            "n_a",
            "n_b",
            "d_num",
            F.round(d_stat, 6).alias("d_stat"),
            (d_stat > crit).alias("significant"),
        )
    )


def _pct_grid_snippets(
    m: int,
    d: int,
    n: str,
    n_agg: str,
    cum: str,
    cnt: str,
    v: str,
    divop: str = "div",
    rounded: bool = True,
):
    """Shared per-quantile grid-interpolation snippets (IDENTICAL
    text in the Spark expressions and the DuckDB oracle — bit-exact
    by construction): for q = m/d, the 0-based index into the sorted
    values is q*(n-1) = (m*(n-1))/d, held EXACTLY as integer div/mod
    (no float floor seam): lo/hi are the 1-based ranks of the two
    straddling order statistics, frac their exact-rational weight.
    ``n`` is the per-row group total (used INSIDE the MAX aggregates)
    and ``n_agg`` its aggregated form (used in the post-aggregation
    frac term — n is constant per group, so MAX(n) == n).
    ``divop`` is the only engine-specific spelling (Spark ``div``,
    DuckDB ``//``) — it is exact integer arithmetic, so the spelling
    difference carries no IEEE risk; every FLOAT expression stays
    textually identical."""
    idx = f"({m} * ({n} - 1))"
    lo1 = f"({idx} {divop} {d} + 1)"
    hi1 = f"({idx} {divop} {d} + 1 + (CASE WHEN {idx} % {d} > 0 THEN 1 ELSE 0 END))"
    frac = f"(({m} * ({n_agg} - 1)) % {d}) / CAST({d} AS DOUBLE)"
    x_lo = f"MAX(CASE WHEN {cum} - {cnt} < {lo1} AND {lo1} <= {cum} THEN {v} END)"
    x_hi = f"MAX(CASE WHEN {cum} - {cnt} < {hi1} AND {hi1} <= {cum} THEN {v} END)"
    interp = f"{x_lo} + ({x_hi} - {x_lo}) * ({frac})"
    # rounded=False callers consume the raw interpolated double (e.g.
    # FLOOR for integer split keys); the interpolation itself stays
    # the identical expression text either way.
    return f"ROUND({interp}, 6)" if rounded else interp


_PCTG_QS = ((1, 2, "p50"), (19, 20, "p95"), (99, 100, "p99"))


def _pctg_oracle() -> str:
    exprs = ",\n           ".join(
        _pct_grid_snippets(m, d, "n", "MAX(n)", "cum", "cnt", "v", "//")
        + f" AS {name}"
        for m, d, name in _PCTG_QS
    )
    return f"""
    WITH g AS (
      SELECT l_returnflag, l_linestatus,
             CAST(l_extendedprice AS DOUBLE) AS v,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY l_returnflag, l_linestatus, CAST(l_extendedprice AS DOUBLE)
    ), c AS (
      SELECT l_returnflag, l_linestatus, v, cnt,
             CAST(SUM(cnt) OVER (PARTITION BY l_returnflag, l_linestatus
                                 ORDER BY v ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS cum,
             CAST(SUM(cnt) OVER (PARTITION BY l_returnflag, l_linestatus)
                  AS BIGINT) AS n
      FROM g
    )
    SELECT l_returnflag, l_linestatus,
           {exprs},
           CAST(MAX(n) AS BIGINT) AS n
    FROM c GROUP BY l_returnflag, l_linestatus
    """


@register("agg_percentile_exact_groups", oracle=_pctg_oracle())
def agg_percentile_exact_groups(spark, sf_dir):
    """EXACT per-group percentiles (p50/p95/p99, textbook linear
    interpolation at index q*(n-1)) — the per-group complement of
    `agg_quantile_exact_global`, restated on the same VALUE GRID
    (r8). The original used Spark's exact `percentile` aggregate,
    whose buffer holds every value of a group in one task — and the
    group key here is the 6-cell flag/status domain, so the buffer
    grows with the fact table: it OOM-killed the 8 g JVM at the x32
    census (reproducibly, on fresh sessions — SCALE.md r8). The grid
    restatement is the escape hatch this file already uses for the
    global quantile: hash-aggregate to the (flag, status, price)
    distinct-value grid (map-side combined, replica-invariant,
    price-domain-bounded), cumulative counts over the grid, then
    each quantile is the pair of straddling order statistics read
    off the cumulative intervals. The only windows run over the
    Aggregate-reduced grid; no task ever materializes a group's raw
    values.

    Determinism: the index q*(n-1) is held as EXACT integer div/mod
    (m*(n-1) div d / mod d) — no float-floor seam — and the
    interpolation x_lo + (x_hi - x_lo) * frac is the IDENTICAL
    expression text in both engines (shared snippet builder), so the
    doubles are bit-equal before the ROUND(6)."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    g = (
        li.select(
            "l_returnflag",
            "l_linestatus",
            F.col("l_extendedprice").cast("double").alias("v"),
        )
        .groupBy("l_returnflag", "l_linestatus", "v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    w_grp = Window.partitionBy("l_returnflag", "l_linestatus")
    w_cum = w_grp.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    c = g.select(
        "l_returnflag",
        "l_linestatus",
        "v",
        "cnt",
        F.sum("cnt").over(w_cum).cast("bigint").alias("cum"),
        F.sum("cnt").over(
            w_grp.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .cast("bigint")
        .alias("n"),
    )
    aggs = [
        F.expr(
            _pct_grid_snippets(m, d, "n", "MAX(n)", "cum", "cnt", "v")
        ).alias(name)
        for m, d, name in _PCTG_QS
    ]
    return c.groupBy("l_returnflag", "l_linestatus").agg(
        *aggs, F.max("n").cast("bigint").alias("n")
    )


@register(
    "table_expectations_report",
    oracle="""
    WITH m AS (
      SELECT COUNT(*) AS n,
             COUNT(*) - COUNT(o_custkey) AS custkey_nulls,
             COUNT(DISTINCT o_orderkey) AS orderkey_distinct,
             CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS nonpositive_price,
             CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1992-01-01'
                             OR o_orderdate >= TIMESTAMP '1999-01-01'
                           THEN 1 ELSE 0 END) AS BIGINT) AS date_out_of_range,
             CAST(SUM(CASE WHEN o_orderpriority NOT IN
                       ('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW')
                           THEN 1 ELSE 0 END) AS BIGINT) AS bad_priority
      FROM orders)
    SELECT e.expectation, e.violations, e.violations = 0 AS passed
    FROM m, LATERAL (VALUES
      ('o_custkey_not_null', m.custkey_nulls),
      ('o_orderkey_unique', m.n - m.orderkey_distinct),
      ('o_totalprice_positive', m.nonpositive_price),
      ('o_orderdate_in_range', m.date_out_of_range),
      ('o_orderpriority_in_domain', m.bad_priority)
    ) AS e(expectation, violations)
    """,
)
def table_expectations_report(spark, sf_dir):
    """Data-contract gate — the expectations suite an ingest job runs
    before publishing a table (the pattern tools like Great
    Expectations/dbt tests ship): not-null, uniqueness, range, and
    domain checks, each reported as (expectation, violation count,
    passed). ONE scan computes every check in a single partial+final
    aggregate (uniqueness = rows minus distinct keys, the only
    distinct agg); stack() pivots the 1-row measure block into one
    row per expectation — the same one-pass shape as
    `table_profile_stats`, but with verdicts instead of stats. At
    100 TB the gate costs exactly one table scan regardless of how
    many expectations it carries, and a failing row carries the
    violation count the on-call needs first.
    """
    o = load_table(spark, sf_dir, "orders")
    m = o.agg(
        F.count("*").alias("n"),
        (F.count("*") - F.count("o_custkey")).alias("custkey_nulls"),
        F.countDistinct("o_orderkey").alias("orderkey_distinct"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0))
        .cast("bigint")
        .alias("nonpositive_price"),
        F.sum(
            F.when(
                (F.col("o_orderdate") < F.lit("1992-01-01").cast("timestamp"))
                | (F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("date_out_of_range"),
        F.sum(
            F.when(
                ~F.col("o_orderpriority").isin(
                    "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"
                ),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("bad_priority"),
    )
    rep = m.selectExpr(
        "stack(5,"
        " 'o_custkey_not_null', custkey_nulls,"
        " 'o_orderkey_unique', n - orderkey_distinct,"
        " 'o_totalprice_positive', nonpositive_price,"
        " 'o_orderdate_in_range', date_out_of_range,"
        " 'o_orderpriority_in_domain', bad_priority"
        ") AS (expectation, violations)"
    )
    return rep.select(
        "expectation", "violations", (F.col("violations") == 0).alias("passed")
    )


@register(
    "events_power_analysis_mde",
    oracle=f"""
    WITH per_user AS (
      SELECT {_D_ABH} % 2 AS arm,
             CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                       > 13 THEN 1 ELSE 0 END AS converted
      FROM events GROUP BY user_id),
    arms AS (
      SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             CAST(SUM(CASE WHEN arm = 0 THEN converted ELSE 0 END) AS BIGINT)
               AS conv_a
      FROM per_user)
    SELECT n_a, n_b,
           ROUND(conv_a * 1.0 / NULLIF(n_a, 0), 6) AS base_rate,
           ROUND((1.959964 + 0.841621) *
                 SQRT(2.0 * (conv_a * 1.0 / NULLIF(n_a, 0))
                      * (1 - conv_a * 1.0 / NULLIF(n_a, 0))
                      / NULLIF(LEAST(n_a, n_b), 0)), 6) AS mde_abs,
           ROUND((1.959964 + 0.841621) *
                 SQRT(2.0 * (conv_a * 1.0 / NULLIF(n_a, 0))
                      * (1 - conv_a * 1.0 / NULLIF(n_a, 0))
                      / NULLIF(LEAST(n_a, n_b), 0))
                 / NULLIF(conv_a * 1.0 / NULLIF(n_a, 0), 0), 6) AS mde_rel,
           CAST(CEIL(POWER(1.959964 + 0.841621, 2) * 2.0
                     * (conv_a * 1.0 / NULLIF(n_a, 0))
                     * (1 - conv_a * 1.0 / NULLIF(n_a, 0))
                     / NULLIF(POWER(0.1 * conv_a * 1.0 / NULLIF(n_a, 0), 2), 0))
                AS BIGINT)
             AS n_required_10pct
    FROM arms
    """,
)
def events_power_analysis_mde(spark, sf_dir):
    """Experiment POWER analysis — the question asked before the
    z-test is ever run: with the arms we have, what's the smallest
    absolute/relative conversion lift this experiment can detect at
    alpha=0.05 / 80% power, and how many users per arm would a 10%
    relative lift need? Closed-form two-proportion formulas over the
    same hash-assigned arms as `events_abtest_ztest` (control rate
    from arm 0; conservative n = smaller arm). Everything reduces to
    three exact integers before any float; the z-quantiles are
    shared literals, every derived float is one deterministic
    expression, ROUND(6) for display. Completes the experimentation
    suite: power -> z-test -> KS -> delta-CI -> CUPED. One user-keyed
    agg + a 1-row reduce — scanning 100 TB for a sizing readout costs
    one pass."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.when(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)) > 13, 1
        )
        .otherwise(0)
        .alias("converted")
    ).select((F.expr(_ABH) % 2).alias("arm"), "converted")
    arms = per_user.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("bigint").alias("n_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("bigint").alias("n_b"),
        F.sum(F.when(F.col("arm") == 0, F.col("converted")).otherwise(0))
        .cast("bigint")
        .alias("conv_a"),
    )
    # every denominator rides NULLIF: DuckDB maps x/0 to NULL while
    # Spark's ANSI mode throws DIVIDE_BY_ZERO — on a thin fixture
    # with zero conversions (or an empty arm) the query must emit
    # the oracle's NULLs, not crash (r9 2%-thin drill)
    z = 1.959964 + 0.841621
    p = F.col("conv_a") * 1.0 / F.nullif(F.col("n_a"), F.lit(0))
    mde_abs = z * F.sqrt(
        2.0 * p * (1 - p) / F.nullif(F.least("n_a", "n_b"), F.lit(0))
    )
    n_req = F.ceil(
        F.lit(z) * z * 2.0 * p * (1 - p)
        / F.nullif(F.pow(0.1 * p, F.lit(2)), F.lit(0.0))
    ).cast("bigint")
    return arms.select(
        "n_a",
        "n_b",
        F.round(p, 6).alias("base_rate"),
        F.round(mde_abs, 6).alias("mde_abs"),
        F.round(mde_abs / F.nullif(p, F.lit(0.0)), 6).alias("mde_rel"),
        n_req.alias("n_required_10pct"),
    )


_BOOT_B = 128  # resamples
# Poisson(1) CDF quantized to 1/1000: P(X<=k) ~ .368 .736 .920 .981 .996
_BOOT_W = "CASE WHEN k < 368 THEN 0 WHEN k < 736 THEN 1 WHEN k < 920 THEN 2 WHEN k < 981 THEN 3 WHEN k < 996 THEN 4 ELSE 5 END"


@register(
    "agg_bootstrap_ci_mean",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
                   THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT) END), 0)
                  AS BIGINT) AS cents
      FROM events GROUP BY user_id),
    pt AS (SELECT SUM(cents) * 1.0 / COUNT(*) AS point_mean FROM per_user),
    weighted AS (
      SELECT b.b, {_BOOT_W.replace('k', "({h} % 1000)")} AS w, u.cents
      FROM per_user u, range(0, {_BOOT_B}) b(b)),
    means AS (
      SELECT b, SUM(w * cents) * 1.0 / SUM(w) AS m
      FROM weighted GROUP BY b HAVING SUM(w) > 0),
    ranked AS (
      SELECT m, ROW_NUMBER() OVER (ORDER BY m) AS r, COUNT(*) OVER () AS nb
      FROM means)
    SELECT CAST({_BOOT_B} AS INT) AS b_resamples,
           ROUND((SELECT point_mean FROM pt) / 100.0, 6) AS point_mean,
           ROUND(MIN(CASE WHEN r = CAST(CEIL(0.025 * nb) AS BIGINT)
                          THEN m END) / 100.0, 6) AS ci_lo,
           ROUND(MIN(CASE WHEN r = CAST(CEIL(0.975 * nb) AS BIGINT)
                          THEN m END) / 100.0, 6) AS ci_hi
    FROM ranked
    """.replace(
        "{h}",
        "CAST('0x' || substring(md5('boot|' || CAST(b.b AS VARCHAR) || '|' "
        "|| CAST(u.user_id AS VARCHAR)), 1, 15) AS BIGINT)",
    ),
)
def agg_bootstrap_ci_mean(spark, sf_dir):
    """Bootstrap confidence interval for mean revenue per user —
    WITHOUT randomness: the Poisson bootstrap (the standard
    big-data resampling scheme — each unit's per-resample weight is
    Poisson(1), so no resample ever needs a global shuffle), with
    the Poisson draw replaced by a portable-hash quantile lookup
    (md5-h60 of (resample, user) against the quantized Poisson CDF).
    Same draws on every engine/run/partitioning — a bootstrap that
    hash-grades. Exactness: weighted sums are BIGINT cents, each
    resample mean is one division, and the percentile CI is exact
    rank selection over the B=128-row means frame (the unpartitioned
    window sits above an Aggregate — metadata-scale). Scale shape:
    one user-keyed agg, a B-way explode feeding a partial+final agg
    on b (the explode multiplies the USER frame, not raw events;
    at extreme user counts sub-sample users first or fold b into
    the per-user projection as B weight columns)."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + 0.5).cast("bigint")
    per_user = ev.groupBy("user_id").agg(
        F.coalesce(F.sum(F.when(F.col("event_type") == "purchase", cents)), F.lit(0))
        .cast("bigint")
        .alias("cents")
    )
    pt = per_user.agg(
        (F.sum("cents") * 1.0 / F.count("*")).alias("point_mean")
    )
    h = _h_abh("concat('boot|', cast(b AS string), '|', cast(user_id AS string))")
    weighted = per_user.select(
        "user_id",
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
    ).selectExpr("b", "cents", f"{_BOOT_W.replace('k', f'(({h}) % 1000)')} AS w")
    from pyspark.sql import Window

    means = (
        weighted.groupBy("b")
        .agg(
            F.sum(F.col("w") * F.col("cents")).alias("sw"),
            F.sum("w").alias("tw"),
        )
        .filter(F.col("tw") > 0)
        .select((F.col("sw") * 1.0 / F.col("tw")).alias("m"))
    )
    w_all = Window.partitionBy()
    ranked = means.select(
        "m",
        F.row_number().over(Window.orderBy("m")).alias("r"),
        F.count("*").over(w_all).alias("nb"),
    )
    sel = ranked.agg(
        F.min(
            F.when(F.col("r") == F.ceil(0.025 * F.col("nb")).cast("int"), F.col("m"))
        ).alias("lo"),
        F.min(
            F.when(F.col("r") == F.ceil(0.975 * F.col("nb")).cast("int"), F.col("m"))
        ).alias("hi"),
    )
    return sel.crossJoin(F.broadcast(pt)).select(  # bcast: scalar
        F.lit(_BOOT_B).alias("b_resamples"),
        F.round(F.col("point_mean") / 100.0, 6).alias("point_mean"),
        F.round(F.col("lo") / 100.0, 6).alias("ci_lo"),
        F.round(F.col("hi") / 100.0, 6).alias("ci_hi"),
    )


@register(
    "events_mannwhitney_arms",
    oracle=f"""
    WITH per_user AS (
      SELECT {_D_ABH} % 2 AS arm,
             CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
                   THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT) END), 0)
                  AS BIGINT) AS metric
      FROM events GROUP BY user_id),
    counts AS (
      SELECT metric,
             CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
             CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
      FROM per_user GROUP BY metric),
    pre AS (
      SELECT metric, ca, cb,
             CAST(COALESCE(SUM(ca + cb) OVER (ORDER BY metric
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS below
      FROM counts),
    tot AS (
      SELECT CAST(SUM(ca) AS BIGINT) AS n_a, CAST(SUM(cb) AS BIGINT) AS n_b
      FROM counts),
    acc AS (
      SELECT SUM(ca * (2 * below + (ca + cb) + 1)) AS r2_a,
             SUM((ca + cb) * (ca + cb) * (ca + cb) - (ca + cb)) AS tie_sum
      FROM pre)
    SELECT tot.n_a, tot.n_b,
           CAST(acc.r2_a - tot.n_a * (tot.n_a + 1) AS BIGINT) AS u2_a,
           ROUND((acc.r2_a - tot.n_a * (tot.n_a + 1) - tot.n_a * tot.n_b) /
                 (2 * SQRT(tot.n_a * tot.n_b / 12.0 *
                           ((tot.n_a + tot.n_b + 1) - acc.tie_sum * 1.0 /
                            ((tot.n_a + tot.n_b) * (tot.n_a + tot.n_b - 1.0))))),
                 6) AS z,
           (ABS((acc.r2_a - tot.n_a * (tot.n_a + 1) - tot.n_a * tot.n_b) /
                (2 * SQRT(tot.n_a * tot.n_b / 12.0 *
                          ((tot.n_a + tot.n_b + 1) - acc.tie_sum * 1.0 /
                           ((tot.n_a + tot.n_b) * (tot.n_a + tot.n_b - 1.0))))))
            > 1.959964) AS significant
    FROM tot, acc
    """,
)
def events_mannwhitney_arms(spark, sf_dir):
    """Mann-Whitney U (Wilcoxon rank-sum) between the experiment
    arms — the NONPARAMETRIC significance test a skewed revenue
    metric actually calls for (the t/z-test assumes a mean that
    heavy tails distort; rank tests don't). Exactness discipline:
    tied observations get average ranks, and 2x-scaling keeps the
    whole rank sum in integers — per distinct metric value the tied
    group contributes ca*(2*below + t + 1) to 2*R_a (below/t are
    exact BIGINT prefix/group counts from the same distinct-value
    frame as the KS test, cumulated on the prefix-sum kernel) — so
    U, its null mean, and the tie-correction sum Σ(t³-t) are all
    integers; the normal-approximation z is ONE deterministic float
    expression over them. Completes the experimentation suite's
    robustness axis: z-test (means) → KS (distribution) → U (ranks)
    → bootstrap (CI) → power (sizing). Same scale shape as the KS
    test: user agg, distinct-value agg, prefix sum, 1-row reduce.
    """
    from .ranking import with_global_prefix_sum

    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + 0.5).cast("bigint")
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("event_type") == "purchase", cents)), F.lit(0)
            )
            .cast("bigint")
            .alias("metric")
        )
        .select((F.expr(_ABH) % 2).alias("arm"), "metric")
    )
    counts = per_user.groupBy("metric").agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("bigint").alias("ca"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("bigint").alias("cb"),
    ).withColumn("t", F.col("ca") + F.col("cb"))
    pre = with_global_prefix_sum(counts, ["metric"], "t", "cum").withColumn(
        "below", F.col("cum") - F.col("t")
    )
    acc = pre.agg(
        F.sum(F.col("ca").cast("decimal(19,0)") * (2 * F.col("below") + F.col("t") + 1))
        .alias("r2_a"),
        F.sum(F.col("t").cast("decimal(19,0)") * F.col("t") * F.col("t") - F.col("t"))
        .alias("tie_sum"),
        F.sum("ca").cast("bigint").alias("n_a"),
        F.sum("cb").cast("bigint").alias("n_b"),
    )
    na, nb = F.col("n_a"), F.col("n_b")
    n = na + nb
    u2 = F.col("r2_a") - na.cast("decimal(19,0)") * (na + 1)
    var = na.cast("double") * nb / 12.0 * (
        (n + 1) - F.col("tie_sum").cast("double") / (n * (n - 1.0))
    )
    z = (u2 - na.cast("decimal(19,0)") * nb).cast("double") / (2 * F.sqrt(var))
    return acc.select(
        "n_a",
        "n_b",
        u2.cast("bigint").alias("u2_a"),
        F.round(z, 6).alias("z"),
        (F.abs(z) > 1.959964).alias("significant"),
    )


@register(
    "agg_chisq_independence",
    oracle=f"""
    WITH cells AS (
      SELECT {_D_ABH} % 2 AS arm, event_type,
             COUNT(*) AS o
      FROM events GROUP BY 1, 2),
    margins AS (
      SELECT c.arm, c.event_type, c.o,
             SUM(c.o) OVER (PARTITION BY c.arm) AS row_tot,
             SUM(c.o) OVER (PARTITION BY c.event_type) AS col_tot,
             SUM(c.o) OVER () AS n
      FROM cells c)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(MIN(n) AS BIGINT) AS n_events,
           ROUND(SUM(POWER(o - row_tot * col_tot * 1.0 / n, 2)
                     / (row_tot * col_tot * 1.0 / n)), 6) AS chi2,
           CAST((COUNT(DISTINCT arm) - 1) * (COUNT(DISTINCT event_type) - 1)
                AS BIGINT) AS dof,
           (SUM(POWER(o - row_tot * col_tot * 1.0 / n, 2)
                / (row_tot * col_tot * 1.0 / n)) > 9.488) AS significant
    FROM margins
    """,
)
def agg_chisq_independence(spark, sf_dir):
    """Chi-square test of independence over the (experiment arm x
    event type) contingency table — does the treatment change WHAT
    users do, not just how much? The categorical complement of the
    mean/distribution/rank tests: observed cell counts and both
    margins are exact integers (the margins ride three windows over
    the 10-row aggregated contingency frame — metadata, not data),
    expected counts and the chi2 sum are one deterministic float
    expression, and the 5%-level verdict compares against the
    chi2(dof=4) critical value 9.488 as a shared literal. Scale: one
    partial+final hash agg over the scan collapses 100 TB of events
    into the tiny contingency frame; everything after is free.
    """
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    cells = ev.groupBy(
        (F.expr(_ABH) % 2).alias("arm"), "event_type"
    ).agg(F.count("*").alias("o"))
    m = cells.select(
        "arm",
        "event_type",
        "o",
        F.sum("o").over(Window.partitionBy("arm")).alias("row_tot"),
        F.sum("o").over(Window.partitionBy("event_type")).alias("col_tot"),
        F.sum("o").over(Window.partitionBy()).alias("n"),
    )
    e = F.col("row_tot").cast("double") * F.col("col_tot") / F.col("n")
    chi2 = F.sum(F.pow(F.col("o") - e, F.lit(2)) / e)
    return m.agg(
        F.count("*").cast("bigint").alias("n_cells"),
        F.min("n").cast("bigint").alias("n_events"),
        F.round(chi2, 6).alias("chi2"),
        ((F.countDistinct("arm") - 1) * (F.countDistinct("event_type") - 1))
        .cast("bigint")
        .alias("dof"),
        (chi2 > 9.488).alias("significant"),
    )


# Shared survival-analysis base (events_kaplan_meier +
# events_logrank_test): per (arm, day) event/censor counts. Subject =
# user with a signup; origin = first signup; event = first purchase
# strictly after origin; right-censored at the study end (global max
# ts). All time math in exact integer microseconds; day index
# floor(delta_us / day_us) is exact in double below 2^53.
_D_SURV_DAILY = """
    ev AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
    origins AS (
      SELECT user_id, MIN(t) AS t0 FROM ev WHERE event_type = 'signup'
      GROUP BY user_id),
    firstp AS (
      SELECT e.user_id AS uid, MIN(e.t) AS te
      FROM ev e JOIN origins o ON e.user_id = o.user_id
      WHERE e.event_type = 'purchase' AND e.t > o.t0
      GROUP BY e.user_id),
    study AS (SELECT MAX(t) AS t_end FROM ev),
    subj AS (
      SELECT {H} % 2 AS arm,
             CASE WHEN f.te IS NOT NULL THEN 1 ELSE 0 END AS observed,
             CAST(FLOOR((COALESCE(f.te, s.t_end) - o.t0) / 86400000000.0)
                  AS BIGINT) AS day
      FROM origins o LEFT JOIN firstp f ON o.user_id = f.uid
      CROSS JOIN study s),
    daily AS (
      SELECT arm, day,
             CAST(SUM(observed) AS BIGINT) AS d,
             CAST(SUM(1 - observed) AS BIGINT) AS c
      FROM subj GROUP BY arm, day)
"""


def _survival_daily(spark, sf_dir):
    """Spark twin of :data:`_D_SURV_DAILY` — (arm, day, d, c)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("t")
    )
    origins = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("t").alias("t0"))
    )
    firstp = (
        ev.filter(F.col("event_type") == "purchase")
        .join(origins, "user_id")
        .filter(F.col("t") > F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("t").alias("te"))
    )
    study = ev.agg(F.max("t").alias("t_end"))
    subj = (
        origins.join(firstp, "user_id", "left")
        .crossJoin(F.broadcast(study))  # bcast: scalar
        .select(
            (F.expr(_ABH) % 2).alias("arm"),
            F.col("te").isNotNull().cast("int").alias("observed"),
            F.floor(
                (F.coalesce("te", "t_end") - F.col("t0")) / F.lit(86400000000.0)
            )
            .cast("bigint")
            .alias("day"),
        )
    )
    return subj.groupBy("arm", "day").agg(
        F.sum("observed").cast("bigint").alias("d"),
        F.sum(1 - F.col("observed")).cast("bigint").alias("c"),
    )


@register(
    "events_kaplan_meier",
    oracle=f"""
    WITH {{DAILY}},
    km AS (
      SELECT arm, day, d,
             CAST(SUM(d + c) OVER (PARTITION BY arm)
                  - COALESCE(SUM(d + c) OVER (PARTITION BY arm ORDER BY day
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS n_risk
      FROM daily),
    km2 AS (
      SELECT arm, day, d, n_risk,
             SUM(CASE WHEN d > 0 AND d < n_risk
                      THEN LN((n_risk - d) * 1.0 / n_risk) ELSE 0.0 END)
               OVER (PARTITION BY arm ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lnsum,
             CAST(SUM(CASE WHEN d >= n_risk THEN 1 ELSE 0 END)
               OVER (PARTITION BY arm ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS died_out
      FROM km)
    SELECT arm, day, n_risk, d AS n_events,
           CASE WHEN died_out > 0 THEN 0.0
                ELSE (ROUND(EXP(lnsum), 6) + 0.0) END AS survival
    FROM km2 WHERE d > 0
    """.replace("{DAILY}", _D_SURV_DAILY).replace("{H}", _D_ABH),
)
def events_kaplan_meier(spark, sf_dir):
    """Kaplan-Meier survival curve per experiment arm — time from
    first signup to first subsequent purchase, right-censored at the
    study end (global max ts). THE time-to-event readout the z-test
    family (events_abtest_ztest, kstest, time_to_convert_curve)
    can't give: it uses censored subjects correctly instead of
    dropping them.

    Estimator: S(t) = prod over event days d_j <= t of
    (1 - d_j / n_j), with n_j = subjects still at risk entering day
    j (neither converted nor censored earlier). Determinism: all
    counts are exact integers built from integer-microsecond time
    math (unix_micros/epoch_us); day index is floor(delta_us / day_us)
    — exact in double below 2^53. The product is computed as
    EXP(running SUM(LN(term))) over at most ~30 per-arm day rows;
    rounded to 6. Everything is keyed aggregation + per-arm windows
    over the ~60-row daily table — one events scan at 100 TB, then
    metadata-scale state.

    Spark plan: 2 user-keyed shuffles (origin, first-conversion) +
    a 1-row broadcast study end, then windows over the tiny
    (arm, day) aggregate."""
    from pyspark.sql import Window

    daily = _survival_daily(spark, sf_dir)
    w_all = Window.partitionBy("arm")
    w_prior = Window.partitionBy("arm").orderBy("day").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_cum = Window.partitionBy("arm").orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    at_risk = (
        F.sum(F.col("d") + F.col("c")).over(w_all)
        - F.coalesce(F.sum(F.col("d") + F.col("c")).over(w_prior), F.lit(0))
    ).cast("bigint")
    km = daily.withColumn("n_risk", at_risk)
    term = F.when(
        (F.col("d") > 0) & (F.col("d") < F.col("n_risk")),
        F.log((F.col("n_risk") - F.col("d")) * 1.0 / F.col("n_risk")),
    ).otherwise(0.0)
    died = F.sum(
        F.when(F.col("d") >= F.col("n_risk"), 1).otherwise(0)
    ).over(w_cum).cast("bigint")
    return (
        km.withColumn("lnsum", F.sum(term).over(w_cum))
        .withColumn("died_out", died)
        .filter(F.col("d") > 0)
        .select(
            "arm",
            "day",
            "n_risk",
            F.col("d").alias("n_events"),
            F.when(F.col("died_out") > 0, F.lit(0.0))
            .otherwise(F.round(F.exp("lnsum"), 6) + F.lit(0.0))
            .alias("survival"),
        )
    )


@register(
    "events_logrank_test",
    oracle=f"""
    WITH {{DAILY}},
    pooled AS (
      SELECT day, CAST(SUM(d) AS BIGINT) AS dj
      FROM daily GROUP BY day HAVING SUM(d) > 0),
    totals AS (
      SELECT arm, CAST(SUM(d + c) AS BIGINT) AS n_tot
      FROM daily GROUP BY arm),
    grid AS (SELECT t.arm, p.day, p.dj, t.n_tot FROM totals t CROSS JOIN pooled p),
    risk AS (
      SELECT g.arm, g.day, g.dj,
             CAST(g.n_tot - COALESCE(SUM(CASE WHEN d2.day < g.day
                                              THEN d2.d + d2.c END), 0)
                  AS BIGINT) AS n_r,
             CAST(COALESCE(MAX(CASE WHEN d2.day = g.day THEN d2.d END), 0)
                  AS BIGINT) AS d_arm
      FROM grid g LEFT JOIN daily d2
        ON d2.arm = g.arm AND d2.day <= g.day
      GROUP BY g.arm, g.day, g.dj, g.n_tot),
    perday AS (
      SELECT a.day, a.dj,
             a.n_r AS n_a, b.n_r AS n_b, a.d_arm AS d_a,
             a.n_r + b.n_r AS n_j
      FROM risk a JOIN risk b ON a.day = b.day AND a.arm = 0 AND b.arm = 1),
    stats AS (
      SELECT CAST(SUM(d_a) AS BIGINT) AS o_a,
             SUM(dj * (n_a * 1.0 / n_j)) AS e_a,
             SUM(CASE WHEN n_j > 1
                      THEN dj * (n_a * 1.0 / n_j) * (1 - n_a * 1.0 / n_j)
                           * (n_j - dj) * 1.0 / (n_j - 1)
                      ELSE 0.0 END) AS v
      FROM perday)
    SELECT t0.n_tot AS n_a, t1.n_tot AS n_b, s.o_a,
           ROUND(s.e_a, 6) AS e_a,
           ROUND(CASE WHEN s.v > 0
                      THEN (s.o_a - s.e_a) * (s.o_a - s.e_a) / s.v
                      ELSE 0.0 END, 6) AS chi2,
           COALESCE(CASE WHEN s.v > 0
                         THEN (s.o_a - s.e_a) * (s.o_a - s.e_a) / s.v
                         ELSE 0.0 END > 3.841, FALSE) AS significant
    FROM stats s, (SELECT n_tot FROM totals WHERE arm = 0) t0,
                  (SELECT n_tot FROM totals WHERE arm = 1) t1
    """.replace("{{DAILY}}", "{DAILY}").replace("{DAILY}", _D_SURV_DAILY).replace("{H}", _D_ABH),
)
def events_logrank_test(spark, sf_dir):
    """Log-rank (Mantel-Cox) test between the experiment arms'
    survival curves — the significance companion to
    `events_kaplan_meier` (which draws the curves, this decides
    whether they differ). At each pooled event day j: observed arm-0
    events d_Aj vs hypergeometric expectation dj*n_Aj/n_j and
    variance dj*(n_Aj/n_j)*(1-n_Aj/n_j)*(n_j-dj)/(n_j-1); the
    statistic (O_A - E_A)^2 / V is chi-square(1), cut at 3.841 (5%).

    Uses censored subjects correctly through the shared risk-set
    base (:func:`_survival_daily`). Risk sets at POOLED event days
    come from an arm-equality-keyed theta join over the ~60-row
    daily table (a pooled day may be absent from one arm's daily
    rows, so per-arm window cumulation alone can't express it) —
    metadata-scale by construction after the one events scan. All
    counts exact integers; E/V are exact-integer ratios summed over
    <=30 terms."""
    daily = _survival_daily(spark, sf_dir)
    pooled = (
        daily.groupBy("day")
        .agg(F.sum("d").cast("bigint").alias("dj"))
        .filter(F.col("dj") > 0)
    )
    totals = daily.groupBy("arm").agg(
        F.sum(F.col("d") + F.col("c")).cast("bigint").alias("n_tot")
    )
    grid = totals.crossJoin(pooled)
    d2 = daily.select(
        F.col("arm").alias("arm2"), F.col("day").alias("day2"), "d", "c"
    )
    risk = (
        grid.join(
            d2,
            (F.col("arm2") == F.col("arm")) & (F.col("day2") <= F.col("day")),
            "left",
        )
        .groupBy("arm", "day", "dj", "n_tot")
        .agg(
            (
                F.col("n_tot")
                - F.coalesce(
                    F.sum(
                        F.when(
                            F.col("day2") < F.col("day"),
                            F.col("d") + F.col("c"),
                        )
                    ),
                    F.lit(0),
                )
            )
            .cast("bigint")
            .alias("n_r"),
            F.coalesce(
                F.max(F.when(F.col("day2") == F.col("day"), F.col("d"))),
                F.lit(0),
            )
            .cast("bigint")
            .alias("d_arm"),
        )
    )
    a = risk.filter(F.col("arm") == 0).select(
        "day", "dj", F.col("n_r").alias("n_a"), F.col("d_arm").alias("d_a")
    )
    b = risk.filter(F.col("arm") == 1).select(
        F.col("day").alias("day_b"), F.col("n_r").alias("n_b")
    )
    perday = a.join(b, F.col("day") == F.col("day_b")).withColumn(
        "n_j", F.col("n_a") + F.col("n_b")
    )
    frac = F.col("n_a") * 1.0 / F.col("n_j")
    stats = perday.agg(
        F.sum("d_a").cast("bigint").alias("o_a"),
        F.sum(F.col("dj") * frac).alias("e_a"),
        F.sum(
            F.when(
                F.col("n_j") > 1,
                F.col("dj")
                * frac
                * (1 - frac)
                * (F.col("n_j") - F.col("dj"))
                * 1.0
                / (F.col("n_j") - 1),
            ).otherwise(0.0)
        ).alias("v"),
    )
    chi2 = F.when(
        F.col("v") > 0,
        (F.col("o_a") - F.col("e_a")) * (F.col("o_a") - F.col("e_a")) / F.col("v"),
    ).otherwise(0.0)
    t0 = totals.filter(F.col("arm") == 0).select(F.col("n_tot").alias("n_a"))
    t1 = totals.filter(F.col("arm") == 1).select(F.col("n_tot").alias("n_b"))
    return (
        stats.crossJoin(F.broadcast(t0))  # bcast: scalar
        .crossJoin(F.broadcast(t1))  # bcast: scalar
        .select(
            "n_a",
            "n_b",
            "o_a",
            F.round("e_a", 6).alias("e_a"),
            F.round(chi2, 6).alias("chi2"),
            F.coalesce(chi2 > 3.841, F.lit(False)).alias("significant"),
        )
    )


@register(
    "agg_mad_robust_outliers",
    oracle="""
    WITH med AS (
      SELECT event_type,
             quantile_cont(CAST(value AS DOUBLE), 0.50) AS med
      FROM events GROUP BY event_type),
    dev AS (
      SELECT e.event_type, CAST(e.value AS DOUBLE) AS v, m.med,
             ABS(CAST(e.value AS DOUBLE) - m.med) AS adev
      FROM events e JOIN med m ON m.event_type = e.event_type),
    mad AS (
      SELECT event_type, MIN(med) AS med,
             quantile_cont(adev, 0.50) AS mad
      FROM dev GROUP BY event_type)
    SELECT d.event_type,
           ROUND(MIN(m.med), 6) AS med,
           ROUND(MIN(m.mad), 6) AS mad,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN m.mad > 0
                          AND ABS(0.6745 * (d.v - m.med) / m.mad) > 3.5
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m ON m.event_type = d.event_type
    GROUP BY d.event_type
    """,
)
def agg_mad_robust_outliers(spark, sf_dir):
    """Robust outlier census per group: median absolute deviation
    and the modified z-score (Iglewicz-Hoaglin: 0.6745·(x-med)/MAD,
    cut at 3.5) — the outlier detector that doesn't let the outliers
    poison their own threshold, unlike `events_anomaly_zscore`'s
    mean/stddev. Both medians are EXACT interpolated quantiles
    (Spark percentile == DuckDB quantile_cont, the
    agg_percentile_exact_groups contract); deviations are identical
    IEEE expressions in both engines, so the census is
    hash-gradable. Shape: two grouped sort-aggregates + two
    broadcast joins of the tiny per-group stats frame back onto the
    scan — group cardinality bounds the sort, the hash shuffle
    distributes groups."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.col("value").cast("double").alias("v")
    )
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(v, 0.5)").alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(  # bcast: enum
        "adev", F.abs(F.col("v") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.min("med").alias("med"), F.expr("percentile(adev, 0.5)").alias("mad")
    )
    z_out = (
        (F.col("mad") > 0)
        & (F.abs(0.6745 * (F.col("v") - F.col("m_med")) / F.col("mad")) > 3.5)
    ).cast("int")
    return (
        dev.select("event_type", "v")
        .join(
            F.broadcast(  # bcast: enum
                mad.select(
                    "event_type", F.col("med").alias("m_med"), "mad"
                )
            ),
            "event_type",
        )
        .groupBy("event_type")
        .agg(
            F.round(F.min("m_med"), 6).alias("med"),
            F.round(F.min("mad"), 6).alias("mad"),
            F.count("*").alias("n"),
            F.sum(z_out).cast("bigint").alias("n_outliers"),
        )
    )


@register(
    "privacy_k_anonymity_lattice",
    oracle="""
    WITH l0 AS (
      SELECT COUNT(*) AS n FROM customer GROUP BY c_mktsegment, c_nationkey),
    l1 AS (
      SELECT COUNT(*) AS n
      FROM customer c JOIN nation nt ON c.c_nationkey = nt.n_nationkey
      GROUP BY c.c_mktsegment, nt.n_regionkey),
    l2 AS (SELECT COUNT(*) AS n FROM customer GROUP BY c_mktsegment),
    lv AS (
      SELECT 0 AS gen_level, CAST(COUNT(*) AS BIGINT) AS n_groups,
             CAST(MIN(n) AS BIGINT) AS min_group,
             CAST(COALESCE(SUM(CASE WHEN n < 5 THEN n END), 0) AS BIGINT)
               AS rows_at_risk
      FROM l0
      UNION ALL
      SELECT 1, CAST(COUNT(*) AS BIGINT), CAST(MIN(n) AS BIGINT),
             CAST(COALESCE(SUM(CASE WHEN n < 5 THEN n END), 0) AS BIGINT)
      FROM l1
      UNION ALL
      SELECT 2, CAST(COUNT(*) AS BIGINT), CAST(MIN(n) AS BIGINT),
             CAST(COALESCE(SUM(CASE WHEN n < 5 THEN n END), 0) AS BIGINT)
      FROM l2)
    SELECT gen_level, n_groups, min_group, rows_at_risk,
           (rows_at_risk = 0 AND gen_level =
              (SELECT MIN(gen_level) FROM lv WHERE rows_at_risk = 0))
             AS recommended
    FROM lv
    """,
)
def privacy_k_anonymity_lattice(spark, sf_dir):
    """k-anonymity audit over the quasi-identifier generalization
    lattice (Samarati's model, k=5): level 0 = (segment, nation),
    level 1 generalizes nation → region, level 2 drops geography.
    Per level: group count, smallest group, and rows re-identifiable
    through a group smaller than k; the RECOMMENDED level is the
    least-generalized one with zero at-risk rows — what a release
    pipeline applies before publishing the dataset. The governance
    twin of `text_scrub_pii` (that one removes direct identifiers;
    this one measures the quasi-identifier risk that remains).

    Scale shape: each lattice level is one grouped count over the
    scan (broadcast nation dim for the region rollup) collapsed to a
    3-row metadata frame — cost is levels × one aggregate, flat in
    table size."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")

    def level(df, cols, lvl):
        g = df.groupBy(*cols).agg(F.count("*").alias("n"))
        return g.agg(
            F.lit(lvl).alias("gen_level"),
            F.count("*").cast("bigint").alias("n_groups"),
            F.min("n").cast("bigint").alias("min_group"),
            F.coalesce(
                F.sum(F.when(F.col("n") < 5, F.col("n"))), F.lit(0)
            )
            .cast("bigint")
            .alias("rows_at_risk"),
        )

    withreg = c.join(
        F.broadcast(n.select(F.col("n_nationkey").alias("c_nationkey"), "n_regionkey")),  # bcast: dim
        "c_nationkey",
    )
    lv = (
        level(c, ["c_mktsegment", "c_nationkey"], 0)
        .unionByName(level(withreg, ["c_mktsegment", "n_regionkey"], 1))
        .unionByName(level(c, ["c_mktsegment"], 2))
    )
    best = lv.filter(F.col("rows_at_risk") == 0).agg(
        F.min("gen_level").alias("best_level")
    )
    return lv.crossJoin(F.broadcast(best)).select(  # bcast: scalar
        "gen_level",
        "n_groups",
        "min_group",
        "rows_at_risk",
        (
            (F.col("rows_at_risk") == 0)
            & (F.col("gen_level") == F.col("best_level"))
        ).alias("recommended"),
    )


@register(
    "events_funnel_24h",
    oracle="""
    WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
    s1 AS (
      SELECT user_id, MIN(t) AS t1 FROM ev WHERE event_type = 'signup'
      GROUP BY user_id),
    s2 AS (
      SELECT e.user_id, MIN(e.t) AS t2
      FROM ev e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'click' AND e.t > s1.t1
        AND e.t <= s1.t1 + 86400000000
      GROUP BY e.user_id),
    s3 AS (
      SELECT e.user_id, MIN(e.t) AS t3
      FROM ev e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND e.t > s2.t2
        AND e.t <= s2.t2 + 86400000000
      GROUP BY e.user_id),
    n AS (
      SELECT (SELECT COUNT(*) FROM s1) AS stage1_signup,
             (SELECT COUNT(*) FROM s2) AS stage2_click_24h,
             (SELECT COUNT(*) FROM s3) AS stage3_purchase_24h)
    SELECT stage1_signup, stage2_click_24h, stage3_purchase_24h,
           ROUND(CASE WHEN stage1_signup > 0
                      THEN stage2_click_24h * 1.0 / stage1_signup
                      ELSE 0.0 END, 6) AS conv_1_to_2,
           ROUND(CASE WHEN stage2_click_24h > 0
                      THEN stage3_purchase_24h * 1.0 / stage2_click_24h
                      ELSE 0.0 END, 6) AS conv_2_to_3
    FROM n
    """,
)
def events_funnel_24h(spark, sf_dir):
    """Strict-window funnel: signup → click within 24 h → purchase
    within 24 h of the click — the product-analytics variant where a
    conversion only counts inside its window (`events_funnel` is the
    unbounded form). Each stage is a keyed min-aggregate joined to
    the previous frontier with BOTH bounds in exact integer
    microseconds; emits stage counts plus step conversion rates.
    Same scale shape as the open funnel: three shuffles on user_id,
    reusable partitioning, 1-row result."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("t")
    )
    day_us = 86400000000

    def stage(event_type, prev, tprev, tcol):
        base = ev.filter(F.col("event_type") == event_type)
        if prev is not None:
            base = base.join(prev, "user_id").filter(
                (F.col("t") > F.col(tprev))
                & (F.col("t") <= F.col(tprev) + day_us)
            )
        return base.groupBy("user_id").agg(F.min("t").alias(tcol))

    s1 = stage("signup", None, None, "t1")
    s2 = stage("click", s1, "t1", "t2")
    s3 = stage("purchase", s2, "t2", "t3")
    n = (
        s1.agg(F.count("*").alias("stage1_signup"))
        .crossJoin(s2.agg(F.count("*").alias("stage2_click_24h")))
        .crossJoin(s3.agg(F.count("*").alias("stage3_purchase_24h")))
    )
    c12 = F.when(
        F.col("stage1_signup") > 0,
        F.col("stage2_click_24h") * 1.0 / F.col("stage1_signup"),
    ).otherwise(0.0)
    c23 = F.when(
        F.col("stage2_click_24h") > 0,
        F.col("stage3_purchase_24h") * 1.0 / F.col("stage2_click_24h"),
    ).otherwise(0.0)
    return n.select(
        "stage1_signup",
        "stage2_click_24h",
        "stage3_purchase_24h",
        F.round(c12, 6).alias("conv_1_to_2"),
        F.round(c23, 6).alias("conv_2_to_3"),
    )


@register(
    "agg_pareto_abc",
    oracle="""
    WITH rev AS (
      SELECT l_partkey,
             CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                           AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem GROUP BY l_partkey),
    tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS t FROM rev),
    c AS (
      SELECT cents,
             CAST(SUM(cents) OVER (ORDER BY cents DESC, l_partkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum
      FROM rev),
    cls AS (
      SELECT CASE WHEN cum * 100 <= t * 80 THEN 'A'
                  WHEN cum * 100 <= t * 95 THEN 'B'
                  ELSE 'C' END AS abc_class,
             cents, t
      FROM c, tot)
    SELECT abc_class,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(cents) AS BIGINT) / 100.0 AS revenue,
           ROUND(CAST(SUM(cents) AS BIGINT) * 1.0 / MIN(t), 6) AS rev_share
    FROM cls GROUP BY abc_class
    """,
)
def agg_pareto_abc(spark, sf_dir):
    """Pareto / ABC inventory classification: parts ranked by
    discounted revenue, classed by EXACT integer thresholds on the
    cumulative share (A ≤ 80%, B ≤ 95%, C rest — `cum*100 <= t*80`
    compares BIGINTs, so no float ever decides a class boundary).
    The cumulative sum rides the distributed prefix-sum kernel
    (operators/ranking.py): range-shuffle on (revenue DESC, part),
    per-partition running totals, K-row broadcast offsets — an
    unpartitioned SUM() OVER would single-task the whole part
    dimension at 100 TB, the kernel keeps every stage parallel.
    Output: the 3-row ABC report (count, revenue, share)."""
    from .ranking import with_global_prefix_sum

    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(
            F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5)
        )
        .cast("long")
        .alias("cents")
    )
    c = with_global_prefix_sum(
        rev,
        [F.col("cents").desc(), F.col("l_partkey")],
        "cents",
        out_col="cum",
    )
    tot = rev.agg(F.sum("cents").cast("long").alias("t"))
    cls = c.crossJoin(F.broadcast(tot)).withColumn(  # bcast: scalar
        "abc_class",
        F.when(F.col("cum") * 100 <= F.col("t") * 80, F.lit("A"))
        .when(F.col("cum") * 100 <= F.col("t") * 95, F.lit("B"))
        .otherwise(F.lit("C")),
    )
    return cls.groupBy("abc_class").agg(
        F.count("*").cast("bigint").alias("n_parts"),
        (F.sum("cents").cast("long") / 100.0).alias("revenue"),
        F.round(F.sum("cents").cast("long") * 1.0 / F.min("t"), 6).alias("rev_share"),
    )


@register(
    "events_diff_in_diff",
    oracle="""
    WITH bounds AS (
      SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2 AS mid FROM events
    ),
    tagged AS (
      SELECT {H} % 2 AS arm,
             CASE WHEN epoch_us(ts) < b.mid THEN 1 ELSE 0 END AS is_pre,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events, bounds b
    ),
    cells AS (
      SELECT arm,
             CAST(SUM(is_pre) AS BIGINT) AS n_pre,
             CAST(SUM(1 - is_pre) AS BIGINT) AS n_post,
             CAST(SUM(CASE WHEN is_pre = 1 THEN cents ELSE 0 END) AS BIGINT) AS c_pre,
             CAST(SUM(CASE WHEN is_pre = 0 THEN cents ELSE 0 END) AS BIGINT) AS c_post
      FROM tagged GROUP BY arm
    ),
    means AS (
      SELECT arm, n_pre, n_post,
             ROUND(c_pre / 100.0 / n_pre, 6) AS mean_pre,
             ROUND(c_post / 100.0 / n_post, 6) AS mean_post
      FROM cells
    ),
    uplifts AS (
      SELECT arm, n_pre, n_post, mean_pre, mean_post,
             (ROUND(mean_post - mean_pre, 6) + 0.0) AS uplift
      FROM means
    ),
    did AS (
      SELECT (ROUND(SUM(CASE WHEN arm = 1 THEN uplift ELSE -uplift END), 6) + 0.0)
               AS did_estimate
      FROM uplifts
    )
    SELECT u.arm, u.n_pre, u.n_post, u.mean_pre, u.mean_post, u.uplift,
           d.did_estimate
    FROM uplifts u CROSS JOIN did d
    """.replace("{H}", _d_abh("'did1|' || CAST(user_id AS VARCHAR)")),
)
def events_diff_in_diff(spark, sf_dir):
    """Difference-in-differences readout: hash-assigned arms x a
    pre/post split at the corpus time midpoint, average event value
    per cell, DiD = (treat_post - treat_pre) - (ctrl_post -
    ctrl_pre). The causal-inference workhorse next to the z-test /
    CUPED ops, reduced to the same deterministic shape: one events
    scan -> 2-row conditional agg on EXACT integer cents and
    integer-us time (the midpoint is integer arithmetic on
    unix_micros), then closed-form rounded arithmetic on the tiny
    frame. Signed outputs go through the +0.0 sign-of-zero guard."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.expr("(min(unix_micros(ts)) + max(unix_micros(ts))) div 2").alias("mid")
    )
    tagged = ev.crossJoin(F.broadcast(bounds)).select(  # bcast: scalar
        (F.expr(_h_abh("concat('did1|', cast(user_id AS string))")) % 2).alias("arm"),
        F.when(F.unix_micros("ts") < F.col("mid"), 1).otherwise(0).alias("is_pre"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
    )
    cells = tagged.groupBy("arm").agg(
        F.sum("is_pre").cast("bigint").alias("n_pre"),
        F.sum(1 - F.col("is_pre")).cast("bigint").alias("n_post"),
        F.sum(F.when(F.col("is_pre") == 1, F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("c_pre"),
        F.sum(F.when(F.col("is_pre") == 0, F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("c_post"),
    )
    means = cells.select(
        "arm",
        "n_pre",
        "n_post",
        F.round(F.col("c_pre") / 100.0 / F.col("n_pre"), 6).alias("mean_pre"),
        F.round(F.col("c_post") / 100.0 / F.col("n_post"), 6).alias("mean_post"),
    )
    uplifts = means.withColumn(
        "uplift", round_z(F.col("mean_post") - F.col("mean_pre"), 6)
    )
    did = uplifts.agg(
        round_z(
            F.sum(
                F.when(F.col("arm") == 1, F.col("uplift")).otherwise(-F.col("uplift"))
            ),
            6,
        ).alias("did_estimate")
    )
    return uplifts.crossJoin(F.broadcast(did))  # bcast: scalar


@register(
    "privacy_l_diversity",
    oracle="""
    SELECT c_nationkey, c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS k_size,
           CAST(COUNT(DISTINCT CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT)) AS BIGINT)
             AS l_distinct,
           COUNT(DISTINCT CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT)) >= 3
             AS l_diverse
    FROM customer
    GROUP BY c_nationkey, c_mktsegment
    """,
)
def privacy_l_diversity(spark, sf_dir):
    """l-diversity audit over the k-anonymity quasi-identifier
    groups (companion to privacy_k_anonymity_lattice): within each
    (nation, segment) QI group, count DISTINCT sensitive-attribute
    values (account-balance band) — a group that is k-anonymous but
    carries only one sensitive value still leaks it (homogeneity
    attack; Machanavajjhala et al. 2007). Bands are exact integer
    FLOOR buckets, so counts can never straddle an engine boundary.
    One scan, one two-key agg with a distinct — at 100 TB the
    distinct collapses map-side because bands per group are tiny."""
    c = load_table(spark, sf_dir, "customer")
    band = F.floor(F.col("c_acctbal") / 1000.0).cast("bigint")
    return c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("k_size"),
        F.countDistinct(band).cast("bigint").alias("l_distinct"),
        (F.countDistinct(band) >= 3).alias("l_diverse"),
    )


@register(
    "agg_heavy_hitters_exact",
    oracle="""
    WITH tot AS (SELECT COUNT(*) AS n FROM lineitem),
    cnt AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS hits
      FROM lineitem GROUP BY l_partkey
    )
    SELECT c.l_partkey, c.hits,
           CAST(FLOOR(c.hits * 1000000.0 / t.n) AS BIGINT) AS share_ppm
    FROM cnt c, tot t
    WHERE c.hits * 2500 > t.n
    """,
)
def agg_heavy_hitters_exact(spark, sf_dir):
    """Exact heavy hitters: keys above a 1/2500 frequency threshold
    (the exact answer a Misra-Gries / SpaceSaving sketch
    approximates; at 100 TB run the sketch per partition and verify
    its candidates with exactly this query — sketches guarantee no
    false negatives above the threshold, so the exact pass only
    rescans candidate keys). The threshold cut is an integer
    cross-multiply (hits * 2500 > N — never a float ratio), and the
    reported share is exact integer parts-per-million. One groupBy
    (map-side combined) + a 1-row broadcast of the total."""
    li = load_table(spark, sf_dir, "lineitem")
    tot = li.agg(F.count(F.lit(1)).alias("n"))
    cnt = li.groupBy("l_partkey").agg(F.count(F.lit(1)).cast("bigint").alias("hits"))
    return (
        cnt.crossJoin(F.broadcast(tot))  # bcast: scalar
        .filter(F.col("hits") * 2500 > F.col("n"))
        .select(
            "l_partkey",
            "hits",
            F.floor(F.col("hits") * 1000000.0 / F.col("n"))
            .cast("bigint")
            .alias("share_ppm"),
        )
    )


@register(
    "events_wow_growth",
    oracle="""
    WITH weekly AS (
      SELECT event_type,
             CAST(DATE_TRUNC('week', ts) AS DATE) AS week_start,
             CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, week_start, cents / 100.0 AS revenue,
           CASE WHEN LAG(cents) OVER w IS NULL OR LAG(cents) OVER w = 0
                THEN NULL
                ELSE CAST(FLOOR((cents - LAG(cents) OVER w) * 10000.0
                                / LAG(cents) OVER w) AS BIGINT) END AS wow_bps
    FROM weekly
    WINDOW w AS (PARTITION BY event_type ORDER BY week_start)
    """,
)
def events_wow_growth(spark, sf_dir):
    """Week-over-week growth per event type — the core business
    cadence metric. Weekly revenue accumulates as exact integer
    cents; the growth rate is exact integer basis points (one FLOOR
    of an identical double expression over two BIGINTs, signed-safe
    because FLOOR is sign-deterministic — no round-boundary class).
    Two-key agg + a per-type lag over the tiny weekly frame."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    weekly = ev.groupBy(
        "event_type", F.date_trunc("week", "ts").cast("date").alias("week_start")
    ).agg(
        F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long"))
        .cast("bigint")
        .alias("cents")
    )
    w = Window.partitionBy("event_type").orderBy("week_start")
    prev = F.lag("cents").over(w)
    return weekly.select(
        "event_type",
        "week_start",
        (F.col("cents") / 100.0).alias("revenue"),
        F.when(prev.isNull() | (prev == 0), F.lit(None).cast("bigint"))
        .otherwise(F.floor((F.col("cents") - prev) * 10000.0 / prev).cast("bigint"))
        .alias("wow_bps"),
    )


@register(
    "events_cep_3step",
    oracle="""
    WITH s1 AS (
      SELECT user_id, MIN(epoch_us(ts)) AS t_view
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
      SELECT s1.user_id, s1.t_view, MIN(epoch_us(e.ts)) AS t_click
      FROM s1 JOIN events e ON e.user_id = s1.user_id
        AND e.event_type = 'click'
        AND epoch_us(e.ts) > s1.t_view
        AND epoch_us(e.ts) <= s1.t_view + 3600000000
      GROUP BY s1.user_id, s1.t_view
    ),
    s3 AS (
      SELECT s2.user_id, s2.t_view, s2.t_click, MIN(epoch_us(e.ts)) AS t_purchase
      FROM s2 JOIN events e ON e.user_id = s2.user_id
        AND e.event_type = 'purchase'
        AND epoch_us(e.ts) > s2.t_click
        AND epoch_us(e.ts) <= s2.t_click + 3600000000
      GROUP BY s2.user_id, s2.t_view, s2.t_click
    )
    SELECT s1.user_id, s1.t_view, s2.t_click, s3.t_purchase,
           (s3.user_id IS NOT NULL) AS completed
    FROM s1
    LEFT JOIN s2 ON s2.user_id = s1.user_id
    LEFT JOIN s3 ON s3.user_id = s1.user_id
    """,
)
def events_cep_3step(spark, sf_dir):
    """Three-step complex-event pattern: view → click (within 1 h)
    → purchase (within 1 h of the click), earliest-completion
    semantics — the MATCH_RECOGNIZE / Flink-CEP shape expressed as
    two chained conditional-min aggregations. All comparisons run in
    exact integer microseconds, and 'earliest' makes the match
    unique, so the output can never depend on engine evaluation
    order. Each step is one user-keyed equi-join + min-agg on the
    (shrinking) matched-user frame — 100 TB cost is two hash joins
    keyed on user, no window over raw events."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("t")
    )
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("t").alias("t_view"))
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "t")
    s2 = (
        s1.join(clicks, "user_id")
        .filter((F.col("t") > F.col("t_view")) & (F.col("t") <= F.col("t_view") + 3600000000))
        .groupBy("user_id", "t_view")
        .agg(F.min("t").alias("t_click"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id", "t")
    s3 = (
        s2.join(purchases, "user_id")
        .filter((F.col("t") > F.col("t_click")) & (F.col("t") <= F.col("t_click") + 3600000000))
        .groupBy("user_id", "t_view", "t_click")
        .agg(F.min("t").alias("t_purchase"))
    )
    return (
        s1.join(s2.select("user_id", "t_click"), "user_id", "left")
        .join(s3.select("user_id", "t_purchase"), "user_id", "left")
        .select(
            "user_id",
            "t_view",
            "t_click",
            "t_purchase",
            F.col("t_purchase").isNotNull().alias("completed"),
        )
    )


@register(
    "orders_backlog_aging",
    oracle="""
    WITH now_ref AS (SELECT MAX(o_orderdate) AS now_d FROM orders),
    open_orders AS (
      SELECT o_orderstatus, o_orderpriority,
             DATEDIFF('day', o_orderdate, n.now_d) AS age_days,
             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders, now_ref n
      WHERE o_orderstatus <> 'F'
    )
    SELECT o_orderstatus, o_orderpriority,
           CASE WHEN age_days <= 30 THEN '0-30'
                WHEN age_days <= 90 THEN '31-90'
                WHEN age_days <= 365 THEN '91-365'
                ELSE '365+' END AS age_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(cents) AS BIGINT) / 100.0 AS open_value
    FROM open_orders
    GROUP BY 1, 2, 3
    """,
)
def orders_backlog_aging(spark, sf_dir):
    """Open-order backlog aging — the fulfillment-ops report: unshipped
    orders bucketed by age (vs the newest order date, a data-derived
    'now' so the query is deterministic across runs), split by status
    and priority, with counts and exact-cents open value. Bucket
    edges are integer day comparisons; one scan + one three-key agg."""
    o = load_table(spark, sf_dir, "orders")
    now_ref = o.agg(F.max("o_orderdate").alias("now_d"))
    age = F.datediff(F.col("now_d"), F.col("o_orderdate"))
    bucket = (
        F.when(age <= 30, "0-30")
        .when(age <= 90, "31-90")
        .when(age <= 365, "91-365")
        .otherwise("365+")
    )
    return (
        o.filter(F.col("o_orderstatus") != "F")
        .crossJoin(F.broadcast(now_ref))  # bcast: scalar
        .groupBy("o_orderstatus", "o_orderpriority", bucket.alias("age_bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            (
                F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")).cast(
                    "bigint"
                )
                / 100.0
            ).alias("open_value"),
        )
    )


@register(
    "agg_decay_weighted_ltv",
    oracle="""
    WITH now_ref AS (SELECT MAX(ts) AS now_ts FROM events),
    rows_w AS (
      SELECT user_id,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
             DATEDIFF('day', CAST(ts AS DATE), CAST(n.now_ts AS DATE)) // 7
               AS weeks
      FROM events, now_ref n
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(cents) AS BIGINT) / 100.0 AS raw_value,
           CAST(SUM(CAST(FLOOR(cents * POWER(2.0, -CAST(weeks AS DOUBLE)))
                         AS BIGINT)) AS BIGINT) / 100.0 AS decayed_value
    FROM rows_w GROUP BY user_id
    """,
)
def agg_decay_weighted_ltv(spark, sf_dir):
    """Recency-weighted customer value: each event's cents halve per
    full week of age (exponential decay, half-life = 1 week) — the
    standard churn-aware LTV feature. Determinism trick: the decay
    factor is 2^(-integer weeks), an EXACT power of two, so
    cents * weight only shifts the float exponent (no mantissa
    rounding) and the per-row FLOOR + BIGINT sum is associative and
    engine-exact — an arbitrary half-life (e^(-λt)) would put a
    libm pow in the hash path. One scan + one user-keyed agg,
    map-side combined; 'now' is data-derived (max ts)."""
    ev = load_table(spark, sf_dir, "events")
    now_ref = ev.agg(F.max("ts").alias("now_ts"))
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    weeks = F.floor(
        F.datediff(F.col("now_ts").cast("date"), F.col("ts").cast("date")) / 7
    )
    decayed = F.floor(cents * F.pow(F.lit(2.0), -weeks.cast("double"))).cast("long")
    return (
        ev.crossJoin(F.broadcast(now_ref))  # bcast: scalar
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            (F.sum(cents).cast("bigint") / 100.0).alias("raw_value"),
            (F.sum(decayed).cast("bigint") / 100.0).alias("decayed_value"),
        )
    )


@register(
    "agg_bitmap_audience_overlap",
    oracle="""
    WITH words AS (
      SELECT event_type, user_id // 32 AS word_idx,
             BIT_OR(1::BIGINT << CAST(user_id % 32 AS INT)) AS bits
      FROM events GROUP BY event_type, user_id // 32
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    pairs AS (
      SELECT ta.event_type AS type_a, tb.event_type AS type_b,
             w.word_idx,
             COALESCE(wa.bits, 0) AS ba, COALESCE(wb.bits, 0) AS bb
      FROM types ta
      JOIN types tb ON ta.event_type < tb.event_type
      JOIN (SELECT DISTINCT word_idx FROM words) w ON TRUE
      LEFT JOIN words wa ON wa.event_type = ta.event_type
                        AND wa.word_idx = w.word_idx
      LEFT JOIN words wb ON wb.event_type = tb.event_type
                        AND wb.word_idx = w.word_idx
    ),
    agg AS (
      SELECT type_a, type_b,
             SUM(bit_count(ba & bb)) AS n_both,
             SUM(bit_count(ba | bb)) AS n_either
      FROM pairs GROUP BY type_a, type_b
    )
    SELECT type_a, type_b,
           CAST(n_both AS BIGINT) AS n_both,
           CAST(n_either AS BIGINT) AS n_either,
           CAST(FLOOR(n_both * 1000000.0 / n_either) AS BIGINT) AS jaccard_ppm
    FROM agg
    """,
)
def agg_bitmap_audience_overlap(spark, sf_dir):
    """Audience overlap via BITMAP INDEX words — the ClickHouse/Druid
    segment-bitmap technique: each audience (event type) compresses
    to one word per 32-user block (BIT_OR of 1<<(id%32) — bit 63 is
    unusable because DuckDB overflow-checks signed shifts), and
    every set operation becomes bit_count over ANDed/ORed words. A
    100 TB event log reduces to |users|/64 longs per audience —
    intersections/unions cost bit-ops over co-partitioned words, not
    joins over user sets (the exact-distinct formulation is
    `events_audience_overlap`; same membership math, 32x less
    state). The audience-pair grid comes from two broadcast-size
    type dims over the word spine so the union counts words either
    side touches. All-integer end-to-end."""
    ev = load_table(spark, sf_dir, "events")
    # F.shiftleft takes a literal bit count; a per-row shift needs
    # the SQL form
    # 32 users per BIGINT word: bit 63 is unusable (DuckDB checks
    # signed-shift overflow at 1<<63), so words hold half a long
    word_bit = F.expr("shiftleft(1L, cast(user_id % 32 AS int))")
    words = ev.groupBy(
        "event_type", F.expr("user_id div 32").alias("word_idx")
    ).agg(F.bit_or(word_bit).alias("bits"))
    # true Jaccard needs the union over ALL words either audience
    # touches: dense (type_a, type_b, word) grid from two broadcast-
    # size dims x the word spine, missing words as 0-bits
    types = words.select("event_type").distinct()
    spine = words.select("word_idx").distinct()
    ta = types.select(F.col("event_type").alias("type_a"))
    tb = types.select(F.col("event_type").alias("type_b"))
    grid = (
        ta.join(tb, F.col("type_a") < F.col("type_b"))
        .crossJoin(spine)
    )
    wa = words.select(
        F.col("event_type").alias("type_a"),
        F.col("word_idx"),
        F.col("bits").alias("ba"),
    )
    wb = words.select(
        F.col("event_type").alias("type_b"),
        F.col("word_idx"),
        F.col("bits").alias("bb"),
    )
    pairs = (
        grid.join(wa, ["type_a", "word_idx"], "left")
        .join(wb, ["type_b", "word_idx"], "left")
        .select(
            "type_a",
            "type_b",
            F.coalesce(F.col("ba"), F.lit(0).cast("long")).alias("ba"),
            F.coalesce(F.col("bb"), F.lit(0).cast("long")).alias("bb"),
        )
        .groupBy("type_a", "type_b")
        .agg(
            F.sum(F.bit_count(F.col("ba").bitwiseAND(F.col("bb"))))
            .cast("bigint")
            .alias("n_both"),
            F.sum(F.bit_count(F.col("ba").bitwiseOR(F.col("bb"))))
            .cast("bigint")
            .alias("n_either"),
        )
    )
    return pairs.select(
        "type_a",
        "type_b",
        "n_both",
        "n_either",
        F.floor(F.col("n_both") * 1000000.0 / F.col("n_either"))
        .cast("bigint")
        .alias("jaccard_ppm"),
    )


@register(
    "events_day_completion_mask",
    oracle="""
    WITH masks AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             BIT_OR(CASE event_type WHEN 'view' THEN 1
                                    WHEN 'click' THEN 2
                                    WHEN 'purchase' THEN 4
                                    ELSE 0 END) AS mask
      FROM events GROUP BY user_id, CAST(ts AS DATE)
    )
    SELECT day,
           CAST(COUNT(*) AS BIGINT) AS n_active_users,
           CAST(SUM(CASE WHEN mask = 7 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_completed_all,
           CAST(SUM(CASE WHEN mask & 4 = 4 AND mask <> 7 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_purchase_without_full_path
    FROM masks GROUP BY day
    """,
)
def events_day_completion_mask(spark, sf_dir):
    """Any-order daily completion via BITMASK aggregation: each user-
    day folds its event types into a 3-bit mask (view|click|purchase)
    and 'did all three, any order' is mask == 7 — the unordered
    complement of the strict-sequence funnels (events_funnel_24h /
    events_cep_3step order; this one doesn't). One user-day agg with
    map-side BIT_OR (associative integer state), then a per-day
    census. The odd segment — purchasers who never viewed or clicked
    that day — falls out of the same mask for free."""
    ev = load_table(spark, sf_dir, "events")
    bit = (
        F.when(F.col("event_type") == "view", 1)
        .when(F.col("event_type") == "click", 2)
        .when(F.col("event_type") == "purchase", 4)
        .otherwise(0)
    )
    masks = ev.groupBy("user_id", F.col("ts").cast("date").alias("day")).agg(
        F.bit_or(bit).alias("mask")
    )
    return masks.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_active_users"),
        F.sum(F.when(F.col("mask") == 7, 1).otherwise(0))
        .cast("bigint")
        .alias("n_completed_all"),
        F.sum(
            F.when(
                (F.col("mask").bitwiseAND(4) == 4) & (F.col("mask") != 7), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_purchase_without_full_path"),
    )


@register(
    "orders_cycle_time_stats",
    oracle="""
    WITH per_order AS (
      SELECT o.o_orderkey, o.o_orderpriority,
             DATEDIFF('day', CAST(o.o_orderdate AS DATE),
                      CAST(MAX(l.l_shipdate) AS DATE)) AS cycle_days
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_orderpriority, o.o_orderdate
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(cycle_days) AS BIGINT) AS total_days,
           ROUND(quantile_cont(CAST(cycle_days AS DOUBLE), 0.5), 6) AS p50_days,
           ROUND(quantile_cont(CAST(cycle_days AS DOUBLE), 0.95), 6) AS p95_days,
           CAST(MAX(cycle_days) AS BIGINT) AS max_days
    FROM per_order GROUP BY o_orderpriority
    """,
)
def orders_cycle_time_stats(spark, sf_dir):
    """Order-to-fulfillment cycle time by priority — the supply-chain
    SLA readout: per order, days from placement to its LAST shipped
    line (the order isn't done until the last line ships — a MAX
    aggregate per order, not a line-level average), then exact
    integer-day distribution stats per priority class. Two-level
    aggregation: order-keyed partial (co-keyed with the join), then
    a 5-group rollup; exact interpolated percentiles over integer
    days (the layout_split_points contract — percentile_approx at
    100 TB)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    per_order = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderpriority", "o_orderdate")
        .agg(
            F.datediff(
                F.max("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
            ).alias("cycle_days")
        )
    )
    return per_order.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("cycle_days").cast("bigint").alias("total_days"),
        F.round(
            F.percentile(F.col("cycle_days").cast("double"), F.lit(0.5)), 6
        ).alias("p50_days"),
        F.round(
            F.percentile(F.col("cycle_days").cast("double"), F.lit(0.95)), 6
        ).alias("p95_days"),
        F.max("cycle_days").cast("bigint").alias("max_days"),
    )


@register(
    "events_rolling_uniques_bitmap",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, user_id // 32 AS word_idx,
             BIT_OR(1::BIGINT << CAST(user_id % 32 AS INT)) AS bits
      FROM events GROUP BY 1, 2
    ),
    days AS (SELECT DISTINCT day FROM daily),
    spine AS (
      SELECT d.day, w.word_idx FROM days d
      CROSS JOIN (SELECT DISTINCT word_idx FROM daily) w
    ),
    dense AS (
      SELECT s.day, s.word_idx, COALESCE(x.bits, 0) AS bits
      FROM spine s LEFT JOIN daily x
        ON x.day = s.day AND x.word_idx = s.word_idx
    ),
    rolled AS (
      SELECT day, word_idx, bits,
             BIT_OR(bits) OVER (PARTITION BY word_idx ORDER BY day
                                ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
               AS win_bits
      FROM dense
    )
    SELECT day,
           CAST(SUM(bit_count(bits)) AS BIGINT) AS dau,
           CAST(SUM(bit_count(win_bits)) AS BIGINT) AS uniques_7d
    FROM rolled GROUP BY day
    """,
)
def events_rolling_uniques_bitmap(spark, sf_dir):
    """EXACT rolling 7-day unique users per day — the WAU curve a
    sketch only approximates. Rolling distinct is the hard case
    (set-union is not invertible, so no sliding-sum trick); the
    segment-bitmap answer: daily 32-user words, densified over the
    day spine, a 7-row BIT_OR window per word, and bit_count sums
    per day. State is |users|/32 longs per day — the Druid/
    ClickHouse bitmap play; at extreme user counts the same query
    swaps bit_count for HLL-merge and tolerates the error. The
    cumulative twin (`events_cumulative_uniques`) needs none of
    this — union-to-date degenerates to first-seen counting."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("ts").cast("date").alias("day"),
        F.expr("user_id div 32").alias("word_idx"),
    ).agg(F.bit_or(F.expr("shiftleft(1L, cast(user_id % 32 AS int))")).alias("bits"))
    days = daily.select("day").distinct()
    word_spine = daily.select("word_idx").distinct()
    dense = (
        days.crossJoin(word_spine)
        .join(daily, ["day", "word_idx"], "left")
        .select(
            "day", "word_idx", F.coalesce(F.col("bits"), F.lit(0).cast("long")).alias("bits")
        )
    )
    w = Window.partitionBy("word_idx").orderBy("day").rowsBetween(-6, Window.currentRow)
    rolled = dense.withColumn("win_bits", F.bit_or("bits").over(w))
    return rolled.groupBy("day").agg(
        F.sum(F.bit_count("bits")).cast("bigint").alias("dau"),
        F.sum(F.bit_count("win_bits")).cast("bigint").alias("uniques_7d"),
    )


@register(
    "events_cumulative_uniques",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day FROM events GROUP BY user_id
    ),
    new_per_day AS (
      SELECT d.day, CAST(COALESCE(f.n, 0) AS BIGINT) AS n_new
      FROM (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events) d
      LEFT JOIN (SELECT first_day, COUNT(*) AS n FROM first_seen GROUP BY first_day) f
        ON f.first_day = d.day
    )
    SELECT day, n_new,
           CAST(SUM(n_new) OVER (ORDER BY day) AS BIGINT) AS cumulative_uniques
    FROM new_per_day
    """,
)
def events_cumulative_uniques(spark, sf_dir):
    """Cumulative unique users per day — deliberately NOT a
    distinct-over-growing-window: union-to-date equals counting each
    user once on their FIRST day, so the whole curve is one user-
    keyed MIN, a per-day count, and a running sum over the ~|days|
    frame. The contrast op to `events_rolling_uniques_bitmap` (where
    the window slides and the first-seen trick no longer applies).
    Scales as one agg + metadata-frame window."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_day")
    )
    new_per_day = (
        ev.select(F.col("ts").cast("date").alias("day"))
        .distinct()
        .join(
            first_seen.groupBy("first_day").agg(F.count(F.lit(1)).alias("n")),
            F.col("first_day") == F.col("day"),
            "left",
        )
        .select("day", F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_new"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return new_per_day.withColumn(
        "cumulative_uniques", F.sum("n_new").over(w).cast("bigint")
    )


@register(
    "events_activity_deciles",
    oracle="""
    WITH per_user AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY user_id
    ),
    ranked AS (
      SELECT n_events,
             ROW_NUMBER() OVER (ORDER BY n_events, user_id) AS rk,
             COUNT(*) OVER () AS n_users
      FROM per_user
    ),
    deciled AS (
      SELECT CAST(((rk - 1) * 10) // n_users + 1 AS BIGINT) AS decile, n_events
      FROM ranked
    ),
    tot AS (SELECT SUM(n_events) AS t FROM per_user)
    SELECT decile,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(n_events) AS BIGINT) AS n_events,
           CAST(FLOOR(SUM(n_events) * 10000.0 / tot.t) AS BIGINT) AS share_bps
    FROM deciled, tot GROUP BY decile, tot.t
    """,
)
def events_activity_deciles(spark, sf_dir):
    """Activity concentration by decile — the Lorenz-curve table
    behind the Gini score (`agg_gini_concentration` gives the one
    number; this gives the distribution the number summarizes:
    'the top decile produces X% of events'). Users rank by activity
    on the DISTRIBUTED rank kernel (a billion users never sort on
    one task), the decile index is exact integer arithmetic on
    (rank, n), and shares are exact basis points. One user-keyed
    agg + the rank pass + a 10-row census."""
    from .ranking import with_global_rank

    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events")
    )
    ranked = with_global_rank(per_user, [F.col("n_events").asc(), "user_id"], "rk")
    n_users = per_user.agg(F.count(F.lit(1)).alias("n_users"))
    tot = per_user.agg(F.sum("n_events").alias("t"))
    deciled = ranked.crossJoin(F.broadcast(n_users)).select(  # bcast: scalar
        (F.floor((F.col("rk") - 1) * 10 / F.col("n_users")) + 1)
        .cast("bigint")
        .alias("decile"),
        "n_events",
    )
    return (
        deciled.crossJoin(F.broadcast(tot))  # bcast: scalar
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.floor(F.sum("n_events") * 10000.0 / F.min("t"))
            .cast("bigint")
            .alias("share_bps"),
        )
    )


@register(
    "supplier_sla_report",
    oracle="""
    WITH lines AS (
      SELECT l.l_suppkey,
             CASE WHEN DATEDIFF('day', CAST(o.o_orderdate AS DATE),
                                CAST(l.l_shipdate AS DATE)) > 30
                  THEN 1 ELSE 0 END AS is_late
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    )
    SELECT l_suppkey,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(is_late) AS BIGINT) AS n_late,
           CAST(FLOOR(SUM(is_late) * 10000.0 / COUNT(*)) AS BIGINT) AS late_bps
    FROM lines GROUP BY l_suppkey
    HAVING SUM(is_late) * 4 > COUNT(*)
    """,
)
def supplier_sla_report(spark, sf_dir):
    """Supplier SLA scorecard: lines shipped more than 30 days after
    order placement count as late; suppliers with a late rate over
    25% (integer cross-multiply, never a float threshold) make the
    escalation report with their exact late basis points. One
    fact-fact equi-join (orderkey — the bucketed-layout candidate)
    + a supplier-keyed agg."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    is_late = F.when(
        F.datediff(F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date"))
        > 30,
        1,
    ).otherwise(0)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum(is_late).cast("bigint").alias("n_late"),
            F.floor(F.sum(is_late) * 10000.0 / F.count(F.lit(1)))
            .cast("bigint")
            .alias("late_bps"),
        )
        .filter(F.col("n_late") * 4 > F.col("n_lines"))
    )


@register(
    "events_new_vs_returning_revenue",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day FROM events GROUP BY user_id
    )
    SELECT CAST(e.ts AS DATE) AS day,
           CAST(SUM(CASE WHEN CAST(e.ts AS DATE) = f.first_day THEN 1 ELSE 0 END)
                AS BIGINT) AS new_events,
           CAST(SUM(CASE WHEN CAST(e.ts AS DATE) = f.first_day
                         THEN CAST(FLOOR(e.value * 100 + 0.5) AS BIGINT)
                         ELSE 0 END) AS BIGINT) / 100.0 AS new_revenue,
           CAST(SUM(CASE WHEN CAST(e.ts AS DATE) > f.first_day THEN 1 ELSE 0 END)
                AS BIGINT) AS returning_events,
           CAST(SUM(CASE WHEN CAST(e.ts AS DATE) > f.first_day
                         THEN CAST(FLOOR(e.value * 100 + 0.5) AS BIGINT)
                         ELSE 0 END) AS BIGINT) / 100.0 AS returning_revenue
    FROM events e JOIN first_seen f ON f.user_id = e.user_id
    GROUP BY CAST(e.ts AS DATE)
    """,
)
def events_new_vs_returning_revenue(spark, sf_dir):
    """Daily revenue split by NEW vs RETURNING users — the growth-
    accounting companion to `events_lifecycle_states` in money terms
    (is growth acquisition or retention?). A user is 'new' on their
    first-seen day and 'returning' after; revenue accumulates in
    exact integer cents. One user-keyed MIN, one user-keyed join
    back (co-partitioned at 100 TB), one per-day conditional agg."""
    ev = load_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_day")
    )
    day = F.col("ts").cast("date")
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    is_new = day == F.col("first_day")
    is_ret = day > F.col("first_day")
    return (
        ev.join(first_seen, "user_id")
        .groupBy(day.alias("day"))
        .agg(
            F.sum(F.when(is_new, 1).otherwise(0)).cast("bigint").alias("new_events"),
            (
                F.sum(F.when(is_new, cents).otherwise(0)).cast("bigint") / 100.0
            ).alias("new_revenue"),
            F.sum(F.when(is_ret, 1).otherwise(0))
            .cast("bigint")
            .alias("returning_events"),
            (
                F.sum(F.when(is_ret, cents).otherwise(0)).cast("bigint") / 100.0
            ).alias("returning_revenue"),
        )
    )


@register(
    "orders_repeat_purchase_curve",
    oracle="""
    WITH seq AS (
      SELECT o_custkey,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS order_idx,
             CAST(o_orderdate AS DATE) AS d
      FROM orders
    ),
    gaps AS (
      SELECT LEAST(a.order_idx, 5) AS transition,
             DATEDIFF('day', a.d, b.d) AS gap_days
      FROM seq a JOIN seq b
        ON b.o_custkey = a.o_custkey AND b.order_idx = a.order_idx + 1
      WHERE a.order_idx <= 9
    )
    SELECT CAST(transition AS BIGINT) AS transition,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           ROUND(quantile_cont(CAST(gap_days AS DOUBLE), 0.5), 6) AS p50_gap_days,
           ROUND(quantile_cont(CAST(gap_days AS DOUBLE), 0.9), 6) AS p90_gap_days
    FROM gaps GROUP BY transition
    """,
)
def orders_repeat_purchase_curve(spark, sf_dir):
    """Repeat-purchase cadence: the gap distribution between a
    customer's Nth and (N+1)th orders, bucketed by transition (1st→
    2nd ... 5th+→next) — the curve that prices win-back campaigns
    (how long is 'overdue' after a 2nd order?). Per-customer order
    sequence from one window (customer-keyed — never global), gaps
    via a self-equi-join on (customer, idx+1), exact integer days
    with exact interpolated percentiles per transition bucket."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = o.select(
        "o_custkey",
        F.row_number().over(w).alias("order_idx"),
        F.col("o_orderdate").cast("date").alias("d"),
    )
    a = seq.alias("a").filter(F.col("order_idx") <= 9)
    b = seq.alias("b")
    gaps = a.join(
        b,
        (F.col("b.o_custkey") == F.col("a.o_custkey"))
        & (F.col("b.order_idx") == F.col("a.order_idx") + 1),
    ).select(
        F.least(F.col("a.order_idx"), F.lit(5)).alias("transition"),
        F.datediff(F.col("b.d"), F.col("a.d")).alias("gap_days"),
    )
    return gaps.groupBy(F.col("transition").cast("bigint").alias("transition")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.round(F.percentile(F.col("gap_days").cast("double"), F.lit(0.5)), 6).alias(
            "p50_gap_days"
        ),
        F.round(F.percentile(F.col("gap_days").cast("double"), F.lit(0.9)), 6).alias(
            "p90_gap_days"
        ),
    )


@register(
    "privacy_t_closeness",
    oracle="""
    WITH banded AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS band
      FROM customer
    ),
    cls AS (
      SELECT c_nationkey, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_c
      FROM banded GROUP BY c_nationkey, c_mktsegment
    ),
    gband AS (
      SELECT band, CAST(COUNT(*) AS BIGINT) AS n_s FROM banded GROUP BY band
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM banded),
    cb AS (
      SELECT c_nationkey, c_mktsegment, band, CAST(COUNT(*) AS BIGINT) AS n_cs
      FROM banded GROUP BY c_nationkey, c_mktsegment, band
    ),
    grid AS (
      SELECT c.c_nationkey, c.c_mktsegment, c.n_c, g.band, g.n_s,
             COALESCE(x.n_cs, 0) AS n_cs
      FROM cls c
      CROSS JOIN gband g
      LEFT JOIN cb x ON x.c_nationkey = c.c_nationkey
                    AND x.c_mktsegment = c.c_mktsegment
                    AND x.band = g.band
    )
    SELECT c_nationkey, c_mktsegment,
           MAX(n_c) AS k_size,
           CAST(SUM(ABS(n_cs * (SELECT n FROM tot) - n_s * n_c)) AS BIGINT)
             AS tvd_num,
           SUM(ABS(n_cs * (SELECT n FROM tot) - n_s * n_c))
             / CAST(2 * MAX(n_c) * (SELECT n FROM tot) AS DOUBLE) AS t_value,
           5 * SUM(ABS(n_cs * (SELECT n FROM tot) - n_s * n_c))
             <= 2 * MAX(n_c) * (SELECT n FROM tot) AS t_close
    FROM grid
    GROUP BY c_nationkey, c_mktsegment
    """,
)
def privacy_t_closeness(spark, sf_dir):
    """t-closeness audit — the third rung of the anonymization ladder
    after privacy_k_anonymity_lattice (group size) and
    privacy_l_diversity (distinct sensitive values): within each
    (nation, segment) QI class, the total-variation distance between
    the class's sensitive-band distribution and the GLOBAL one (Li et
    al. 2007 with the variational distance instance; a class can be
    k-anonymous AND l-diverse yet still leak by skew). t <= 0.2 gates
    the class.

    Exactness: TVD = Sum_s |n_cs/N_c - n_s/N| / 2 is computed over the
    common denominator — the integer numerator Sum|n_cs*N - n_s*N_c|
    is an order-proof BIGINT sum, the threshold is the integer
    cross-multiply 5*T <= 2*N_c*N, and the reported t_value is ONE
    final fp division. (At true 100-TB counts the products approach
    int64 range — promote to DECIMAL(38) there; the shape is
    unchanged.) Plan: three hash aggs off one scan, then a
    broadcast grid of |classes| x |bands| (both tiny by
    construction) — no shuffle grows with the table."""
    c = load_table(spark, sf_dir, "customer")
    banded = c.select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000.0).cast("bigint").alias("band"),
    )
    cls = banded.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_c")
    )
    glob = banded.groupBy("band").agg(F.count(F.lit(1)).alias("n_s"))
    tot = banded.agg(F.count(F.lit(1)).alias("n"))
    cb = banded.groupBy("c_nationkey", "c_mktsegment", "band").agg(
        F.count(F.lit(1)).alias("n_cs")
    )
    grid = (
        cls.crossJoin(F.broadcast(glob))  # bcast: enum
        .join(F.broadcast(cb), ["c_nationkey", "c_mktsegment", "band"], "left")  # bcast: grid
        .na.fill({"n_cs": 0})
        .crossJoin(F.broadcast(tot))  # bcast: scalar
    )
    dev = F.abs(
        F.col("n_cs").cast("decimal(19,0)") * F.col("n") - F.col("n_s").cast("decimal(19,0)") * F.col("n_c")
    )
    return grid.groupBy("c_nationkey", "c_mktsegment").agg(
        F.max("n_c").alias("k_size"),
        F.sum(dev).cast("long").alias("tvd_num"),
        (
            F.sum(dev).cast("double")
            / (F.lit(2.0) * F.max("n_c") * F.max("n"))
        ).alias("t_value"),
        (
            F.lit(5) * F.sum(dev)
            <= F.lit(2) * F.max("n_c").cast("decimal(19,0)") * F.max("n")
        ).alias("t_close"),
    )


@register(
    "events_anova_f_oneway",
    oracle="""
    WITH cents AS (
      SELECT event_type, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v
      FROM events
    ),
    moments AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_g,
             CAST(SUM(v) AS BIGINT) AS s_g,
             -- stays HUGEINT to mirror the engine's DECIMAL(38,0)
             -- accumulation (r10 headroom audit)
             SUM(v * v) AS q_g
      FROM cents GROUP BY event_type
    ),
    terms AS (
      SELECT n_g, s_g, q_g,
             SUM((CAST(s_g AS DOUBLE) * s_g) / n_g)
               OVER (ORDER BY event_type
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_term
      FROM moments
    ),
    folded AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(n_g) AS BIGINT) AS n,
             CAST(SUM(s_g) AS BIGINT) AS s,
             SUM(q_g) AS q,
             MAX(cum_term) AS between_raw
      FROM terms
    )
    SELECT k, n,
           ROUND(between_raw - (CAST(s AS DOUBLE) * s) / n, 6) AS ssb_c2,
           ROUND(q - between_raw, 6) AS ssw_c2,
           ROUND(((between_raw - (CAST(s AS DOUBLE) * s) / n) / (k - 1))
                 / ((q - between_raw) / (n - k)), 6) AS f_stat
    FROM folded
    """,
)
def events_anova_f_oneway(spark, sf_dir):
    """One-way ANOVA F-statistic across the event-type arms over
    event value — the >2-arm companion to events_abtest_ztest /
    events_mannwhitney_arms / events_kstest_arms: is the between-arm
    variance large relative to within-arm? Classic experimentation
    readout when a test ships more than two variants.

    Exactness discipline: per-arm moments are exact integer cents
    (count, sum, sum-of-squares); the only float accumulation —
    Sum_g s_g^2/n_g — runs as a WINDOWED running sum in event_type
    order, which both engines evaluate sequentially over identical
    rows (the repo's running-aggregate contract), and every term is
    positive so the final value is the MAX of the cumulative column.
    s_g is cast to double BEFORE squaring (s_g^2 would pass int64 at
    sf0.01 but not at 100 TB), and q_g = Σv² accumulates in
    DECIMAL(38,0) for the same reason: v² ≤ 1e8 per event, so the
    per-arm sum crosses int64's 9.2e18 at ~1e11 events — exactly
    the 100-TB row count (r10 headroom audit). F itself is one closed-form
    expression, rounded at 6, with NULLIF guards on every divisor:
    a degenerate input (zero within-arm variance, or n == k) must
    yield NULL exactly as the oracle's x/0 does — without the guard
    an ANSI-mode session (the Spark 4 default) raises DIVIDE_BY_ZERO
    instead (caught by the r10 whale-value stress fixture). Plan:
    one map-combined 5-key agg, a 5-row window, a 1-row reduce —
    scan-bound at any scale."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    cents = ev.select(
        "event_type",
        F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("v"),
    )
    moments = cents.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_g"),
        F.sum("v").alias("s_g"),
        F.sum(F.col("v").cast("decimal(19,0)") * F.col("v")).alias("q_g"),
    )
    w = Window.orderBy("event_type").rowsBetween(Window.unboundedPreceding, 0)
    terms = moments.select(
        "n_g",
        "s_g",
        "q_g",
        F.sum(
            (F.col("s_g").cast("double") * F.col("s_g")) / F.col("n_g")
        ).over(w).alias("cum_term"),
    )
    folded = terms.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("n_g").alias("n"),
        F.sum("s_g").alias("s"),
        F.sum("q_g").alias("q"),
        F.max("cum_term").alias("between_raw"),
    )
    ssb = F.col("between_raw") - (F.col("s").cast("double") * F.col("s")) / F.col("n")
    ssw = F.col("q") - F.col("between_raw")
    return folded.select(
        "k",
        "n",
        F.round(ssb, 6).alias("ssb_c2"),
        F.round(ssw, 6).alias("ssw_c2"),
        F.round(
            (ssb / F.nullif((F.col("k") - 1).cast("double"), F.lit(0.0)))
            / F.nullif(
                ssw / F.nullif(
                    (F.col("n") - F.col("k")).cast("double"), F.lit(0.0)
                ),
                F.lit(0.0),
            ),
            6,
        ).alias("f_stat"),
    )


# SPRT constants precomputed in Python and inlined as identical double
# literals in BOTH engines' SQL — ln() at query time could differ in
# the last ulp between libm builds; a shared literal cannot.
# H0: purchase share p0=0.05, H1: p1=0.07, alpha=0.05, beta=0.2.
_SPRT_C1 = 0.336472236621213  # ln(p1/p0)
_SPRT_C2 = -0.021277398447284965  # ln((1-p1)/(1-p0))
_SPRT_A = 2.772588722239781  # ln((1-beta)/alpha): accept H1 at/above
_SPRT_B = -1.5581446180465497  # ln(beta/(1-alpha)): accept H0 at/below


@register(
    "events_sprt_sequential_test",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n_d,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS k_d
      FROM events GROUP BY 1
    ),
    cum AS (
      SELECT day,
             CAST(SUM(n_d) OVER w AS BIGINT) AS n_cum,
             CAST(SUM(k_d) OVER w AS BIGINT) AS k_cum
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)
    )
    SELECT day, n_cum, k_cum,
           k_cum * {_SPRT_C1!r}e0 + (n_cum - k_cum) * {_SPRT_C2!r}e0 AS llr,
           CASE
             WHEN k_cum * {_SPRT_C1!r}e0 + (n_cum - k_cum) * {_SPRT_C2!r}e0
                  >= {_SPRT_A!r}e0 THEN 'accept_h1'
             WHEN k_cum * {_SPRT_C1!r}e0 + (n_cum - k_cum) * {_SPRT_C2!r}e0
                  <= {_SPRT_B!r}e0 THEN 'accept_h0'
             ELSE 'continue'
           END AS decision
    FROM cum
    """,
)
def events_sprt_sequential_test(spark, sf_dir):
    """Wald's sequential probability ratio test on the purchase
    share, evaluated day by day — the always-valid alternative to the
    fixed-horizon z-test (events_abtest_ztest) that experimentation
    platforms use to allow continuous peeking: the cumulative
    log-likelihood ratio walks until it crosses the accept-H1 or
    accept-H0 boundary, and the decision column replays exactly when
    the test would have stopped.

    Exactness: the four ln() constants are precomputed ONCE in Python
    and inlined as identical double literals in both engines (libm
    vs JVM ln can differ in the last ulp; a shared literal cannot),
    so the LLR is integer-times-literal products in fixed order —
    bit-exact with no rounding step. Plan: one date-keyed agg
    (map-combined), one ~30-row window — scan-bound; at 100 TB the
    daily pre-agg IS the state a streaming SPRT would checkpoint."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count("*").cast("bigint").alias("n_d"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("k_d"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cum = daily.select(
        "day",
        F.sum("n_d").over(w).alias("n_cum"),
        F.sum("k_d").over(w).alias("k_cum"),
    )
    llr = F.col("k_cum") * F.lit(_SPRT_C1) + (
        F.col("n_cum") - F.col("k_cum")
    ) * F.lit(_SPRT_C2)
    return cum.select(
        "day",
        "n_cum",
        "k_cum",
        llr.alias("llr"),
        F.when(llr >= _SPRT_A, "accept_h1")
        .when(llr <= _SPRT_B, "accept_h0")
        .otherwise("continue")
        .alias("decision"),
    )


@register(
    "events_srm_check",
    oracle="""
    WITH assign AS (
      SELECT user_id,
             CAST('0x' || substring(md5('srm|' || CAST(user_id AS VARCHAR)),
                  1, 15) AS BIGINT) % 2 AS arm
      FROM events
      GROUP BY user_id
    ),
    counts AS (
      SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      FROM assign
    )
    SELECT n_a, n_b,
           ROUND((n_a - n_b) * (n_a - n_b) / CAST(n_a + n_b AS DOUBLE), 6)
             AS chi2,
           (n_a - n_b) * (n_a - n_b) * 10000 > 38415 * (n_a + n_b)
             AS srm_detected
    FROM counts
    """,
)
def events_srm_check(spark, sf_dir):
    """Sample-ratio-mismatch guardrail — the FIRST check any
    experimentation platform runs before reading a test (a
    significant z/F/SPRT result is garbage if the 50/50 assignment
    itself is broken by bot filtering, logging loss, or redirect
    bugs): chi-square goodness-of-fit of the observed arm counts
    against the designed equal split. For two arms the statistic
    collapses to (n_a-n_b)^2/(n_a+n_b), and the 5% decision is the
    INTEGER cross-multiply (n_a-n_b)^2 * 10000 > 38415 * n — no float
    threshold can flip it. Assignment is the portable md5 hash so
    both engines derive identical arms. One user-keyed agg + a 1-row
    reduce: scan-bound at 100 TB, exactly like the ztest it gates."""
    ev = load_table(spark, sf_dir, "events")
    assign = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("_n"))
        .select(
            (
                F.expr(
                    "cast(conv(substring(md5('srm|' || cast(user_id AS string)),"
                    " 1, 15), 16, 10) AS bigint)"
                )
                % 2
            ).alias("arm")
        )
    )
    counts = assign.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("bigint").alias("n_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("bigint").alias("n_b"),
    )
    d = F.col("n_a") - F.col("n_b")
    n = F.col("n_a") + F.col("n_b")
    return counts.select(
        "n_a",
        "n_b",
        F.round(d * d / n.cast("double"), 6).alias("chi2"),
        (d * d * 10000 > 38415 * n).alias("srm_detected"),
    )


@register(
    "privacy_masking_view",
    oracle="""
    SELECT 'cust_' || CAST(CAST('0x' || substring(
             md5('pseud|' || CAST(c_custkey AS VARCHAR)), 1, 15) AS BIGINT)
             % 100000000 AS VARCHAR) AS pseudonym,
           c_nationkey, c_mktsegment,
           CAST(FLOOR(c_acctbal / 500.0) AS BIGINT) * 500 AS acctbal_band,
           CAST(length(c_name) AS INT) AS name_len
    FROM customer
    """,
)
def privacy_masking_view(spark, sf_dir):
    """Dynamic masking view — the serving-side companion to the
    anonymization audits (privacy_k_anonymity_lattice /
    _l_diversity / _t_closeness): direct identifiers become a STABLE
    pseudonym (keyed portable hash, so joins across masked datasets
    still link the same customer without revealing the key),
    quasi-identifiers coarsen to bands, and free-text shrinks to a
    length. This is what the analyst role actually queries; the raw
    table stays behind the view boundary.

    Pure map expressions at scan speed — masking 100 TB costs one
    pass, and because the pseudonym is deterministic the view can be
    materialized incrementally (matview_incremental_refresh) without
    re-keying history. In production the hash gains a secret salt
    from the key-management seam; the public salt here keeps the
    query oracle-checkable."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        F.concat(
            F.lit("cust_"),
            (
                F.expr(
                    "cast(conv(substring(md5('pseud|' || cast(c_custkey AS string)),"
                    " 1, 15), 16, 10) AS bigint)"
                )
                % 100000000
            ).cast("string"),
        ).alias("pseudonym"),
        "c_nationkey",
        "c_mktsegment",
        (F.floor(F.col("c_acctbal") / 500.0).cast("bigint") * 500).alias(
            "acctbal_band"
        ),
        F.length("c_name").cast("int").alias("name_len"),
    )


@register(
    "pipeline_curriculum_order",
    oracle=f"""
    WITH feats AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split(lower(text), ' '),
                  w -> w <> '')) AS BIGINT) AS n_toks,
             CAST(list_sum(list_transform(list_filter(string_split(lower(text),
                  ' '), w -> w <> ''), w -> length(w))) AS BIGINT) * 100
               // CAST(len(list_filter(string_split(lower(text), ' '),
                  w -> w <> '')) AS BIGINT) AS avg_len_x100
      FROM documents
      WHERE len(list_filter(string_split(lower(text), ' '), w -> w <> '')) > 0
    ),
    staged AS (
      SELECT doc_id, n_toks, avg_len_x100,
             CAST(NTILE(4) OVER (ORDER BY avg_len_x100, doc_id) AS INT) AS stage
      FROM feats
    )
    SELECT stage,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
           MIN(avg_len_x100) AS min_avg_len_x100,
           MAX(avg_len_x100) AS max_avg_len_x100
    FROM staged GROUP BY stage
    """,
)
def pipeline_curriculum_order(spark, sf_dir):
    """Curriculum staging: order the corpus by an integer lexical-
    difficulty proxy (mean token length in fixed-point x100 — short
    words first, the 'easy' end) and cut it into 4 equal NTILE
    stages, reporting each stage's document count and token budget —
    the schedule a curriculum-learning trainer consumes stage by
    stage (feeding into pipeline_epoch_order for intra-stage
    shuffling).

    The difficulty score is pure integer arithmetic (char-sum x100
    integer-divided by token count — no float mean); the NTILE(4)
    cut rides the distributed global-rank kernel
    (operators/ranking.py: range shuffle + per-partition local
    ranks + a K-row offset broadcast, then `ntile_from_rank`'s
    closed form) so NO single-partition window ever sees the
    per-document rows — the same discipline as
    agg_quantile_exact_global; the report is a 4-key agg."""
    from .ranking import ntile_from_rank, with_global_rank

    d = load_table(spark, sf_dir, "documents")
    feats = (
        d.select("doc_id", F.expr(
            "filter(split(lower(text), ' '), w -> w <> '')").alias("toks"))
        .filter(F.size("toks") > 0)
        .select(
            "doc_id",
            F.size("toks").cast("bigint").alias("n_toks"),
            F.expr(
                "aggregate(toks, 0L, (a, x) -> a + length(x)) * 100"
                " div size(toks)"
            ).alias("avg_len_x100"),
        )
    )
    ranked = with_global_rank(
        feats, ["avg_len_x100", "doc_id"], rank_col="g_rank", total_col="g_n"
    )
    staged = ranked.select(
        "n_toks",
        "avg_len_x100",
        ntile_from_rank(F.col("g_rank"), F.col("g_n"), 4).alias("stage"),
    )
    return staged.groupBy("stage").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_toks").alias("total_tokens"),
        F.min("avg_len_x100").alias("min_avg_len_x100"),
        F.max("avg_len_x100").alias("max_avg_len_x100"),
    )


@register(
    "orders_littles_law_audit",
    oracle="""
    WITH per_order AS (
      SELECT o.o_orderkey,
             CAST(o.o_orderdate AS DATE) AS start_day,
             DATEDIFF('day', CAST(o.o_orderdate AS DATE),
                      CAST(MAX(l.l_shipdate) AS DATE)) AS cycle_days
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_orderdate
    ),
    w AS (
      SELECT MIN(start_day) AS wlo, MAX(start_day) AS whi FROM per_order
    ),
    clipped AS (
      SELECT p.o_orderkey, p.cycle_days,
             LEAST(CAST(p.cycle_days AS BIGINT),
                   CAST(DATEDIFF('day', p.start_day, w.whi) + 1 AS BIGINT))
               AS occ_days
      FROM per_order p, w
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST((SELECT DATEDIFF('day', wlo, whi) + 1 FROM w) AS BIGINT)
             AS window_days,
           CAST(SUM(cycle_days) AS BIGINT) AS total_cycle_days,
           CAST(SUM(occ_days) AS BIGINT) AS occupancy_days,
           ROUND(COUNT(*) / CAST((SELECT DATEDIFF('day', wlo, whi) + 1 FROM w)
                                 AS DOUBLE), 6) AS lambda_per_day,
           ROUND(SUM(cycle_days) / CAST(COUNT(*) AS DOUBLE), 6) AS w_mean_days,
           ROUND((COUNT(*) / CAST((SELECT DATEDIFF('day', wlo, whi) + 1 FROM w)
                                  AS DOUBLE))
                 * (SUM(cycle_days) / CAST(COUNT(*) AS DOUBLE)), 6)
             AS l_littles,
           ROUND(SUM(occ_days)
                 / CAST((SELECT DATEDIFF('day', wlo, whi) + 1 FROM w)
                        AS DOUBLE), 6) AS l_observed
    FROM clipped
    """,
)
def orders_littles_law_audit(spark, sf_dir):
    """Little's law audit on the order pipeline: arrival rate
    (lambda = orders/day over the observed window), mean time in
    system (W = mean order-to-last-ship days), and average
    work-in-progress measured two ways — the law's prediction
    L = lambda x W versus the time-averaged occupancy actually
    integrated over the window (per-order occupancy CLIPPED at the
    window edge, computed closed-form as LEAST(cycle, window_end -
    start + 1) — no per-day explode). The gap between l_littles and
    l_observed is exactly the finite-window edge effect; on an
    infinite window they coincide, which is the law. Operations
    teams run this to sanity-check backlog dashboards
    (orders_backlog_aging) against throughput.

    Integer aggregates end-to-end (day diffs, clipped occupancy);
    the four reported rates are single closed-form fp expressions
    rounded at 6. One order-grain agg + a broadcast 1-row window
    bound — two scans, scan-bound at 100 TB."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    per_order = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.max("l_shipdate").alias("last_ship"))
        .select(
            F.col("o_orderdate").cast("date").alias("start_day"),
            F.datediff(
                F.col("last_ship").cast("date"), F.col("o_orderdate").cast("date")
            ).alias("cycle_days"),
        )
    )
    w = per_order.agg(
        F.min("start_day").alias("wlo"), F.max("start_day").alias("whi")
    )
    clipped = per_order.crossJoin(F.broadcast(w)).select(  # bcast: scalar
        "cycle_days",
        F.least(
            F.col("cycle_days").cast("bigint"),
            (F.datediff(F.col("whi"), F.col("start_day")) + 1).cast("bigint"),
        ).alias("occ_days"),
        (F.datediff(F.col("whi"), F.col("wlo")) + 1).cast("bigint").alias("wdays"),
    )
    agg = clipped.agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.max("wdays").alias("window_days"),
        F.sum("cycle_days").cast("bigint").alias("total_cycle_days"),
        F.sum("occ_days").alias("occupancy_days"),
    )
    lam = F.col("n_orders") / F.col("window_days").cast("double")
    wm = F.col("total_cycle_days") / F.col("n_orders").cast("double")
    return agg.select(
        "n_orders",
        "window_days",
        "total_cycle_days",
        "occupancy_days",
        F.round(lam, 6).alias("lambda_per_day"),
        F.round(wm, 6).alias("w_mean_days"),
        F.round(lam * wm, 6).alias("l_littles"),
        F.round(
            F.col("occupancy_days") / F.col("window_days").cast("double"), 6
        ).alias("l_observed"),
    )


@register(
    "privacy_dp_sensitivity_report",
    oracle="""
    WITH per_user_day AS (
      SELECT CAST(ts AS DATE) AS day, user_id,
             CAST(COUNT(*) AS BIGINT) AS n_u
      FROM events GROUP BY 1, 2
    )
    SELECT day,
           CAST(SUM(n_u) AS BIGINT) AS raw_count,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           MAX(n_u) AS max_user_contribution,
           CAST(SUM(LEAST(n_u, 20)) AS BIGINT) AS clipped_count_c20,
           CAST(SUM(n_u) - SUM(LEAST(n_u, 20)) AS BIGINT) AS clipping_loss
    FROM per_user_day GROUP BY day
    """,
)
def privacy_dp_sensitivity_report(spark, sf_dir):
    """Differential-privacy release prep for the daily event
    histogram: before a DP engine adds calibrated noise it must
    BOUND each user's contribution — this report computes, per day,
    the raw count, the observed max per-user contribution (the
    quantity that would otherwise drive unbounded L-inf
    sensitivity), and the count after clipping each user at C=20
    with the utility cost of that clip (clipping_loss). Choosing C
    is exactly the bias-variance trade this table exposes: smaller C
    means less noise but more clipped signal. The noise itself is
    deliberately out of scope — it is nondeterministic by
    definition; everything UP TO the noise draw is deterministic and
    graded. Two hash aggs (user-day, then day), both map-side
    combined — scan-bound at 100 TB, and the per-user-day grain is
    what a production DP-SQL engine materializes anyway."""
    ev = load_table(spark, sf_dir, "events")
    pud = ev.groupBy(
        F.col("ts").cast("date").alias("day"), "user_id"
    ).agg(F.count("*").cast("bigint").alias("n_u"))
    return pud.groupBy("day").agg(
        F.sum("n_u").cast("bigint").alias("raw_count"),
        F.count("*").cast("bigint").alias("n_users"),
        F.max("n_u").alias("max_user_contribution"),
        F.sum(F.least(F.col("n_u"), F.lit(20))).cast("bigint").alias(
            "clipped_count_c20"
        ),
        (F.sum("n_u") - F.sum(F.least(F.col("n_u"), F.lit(20))))
        .cast("bigint")
        .alias("clipping_loss"),
    )


_THETA_K = 64
_THETA_SCALE = "63.0 * 1152921504606846976.0"  # (k-1) * 2^60, exact in double


@register(
    "agg_theta_sketch_users",
    oracle=f"""
    WITH base AS (
      SELECT DISTINCT event_type AS segment, user_id FROM events
      UNION ALL
      SELECT DISTINCT 'ALL' AS segment, user_id FROM events
    ),
    hashed AS (
      SELECT segment, user_id,
             CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15)
                  AS BIGINT) AS h
      FROM base
    ),
    ranked AS (
      SELECT segment, h,
             ROW_NUMBER() OVER (PARTITION BY segment ORDER BY h) AS rn
      FROM hashed
    )
    SELECT segment,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           MAX(CASE WHEN rn = {_THETA_K} THEN h END) AS kth_hash,
           CASE WHEN MAX(CASE WHEN rn = {_THETA_K} THEN h END) IS NULL
                THEN CAST(COUNT(*) AS DOUBLE)
                ELSE {_THETA_SCALE}
                     / CAST(MAX(CASE WHEN rn = {_THETA_K} THEN h END) AS DOUBLE)
           END AS theta_est
    FROM ranked GROUP BY segment
    """,
)
def agg_theta_sketch_users(spark, sf_dir):
    """KMV / theta-sketch distinct counting — the mergeable sketch
    family behind Druid/DataSketches COUNT DISTINCT: keep the k=64
    smallest values of a uniform 60-bit hash of the key; the k-th
    smallest value hk defines theta = hk/2^60 and the estimate
    (k-1)/theta = (k-1)*2^60/hk; a sketch that never filled (fewer
    than k distinct keys) IS the exact answer. Segments are the
    event qualifiers plus an 'ALL' union row — and because a KMV
    union is just 'k smallest of the merged streams', the ALL row is
    simultaneously the union-merge of the per-segment sketches,
    which is what makes the sketch mergeable region-by-region at
    100 TB (each region ships k values, not its key set).

    Determinism: the hash is the engine-portable md5-h60 (hashutil),
    so both engines rank identical integers; the estimate divides
    two exactly-representable doubles ((k-1)*2^60 needs 6 mantissa
    bits) — one correctly-rounded IEEE division, bit-identical
    cross-engine. Scale shape (restructured in the r7 funnel sweep):
    distinct collapses map-side; the k-smallest selection then runs
    the two-phase partial-top-k — a local k-smallest per (segment,
    input partition) window, parallel and heap-bounded (each
    partition surrenders ≤ k hashes per segment — exactly the
    'each region ships k values' merge the sketch exists for),
    then the exact rank over the ≤ k·P survivors per segment,
    metadata-scale. The exact count rides its own hash agg. A
    locally-dropped row always has k same-partition rows at-or-
    before it, so the global k-th VALUE is unchanged under any
    layout (asserted by the invariance sweep)."""
    from ..hashutil import h60 as _h
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    base = (
        ev.select(F.col("event_type").alias("segment"), "user_id")
        .distinct()
        .unionAll(ev.select(F.lit("ALL").alias("segment"), "user_id").distinct())
    )
    # Consumed twice (exact-count agg + k-smallest candidate path):
    # pin one materialization so the distinct+union scan runs once —
    # the same DISK_ONLY io.pin the ranking kernels use.
    hashed = base.withColumn(
        "h", F.expr(_h("cast(user_id AS string)"))
    ).transform(_pin)
    counts = hashed.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_exact")
    )
    cand = hashed.withColumn("_pid", F.spark_partition_id())
    # user_id tie-break = the repo's total-order contract for ranked
    # queries. Only the k-th hash VALUE is consumed, so a duplicate
    # 60-bit hash at the boundary yields the same kth_hash either
    # way — but invariance should rest on a total order, not on that
    # subtlety.
    w_loc = Window.partitionBy("segment", "_pid").orderBy("h", "user_id")
    local = cand.withColumn("_lrn", F.row_number().over(w_loc)).filter(
        F.col("_lrn") <= _THETA_K
    )
    ranked = local.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("segment").orderBy("h", "user_id")
        ),
    )
    kth_tbl = ranked.groupBy("segment").agg(
        F.max(F.when(F.col("rn") == _THETA_K, F.col("h"))).alias("kth_hash")
    )
    kth = F.col("kth_hash")
    return counts.join(kth_tbl, "segment").select(
        "segment",
        "n_exact",
        "kth_hash",
        F.when(kth.isNull(), F.col("n_exact").cast("double"))
        .otherwise(F.expr(_THETA_SCALE) / kth.cast("double"))
        .alias("theta_est"),
    )


@register(
    "events_ctr_wilson_rank",
    oracle="""
    WITH camp AS (
      SELECT user_id % 50 AS campaign,
             CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                  AS BIGINT) AS impressions,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS BIGINT) AS clicks
      FROM events GROUP BY user_id % 50
    ),
    scored AS (
      SELECT campaign, impressions, clicks,
             CAST(LEAST(clicks, impressions) AS DOUBLE)
               / CAST(impressions AS DOUBLE) AS p,
             CAST(impressions AS DOUBLE) AS n
      FROM camp WHERE impressions > 0
    ),
    wilson AS (
      SELECT campaign, impressions, clicks,
             (p + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / (2.0 * n)
                - 1.96 * SQRT((p * (1.0 - p)
                    + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE))
                      / (4.0 * n)) / n))
             / (1.0 + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / n)
               AS wilson_lb
      FROM scored
    )
    SELECT campaign, impressions, clicks, wilson_lb,
           CAST(ROW_NUMBER() OVER (ORDER BY wilson_lb DESC, campaign)
                AS INT) AS rnk
    FROM wilson
    """,
)
def events_ctr_wilson_rank(spark, sf_dir):
    """Campaign CTR ranking by the Wilson score lower bound — the
    estimator that fixes naive-CTR ranking's small-sample lie (a 1/1
    campaign is not better than 900/1000; the Wilson interval shrinks
    toward the prior exactly as evidence thins). z is pinned at 1.96
    (95%) and written as the literal product both engines parse to
    the same IEEE double; p, the bound's center, radius, and
    normalizer are ONE identically-parenthesized double expression —
    every step (decimal parse, division, sqrt, multiply) is
    correctly-rounded IEEE, so the bound is bit-identical
    cross-engine without any rounding grid. Clicks are clamped to
    impressions (LEAST) so the synthetic event mix can't push p past
    1 into a negative radicand.

    Scale shape: one hash agg collapses the event stream to 50
    campaign rows map-side; the rank window runs over those 50
    aggregate rows (scalar-scale, not a raw-row global sort)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    camp = (
        ev.groupBy((F.col("user_id") % 50).alias("campaign"))
        .agg(
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
            .cast("bigint")
            .alias("impressions"),
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            .cast("bigint")
            .alias("clicks"),
        )
        .filter(F.col("impressions") > 0)
    )
    p = F.least(F.col("clicks"), F.col("impressions")).cast("double") / F.col(
        "impressions"
    ).cast("double")
    n = F.col("impressions").cast("double")
    z2 = F.lit(1.96) * F.lit(1.96)
    lb = (
        p
        + z2 / (F.lit(2.0) * n)
        - F.lit(1.96)
        * F.sqrt((p * (F.lit(1.0) - p) + z2 / (F.lit(4.0) * n)) / n)
    ) / (F.lit(1.0) + z2 / n)
    scored = camp.withColumn("wilson_lb", lb)
    return scored.select(
        "campaign",
        "impressions",
        "clicks",
        "wilson_lb",
        F.row_number()
        .over(Window.orderBy(F.col("wilson_lb").desc(), "campaign"))
        .cast("int")
        .alias("rnk"),
    )


@register(
    "agg_hdr_histogram_p99",
    oracle="""
    WITH base AS (
      SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    ),
    bucketed AS (
      SELECT length(bin(cents)) - 1 AS bucket, COUNT(*) AS cnt
      FROM base GROUP BY 1
    ),
    cum AS (
      SELECT bucket, cnt,
             SUM(cnt) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
               AS cum_cnt,
             SUM(cnt) OVER () AS total
      FROM bucketed
    )
    SELECT CAST(bucket AS INT) AS bucket,
           CAST(POWER(2.0, bucket) AS BIGINT) AS lo_cents,
           CAST(cnt AS BIGINT) AS cnt,
           CAST(cum_cnt AS BIGINT) AS cum_cnt,
           CAST(CASE WHEN cum_cnt - cnt < (total * 99 + 99) // 100
                          AND cum_cnt >= (total * 99 + 99) // 100
                     THEN 1 ELSE 0 END AS INT) AS holds_p99
    FROM cum
    """,
)
def agg_hdr_histogram_p99(spark, sf_dir):
    """HDR-histogram tail-latency readout — the log2-bucketed
    histogram every latency/size monitoring system keeps because it
    is mergeable and constant-size where exact percentiles are
    neither: bucket = floor(log2(value)), computed WITHOUT libm as
    bit-length − 1 (`length(bin(x)) − 1`, integer-exact in both
    engines — a log2() double at an exact power of two is the
    classic last-ulp boundary this avoids). The report is the full
    bucket table with cumulative counts plus the p99 marker: the
    unique bucket whose cumulative count first reaches
    ceil(0.99·N) (integer ceiling via (99N+99)//100 — no double
    quantile math anywhere).

    Scale shape: the histogram is a ~34-bucket hash agg (partial
    map-side — each executor ships 34 counters, the sketch property
    that makes it work at 100 TB); the cumulative window runs over
    those 34 aggregate rows only."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    bucketed = (
        o.select(cents.alias("cents"))
        .groupBy((F.length(F.bin("cents")) - 1).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    cum = bucketed.select(
        "bucket",
        "cnt",
        F.sum("cnt").over(w).alias("cum_cnt"),
        F.sum("cnt").over(wall).alias("total"),
    )
    p99_rank = F.expr("(total * 99 + 99) div 100")
    return cum.select(
        F.col("bucket").cast("int").alias("bucket"),
        F.pow(F.lit(2.0), F.col("bucket")).cast("bigint").alias("lo_cents"),
        F.col("cnt").cast("bigint").alias("cnt"),
        F.col("cum_cnt").cast("bigint").alias("cum_cnt"),
        F.when(
            (F.col("cum_cnt") - F.col("cnt") < p99_rank)
            & (F.col("cum_cnt") >= p99_rank),
            1,
        )
        .otherwise(0)
        .cast("int")
        .alias("holds_p99"),
    )


@register(
    "events_kendall_tau_campaigns",
    oracle="""
    WITH camp AS (
      SELECT user_id % 50 AS campaign,
             CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                  AS BIGINT) AS x,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                           THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS y
      FROM events GROUP BY user_id % 50
    ),
    pairs AS (
      SELECT (a.x - b.x) * (a.y - b.y) AS prod
      FROM camp a JOIN camp b ON a.campaign < b.campaign
    )
    SELECT CAST((SELECT COUNT(*) FROM camp) AS BIGINT) AS n_camps,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN prod > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS concordant,
           CAST(SUM(CASE WHEN prod < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS discordant,
           CAST(SUM(CASE WHEN prod = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ties,
           CAST((SUM(CASE WHEN prod > 0 THEN 1 ELSE 0 END)
                 - SUM(CASE WHEN prod < 0 THEN 1 ELSE 0 END)) * 1000000
                // COUNT(*) AS BIGINT) AS tau_a_micro
    FROM pairs
    """,
)
def events_kendall_tau_campaigns(spark, sf_dir):
    """Kendall rank correlation (tau-a) between campaign exposure
    and campaign revenue — the robust 'does more traffic actually
    rank with more money' check, preferred over Pearson when either
    metric is heavy-tailed. Computed from first principles as
    concordant-minus-discordant pairs over the 50 campaign
    aggregates; the pair product (x_i−x_j)(y_i−y_j) is pure BIGINT
    (impressions × revenue-cents deltas), and tau ships as an exact
    integer micro-ratio — no doubles anywhere, nothing the fixture
    regen can flip.

    Scale shape: the O(n²) pair join is over the AGGREGATED campaign
    domain, which is bounded at 50 by construction (user_id mod 50)
    — 1 225 pairs at ANY data scale; the event stream itself only
    ever passes through one map-side-combining hash agg. This is the
    sanctioned quadratic-on-bounded-domain pattern (cf. the
    NGRAM_EXACT_BLOCK_CAP quarantine for unbounded ones)."""
    ev = load_table(spark, sf_dir, "events")
    camp = ev.groupBy((F.col("user_id") % 50).alias("campaign")).agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("bigint")
        .alias("x"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.floor(F.col("value") * 100 + 0.5).cast("long"),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("y"),
    )
    a = camp.alias("a")
    b = camp.alias("b")
    pairs = a.join(b, F.col("a.campaign") < F.col("b.campaign")).select(
        ((F.col("a.x") - F.col("b.x")) * (F.col("a.y") - F.col("b.y"))).alias("prod")
    )
    n_camps = camp.agg(F.count(F.lit(1)).alias("n_camps"))
    agg = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(F.when(F.col("prod") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("concordant"),
        F.sum(F.when(F.col("prod") < 0, 1).otherwise(0))
        .cast("bigint")
        .alias("discordant"),
        F.sum(F.when(F.col("prod") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("ties"),
    )
    return (
        agg.crossJoin(F.broadcast(n_camps))  # bcast: scalar
        .select(
            F.col("n_camps").cast("bigint").alias("n_camps"),
            "n_pairs",
            "concordant",
            "discordant",
            "ties",
            F.expr("(concordant - discordant) * 1000000 div n_pairs")
            .cast("bigint")
            .alias("tau_a_micro"),
        )
    )


@register(
    "orders_skyline_customers",
    oracle="""
    WITH cust AS (
      SELECT o_custkey,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                  // COUNT(*) AS BIGINT) AS avg_cents,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT o_custkey, avg_cents, n_orders,
             MAX(n_orders) OVER (ORDER BY avg_cents
                                 RANGE BETWEEN 1 FOLLOWING
                                           AND UNBOUNDED FOLLOWING)
               AS best_orders_above
      FROM cust
    )
    SELECT o_custkey, avg_cents, n_orders
    FROM ranked
    WHERE best_orders_above IS NULL OR best_orders_above <= n_orders
    """,
)
def orders_skyline_customers(spark, sf_dir):
    """Skyline (Pareto-frontier) operator — the classic multi-
    criteria query Spark has no native node for: customers not
    strictly dominated on (average order value, order count), i.e. the
    frontier a retention team actually looks at instead of a single
    blended score. Dominance (∃ other with BOTH metrics strictly
    greater) reduces in 2-D to ONE window: sort by spend, take the
    running max of order-count over the strictly-greater-spend
    suffix (RANGE 1 FOLLOWING → UNBOUNDED — a value-range frame, so
    spend ties correctly don't dominate each other), and keep rows
    that beat it. O(n log n) total instead of the O(n²)
    all-pairs NOT EXISTS a naive formulation shuffles.

    All-integer (cents + counts): the frontier membership predicate
    can never sit on a float boundary. Scale shape: one hash agg to
    per-customer rows, one global value-sorted window — the sort is
    the operator's inherent cost and is exactly Spark's
    range-partitioned sort; no join, no broadcast, no Python."""
    from .ranking import with_global_prefix_max

    o = load_table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.expr("sum(cast(floor(o_totalprice * 100 + 0.5) AS bigint)) div count(*)")
        .cast("bigint")
        .alias("avg_cents"),
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
    ).transform(_pin)
    # ^ the per-customer aggregate is consumed twice (value table +
    #   join-back) and additionally sampled by the kernel's range
    #   shuffle — without pinning, the orders scan+agg re-runs four
    #   times (measured 5.2 s -> 1.6 s at sf0.1).
    # group to distinct x-values first (ties must not dominate each
    # other), then the strictly-greater suffix max is an EXCLUSIVE
    # prefix max in descending order — the distributed sweep kernel;
    # Spark's own RANGE (1, unboundedFollowing) frame recomputes the
    # aggregate per row: O(n^2) in WindowExec, measured 5.3 s on the
    # 15 k-customer sf0.1 frontier vs ~0.6 s for this plan.
    vals = cust.groupBy("avg_cents").agg(F.max("n_orders").alias("vmax"))
    vm = with_global_prefix_max(
        vals, [F.col("avg_cents").desc()], "vmax", out_col="best_orders_above"
    ).select("avg_cents", "best_orders_above")
    return (
        cust.join(vm, "avg_cents")
        .filter(
            F.col("best_orders_above").isNull()
            | (F.col("best_orders_above") <= F.col("n_orders"))
        )
        .select("o_custkey", "avg_cents", "n_orders")
    )


@register(
    "agg_simpson_diversity",
    oracle="""
    WITH percust AS (
      SELECT c.c_nationkey AS nationkey, o.o_custkey,
             CAST(COUNT(*) AS BIGINT) AS n_i
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_nationkey, o.o_custkey
    ),
    pernation AS (
      SELECT nationkey,
             CAST(COUNT(*) AS BIGINT) AS n_customers,
             CAST(SUM(n_i) AS BIGINT) AS n_orders,
             CAST(SUM(n_i * (n_i - 1)) AS BIGINT) AS num
      FROM percust GROUP BY nationkey
    )
    SELECT p.nationkey, n.n_name,
           n_customers, n_orders,
           CAST(num * 1000000 // (n_orders * (n_orders - 1)) AS BIGINT)
             AS simpson_micro
    FROM pernation p JOIN nation n ON n.n_nationkey = p.nationkey
    WHERE n_orders >= 2
    """,
)
def agg_simpson_diversity(spark, sf_dir):
    """Simpson concentration index per market — the 'probability two
    random orders belong to the same customer' diversity readout
    that complements `agg_entropy_behavior` (Shannon) and
    `agg_gini_concentration` (inequality): D = Σ nᵢ(nᵢ−1) / N(N−1),
    an exact RATIONAL in integer order counts, shipped as numerator-
    times-1e6 integer division — the whole statistic is BIGINT
    arithmetic end to end (Shannon needs logs; Simpson is the
    diversity index you can grade to the bit).

    Scale shape: two stacked hash aggs (customer then nation — both
    combine map-side; the first's output IS already partitioned
    compatibly for the second, so AQE coalesces rather than
    reshuffles) plus a 25-row broadcast for names."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    percust = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nationkey"), "o_custkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_i"))
    )
    pernation = percust.groupBy("nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("n_i").cast("bigint").alias("n_orders"),
        F.sum(F.col("n_i") * (F.col("n_i") - 1)).cast("bigint").alias("num"),
    ).filter(F.col("n_orders") >= 2)
    return pernation.join(
        F.broadcast(n.select(F.col("n_nationkey").alias("nationkey"), "n_name")),  # bcast: dim
        "nationkey",
    ).select(
        "nationkey",
        "n_name",
        "n_customers",
        "n_orders",
        F.expr("num * 1000000 div (n_orders * (n_orders - 1))")
        .cast("bigint")
        .alias("simpson_micro"),
    )


@register(
    "orders_abc_xyz_matrix",
    oracle="""
    WITH part_stats AS (
      SELECT l_partkey,
             CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                           AS BIGINT)) AS BIGINT) AS rev,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(FLOOR(l_quantity + 0.5) AS BIGINT)) AS BIGINT) AS s1,
             CAST(SUM(CAST(FLOOR(l_quantity + 0.5) AS BIGINT)
                      * CAST(FLOOR(l_quantity + 0.5) AS BIGINT)) AS BIGINT) AS s2
      FROM lineitem GROUP BY l_partkey
    ),
    cum AS (
      SELECT *,
             SUM(rev) OVER (ORDER BY rev DESC, l_partkey
                            ROWS UNBOUNDED PRECEDING) AS cum_rev,
             SUM(rev) OVER () AS t
      FROM part_stats
    ),
    cls AS (
      SELECT CASE WHEN cum_rev * 100 <= t * 70 THEN 'A'
                  WHEN cum_rev * 100 <= t * 90 THEN 'B'
                  ELSE 'C' END AS abc,
             CASE WHEN n < 2 OR s1 = 0 THEN 'Z'
                  WHEN FLOOR((1000000.0
                              * SQRT(CAST(n * s2 - s1 * s1 AS DOUBLE)))
                             / CAST(s1 AS DOUBLE)) < 250000 THEN 'X'
                  WHEN FLOOR((1000000.0
                              * SQRT(CAST(n * s2 - s1 * s1 AS DOUBLE)))
                             / CAST(s1 AS DOUBLE)) < 500000 THEN 'Y'
                  ELSE 'Z' END AS xyz,
             rev, t
      FROM cum
    )
    SELECT abc, xyz,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(rev) AS BIGINT) AS rev_cents,
           CAST(SUM(rev) * 10000 // MIN(t) AS BIGINT) AS share_bps
    FROM cls GROUP BY abc, xyz
    """,
)
def orders_abc_xyz_matrix(spark, sf_dir):
    """ABC×XYZ inventory matrix — the two-axis classification every
    supply-chain planner actually uses: ABC = revenue importance by
    EXACT integer cumulative-share thresholds (cum·100 ≤ t·70 / t·90
    compares BIGINTs — no float ever decides a class), XYZ = demand
    variability by coefficient of variation, integerized at one
    deterministic point (floor(1e6·√(n·s2−s1²)/s1) — FLOOR of one
    identical double expression, the sanctioned pattern when a
    statistic is irreducibly a ratio of a sqrt). Parts with a single
    fill are Z by definition (no variability evidence).

    Scale shape: the revenue cumsum rides the distributed prefix-sum
    kernel (operators/ranking.py) — range-shuffle + per-partition
    running totals + K-row broadcast offsets — because an
    unpartitioned SUM() OVER would single-task the entire part
    dimension at 100 TB; the CV moments ride the same hash agg that
    feeds it. Output is the 3×3 (at most) matrix."""
    from .ranking import with_global_prefix_sum

    li = load_table(spark, sf_dir, "lineitem")
    qty = F.floor(F.col("l_quantity") + 0.5).cast("long")
    rev = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5
    ).cast("long")
    stats = li.groupBy("l_partkey").agg(
        F.sum(rev).cast("bigint").alias("rev"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(qty).cast("bigint").alias("s1"),
        F.sum(qty * qty).cast("bigint").alias("s2"),
    )
    c = with_global_prefix_sum(
        stats,
        [F.col("rev").desc(), F.col("l_partkey")],
        "rev",
        out_col="cum_rev",
    )
    tot = stats.agg(F.sum("rev").cast("long").alias("t"))
    cv_micro = F.floor(
        (F.lit(1000000.0) * F.sqrt((F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")).cast("double")))
        / F.col("s1").cast("double")
    )
    cls = c.crossJoin(F.broadcast(tot)).select(  # bcast: scalar
        F.when(F.col("cum_rev").cast("decimal(19,0)") * 100 <= F.col("t").cast("decimal(19,0)") * 70, "A")
        .when(F.col("cum_rev").cast("decimal(19,0)") * 100 <= F.col("t").cast("decimal(19,0)") * 90, "B")
        .otherwise("C")
        .alias("abc"),
        F.when((F.col("n") < 2) | (F.col("s1") == 0), "Z")
        .when(cv_micro < 250000, "X")
        .when(cv_micro < 500000, "Y")
        .otherwise("Z")
        .alias("xyz"),
        "rev",
        "t",
    )
    return cls.groupBy("abc", "xyz").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        F.sum("rev").cast("bigint").alias("rev_cents"),
        F.expr("sum(rev) * 10000 div min(t)").cast("bigint").alias("share_bps"),
    )


@register(
    "events_autocorr_lag1",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY CAST(ts AS DATE)
    ),
    pairs AS (
      SELECT x, LEAD(x) OVER (ORDER BY day) AS y FROM daily
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             SUM(x * y) AS sxy,
             SUM(x * x) AS sxx,
             SUM(y * y) AS syy
      FROM pairs WHERE y IS NOT NULL
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM daily) AS n_days,
           n AS n_pairs, sx, sy,
           CAST(FLOOR((1000000.0 * CAST(n * sxy - sx * sy AS DOUBLE))
                      / (SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
                         * SQRT(CAST(n * syy - sy * sy AS DOUBLE))))
                AS BIGINT) AS autocorr_micro
    FROM m
    """,
)
def events_autocorr_lag1(spark, sf_dir):
    """Lag-1 autocorrelation of the daily event series — the
    persistence diagnostic behind every traffic forecast ('is
    tomorrow like today?') and the stationarity check run before
    trusting `events_forecast_holt`. Pearson r over consecutive-day
    pairs, computed ENTIRELY from integer moments (n, Σx, Σy, Σxy,
    Σx², Σy² — order-independent BIGINT sums); only the final closed
    form touches doubles, as one identical expression with exact
    integer inputs < 2^53, floored to micro units at the single
    deterministic point (the win_anchored_vwap contract).

    Scale shape: the event stream collapses to ~days rows in one
    map-side-combining agg; the lead() pairing and the moment
    rollup run over those aggregate rows (scalar-scale window).
    Gaps in the calendar pair the nearest OBSERVED days — stated,
    deterministic, and irrelevant on any dense fixture."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("x")
    )
    pairs = daily.select(
        "x", F.lead("x").over(Window.orderBy("day")).alias("y")
    ).filter(F.col("y").isNotNull())
    m = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast("decimal(19,0)") * F.col("y")).alias("syy"),
    )
    n_days = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    return m.crossJoin(F.broadcast(n_days)).select(  # bcast: scalar
        "n_days",
        F.col("n").alias("n_pairs"),
        "sx",
        "sy",
        F.floor(
            (F.lit(1000000.0) * (
                F.col("n") * F.col("sxy") - F.col("sx").cast("decimal(19,0)") * F.col("sy")
            ).cast("double"))
            / (
                F.sqrt((
                    F.col("n") * F.col("sxx") - F.col("sx").cast("decimal(19,0)") * F.col("sx")
                ).cast("double"))
                * F.sqrt((
                    F.col("n") * F.col("syy") - F.col("sy").cast("decimal(19,0)") * F.col("sy")
                ).cast("double"))
            )
        )
        .cast("bigint")
        .alias("autocorr_micro"),
    )


@register(
    "events_mann_kendall_trend",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY CAST(ts AS DATE)
    ),
    s AS (
      SELECT CAST(SUM(CASE WHEN b.x > a.x THEN 1
                           WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT)
               AS s_stat
      FROM daily a JOIN daily b ON a.day < b.day
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily),
    ties AS (
      SELECT COALESCE(CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT), 0)
               AS tie_term
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM daily GROUP BY x)
      WHERE t > 1
    )
    SELECT n AS n_days, s_stat,
           CAST(n * (n - 1) * (2 * n + 5) - tie_term AS BIGINT) AS var18,
           CAST(FLOOR((1000000.0
                       * CAST(s_stat - CASE WHEN s_stat > 0 THEN 1
                                            WHEN s_stat < 0 THEN -1
                                            ELSE 0 END AS DOUBLE))
                      / SQRT(CAST(n * (n - 1) * (2 * n + 5) - tie_term
                                  AS DOUBLE) / 18.0)) AS BIGINT) AS z_micro
    FROM s, nn, ties
    """,
)
def events_mann_kendall_trend(spark, sf_dir):
    """Mann-Kendall trend test on the daily event series — the
    nonparametric 'is traffic actually trending' answer that doesn't
    assume normality or linearity (the standard ops-metrics
    companion to `events_autocorr_lag1`): S = Σ sign(x_j − x_i) over
    all later-day pairs, variance n(n−1)(2n+5)/18 with the exact
    tie correction, z with continuity correction. S, the tie term,
    and the (×18) variance numerator are pure BIGINT; z is one
    identical floored double expression (micro units).

    Scale shape: the event stream collapses to ~30 day rows
    map-side; the O(n²) pair join runs over that calendar-bounded
    aggregate domain (≤ C(31,2) pairs per month at ANY data scale —
    the sanctioned bounded-domain quadratic, cf.
    events_kendall_tau_campaigns)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("x")
    )
    a, b = daily.alias("a"), daily.alias("b")
    s = a.join(b, F.col("a.day") < F.col("b.day")).agg(
        F.sum(
            F.when(F.col("b.x") > F.col("a.x"), 1)
            .when(F.col("b.x") < F.col("a.x"), -1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("s_stat")
    )
    nn = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ties = (
        daily.groupBy("x")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)), F.lit(0)
            )
            .cast("bigint")
            .alias("tie_term")
        )
    )
    var18 = F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5) - F.col("tie_term")
    cc = F.when(F.col("s_stat") > 0, 1).when(F.col("s_stat") < 0, -1).otherwise(0)
    return (
        s.crossJoin(F.broadcast(nn))  # bcast: scalar
        .crossJoin(F.broadcast(ties))  # bcast: scalar
        .select(
            F.col("n").alias("n_days"),
            "s_stat",
            var18.cast("bigint").alias("var18"),
            F.floor(
                (F.lit(1000000.0) * (F.col("s_stat") - cc).cast("double"))
                / F.sqrt(var18.cast("double") / F.lit(18.0))
            )
            .cast("bigint")
            .alias("z_micro"),
        )
    )


@register(
    "events_attribution_time_decay",
    oracle="""
    WITH purchases AS (
      SELECT user_id, ts AS p_ts FROM events WHERE event_type = 'purchase'
    ),
    touches AS (
      SELECT user_id, event_type, ts AS t_ts FROM events
      WHERE event_type IN ('view', 'click')
    ),
    credited AS (
      SELECT t.event_type,
             1000000 // CAST(POWER(2, CAST(epoch_us(p.p_ts) - epoch_us(t.t_ts)
                                           AS BIGINT) // 86400000000)
                            AS BIGINT) AS w_micro
      FROM purchases p JOIN touches t
        ON p.user_id = t.user_id
       AND t.t_ts < p.p_ts
       AND CAST(epoch_us(p.p_ts) - epoch_us(t.t_ts) AS BIGINT)
           < 7 * 86400000000
    ),
    agg AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_credits,
             CAST(SUM(w_micro) AS BIGINT) AS credit_micro
      FROM credited GROUP BY event_type
    ),
    tot AS (SELECT SUM(credit_micro) AS total FROM agg)
    SELECT event_type, n_credits, credit_micro,
           CAST(credit_micro * 10000 // total AS BIGINT) AS share_bps
    FROM agg, tot
    """,
)
def events_attribution_time_decay(spark, sf_dir):
    """Time-decay multi-touch attribution — the third leg of the
    attribution family (`events_attribution_last_touch` winner-takes-
    all, `events_attribution_linear` equal split): every view/click
    in the 7 days before a purchase earns credit 2^-(days before),
    so yesterday's touch is worth twice last week's. The decay
    weights are DYADIC (the num.py decay contract): 1e6 div 2^d is
    an exact integer for every d ≤ 6, the per-channel totals are
    order-proof BIGINT sums, and channel shares are exact integer
    basis points. Day distance is exact integer-µs arithmetic.

    Scale shape: a per-user interval join (purchases x trailing
    touches) — shuffles both streams once on user_id, the fan-out
    bounded by the 7-day window exactly like
    `join_interval_overlap`; then one map-side-combining rollup to
    ~channels rows and a 1-row broadcast for shares."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts")
    )
    t = ev.filter(F.col("event_type").isin("view", "click")).select(
        "user_id", "event_type", F.col("ts").alias("t_ts")
    )
    us_diff = F.unix_micros("p_ts") - F.unix_micros("t_ts")
    credited = p.join(t, "user_id").filter(
        (F.col("t_ts") < F.col("p_ts")) & (us_diff < 7 * 86400000000)
    ).select(
        "event_type",
        F.expr(
            "1000000 div cast(power(2, (unix_micros(p_ts) - unix_micros(t_ts))"
            " div 86400000000) AS bigint)"
        ).alias("w_micro"),
    )
    agg = credited.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_credits"),
        F.sum("w_micro").cast("bigint").alias("credit_micro"),
    )
    tot = agg.agg(F.sum("credit_micro").alias("total"))
    return agg.crossJoin(F.broadcast(tot)).select(  # bcast: scalar
        "event_type",
        "n_credits",
        "credit_micro",
        F.expr("credit_micro * 10000 div total").cast("bigint").alias("share_bps"),
    )


@register(
    "agg_skewness_kurtosis",
    oracle="""
    WITH q AS (
      SELECT l_returnflag, l_linestatus,
             CAST(FLOOR(l_quantity + 0.5) AS BIGINT) AS v
      FROM lineitem
    ),
    m AS (
      SELECT l_returnflag, l_linestatus,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(v) AS BIGINT) AS s1,
             CAST(SUM(v * v) AS BIGINT) AS s2,
             CAST(SUM(v * v * v) AS BIGINT) AS s3,
             CAST(SUM(v * v * v * v) AS BIGINT) AS s4
      FROM q GROUP BY l_returnflag, l_linestatus
    )
    SELECT l_returnflag, l_linestatus, n, s1, s2, s3, s4,
           ((CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE))
            - ((3.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
               * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)))
            + (2.0 * ((CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                      * ((CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                         * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))))))
           / (((CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
               - ((CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                  * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))))
              * SQRT((CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
                     - ((CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                        * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))))
             AS skewness,
           (((CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE))
             - ((4.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
                * (CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)))
             + ((6.0 * ((CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                        * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))))
                * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)))
             - (3.0 * (((CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                        * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
                       * ((CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                          * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))))))
            / (((CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
                - ((CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                   * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))))
               * ((CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
                  - ((CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                     * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))))))
           - 3.0 AS kurtosis_excess
    FROM m
    """,
)
def agg_skewness_kurtosis(spark, sf_dir):
    """Population skewness and excess kurtosis of order quantities
    per (returnflag, linestatus) — the 3rd/4th-moment shape profile
    a data-quality monitor tracks for drift. The distributed part is
    ONE hash aggregation producing exact BIGINT power sums s1..s4
    (quantities are small integers, so v^4 fits with orders of
    magnitude to spare: 50^4 * 6e4 ~ 4e11); the shape statistics are
    then derived from those integers by a single closed-form double
    expression written token-for-token identically in both engines
    (only IEEE-exact ops: binary64 divide / multiply / subtract and
    correctly-rounded SQRT), so the floats are bit-identical without
    any rounding step. Central moments come from the power-sum
    identities m2 = E[x^2]-mu^2, m3 = E[x^3]-3mu E[x^2]+2mu^3,
    m4 = E[x^4]-4mu E[x^3]+6mu^2 E[x^2]-3mu^4.

    Scale shape: map-side partial aggregation into 4 groups — the
    cheapest possible statistic at 100 TB (one pass, five counters
    per group per task). At petabyte group cardinalities the BIGINT
    headroom rule is the one to re-check: bin values so max|v|^4 * n
    stays under 2^63, exactly as the variance ops bin cents."""
    li = load_table(spark, sf_dir, "lineitem")
    v = F.floor(F.col("l_quantity") + 0.5).cast("long")
    m = (
        li.select("l_returnflag", "l_linestatus", v.alias("v"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("v").cast("bigint").alias("s1"),
            F.sum(F.col("v") * F.col("v")).cast("bigint").alias("s2"),
            F.sum(F.col("v") * F.col("v") * F.col("v"))
            .cast("bigint")
            .alias("s3"),
            F.sum(F.col("v") * F.col("v") * F.col("v") * F.col("v"))
            .cast("bigint")
            .alias("s4"),
        )
    )
    skew = """
           ((CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE))
            - ((3.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
               * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)))
            + (2.0 * ((CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                      * ((CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                         * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))))))
           / (((CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
               - ((CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                  * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))))
              * SQRT((CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
                     - ((CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                        * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))))
    """
    kurt = """
           (((CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE))
             - ((4.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
                * (CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)))
             + ((6.0 * ((CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                        * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))))
                * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)))
             - (3.0 * (((CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                        * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
                       * ((CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                          * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))))))
            / (((CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
                - ((CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                   * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))))
               * ((CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
                  - ((CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                     * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))))))
           - 3.0
    """
    return m.select(
        "l_returnflag", "l_linestatus", "n", "s1", "s2", "s3", "s4",
        F.expr(skew).alias("skewness"),
        F.expr(kurt).alias("kurtosis_excess"),
    )


@register(
    "events_lead_lag_xcorr",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                  AS BIGINT) AS x,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS y
      FROM events GROUP BY CAST(ts AS DATE)
    ),
    lags AS (SELECT UNNEST([0, 1, 2, 3]) AS lag),
    pairs AS (
      SELECT l.lag, b.x AS x, a.y AS y
      FROM daily a JOIN lags l ON TRUE
      JOIN daily b ON b.day = a.day - l.lag
    ),
    m AS (
      SELECT lag,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sx2,
             CAST(SUM(y * y) AS BIGINT) AS sy2
      FROM pairs GROUP BY lag
    )
    SELECT CAST(lag AS BIGINT) AS lag, n, sx, sy, sxy, sx2, sy2,
           ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE))
            - (CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
           / (SQRT((CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE))
                   - (CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
              * SQRT((CAST(n AS DOUBLE) * CAST(sy2 AS DOUBLE))
                     - (CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))))
             AS xcorr
    FROM m
    """,
)
def events_lead_lag_xcorr(spark, sf_dir):
    """Lead-lag cross-correlation function between the daily view
    series and the daily purchase series at lags 0..3 days — the
    classic "does browsing predict buying k days later" diagnostic
    behind marketing-mix and demand models. For each lag the pair
    set is (views on day−lag, purchases on day) over days where both
    bars exist; the coefficient is derived from six exact BIGINT
    moments per lag by the same identically-parenthesized IEEE
    closed form as the other correlation ops (bit-exact, no rounding
    step). Note lag 0 is plain same-day Pearson, so the curve is
    read relative to its own base point.

    Scale shape: the daily rollup is one map-side-combinable agg to
    ~days rows; the lag fan-out joins day-count rows against a
    4-element broadcast literal and self-joins on a date key —
    cost is days x lags rows regardless of event volume, so the
    event scan dominates at any scale."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("bigint")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("y"),
    )
    lags = spark.range(4).select(F.col("id").cast("int").alias("lag"))
    a = daily.select(F.col("day").alias("yday"), "y")
    b = daily.select(F.col("day").alias("xday"), "x")
    pairs = (
        a.crossJoin(F.broadcast(lags))  # bcast: grid
        .join(b, F.expr("date_sub(yday, lag)") == F.col("xday"))
        .select("lag", "x", "y")
    )
    m = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sx2"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("sy2"),
    )
    # NULLIF: a lag whose x (or y) series is constant, e.g. one day
    # of data, has a zero denominator; DuckDB yields NULL there while
    # Spark's ANSI mode throws DIVIDE_BY_ZERO (thin drill)
    r = """
        ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE))
         - (CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
        / NULLIF(SQRT((CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE))
                      - (CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                 * SQRT((CAST(n AS DOUBLE) * CAST(sy2 AS DOUBLE))
                        - (CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 0)
    """
    return m.select(
        F.col("lag").cast("bigint").alias("lag"),
        "n", "sx", "sy", "sxy", "sx2", "sy2",
        F.expr(r).alias("xcorr"),
    )


@register(
    "events_burstiness_fano",
    oracle="""
    WITH mins AS (
      SELECT event_type, epoch_us(ts) // 60000000 AS minute,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY event_type, epoch_us(ts) // 60000000
    ),
    m AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS active_minutes,
             CAST(SUM(c) AS BIGINT) AS s1,
             CAST(SUM(c * c) AS BIGINT) AS s2,
             CAST(MAX(c) AS BIGINT) AS peak_per_minute
      FROM mins GROUP BY event_type
    )
    SELECT event_type, active_minutes, s1, s2, peak_per_minute,
           CAST((1000000 * ((43200 * CAST(s2 AS HUGEINT)) - (CAST(s1 AS HUGEINT) * s1))) // (43200 * s1)
                AS BIGINT) AS fano_micro
    FROM m
    """,
)
def events_burstiness_fano(spark, sf_dir):
    """Fano factor (index of dispersion, var/mean of per-minute
    arrival counts) per event type — the point-process burstiness
    diagnostic: 1 for Poisson traffic, >1 for bursty (bot storms,
    thundering herds), <1 for throttled/regular. The wall-clock grid
    is the fixture's full 30-day span (43 200 minutes, a constant in
    both engines), and empty minutes enter the variance for free:
    zeros contribute nothing to s1 = total events or s2 = sum c², so
    var = (N*s2 - s1²)/N² and fano = (N*s2 - s1²)/(N*s1), evaluated
    entirely in BIGINT cross-multiplies with one final micro-unit
    integer division (non-negative numerator, so `div` and `//`
    agree). Minute ids are exact integer microsecond math
    (unix_micros/epoch_us — the repo's time contract, no doubles).

    Scale shape: one map-side-combinable agg to (type, minute)
    granularity, then a 5-row rollup — two shuffles of shrinking
    size, no windows, no state; the per-minute key space grows with
    time not volume, so the first agg output is bounded."""
    ev = load_table(spark, sf_dir, "events")
    mins = ev.groupBy(
        "event_type",
        F.expr("unix_micros(ts) div 60000000").alias("minute"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    m = mins.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("active_minutes"),
        F.sum("c").cast("bigint").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("s2"),
        F.max("c").cast("bigint").alias("peak_per_minute"),
    )
    # 128-bit intermediates (r9 ×128 census catch): at ×128 the
    # micro-unit numerator 1e6·(43200·s2 − s1²) passes 9.2e18 and
    # wraps BIGINT. Spark DECIMAL(38,0) and DuckDB HUGEINT are both
    # exact integer arithmetic, so the spelling split carries no IEEE
    # risk (same argument as the div/`//` split).
    return m.select(
        "event_type", "active_minutes", "s1", "s2", "peak_per_minute",
        F.expr(
            "(1000000 * ((43200 * CAST(s2 AS DECIMAL(38,0))) - "
            "(CAST(s1 AS DECIMAL(38,0)) * s1))) div (43200 * s1)"
        )
        .cast("bigint")
        .alias("fano_micro"),
    )


@register(
    "orders_eoq_reorder_policy",
    oracle="""
    WITH demand AS (
      SELECT l_partkey,
             CAST(SUM(CAST(FLOOR(l_quantity + 0.5) AS BIGINT)) AS BIGINT)
               AS demand_qty,
             CAST(COUNT(*) AS BIGINT) AS n_lines
      FROM lineitem GROUP BY l_partkey
    )
    SELECT l_partkey, demand_qty, n_lines,
           SQRT(((2.0 * CAST(demand_qty AS DOUBLE)) * 50.0) / 3.0) AS eoq,
           CAST((demand_qty * 7) // 2405 AS BIGINT) AS reorder_point
    FROM demand WHERE demand_qty >= 100
    """,
)
def orders_eoq_reorder_policy(spark, sf_dir):
    """Economic-order-quantity replenishment policy per part — the
    Wilson EOQ lot size sqrt(2DS/H) (ordering cost S=50, holding
    cost H=3 per unit-period) plus a 7-day-lead-time reorder point
    from the part's demand rate over the fixture's 2405-day order
    history. Demand is an exact BIGINT quantity sum; EOQ is one
    closed-form double (multiply/divide then correctly-rounded SQRT
    of identical integers — bit-exact cross-engine); the reorder
    point is a pure integer cross-multiply division of non-negative
    operands. Low-volume parts (demand < 100) are excluded the way
    a planner scopes the policy to runners, and the cut also keeps
    the ratio well away from small-denominator edge cases.

    Scale shape: one map-side-combinable hash agg on the natural
    part key plus per-row closed forms — the cheapest possible shape
    for a policy sweep over a 100 TB demand ledger."""
    li = load_table(spark, sf_dir, "lineitem")
    q = F.floor(F.col("l_quantity") + 0.5).cast("long")
    d = (
        li.groupBy("l_partkey")
        .agg(
            F.sum(q).cast("bigint").alias("demand_qty"),
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        )
        .filter(F.col("demand_qty") >= 100)
    )
    return d.select(
        "l_partkey", "demand_qty", "n_lines",
        F.expr("SQRT(((2.0 * CAST(demand_qty AS DOUBLE)) * 50.0) / 3.0)")
        .alias("eoq"),
        F.expr("(demand_qty * 7) div 2405").cast("bigint").alias("reorder_point"),
    )


@register(
    "orders_discount_elasticity_ols",
    oracle="""
    WITH pts AS (
      SELECT p.p_brand,
             CAST(FLOOR(l.l_discount * 10000 + 0.5) AS BIGINT) AS x,
             CAST(FLOOR(l.l_quantity + 0.5) AS BIGINT) AS y
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    m AS (
      SELECT p_brand,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sx2
      FROM pts GROUP BY p_brand
    )
    SELECT p_brand, n, sx, sy, sxy, sx2,
           ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE))
            - (CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
           / ((CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE))
              - (CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
             AS slope_qty_per_bps
    FROM m
    """,
)
def orders_discount_elasticity_ols(spark, sf_dir):
    """Discount elasticity of demand per brand — the OLS slope of
    order quantity on discount depth (in basis points), the
    first-order answer to "does discounting this brand actually move
    volume?". The regression is reduced to five exact BIGINT moments
    per brand (x is the 0..1000 bps discount grid, y the integer
    quantity — every product bounded far inside 2^63) and the slope
    is one identically-parenthesized IEEE closed form over those
    integers, bit-exact cross-engine with no rounding step. The
    moments travel with the slope so a reviewer can recompute the
    intercept or R² downstream without re-scanning.

    Scale shape: the part dimension broadcasts onto the fact scan
    (classic star probe), then one map-side-combinable agg into 25
    brand groups — scan-dominated at any scale."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    pts = li.join(p, li.l_partkey == p.p_partkey).select(
        "p_brand",
        F.floor(F.col("l_discount") * 10000 + 0.5).cast("long").alias("x"),
        F.floor(F.col("l_quantity") + 0.5).cast("long").alias("y"),
    )
    m = pts.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sx2"),
    )
    # NULLIF: a brand whose rows share one discount has a zero
    # denominator; DuckDB yields NULL there while Spark's ANSI mode
    # throws DIVIDE_BY_ZERO (thin drill)
    slope = """
        ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE))
         - (CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
        / NULLIF((CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE))
                 - (CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 0)
    """
    return m.select(
        "p_brand", "n", "sx", "sy", "sxy", "sx2",
        F.expr(slope).alias("slope_qty_per_bps"),
    )


@register(
    "events_interarrival_cv2",
    oracle="""
    WITH gaps AS (
      SELECT user_id,
             (epoch_us(ts) - LAG(epoch_us(ts))
                OVER (PARTITION BY user_id ORDER BY ts, event_id))
             // 1000000 AS gap_s
      FROM events
    ),
    m AS (
      SELECT user_id,
             CAST(COUNT(gap_s) AS BIGINT) AS n_gaps,
             CAST(SUM(gap_s) AS BIGINT) AS s1,
             CAST(SUM(gap_s * gap_s) AS BIGINT) AS s2
      FROM gaps WHERE gap_s IS NOT NULL GROUP BY user_id
    )
    SELECT user_id, n_gaps, s1, s2,
           (CAST(n_gaps AS DOUBLE) * CAST(s2 AS DOUBLE)
            - (CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)))
           / (CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) AS cv2
    FROM m WHERE n_gaps >= 2 AND s1 > 0
    """,
)
def events_interarrival_cv2(spark, sf_dir):
    """Squared coefficient of variation of inter-arrival times per
    user — the per-entity burstiness scalar queueing theory runs on
    (CV² = 1 Poisson, ≫1 bursty bots/batch jobs, ≪1 metronomic
    schedulers; the per-type Fano factor's entity-level complement).
    Gaps are exact integer seconds (microsecond subtraction then one
    integer division — both engines' time contract), the moments are
    exact BIGINTs (second-scale gaps keep n·s2 and s1² far inside
    2^63 even at 100× the per-user history), and CV² =
    (n·Σg² − (Σg)²)/(Σg)² is one identically-parenthesized IEEE
    expression over those integers — bit-exact cross-engine.
    Degenerate users (fewer than 2 gaps, or all gaps sub-second) are
    excluded by the same predicate in both engines.

    Scale shape: one exchange on user_id serves the lag and the
    rollup; output is one row per active user."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        F.expr(
            "(unix_micros(ts) - lag(unix_micros(ts))"
            " OVER (PARTITION BY user_id ORDER BY ts, event_id))"
            " div 1000000"
        ).alias("gap_s"),
    )
    m = (
        gaps.filter(F.col("gap_s").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count("gap_s").cast("bigint").alias("n_gaps"),
            F.sum("gap_s").cast("bigint").alias("s1"),
            F.sum(F.col("gap_s") * F.col("gap_s")).cast("bigint").alias("s2"),
        )
        .filter((F.col("n_gaps") >= 2) & (F.col("s1") > 0))
    )
    return m.select(
        "user_id", "n_gaps", "s1", "s2",
        F.expr(
            "(CAST(n_gaps AS DOUBLE) * CAST(s2 AS DOUBLE)"
            " - (CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)))"
            " / (CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))"
        ).alias("cv2"),
    )


@register(
    "orders_price_volume_mix_bridge",
    oracle="""
    WITH base AS (
      SELECT p.p_brand,
             CASE WHEN l.l_shipdate < DATE '1998-01-01' THEN 'a'
                  ELSE 'b' END AS period,
             CAST(FLOOR(l.l_quantity + 0.5) AS BIGINT) AS q,
             CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT) AS rev_c
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    per AS (
      SELECT p_brand,
             CAST(SUM(CASE WHEN period = 'a' THEN q ELSE 0 END) AS BIGINT)
               AS q_a,
             CAST(SUM(CASE WHEN period = 'b' THEN q ELSE 0 END) AS BIGINT)
               AS q_b,
             CAST(SUM(CASE WHEN period = 'a' THEN rev_c ELSE 0 END) AS BIGINT)
               AS rev_a_c,
             CAST(SUM(CASE WHEN period = 'b' THEN rev_c ELSE 0 END) AS BIGINT)
               AS rev_b_c
      FROM base GROUP BY p_brand
      HAVING SUM(CASE WHEN period = 'a' THEN q ELSE 0 END) > 0
         AND SUM(CASE WHEN period = 'b' THEN q ELSE 0 END) > 0
    )
    SELECT p_brand, q_a, q_b, rev_a_c, rev_b_c,
           CAST(rev_b_c - rev_a_c AS BIGINT) AS delta_c,
           CAST((q_a * (rev_b_c // q_b)
                 + (q_a * (rev_b_c % q_b)) // q_b) - rev_a_c
                AS BIGINT) AS price_eff_c,
           CAST(CASE WHEN q_b >= q_a
                  THEN (q_b - q_a) * (rev_a_c // q_a)
                       + ((q_b - q_a) * (rev_a_c % q_a)) // q_a
                  ELSE -((q_a - q_b) * (rev_a_c // q_a)
                         + ((q_a - q_b) * (rev_a_c % q_a)) // q_a)
                END AS BIGINT) AS volume_eff_c,
           CAST((rev_b_c - rev_a_c)
                - ((q_a * (rev_b_c // q_b)
                    + (q_a * (rev_b_c % q_b)) // q_b) - rev_a_c)
                - (CASE WHEN q_b >= q_a
                     THEN (q_b - q_a) * (rev_a_c // q_a)
                          + ((q_b - q_a) * (rev_a_c % q_a)) // q_a
                     ELSE -((q_a - q_b) * (rev_a_c // q_a)
                            + ((q_a - q_b) * (rev_a_c % q_a)) // q_a)
                   END) AS BIGINT) AS mix_resid_c
    FROM per
    """,
)
def orders_price_volume_mix_bridge(spark, sf_dir):
    """Price-volume-mix revenue bridge per brand — the FP&A variance
    decomposition behind every "why did revenue move" review: the
    period-over-period revenue delta splits into a price effect
    (old volume at the new average price), a volume effect (volume
    change at the old average price), and a residual mix/interaction
    term that closes the bridge by construction. Average prices are
    rationals (rev/qty), so the effects are evaluated with the exact
    truncating-division decomposition
    a·b div c = a·(b div c) + (a·(b mod c)) div c — an identity for
    non-negative BIGINTs that keeps every intermediate under
    q_a·q_b instead of q·rev (the naive cross-multiply overflows
    once brand revenue crosses ~2^49 cents; the ×32 scale stress
    caught exactly that). The volume effect's sign is split
    explicitly because both engines truncate toward zero, making
    -(|d|·r div q) == (d·r div q) for negative d. The residual is
    exact integer subtraction, so the three effects sum to delta_c
    exactly on every row. Brands active in only one period are
    excluded (their bridge is degenerate: all delta is volume).

    Scale shape: broadcast star probe then ONE map-side-combinable
    agg into 25 brand groups with conditional sums — a single pass
    over the fact table. Overflow now needs q_a·q_b > 2^63 —
    billions of units on BOTH sides of one brand."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    isa = F.col("l_shipdate") < F.lit("1998-01-01").cast("date")
    q = F.floor(F.col("l_quantity") + 0.5).cast("long")
    rev = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
    per = (
        li.join(p, li.l_partkey == p.p_partkey)
        .select("p_brand", isa.alias("is_a"), q.alias("q"), rev.alias("rev_c"))
        .groupBy("p_brand")
        .agg(
            F.sum(F.when(F.col("is_a"), F.col("q")).otherwise(0))
            .cast("bigint")
            .alias("q_a"),
            F.sum(F.when(~F.col("is_a"), F.col("q")).otherwise(0))
            .cast("bigint")
            .alias("q_b"),
            F.sum(F.when(F.col("is_a"), F.col("rev_c")).otherwise(0))
            .cast("bigint")
            .alias("rev_a_c"),
            F.sum(F.when(~F.col("is_a"), F.col("rev_c")).otherwise(0))
            .cast("bigint")
            .alias("rev_b_c"),
        )
        .filter((F.col("q_a") > 0) & (F.col("q_b") > 0))
    )
    price_eff = (
        "(q_a * (rev_b_c div q_b)"
        " + (q_a * (rev_b_c % q_b)) div q_b) - rev_a_c"
    )
    vol_eff = (
        "CASE WHEN q_b >= q_a"
        " THEN (q_b - q_a) * (rev_a_c div q_a)"
        "      + ((q_b - q_a) * (rev_a_c % q_a)) div q_a"
        " ELSE -((q_a - q_b) * (rev_a_c div q_a)"
        "        + ((q_a - q_b) * (rev_a_c % q_a)) div q_a)"
        " END"
    )
    return per.select(
        "p_brand", "q_a", "q_b", "rev_a_c", "rev_b_c",
        (F.col("rev_b_c") - F.col("rev_a_c")).cast("bigint").alias("delta_c"),
        F.expr(price_eff).cast("bigint").alias("price_eff_c"),
        F.expr(vol_eff).cast("bigint").alias("volume_eff_c"),
        F.expr(
            f"(rev_b_c - rev_a_c) - ({price_eff}) - ({vol_eff})"
        )
        .cast("bigint")
        .alias("mix_resid_c"),
    )


@register(
    "events_changepoint_binseg",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS x
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    pre AS (
      SELECT event_type, day, x,
             CAST(ROW_NUMBER() OVER w AS BIGINT) AS i,
             CAST(SUM(x) OVER w AS BIGINT) AS s1l,
             CAST(SUM(x * x) OVER w AS BIGINT) AS s2l,
             CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
             CAST(SUM(x) OVER (PARTITION BY event_type) AS BIGINT) AS s1,
             CAST(SUM(x * x) OVER (PARTITION BY event_type) AS BIGINT) AS s2
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS UNBOUNDED PRECEDING)
    ),
    cand AS (
      SELECT event_type, day, i, s1l, s2l, n, s1, s2,
             (CAST(s2l AS DOUBLE)
              - ((CAST(s1l AS DOUBLE) * CAST(s1l AS DOUBLE))
                 / CAST(i AS DOUBLE)))
             + (CAST(s2 - s2l AS DOUBLE)
                - ((CAST(s1 - s1l AS DOUBLE) * CAST(s1 - s1l AS DOUBLE))
                   / CAST(n - i AS DOUBLE))) AS sse_split
      FROM pre WHERE i >= 2 AND i <= n - 2
    ),
    best AS (
      SELECT event_type, day, i, n, s1l, s1, sse_split,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY sse_split, day) AS rk
      FROM cand
    )
    SELECT event_type, day AS split_day,
           CAST(i AS BIGINT) AS n_left, CAST(n - i AS BIGINT) AS n_right,
           CAST(s1l // i AS BIGINT) AS mean_left_c,
           CAST((s1 - s1l) // (n - i) AS BIGINT) AS mean_right_c,
           sse_split
    FROM best WHERE rk = 1
    """,
)
def events_changepoint_binseg(spark, sf_dir):
    """Single-split binary segmentation changepoint per series — the
    first step of the classic binseg detector (and the workhorse
    behind "when did this metric regime change"): over the daily
    revenue series, pick the split that minimizes total within-
    segment SSE, i.e. the two-segment least-squares fit. Prefix
    moments are exact BIGINTs from one running window; each
    candidate's SSE is one identically-parenthesized IEEE expression
    over those integers (bit-identical cross-engine, so the argmin —
    tie-broken by day — is deterministic without any rounding);
    segment means are integer divisions of non-negative sums. Splits
    leaving fewer than 2 days on a side are excluded, the standard
    minimum-segment-length constraint. The complement of
    events_cusum_changepoint: same question, the other canonical
    estimator (least-squares vs cumulative-deviation max).

    Scale shape: one exchange on the series key serves the daily
    rollup, the prefix window, the per-series totals, and the argmin
    rank — the candidate set is day-count-bounded, never
    event-volume-bounded."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.sum(cents).cast("bigint").alias("x")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("event_type")
    pre = daily.select(
        "event_type",
        "day",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("day"))
        .cast("bigint")
        .alias("i"),
        F.sum("x").over(w).cast("bigint").alias("s1l"),
        F.sum(F.col("x") * F.col("x")).over(w).cast("bigint").alias("s2l"),
        F.count(F.lit(1)).over(wt).cast("bigint").alias("n"),
        F.sum("x").over(wt).cast("bigint").alias("s1"),
        F.sum(F.col("x") * F.col("x")).over(wt).cast("bigint").alias("s2"),
    )
    cand = pre.filter((F.col("i") >= 2) & (F.col("i") <= F.col("n") - 2)).withColumn(
        "sse_split",
        F.expr(
            "(CAST(s2l AS DOUBLE)"
            " - ((CAST(s1l AS DOUBLE) * CAST(s1l AS DOUBLE))"
            "    / CAST(i AS DOUBLE)))"
            " + (CAST(s2 - s2l AS DOUBLE)"
            "    - ((CAST(s1 - s1l AS DOUBLE) * CAST(s1 - s1l AS DOUBLE))"
            "       / CAST(n - i AS DOUBLE)))"
        ),
    )
    best = cand.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy("sse_split", "day")
        ),
    ).filter(F.col("rk") == 1)
    return best.select(
        "event_type",
        F.col("day").alias("split_day"),
        F.col("i").cast("bigint").alias("n_left"),
        (F.col("n") - F.col("i")).cast("bigint").alias("n_right"),
        F.expr("s1l div i").cast("bigint").alias("mean_left_c"),
        F.expr("(s1 - s1l) div (n - i)").cast("bigint").alias("mean_right_c"),
        "sse_split",
    )


@register(
    "agg_weighted_median",
    oracle="""
    WITH pts AS (
      SELECT l_returnflag,
             CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
             CAST(FLOOR(l_quantity + 0.5) AS BIGINT) AS w,
             l_orderkey, l_linenumber
      FROM lineitem
    ),
    c AS (
      SELECT l_returnflag, cents, w,
             SUM(w) OVER (PARTITION BY l_returnflag
                          ORDER BY cents, l_orderkey, l_linenumber
                          ROWS UNBOUNDED PRECEDING) AS cumw,
             SUM(w) OVER (PARTITION BY l_returnflag) AS totw
      FROM pts
    ),
    hit AS (
      SELECT l_returnflag, cents, cumw, totw,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                ORDER BY cumw, cents) AS rk
      FROM c WHERE 2 * cumw >= totw
    )
    SELECT l_returnflag,
           CAST(totw AS BIGINT) AS total_weight,
           CAST(cents AS BIGINT) AS wmedian_cents,
           CAST(cumw AS BIGINT) AS cum_weight_at_median
    FROM hit WHERE rk = 1
    """,
)
def agg_weighted_median(spark, sf_dir):
    """Quantity-weighted median price per return flag — the weighted
    median (lower weighted median, the standard definition: smallest
    value whose cumulative weight reaches half the total) that
    pricing and procurement reviews use because an unweighted median
    over line items overweights small orders. Entirely integer: cent
    prices, integer weights, a running BIGINT cumulative over a
    uniquely-ordered frame, and the integer predicate 2·cumw ≥ totw
    — no division at all, so no rounding seam exists. The first
    qualifying row per group is selected as the minimal cumulative
    weight among qualifiers — ``w ≥ 1`` makes the running sum
    strictly increasing along the unique order, so that minimum IS
    the oracle's rank-1 row, obtained by hash aggregation instead of
    a ranking window.

    Scale shape (restructured in the r7 ×32 audit — the original
    per-group window funneled every row into |return flags| = 3
    window tasks, 20.9 s at ×32 with 29 idle cores): the heavy pass
    is a hash aggregation to the distinct (flag, cents) price grid
    — map-side combine collapses duplicate price points BEFORE the
    shuffle, so the exchange carries the grid, not the rows. The
    grid's cumulative comes from the distributed prefix-sum kernel
    (operators/ranking.py) over the total order (flag, cents) —
    range shuffle + per-partition running sums + K-row broadcast
    offsets, every stage parallel, no per-group funnel — with each
    group's start offset subtracted from a 3-row broadcast. The
    median price point per group falls out of a min(struct) hash
    agg, and only the rows AT that one price point per group are
    rescanned (broadcast semi-shaped join) to pin the row-level
    cumulative-weight-at-crossing the contract reports, ordered by
    the unique (orderkey, linenumber) tie-break. No stage's
    parallelism depends on group cardinality — the 100-TB shape for
    heavy-group exact medians."""
    from .ranking import with_global_prefix_sum

    li = load_table(spark, sf_dir, "lineitem")
    pts = li.select(
        "l_returnflag",
        F.floor(F.col("l_extendedprice") * 100 + 0.5)
        .cast("long")
        .alias("cents"),
        F.floor(F.col("l_quantity") + 0.5).cast("long").alias("w"),
        "l_orderkey",
        "l_linenumber",
    )
    grid = pts.groupBy("l_returnflag", "cents").agg(F.sum("w").alias("ws"))
    g = with_global_prefix_sum(grid, ["l_returnflag", "cents"], "ws", "gcum")
    # Per-group totals and start offsets ride the kernel's
    # materialized output instead of re-aggregating the scan: within
    # a group, max(gcum) is the global cumulative through its last
    # grid row, so goff = max(gcum) − sum(ws) — one metadata-scale
    # hash agg, no ordering window.
    offs = g.groupBy("l_returnflag").agg(
        F.sum("ws").alias("totw"),
        (F.max("gcum") - F.sum("ws")).alias("goff"),
    )
    c = g.join(F.broadcast(offs), "l_returnflag").select(  # bcast: enum
        "l_returnflag",
        "cents",
        "totw",
        (F.col("gcum") - F.col("goff")).alias("cum_incl"),
    )
    med = (
        c.filter(2 * F.col("cum_incl") >= F.col("totw"))
        .groupBy("l_returnflag", "totw")
        .agg(F.min(F.struct("cents", "cum_incl")).alias("h"))
        .select(
            "l_returnflag",
            "totw",
            F.col("h.cents").alias("med_cents"),
            F.col("h.cum_incl").alias("cum_incl"),
        )
    )
    block = pts.join(
        F.broadcast(med),  # bcast: enum
        (pts["l_returnflag"] == med["l_returnflag"])
        & (pts["cents"] == med["med_cents"]),
    ).select(
        pts["l_returnflag"],
        "med_cents",
        "totw",
        "cum_incl",
        "w",
        "l_orderkey",
        "l_linenumber",
    )
    # The rows AT the median price point still grow linearly with the
    # data (bounded price-point domain), so their running sum goes
    # through the same prefix-sum kernel instead of a per-group
    # window — r8: this removes the engine's last tiny-key window
    # over row-scale input (it survived the r7 sweep only because an
    # Aggregate on its broadcast side fooled the audit). Raw-row
    # kernel feed is correct here per the feeding contract: the rows
    # are already unique per (orderkey, linenumber) — no grid exists
    # — and the per-row cumulative IS what the crossing predicate
    # consumes.
    b = with_global_prefix_sum(
        block, ["l_returnflag", "l_orderkey", "l_linenumber"], "w", "bcum"
    )
    boffs = b.groupBy("l_returnflag").agg(
        F.sum("w").alias("blkw"),
        (F.max("bcum") - F.sum("w")).alias("boff"),
    )
    runs = b.join(F.broadcast(boffs), "l_returnflag").select(  # bcast: enum
        "l_returnflag",
        "med_cents",
        "totw",
        (
            F.col("cum_incl")
            - F.col("blkw")
            + (F.col("bcum") - F.col("boff"))
        ).alias("cumw"),
    )
    hit = (
        runs.filter(2 * F.col("cumw") >= F.col("totw"))
        .groupBy("l_returnflag", "totw", "med_cents")
        .agg(F.min("cumw").alias("cumw"))
    )
    return hit.select(
        "l_returnflag",
        F.col("totw").cast("bigint").alias("total_weight"),
        F.col("med_cents").cast("bigint").alias("wmedian_cents"),
        F.col("cumw").cast("bigint").alias("cum_weight_at_median"),
    )


@register(
    "events_ljung_box_q",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) // 100
                  AS BIGINT) AS x
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    lagged AS (
      SELECT event_type, x,
             LAG(x, 1) OVER w AS x1,
             LAG(x, 2) OVER w AS x2,
             LAG(x, 3) OVER w AS x3
      FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)
    ),
    m AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS s1,
             CAST(SUM(x * x) AS BIGINT) AS s2,
             CAST(SUM(x * x1) AS BIGINT) AS c1,
             CAST(SUM(CASE WHEN x1 IS NOT NULL THEN x1 END) AS BIGINT) AS a1,
             CAST(SUM(CASE WHEN x1 IS NOT NULL THEN x END) AS BIGINT) AS b1,
             CAST(SUM(x * x2) AS BIGINT) AS c2,
             CAST(SUM(CASE WHEN x2 IS NOT NULL THEN x2 END) AS BIGINT) AS a2,
             CAST(SUM(CASE WHEN x2 IS NOT NULL THEN x END) AS BIGINT) AS b2,
             CAST(SUM(x * x3) AS BIGINT) AS c3,
             CAST(SUM(CASE WHEN x3 IS NOT NULL THEN x3 END) AS BIGINT) AS a3,
             CAST(SUM(CASE WHEN x3 IS NOT NULL THEN x END) AS BIGINT) AS b3
      FROM lagged GROUP BY event_type
    ),
    r AS (
      SELECT event_type, n,
             (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(c1 AS DOUBLE)
              - CAST(n AS DOUBLE) * CAST(s1 AS DOUBLE)
                * (CAST(a1 AS DOUBLE) + CAST(b1 AS DOUBLE))
              + CAST(n - 1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                * CAST(s1 AS DOUBLE))
             / (CAST(n AS DOUBLE)
                * (CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                   - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))) AS r1,
             (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(c2 AS DOUBLE)
              - CAST(n AS DOUBLE) * CAST(s1 AS DOUBLE)
                * (CAST(a2 AS DOUBLE) + CAST(b2 AS DOUBLE))
              + CAST(n - 2 AS DOUBLE) * CAST(s1 AS DOUBLE)
                * CAST(s1 AS DOUBLE))
             / (CAST(n AS DOUBLE)
                * (CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                   - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))) AS r2,
             (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(c3 AS DOUBLE)
              - CAST(n AS DOUBLE) * CAST(s1 AS DOUBLE)
                * (CAST(a3 AS DOUBLE) + CAST(b3 AS DOUBLE))
              + CAST(n - 3 AS DOUBLE) * CAST(s1 AS DOUBLE)
                * CAST(s1 AS DOUBLE))
             / (CAST(n AS DOUBLE)
                * (CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                   - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))) AS r3
      FROM m
    )
    SELECT event_type, n, r1, r2, r3,
           (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0))
           * (((r1 * r1) / (CAST(n AS DOUBLE) - 1.0))
              + ((r2 * r2) / (CAST(n AS DOUBLE) - 2.0))
              + ((r3 * r3) / (CAST(n AS DOUBLE) - 3.0))) AS q_stat
    FROM r
    """,
)
def events_ljung_box_q(spark, sf_dir):
    """Ljung-Box portmanteau test (lags 1..3) per daily series — the
    standard "is there ANY autocorrelation left" diagnostic run on
    forecast residuals and A/A streams (completes the time-series
    toolkit next to autocorr_lag1 / Mann-Kendall / binseg). Daily
    values are binned to whole dollars so every cross-moment —
    n²·Σx_t·x_{t−k} is the largest — stays far inside BIGINT; each
    lag-k autocorrelation is the mean-centered sample ACF expanded
    into exact integer moments (lag pair sums, boundary sums a_k/b_k,
    and the n−k correction) and evaluated as one
    identically-parenthesized IEEE expression; Q = n(n+2)·Σ r_k²/(n−k)
    is a second identical closed form over those r_k. Bit-exact
    cross-engine, no rounding step.

    Scale shape: one exchange on the series key for the daily
    rollup; the lags ride the same partitioning; the moment rollup
    is map-side-combinable into 5 groups. Day-count-bounded
    everywhere after the scan."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.expr(
            "CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) div 100"
            " AS BIGINT)"
        ).alias("x")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type",
        "x",
        F.lag("x", 1).over(w).alias("x1"),
        F.lag("x", 2).over(w).alias("x2"),
        F.lag("x", 3).over(w).alias("x3"),
    )
    aggs = [
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s1"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("s2"),
    ]
    for k in (1, 2, 3):
        xk = F.col(f"x{k}")
        aggs += [
            F.sum(F.col("x") * xk).cast("bigint").alias(f"c{k}"),
            F.sum(F.when(xk.isNotNull(), xk)).cast("bigint").alias(f"a{k}"),
            F.sum(F.when(xk.isNotNull(), F.col("x")))
            .cast("bigint")
            .alias(f"b{k}"),
        ]
    m = lagged.groupBy("event_type").agg(*aggs)

    def rk(k: int) -> str:
        return (
            f"(CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(c{k} AS DOUBLE)"
            f" - CAST(n AS DOUBLE) * CAST(s1 AS DOUBLE)"
            f"   * (CAST(a{k} AS DOUBLE) + CAST(b{k} AS DOUBLE))"
            f" + CAST(n - {k} AS DOUBLE) * CAST(s1 AS DOUBLE)"
            f"   * CAST(s1 AS DOUBLE))"
            f" / (CAST(n AS DOUBLE)"
            f"    * (CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)"
            f"       - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)))"
        )

    r = m.select(
        "event_type", "n",
        F.expr(rk(1)).alias("r1"),
        F.expr(rk(2)).alias("r2"),
        F.expr(rk(3)).alias("r3"),
    )
    return r.select(
        "event_type", "n", "r1", "r2", "r3",
        F.expr(
            "(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0))"
            " * (((r1 * r1) / (CAST(n AS DOUBLE) - 1.0))"
            "    + ((r2 * r2) / (CAST(n AS DOUBLE) - 2.0))"
            "    + ((r3 * r3) / (CAST(n AS DOUBLE) - 3.0)))"
        ).alias("q_stat"),
    )


@register(
    "events_seasonal_decompose",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(epoch_us(CAST(CAST(ts AS DATE) AS TIMESTAMP))
                  // 86400000000 AS BIGINT) AS epoch_day,
             CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS x
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    tr AS (
      SELECT event_type, day, epoch_day, x,
             CAST(SUM(x) OVER w AS BIGINT) AS s7,
             CAST(COUNT(*) OVER w AS BIGINT) AS n7
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    det AS (
      SELECT event_type, day, epoch_day, x,
             CAST(s7 // 7 AS BIGINT) AS trend_c,
             CAST(x - s7 // 7 AS BIGINT) AS detr_c,
             CAST((epoch_day + 4) % 7 AS BIGINT) AS dow
      FROM tr WHERE n7 = 7
    ),
    seas AS (
      SELECT event_type, dow,
             CAST(SUM(detr_c) // COUNT(*) AS BIGINT) AS seasonal_c
      FROM det GROUP BY event_type, dow
    )
    SELECT d.event_type, d.day, d.x, d.trend_c, s.seasonal_c,
           CAST(d.detr_c - s.seasonal_c AS BIGINT) AS resid_c
    FROM det d JOIN seas s
      ON s.event_type = d.event_type AND s.dow = d.dow
    """,
)
def events_seasonal_decompose(spark, sf_dir):
    """Additive seasonal decomposition of the daily revenue series —
    the classical trend / day-of-week / residual split (the moving-
    average decomposition behind every 'is Monday always like this'
    dashboard): trend is a centered 7-day moving average, the
    seasonal component is the per-weekday mean of the detrended
    series, and the residual closes the identity x = trend +
    seasonal + residual + (the two integer-division remainders,
    which stay bounded by construction). Entirely integer: cent
    sums, integer divisions that truncate toward zero identically in
    both engines (detrended values can be negative — `div` and `//`
    agree on sign), and the weekday from exact epoch-day arithmetic
    ((d+4) % 7, the Thursday-epoch identity). Edge days without a
    full centered window are warm-up and excluded, as in the
    classical method.

    Scale shape: one exchange on the series key covers the daily
    rollup, the centered window, and the weekday join key; the
    seasonal table is 7 rows per series and broadcasts back."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.sum(cents).cast("bigint").alias("x")
    ).withColumn(
        "epoch_day",
        F.expr(
            "unix_micros(CAST(day AS TIMESTAMP)) div 86400000000"
        ).cast("bigint"),
    )
    w7 = (
        Window.partitionBy("event_type").orderBy("day").rowsBetween(-3, 3)
    )
    tr = daily.select(
        "event_type",
        "day",
        "epoch_day",
        "x",
        F.sum("x").over(w7).cast("bigint").alias("s7"),
        F.count(F.lit(1)).over(w7).cast("bigint").alias("n7"),
    )
    det = tr.filter(F.col("n7") == 7).select(
        "event_type",
        "day",
        "x",
        F.expr("s7 div 7").cast("bigint").alias("trend_c"),
        F.expr("x - s7 div 7").cast("bigint").alias("detr_c"),
        F.expr("(epoch_day + 4) % 7").cast("bigint").alias("dow"),
    )
    seas = det.groupBy("event_type", "dow").agg(
        F.expr("SUM(detr_c) div COUNT(*)").cast("bigint").alias("seasonal_c")
    )
    return det.join(F.broadcast(seas), ["event_type", "dow"]).select(  # bcast: grid
        "event_type", "day", "x", "trend_c", "seasonal_c",
        (F.col("detr_c") - F.col("seasonal_c")).cast("bigint").alias("resid_c"),
    )


@register(
    "events_metric_definition_audit",
    oracle="""
    WITH per_user AS (
      SELECT user_id, user_id % 4 AS cohort,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_purch
      FROM events GROUP BY user_id
    ),
    per_cohort AS (
      SELECT cohort,
             CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(n_events) AS BIGINT) AS tot_events,
             CAST(SUM(n_purch) AS BIGINT) AS tot_purch,
             CAST(SUM((n_purch * 1000000) // n_events) AS BIGINT)
               AS sum_user_rate_micro
      FROM per_user GROUP BY cohort
    )
    SELECT cohort, n_users, tot_events, tot_purch,
           CAST((tot_purch * 1000000) // tot_events AS BIGINT)
             AS ratio_of_sums_micro,
           CAST(sum_user_rate_micro // n_users AS BIGINT)
             AS avg_of_ratios_micro,
           CAST((tot_purch * 1000000) // tot_events
                - sum_user_rate_micro // n_users AS BIGINT) AS gap_micro
    FROM per_cohort
    """,
)
def events_metric_definition_audit(spark, sf_dir):
    """Ratio-of-sums vs average-of-ratios audit — the metric-
    definition trap every analytics team hits once (Simpson's
    paradox in miniature): "purchase rate" computed as total
    purchases / total events weights heavy users up, while the mean
    of per-user rates weights every user equally, and the two move
    dashboards in different directions when activity and conversion
    correlate. The audit computes both per cohort in exact micro
    units (per-user rates floored individually THEN summed — an
    order-proof BIGINT accumulation — and each cohort ratio one
    integer cross-multiplied division) and prices the gap. A
    contract for metric layers: the gap column is the cost of
    ambiguity in the metric's definition.

    Scale shape: two nested map-side-combinable aggs (user, then
    cohort) — the canonical two-level rollup, no windows, no joins."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("n_purch"),
    ).withColumn("cohort", (F.col("user_id") % 4).cast("bigint"))
    per_cohort = per_user.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("n_events").cast("bigint").alias("tot_events"),
        F.sum("n_purch").cast("bigint").alias("tot_purch"),
        F.sum(F.expr("(n_purch * 1000000) div n_events"))
        .cast("bigint")
        .alias("sum_user_rate_micro"),
    )
    return per_cohort.select(
        "cohort", "n_users", "tot_events", "tot_purch",
        F.expr("(tot_purch * 1000000) div tot_events")
        .cast("bigint")
        .alias("ratio_of_sums_micro"),
        F.expr("sum_user_rate_micro div n_users")
        .cast("bigint")
        .alias("avg_of_ratios_micro"),
        F.expr(
            "(tot_purch * 1000000) div tot_events"
            " - sum_user_rate_micro div n_users"
        )
        .cast("bigint")
        .alias("gap_micro"),
    )
