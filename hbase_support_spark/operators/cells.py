"""§2.3 Versioned-cell semantics — HBase's signature behavior.

The Bigtable/HBase model stores N timestamped versions per
(rowkey, qualifier) cell; reads resolve latest-wins, bounded
versions, time ranges, TTL, and delete tombstones (public HBase
semantics; SURVEY.md §2.3). The `events` table is the cell log:
rowkey ≈ user_id, qualifier ≈ event_type, version ≈ ts.

Determinism: ts is not guaranteed unique per (rowkey, qualifier), so
every "latest" is resolved by (ts, event_id) — always break version
ties on a unique key (SURVEY.md §7 hard-part 3).

Scale notes: latest-wins uses groupBy + max_by(struct) rather than a
window — partial aggregation combines map-side, so only one row per
(rowkey, qualifier) crosses the shuffle; a window would shuffle the
entire cell log. `max_versions_n` genuinely needs per-group ordering
→ window, shuffled once on the partition keys.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..io import load_table, scratch_root
from ..registry import register


@register(
    "latest_version",
    oracle="""
    SELECT user_id, event_type, ts, value
    FROM (
      SELECT user_id, event_type, ts, value,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def latest_version(spark, sf_dir):
    """Default read path: newest cell per (row, qualifier) wins.

    max_by over a (ts, event_id, payload) struct = arg-max with a
    deterministic tiebreak, computed as a partial+final hash agg.
    """
    ev = load_table(spark, sf_dir, "events")
    top = F.max(F.struct("ts", "event_id", "value")).alias("cell")
    return (
        ev.groupBy("user_id", "event_type")
        .agg(top)
        .select(
            "user_id",
            "event_type",
            F.col("cell.ts").alias("ts"),
            F.col("cell.value").alias("value"),
        )
    )


@register(
    "max_versions_n",
    oracle="""
    SELECT user_id, event_type, ts, value, version_rank
    FROM (
      SELECT user_id, event_type, ts, value,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts DESC, event_id DESC) AS version_rank
      FROM events
    ) WHERE version_rank <= 3
    """,
)
def max_versions_n(spark, sf_dir):
    """Scan.readVersions(3): newest 3 versions per cell."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("version_rank", F.row_number().over(w))
        .filter(F.col("version_rank") <= 3)
        .select("user_id", "event_type", "ts", "value", "version_rank")
    )


@register(
    "time_range_read",
    oracle="""
    SELECT event_id, user_id, event_type, ts, value
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
      AND ts <  TIMESTAMP '2024-01-15 00:00:00'
    """,
)
def time_range_read(spark, sf_dir):
    """Scan.setTimeRange(min, max) — half-open version-time window,
    pushed to the scan."""
    ev = load_table(spark, sf_dir, "events")
    return ev.filter(
        (F.col("ts") >= F.lit("2024-01-10 00:00:00").cast("timestamp"))
        & (F.col("ts") < F.lit("2024-01-15 00:00:00").cast("timestamp"))
    ).select("event_id", "user_id", "event_type", "ts", "value")


@register(
    "ttl_expiry",
    oracle="""
    SELECT event_id, user_id, event_type, ts
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-30 00:00:00' - INTERVAL 7 DAY
    """,
)
def ttl_expiry(spark, sf_dir):
    """CF TTL: cells older than now − TTL are invisible. 'now' is a
    fixed literal (2024-01-30, the fixture's end) for determinism."""
    ev = load_table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-30 00:00:00").cast("timestamp") - F.expr("INTERVAL 7 DAYS")
    return ev.filter(F.col("ts") >= cutoff).select("event_id", "user_id", "event_type", "ts")


@register(
    "tombstone_merge",
    oracle="""
    SELECT e.event_id, e.user_id, e.event_type, e.ts
    FROM events e
    LEFT JOIN (SELECT user_id, MAX(ts) AS del_ts FROM events
               WHERE event_type = 'error' GROUP BY user_id) d
      ON e.user_id = d.user_id
    WHERE e.event_type <> 'error'
      AND (d.del_ts IS NULL OR e.ts > d.del_ts)
    """,
)
def tombstone_merge(spark, sf_dir):
    """Delete-tombstone compaction: a row-level delete marker at ts T
    suppresses all puts with ts <= T. Deletes modeled as
    event_type='error' rows.

    Implemented as aggregate-then-join (one tiny row per rowkey on
    the build side) instead of an inequality anti-join, which would
    degrade to a nested loop at scale.
    """
    ev = load_table(spark, sf_dir, "events")
    dels = (
        ev.filter(F.col("event_type") == "error")
        .groupBy("user_id")
        .agg(F.max("ts").alias("del_ts"))
    )
    puts = ev.filter(F.col("event_type") != "error")
    return (
        # dels is rowkey-scale (one row per user with a tombstone) —
        # unhinted (r10 broadcast-hint audit): AQE broadcasts while
        # small, co-partitioned shuffle join at scale
        puts.join(dels, "user_id", "left")
        .filter(F.col("del_ts").isNull() | (F.col("ts") > F.col("del_ts")))
        .select("event_id", "user_id", "event_type", "ts")
    )


@register(
    "as_of_read",
    oracle="""
    SELECT user_id, event_type, ts AS as_of_ts, value AS as_of_value
    FROM (
      SELECT user_id, event_type, ts, value,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
      WHERE ts <= TIMESTAMP '2024-01-15 12:00:00'
    ) WHERE rn = 1
    """,
)
def as_of_read(spark, sf_dir):
    """Point-in-time read: newest version with ts <= t (the as-of
    join primitive, collapsed to a fixed t). Same partial-agg shape
    as latest_version under the time predicate."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts") <= F.lit("2024-01-15 12:00:00").cast("timestamp")
    )
    top = F.max(F.struct("ts", "event_id", "value")).alias("cell")
    return (
        ev.groupBy("user_id", "event_type")
        .agg(top)
        .select(
            "user_id",
            "event_type",
            F.col("cell.ts").alias("as_of_ts"),
            F.col("cell.value").alias("as_of_value"),
        )
    )


@register(
    "as_of_join",
    oracle="""
    SELECT q.user_id, q.t AS query_ts, e.ts AS matched_ts, e.value AS matched_value
    FROM (SELECT DISTINCT user_id, TIMESTAMP '2024-01-10 00:00:00' AS t FROM events
          UNION ALL
          SELECT DISTINCT user_id, TIMESTAMP '2024-01-20 00:00:00' FROM events) q
    ASOF LEFT JOIN events e
      ON q.user_id = e.user_id AND e.ts <= q.t
    """,
)
def as_of_join(spark, sf_dir):
    """Pairwise as-of join: for each (user, query-time), the latest
    event at or before that time. Spark lacks a native ASOF join;
    expressed as union-tag + window so the 'latest before' resolves
    in one pass over the merged stream — no inequality join, scales
    as a single sort/shuffle on (user_id, ts).

    NOTE: DuckDB ASOF resolves ties (e.ts == q.t and duplicate e.ts)
    by max ts only; we mirror by taking max value among rows at the
    winning ts for determinism — fixture ts collisions per user are
    absent, verified by parity.
    """
    ev = load_table(spark, sf_dir, "events")
    users = ev.select("user_id").distinct()
    q = users.select(
        "user_id", F.lit("2024-01-10 00:00:00").cast("timestamp").alias("t")
    ).unionByName(
        users.select("user_id", F.lit("2024-01-20 00:00:00").cast("timestamp").alias("t"))
    )
    # union-tag: probe rows carry is_q=1; sort by (user, time, is_q)
    # and carry the last seen event via a running max over struct.
    probes = q.select(
        "user_id",
        F.col("t").alias("ts"),
        F.lit(1).alias("is_q"),
        F.lit(None).cast("timestamp").alias("e_ts"),
        F.lit(None).cast("double").alias("e_value"),
    )
    evs = ev.select(
        "user_id",
        "ts",
        F.lit(0).alias("is_q"),
        F.col("ts").alias("e_ts"),
        F.col("value").alias("e_value"),
    )
    from pyspark.sql import Window

    merged = evs.unionByName(probes)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("is_q").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = merged.withColumn(
        "last_cell", F.max(F.when(F.col("is_q") == 0, F.struct("e_ts", "e_value"))).over(w)
    )
    return carried.filter(F.col("is_q") == 1).select(
        "user_id",
        F.col("ts").alias("query_ts"),
        F.col("last_cell.e_ts").alias("matched_ts"),
        F.col("last_cell.e_value").alias("matched_value"),
    )


@register(
    "check_and_put_batch",
    oracle="""
    SELECT c.c_custkey,
           CASE WHEN c.c_acctbal > 9000 THEN ROUND(c.c_acctbal + 100.0, 2)
                ELSE c.c_acctbal END AS new_acctbal,
           (c.c_acctbal > 9000) AS mutated
    FROM customer c
    """,
)
def check_and_put_batch(spark, sf_dir):
    """checkAndPut (CAS conditional mutation), batch analog: the
    condition gates the overwrite per row — when/otherwise over the
    full table, exactly the MERGE WHEN MATCHED shape. (True
    transactional CAS needs a table format with row-level commits —
    Delta/Iceberg MERGE at deploy time; this is the compute kernel.)
    """
    c = load_table(spark, sf_dir, "customer")
    cond = F.col("c_acctbal") > 9000
    return c.select(
        "c_custkey",
        F.when(cond, F.round(F.col("c_acctbal") + 100.0, 2))
        .otherwise(F.col("c_acctbal"))
        .alias("new_acctbal"),
        cond.alias("mutated"),
    )


@register(
    "increment_counter",
    oracle="""
    SELECT user_id,
           COUNT(*) AS increments,
           ROUND(SUM(value), 2) AS counter_value
    FROM events WHERE event_type = 'click'
    GROUP BY user_id
    """,
)
def increment_counter(spark, sf_dir):
    """Increment — server-side atomic counters; the batch-analytic
    equivalent is a keyed sum (commutative, so partial agg applies
    exactly like HBase's per-region counters)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "click")
    return ev.groupBy("user_id").agg(
        F.count("*").alias("increments"),
        F.round(F.sum("value"), 2).alias("counter_value"),
    )


@register(
    "append_cell",
    oracle="""
    SELECT user_id,
           STRING_AGG(event_type, ',' ORDER BY ts, event_id) AS appended
    FROM events
    GROUP BY user_id
    """,
)
def append_cell(spark, sf_dir):
    """Append — server-side value append in version order. Needs a
    deterministic order inside the aggregate: sort the collected
    (ts, event_id, payload) structs, then join."""
    ev = load_table(spark, sf_dir, "events")
    cells = F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type")))
    return ev.groupBy("user_id").agg(
        F.array_join(F.transform(cells, lambda c: c["event_type"]), ",").alias("appended")
    )


@register(
    "merge_into_upsert",
    oracle="""
    SELECT c_custkey,
           CASE WHEN c_acctbal > 9500 THEN ROUND(c_acctbal + 1000.0, 2)
                ELSE c_acctbal END AS c_acctbal
    FROM customer
    UNION ALL
    SELECT 99000001 AS c_custkey, 1.23 AS c_acctbal
    """,
)
def merge_into_upsert(spark, sf_dir):
    """The MERGE write path end-to-end (merge.py): seed a partitioned
    Parquet copy of customer, MERGE a source of updates (+1000 to
    every balance > 9500) plus one brand-new row, then return the
    resulting table state. Grades the full read-modify-write cycle —
    copy-on-write with dynamic partition overwrite — not just the
    conditional-select kernel (`check_and_put_batch`)."""
    import os

    from ..merge import merge_into_parquet

    scratch = scratch_root()
    target = os.path.join(scratch, "merge_cust")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )
    c.write.mode("overwrite").partitionBy("c_mktsegment").parquet(target)
    source = (
        c.filter(F.col("c_acctbal") > 9500)
        .select(
            "c_custkey",
            F.round(F.col("c_acctbal") + 1000.0, 2).alias("c_acctbal"),
            "c_mktsegment",
        )
        .unionByName(
            spark.createDataFrame(
                [(99000001, 1.23, "BUILDING")],
                "c_custkey long, c_acctbal double, c_mktsegment string",
            )
        )
    )
    merge_into_parquet(spark, target, source, ["c_custkey"], "c_mktsegment")
    return spark.read.parquet(target).select("c_custkey", "c_acctbal")


@register(
    "bulk_delete_predicate",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS cnt
    FROM orders
    WHERE NOT (o_orderstatus = 'F' AND o_totalprice > 300000)
    GROUP BY o_orderstatus
    """,
)
def bulk_delete_predicate(spark, sf_dir):
    """The BulkDeleteEndpoint analog end-to-end (merge.bulk_delete):
    seed a partitioned Parquet copy of orders, delete by predicate
    (high-value finished orders), and return the surviving per-status
    counts read back from disk. Only the partition containing doomed
    rows is rewritten — the pruning is pinned byte-for-byte in
    tests/test_merge.py; this query grades the surviving row set."""
    import os

    from ..merge import bulk_delete

    scratch = scratch_root()
    target = os.path.join(scratch, "bulkdel_orders")
    orders = load_table(spark, sf_dir, "orders")
    orders.write.mode("overwrite").partitionBy("o_orderstatus").parquet(target)
    bulk_delete(
        spark,
        target,
        (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 300000),
        "o_orderstatus",
        schema=orders.schema,
    )
    return (
        spark.read.schema(orders.schema).parquet(target)
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("cnt"))
    )


@register(
    "as_of_join_forward",
    oracle="""
    SELECT q.user_id, q.t AS query_ts,
           MIN(e.ts) AS next_ts
    FROM (SELECT DISTINCT user_id, TIMESTAMP '2024-01-10 00:00:00' AS t FROM events
          UNION ALL
          SELECT DISTINCT user_id, TIMESTAMP '2024-01-25 00:00:00' FROM events) q
    LEFT JOIN events e ON e.user_id = q.user_id AND e.ts > q.t
    GROUP BY q.user_id, q.t
    """,
)
def as_of_join_forward(spark, sf_dir):
    """Forward as-of: for each (user, query-time), the FIRST event
    strictly after it — the 'next reading after the alarm' /
    'next quote after the trade' direction the backward as-of can't
    answer. Same union-tag single-pass shape as `as_of_join`, run in
    reverse: sort descending and carry the running MIN future
    timestamp onto each probe row — one shuffle on (user_id, ts),
    no inequality join, so it scales exactly like sessionization.
    The oracle states the semantics as the naive correlated MIN
    (DuckDB ASOF only supports the backward direction)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    users = ev.select("user_id").distinct()
    q = users.select(
        "user_id", F.lit("2024-01-10 00:00:00").cast("timestamp").alias("t")
    ).unionByName(
        users.select(
            "user_id", F.lit("2024-01-25 00:00:00").cast("timestamp").alias("t")
        )
    )
    probes = q.select(
        "user_id",
        F.col("t").alias("ts"),
        F.lit(1).alias("is_q"),
        F.lit(None).cast("timestamp").alias("e_ts"),
    )
    evs = ev.select(
        "user_id", "ts", F.lit(0).alias("is_q"), F.col("ts").alias("e_ts")
    )
    merged = probes.unionByName(evs)
    # descending time with probes sorted before events at equal ts:
    # a probe's frame (everything strictly before it in this order)
    # is exactly the rows with LATER ts — events at precisely t sort
    # after the probe and stay out, giving the strict '>' semantics.
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").desc(), F.col("is_q").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        merged.withColumn("next_ts", F.min("e_ts").over(w))
        .filter(F.col("is_q") == 1)
        .select("user_id", F.col("ts").alias("query_ts"), "next_ts")
    )


@register(
    "as_of_join_nearest",
    oracle="""
    WITH tagged AS (
      SELECT event_id, user_id, epoch_us(ts) AS ts_us,
             event_type = 'click' AS is_click
      FROM events WHERE event_type IN ('purchase', 'click')
    ),
    scanned AS (
      SELECT *,
             LAST_VALUE(CASE WHEN is_click THEN ts_us END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS back_us,
             LAST_VALUE(CASE WHEN is_click THEN event_id END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS back_id,
             FIRST_VALUE(CASE WHEN is_click THEN ts_us END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
               AS fwd_us,
             FIRST_VALUE(CASE WHEN is_click THEN event_id END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
               AS fwd_id
      FROM tagged
    )
    SELECT event_id, user_id,
           CASE WHEN back_us IS NOT NULL
                 AND (fwd_us IS NULL OR ts_us - back_us <= fwd_us - ts_us)
                THEN back_id ELSE fwd_id END AS click_event_id,
           CASE WHEN back_us IS NOT NULL
                 AND (fwd_us IS NULL OR ts_us - back_us <= fwd_us - ts_us)
                THEN ts_us - back_us ELSE fwd_us - ts_us END AS delta_us
    FROM scanned WHERE NOT is_click
    """,
)
def as_of_join_nearest(spark, sf_dir):
    """Nearest as-of: attach to each purchase the click by the same
    user closest in time in EITHER direction (ties → the earlier,
    i.e. backward, click) — attribution's 'which touchpoint was this
    conversion nearest to'. Composes the backward and forward as-of
    in ONE pass: union-tag both event kinds, sort once per user, and
    carry the last-preceding / first-following click via framed
    IGNORE NULLS window functions — no inequality join, no second
    sort (all four windows share one (user_id, ts_us, event_id)
    frame ordering, so the plan is one shuffle + one in-partition
    sort, sessionization's shape). Purchases with no click on a side
    fall back to the other; integer-µs deltas keep the comparison
    exact. Cites the classic pandas ``merge_asof(direction=
    'nearest')`` semantics, restated as a distributed single-scan."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("purchase", "click"))
        .select(
            "event_id",
            "user_id",
            F.unix_micros(F.col("ts")).alias("ts_us"),
            (F.col("event_type") == "click").alias("is_click"),
        )
    )
    base = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    back = base.rowsBetween(Window.unboundedPreceding, -1)
    fwd = base.rowsBetween(1, Window.unboundedFollowing)
    click_us = F.when(F.col("is_click"), F.col("ts_us"))
    click_id = F.when(F.col("is_click"), F.col("event_id"))
    scanned = ev.select(
        "event_id",
        "user_id",
        "ts_us",
        "is_click",
        F.last(click_us, ignorenulls=True).over(back).alias("back_us"),
        F.last(click_id, ignorenulls=True).over(back).alias("back_id"),
        F.first(click_us, ignorenulls=True).over(fwd).alias("fwd_us"),
        F.first(click_id, ignorenulls=True).over(fwd).alias("fwd_id"),
    )
    take_back = F.col("back_us").isNotNull() & (
        F.col("fwd_us").isNull()
        | (F.col("ts_us") - F.col("back_us") <= F.col("fwd_us") - F.col("ts_us"))
    )
    return scanned.filter(~F.col("is_click")).select(
        "event_id",
        "user_id",
        F.when(take_back, F.col("back_id")).otherwise(F.col("fwd_id")).alias(
            "click_event_id"
        ),
        F.when(take_back, F.col("ts_us") - F.col("back_us"))
        .otherwise(F.col("fwd_us") - F.col("ts_us"))
        .alias("delta_us"),
    )


@register(
    "cells_major_compaction_view",
    oracle="""
    WITH live AS (
      SELECT event_id, user_id, event_type, ts
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-30 00:00:00' - INTERVAL 14 DAY
        AND event_type <> 'error'
    ),
    dels AS (
      SELECT user_id, MAX(ts) AS del_ts FROM events
      WHERE event_type = 'error' GROUP BY user_id
    ),
    after_tomb AS (
      SELECT l.* FROM live l
      LEFT JOIN dels d ON l.user_id = d.user_id
      WHERE d.del_ts IS NULL OR l.ts > d.del_ts
    )
    SELECT event_id, user_id, event_type, ts, CAST(vrank AS INT) AS vrank
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts DESC, event_id DESC) AS vrank
      FROM after_tomb
    ) WHERE vrank <= 3
    """,
)
def cells_major_compaction_view(spark, sf_dir):
    """MAJOR COMPACTION semantics as one composed plan — what an
    HBase major compaction leaves on disk, answered as a query:
    TTL-expired cells dropped (14-day TTL against the fixed fixture
    'now'), delete tombstones applied (a marker at T suppresses puts
    with ts <= T — the `tombstone_merge` kernel), and version GC
    keeping only the 3 newest surviving versions per (rowkey,
    qualifier). The single ops primitives are graded separately
    (`ttl_expiry`, `tombstone_merge`, `max_versions_n`); this is
    their composition IN THE REFERENCE'S ORDER (tombstones and TTL
    filter first, version counting runs over survivors only — a cell
    shadowed by a tombstone must not consume a version slot). Scale
    shape: TTL is a pushed scan predicate; tombstones are an
    aggregate-then-broadcast-join (one row per rowkey, never an
    inequality anti-join); version GC is ONE window over (user_id,
    event_type) — the same single-shuffle shape as max_versions_n.
    """
    ev = load_table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-30 00:00:00").cast("timestamp") - F.expr("INTERVAL 14 DAYS")
    live = ev.filter(
        (F.col("ts") >= cutoff) & (F.col("event_type") != "error")
    ).select("event_id", "user_id", "event_type", "ts")
    dels = (
        ev.filter(F.col("event_type") == "error")
        .groupBy("user_id")
        .agg(F.max("ts").alias("del_ts"))
    )
    after_tomb = (
        # dels unhinted: rowkey-scale, same rationale as tombstone_merge
        live.join(dels, "user_id", "left")
        .filter(F.col("del_ts").isNull() | (F.col("ts") > F.col("del_ts")))
        .drop("del_ts")
    )
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        after_tomb.withColumn("vrank", F.row_number().over(w))
        .filter(F.col("vrank") <= 3)
        .select("event_id", "user_id", "event_type", "ts", "vrank")
    )


@register(
    "merge_into_txlog",
    oracle="""
    WITH v2 AS (
      SELECT CASE WHEN o_orderkey % 10 = 0 THEN ROUND(o_totalprice + 1000.0, 2)
                  ELSE o_totalprice END AS p
      FROM orders
      UNION ALL SELECT 11.5 UNION ALL SELECT 22.5 UNION ALL SELECT 33.5)
    SELECT 1 AS version, COUNT(*) AS n_rows,
           SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) / 100.0 AS total
    FROM orders
    UNION ALL
    SELECT 2, COUNT(*),
           SUM(CAST(FLOOR(p * 100 + 0.5) AS BIGINT)) / 100.0
    FROM v2
    """,
)
def merge_into_txlog(spark, sf_dir):
    """The transaction-log table format end-to-end
    (sources/txlog.py): init orders as txlog version 1, MERGE a
    delta (+1000 to every 10th order, plus three inserts) committing
    version 2 with file-level copy-on-write, then TIME-TRAVEL both
    versions and report (version, rows, cents-exact total) — the
    oracle recomputes both states from pure SQL, so the graded hash
    covers the whole init → merge → pinned-read cycle including that
    v1 is still byte-identical after v2 lands. This is the
    manifest-commit upgrade of `merge_into_upsert`'s
    directory-overwrite MERGE: readers resolve a manifest, commits
    are atomic renames, concurrent writers conflict instead of
    corrupting (tests/test_txlog.py)."""
    import os
    import shutil

    from ..num import money_sum
    from ..sources.txlog import txlog_init, txlog_merge, txlog_read

    scratch = scratch_root()
    target = os.path.join(scratch, "txlog_orders")
    shutil.rmtree(target, ignore_errors=True)
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    txlog_init(o.repartitionByRange(8, "o_orderkey"), target)
    delta = (
        o.filter(F.col("o_orderkey") % 10 == 0)
        .select(
            "o_orderkey",
            F.round(F.col("o_totalprice") + 1000.0, 2).alias("o_totalprice"),
        )
        .unionByName(
            spark.createDataFrame(
                [(99000001, 11.5), (99000002, 22.5), (99000003, 33.5)],
                "o_orderkey long, o_totalprice double",
            )
        )
    )
    txlog_merge(spark, target, delta, "o_orderkey")
    stats = []
    for v in (1, 2):
        stats.append(
            txlog_read(spark, target, version=v).agg(
                F.lit(v).alias("version"),
                F.count("*").alias("n_rows"),
                money_sum("o_totalprice").alias("total"),
            )
        )
    return stats[0].unionByName(stats[1])


@register(
    "txlog_changes_feed",
    oracle="""
    WITH base AS (SELECT o_orderkey, o_totalprice FROM orders),
    ins(k, p) AS (VALUES (CAST(99000001 AS BIGINT), CAST(11.5 AS DOUBLE)),
                         (99000002, 22.5), (99000003, 33.5)),
    merged AS (
      SELECT o_orderkey AS k,
             CASE WHEN o_orderkey % 10 = 0 THEN ROUND(o_totalprice + 1000.0, 2)
                  ELSE o_totalprice END AS p
      FROM base
      UNION ALL SELECT k, p FROM ins),
    final AS (SELECT k, p FROM merged WHERE k % 37 <> 1)
    SELECT f.k AS o_orderkey, f.p AS o_totalprice, 'insert' AS _change_type
    FROM final f LEFT JOIN base b ON b.o_orderkey = f.k
    WHERE b.o_orderkey IS NULL
    UNION ALL
    SELECT b.o_orderkey, b.o_totalprice, 'delete'
    FROM base b LEFT JOIN final f ON f.k = b.o_orderkey
    WHERE f.k IS NULL
    UNION ALL
    SELECT f.k, f.p, 'update_postimage'
    FROM final f JOIN base b ON b.o_orderkey = f.k
    WHERE f.p <> b.o_totalprice
    """,
)
def txlog_changes_feed(spark, sf_dir):
    """CDC over the transaction log (sources/txlog.py:txlog_changes —
    Delta CDF semantics): init orders as v1, MERGE a delta (+1000 to
    every 10th order, three inserts) as v2, COW-DELETE every 37th
    key as v3, then emit the NET v1→v3 change feed — inserts and
    updates carry the v3 image, deletes the v1 pre-image; a key
    updated then deleted nets to one 'delete'. The oracle recomputes
    the identical net diff from pure SQL over the fixture.

    Scale: the feed is computed ONLY from files that differ between
    the two manifests (carried-by-reference files are immutable, so
    their rows provably didn't change) — one full-outer join over
    ~the delta's files, never a 100 TB table diff. The downstream
    consumer is any incremental materialization: index maintenance
    (index_incremental_update), streaming foreachBatch MERGE, or a
    feature-store refresh."""
    import os
    import shutil

    from ..sources.txlog import (
        txlog_changes,
        txlog_delete,
        txlog_init,
        txlog_merge,
    )

    scratch = scratch_root()
    target = os.path.join(scratch, "txlog_cdc_orders")
    shutil.rmtree(target, ignore_errors=True)
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    txlog_init(o.repartitionByRange(8, "o_orderkey"), target)
    delta = (
        o.filter(F.col("o_orderkey") % 10 == 0)
        .select(
            "o_orderkey",
            F.round(F.col("o_totalprice") + 1000.0, 2).alias("o_totalprice"),
        )
        .unionByName(
            spark.createDataFrame(
                [(99000001, 11.5), (99000002, 22.5), (99000003, 33.5)],
                "o_orderkey long, o_totalprice double",
            )
        )
    )
    txlog_merge(spark, target, delta, "o_orderkey")
    txlog_delete(spark, target, "o_orderkey % 37 = 1")
    return txlog_changes(spark, target, 1, 3, "o_orderkey")


@register(
    "matview_incremental_refresh",
    oracle="""
    WITH base AS (SELECT o_orderkey, o_totalprice FROM orders),
    ins(k, p) AS (VALUES (CAST(99000001 AS BIGINT), CAST(11.5 AS DOUBLE)),
                         (99000002, 22.5), (99000003, 33.5)),
    merged AS (
      SELECT o_orderkey AS k,
             CASE WHEN o_orderkey % 10 = 0 THEN ROUND(o_totalprice + 1000.0, 2)
                  ELSE o_totalprice END AS p
      FROM base
      UNION ALL SELECT k, p FROM ins),
    final AS (SELECT k, p FROM merged WHERE k % 37 <> 1)
    SELECT k % 16 AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           SUM(CAST(FLOOR(p * 100 + 0.5) AS BIGINT)) / 100.0 AS total
    FROM final GROUP BY k % 16
    """,
)
def matview_incremental_refresh(spark, sf_dir):
    """Incremental materialized-view maintenance — the canonical CDC
    consumer: a persisted per-bucket (COUNT, cents-SUM) aggregate of
    the txlog table is refreshed by APPLYING the v1→v3 change feed
    (with Delta-CDF pre-images) instead of recomputing: pre-image
    and delete rows subtract (-1, -cents), post-image and insert
    rows add (+1, +cents); integer adjustments merge into the stored
    view by a full-outer join on the group key. The oracle computes
    the view FROM SCRATCH over the final state — hash equality IS
    the proof that incremental == recompute.

    Scale math: refresh cost = O(changed files) for the feed +
    O(distinct touched groups) for the merge — a 1 GB delta
    refreshes a 100 TB table's rollup in seconds, the entire reason
    warehouses maintain materialized views off a CDC stream. All
    adjustments are exact integers (cents contract), so incremental
    drift is impossible by construction, not just unlikely."""
    import os
    import shutil

    from ..sources.txlog import (
        txlog_changes,
        txlog_delete,
        txlog_init,
        txlog_merge,
        txlog_read,
    )

    scratch = scratch_root()
    target = os.path.join(scratch, "txlog_mv_orders")
    shutil.rmtree(target, ignore_errors=True)
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    txlog_init(o.repartitionByRange(8, "o_orderkey"), target)

    cents = lambda c: F.floor(c * 100 + 0.5).cast("long")  # noqa: E731
    bucket = lambda k: (F.col(k) % 16).alias("bucket")  # noqa: E731
    mv1 = (
        txlog_read(spark, target, version=1)
        .groupBy(bucket("o_orderkey"))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(cents(F.col("o_totalprice"))).alias("cents"),
        )
        .localCheckpoint(eager=False)  # the "persisted" view state
    )

    delta = (
        o.filter(F.col("o_orderkey") % 10 == 0)
        .select(
            "o_orderkey",
            F.round(F.col("o_totalprice") + 1000.0, 2).alias("o_totalprice"),
        )
        .unionByName(
            spark.createDataFrame(
                [(99000001, 11.5), (99000002, 22.5), (99000003, 33.5)],
                "o_orderkey long, o_totalprice double",
            )
        )
    )
    txlog_merge(spark, target, delta, "o_orderkey")
    txlog_delete(spark, target, "o_orderkey % 37 = 1")

    feed = txlog_changes(spark, target, 1, 3, "o_orderkey", preimages=True)
    sign = F.when(
        F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
    ).otherwise(F.lit(-1))
    adj = (
        feed.select(
            bucket("o_orderkey"),
            sign.alias("s"),
            (sign * cents(F.col("o_totalprice"))).alias("dc"),
        )
        .groupBy("bucket")
        .agg(F.sum("s").alias("d_rows"), F.sum("dc").alias("d_cents"))
    )
    refreshed = (
        mv1.join(adj, "bucket", "full_outer")
        .select(
            "bucket",
            (F.coalesce("n_rows", F.lit(0)) + F.coalesce("d_rows", F.lit(0))).alias(
                "n_rows"
            ),
            (F.coalesce("cents", F.lit(0)) + F.coalesce("d_cents", F.lit(0))).alias(
                "cents"
            ),
        )
        .filter(F.col("n_rows") > 0)
    )
    return refreshed.select(
        "bucket", "n_rows", (F.col("cents") / 100.0).alias("total")
    )


@register(
    "scd2_build_from_history",
    oracle="""
    WITH base AS (SELECT o_orderkey, o_totalprice FROM orders),
    ins(k, p) AS (VALUES (CAST(99000001 AS BIGINT), CAST(11.5 AS DOUBLE)),
                         (99000002, 22.5), (99000003, 33.5)),
    merged AS (
      SELECT o_orderkey AS k,
             CASE WHEN o_orderkey % 10 = 0 THEN ROUND(o_totalprice + 1000.0, 2)
                  ELSE o_totalprice END AS p
      FROM base
      UNION ALL SELECT k, p FROM ins),
    final AS (SELECT k, p FROM merged WHERE k % 37 <> 1),
    ver AS (
      SELECT o_orderkey AS k, o_totalprice AS p, 1 AS v FROM base
      UNION ALL SELECT k, p, 2 AS v FROM merged
      UNION ALL SELECT k, p, 3 AS v FROM final
    ),
    marked AS (
      SELECT k, p, v,
             CASE WHEN LAG(p) OVER w IS NULL
                       OR LAG(p) OVER w <> p
                       OR LAG(v) OVER w <> v - 1
                  THEN 1 ELSE 0 END AS is_start
      FROM ver
      WINDOW w AS (PARTITION BY k ORDER BY v)
    ),
    grp AS (
      SELECT k, p, v,
             SUM(is_start) OVER (PARTITION BY k ORDER BY v) AS g
      FROM marked
    )
    SELECT k AS o_orderkey, MIN(p) AS o_totalprice,
           CAST(MIN(v) AS BIGINT) AS valid_from_version,
           CAST(MAX(v) AS BIGINT) AS valid_to_version,
           (MAX(v) = 3) AS is_current
    FROM grp GROUP BY k, g
    """,
)
def scd2_build_from_history(spark, sf_dir):
    """Build the SCD type-2 dimension FROM table-format history: walk
    every committed txlog version of the orders table (v1 init → v2
    MERGE → v3 COW delete) and emit one validity interval per
    (key, value) run — valid_from/valid_to in version numbers,
    is_current for rows alive at the head. This closes the loop with
    `join_dim_scd2` (which CONSUMES such a dimension): time travel
    is the source of truth for dimension history, no hand-maintained
    effective-date columns.

    Interval derivation is the classic gaps-and-islands: a run
    starts where the value changes, the key (re)appears, or the
    version sequence has a hole (delete + re-insert of the same
    value stays two intervals). Per-key windows over |versions| rows
    — at 100 TB the cost is reading the kept manifests (bounded by
    the vacuum retention), and each version image prunes to its own
    files."""
    import os
    import shutil

    from ..sources.txlog import txlog_delete, txlog_init, txlog_merge, txlog_read
    from pyspark.sql import Window

    scratch = scratch_root()
    target = os.path.join(scratch, "txlog_scd2_orders")
    shutil.rmtree(target, ignore_errors=True)
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    txlog_init(o.repartitionByRange(8, "o_orderkey"), target)
    delta = (
        o.filter(F.col("o_orderkey") % 10 == 0)
        .select(
            "o_orderkey",
            F.round(F.col("o_totalprice") + 1000.0, 2).alias("o_totalprice"),
        )
        .unionByName(
            spark.createDataFrame(
                [(99000001, 11.5), (99000002, 22.5), (99000003, 33.5)],
                "o_orderkey long, o_totalprice double",
            )
        )
    )
    txlog_merge(spark, target, delta, "o_orderkey")
    txlog_delete(spark, target, "o_orderkey % 37 = 1")
    ver = None
    for v in (1, 2, 3):
        img = txlog_read(spark, target, version=v).select(
            F.col("o_orderkey").alias("k"),
            F.col("o_totalprice").alias("p"),
            F.lit(v).alias("v"),
        )
        ver = img if ver is None else ver.unionByName(img)
    w = Window.partitionBy("k").orderBy("v")
    lag_p, lag_v = F.lag("p").over(w), F.lag("v").over(w)
    marked = ver.withColumn(
        "is_start",
        F.when(
            lag_p.isNull() | (lag_p != F.col("p")) | (lag_v != F.col("v") - 1), 1
        ).otherwise(0),
    )
    grp = marked.withColumn(
        "g",
        F.sum("is_start").over(
            Window.partitionBy("k").orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return grp.groupBy("k", "g").agg(
        F.min("p").alias("o_totalprice"),
        F.min("v").cast("bigint").alias("valid_from_version"),
        F.max("v").cast("bigint").alias("valid_to_version"),
        (F.max("v") == 3).alias("is_current"),
    ).select(
        F.col("k").alias("o_orderkey"),
        "o_totalprice",
        "valid_from_version",
        "valid_to_version",
        "is_current",
    )


@register(
    "cells_family_stats",
    oracle="""
    SELECT event_type AS family,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_rows,
           CAST(FLOOR(COUNT(*) * 10000.0 / COUNT(DISTINCT user_id)) AS BIGINT)
             AS versions_per_row_bps,
           CAST(MAX(epoch_us(ts)) AS BIGINT) AS latest_ts_us,
           CAST(SUM(OCTET_LENGTH(ENCODE(props))) AS BIGINT) AS value_bytes
    FROM events GROUP BY event_type
    """,
)
def cells_family_stats(spark, sf_dir):
    """Column-family storage census over the cell log — the `hbase
    hfile -stats` / table-description readout an operator checks
    before tuning TTLs and max-versions: cells, distinct rowkeys,
    the versions-per-row ratio (exact integer basis points — the
    number that says whether VERSIONS=3 would shrink this family),
    newest cell timestamp in integer µs, and value-payload bytes.
    One scan, one family-keyed agg; the distinct collapses map-side
    per family."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(F.col("event_type").alias("family")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.countDistinct("user_id").cast("bigint").alias("n_rows"),
        F.floor(F.count(F.lit(1)) * 10000.0 / F.countDistinct("user_id"))
        .cast("bigint")
        .alias("versions_per_row_bps"),
        F.max(F.unix_micros("ts")).cast("bigint").alias("latest_ts_us"),
        F.sum(F.octet_length(F.encode("props", "utf-8")))
        .cast("bigint")
        .alias("value_bytes"),
    )


@register(
    "cells_delete_marker_precedence",
    oracle="""
    WITH g AS (
      SELECT user_id, event_type, ts,
             COUNT(*) AS n_cells,
             MAX(CASE WHEN event_id % 97 = 0 THEN 1 ELSE 0 END) AS has_ver_marker
      FROM events
      GROUP BY user_id, event_type, ts
    ),
    cls AS (
      SELECT event_type, n_cells,
             CASE
               WHEN user_id % 11 = 0 AND ts <= TIMESTAMP '2024-01-15 00:00:00'
                 THEN 'family'
               WHEN user_id % 5 = 0 AND event_type = 'view'
                    AND ts <= TIMESTAMP '2024-01-20 00:00:00'
                 THEN 'column'
               WHEN has_ver_marker = 1 THEN 'version'
               ELSE 'live'
             END AS verdict
      FROM g
    )
    SELECT event_type,
           CAST(SUM(n_cells) AS BIGINT) AS n_cells,
           CAST(SUM(CASE WHEN verdict = 'family' THEN n_cells ELSE 0 END) AS BIGINT)
             AS fam_masked,
           CAST(SUM(CASE WHEN verdict = 'column' THEN n_cells ELSE 0 END) AS BIGINT)
             AS col_masked,
           CAST(SUM(CASE WHEN verdict = 'version' THEN n_cells ELSE 0 END) AS BIGINT)
             AS ver_masked,
           CAST(SUM(CASE WHEN verdict = 'live' THEN n_cells ELSE 0 END) AS BIGINT)
             AS surviving
    FROM cls GROUP BY event_type
    """,
)
def cells_delete_marker_precedence(spark, sf_dir):
    """HBase's three delete-marker levels resolved with the real
    precedence order (public HBase semantics: DeleteFamily masks
    every qualifier of the row at ts <= marker; DeleteColumn masks
    one qualifier at ts <= marker; Delete masks exactly one version).
    Markers are synthesized deterministically from the cell log
    itself — DeleteFamily on every 11th rowkey effective
    2024-01-15, DeleteColumn on the 'view' qualifier of every 5th
    rowkey effective 2024-01-20, and version Deletes on cells whose
    event_id % 97 == 0 (masking every cell sharing that exact
    (row, qualifier, ts) coordinate, the marker included) — and the
    report attributes each masked cell to the HIGHEST-precedence
    marker that covers it, per family.

    Scale shape: the version-marker check is the only non-row-local
    predicate, and it is group-local to (row, qualifier, ts) — so the
    whole classification is ONE hash aggregation on the cell
    coordinate (partial agg combines map-side; no join, no window,
    no second shuffle), then a tiny per-family rollup. The same plan
    is how a compaction would physically apply markers at 100 TB:
    coordinate-local resolution, no cross-region data movement."""
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy("user_id", "event_type", "ts").agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.max(
            F.when(F.col("event_id") % 97 == 0, F.lit(1)).otherwise(F.lit(0))
        ).alias("has_ver_marker"),
    )
    fam_ts = F.lit("2024-01-15 00:00:00").cast("timestamp")
    col_ts = F.lit("2024-01-20 00:00:00").cast("timestamp")
    cls = g.withColumn(
        "verdict",
        F.when((F.col("user_id") % 11 == 0) & (F.col("ts") <= fam_ts), "family")
        .when(
            (F.col("user_id") % 5 == 0)
            & (F.col("event_type") == "view")
            & (F.col("ts") <= col_ts),
            "column",
        )
        .when(F.col("has_ver_marker") == 1, "version")
        .otherwise("live"),
    )

    def _masked(v):
        return (
            F.sum(F.when(F.col("verdict") == v, F.col("n_cells")).otherwise(F.lit(0)))
            .cast("bigint")
        )

    return cls.groupBy("event_type").agg(
        F.sum("n_cells").cast("bigint").alias("n_cells"),
        _masked("family").alias("fam_masked"),
        _masked("column").alias("col_masked"),
        _masked("version").alias("ver_masked"),
        _masked("live").alias("surviving"),
    )


@register(
    "txlog_replay_gap_audit",
    oracle="""
    WITH wal AS (
      SELECT user_id % 8 AS region,
             event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id % 8
                                ORDER BY event_id) AS seqid
      FROM events
    ),
    survived AS (
      SELECT region, seqid,
             seqid - LAG(seqid) OVER (PARTITION BY region ORDER BY seqid) - 1
               AS gap
      FROM wal WHERE event_id % 101 <> 0
    )
    SELECT region,
           CAST(COUNT(*) AS BIGINT) AS n_entries,
           CAST(MIN(seqid) AS BIGINT) AS first_seqid,
           CAST(MAX(seqid) AS BIGINT) AS last_seqid,
           CAST(SUM(CASE WHEN gap > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps,
           CAST(COALESCE(MAX(CASE WHEN gap > 0 THEN gap END), 0) AS BIGINT)
             AS max_gap,
           CAST(MAX(seqid) - MIN(seqid) + 1 - COUNT(*) AS BIGINT)
             AS missing_interior
    FROM survived GROUP BY region
    """,
)
def txlog_replay_gap_audit(spark, sf_dir):
    """WAL replay integrity audit — the check a region server (or a
    replication sink) runs after recovering a write-ahead log: are
    the per-region sequence ids contiguous, and if not, how many
    edits were lost and how wide is the worst hole? The fixture
    derives the ground-truth WAL (region = rowkey mod 8, seqid =
    dense per-region row number by commit order), then simulates
    loss — every 101st edit's log block is dropped — and the audit
    must rediscover exactly those holes from the survivors alone:
    gap = seqid − lag(seqid) − 1, with `missing_interior` the
    span-vs-count cross-check (the two independent derivations must
    agree, which the oracle enforces row-by-row).

    Scale shape: both windows partition on the same key (region), so
    Spark plans ONE exchange and two in-partition sorts — at 100 TB
    that is a per-region-log scan, the same locality a real WAL
    splitter has. No global sort, no driver state."""
    ev = load_table(spark, sf_dir, "events")
    wal = ev.select(
        (F.col("user_id") % 8).alias("region"),
        "event_id",
    ).withColumn(
        "seqid",
        F.row_number().over(Window.partitionBy("region").orderBy("event_id")),
    )
    survived = wal.filter(F.col("event_id") % 101 != 0).withColumn(
        "gap",
        F.col("seqid")
        - F.lag("seqid").over(Window.partitionBy("region").orderBy("seqid"))
        - 1,
    )
    return survived.groupBy("region").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_entries"),
        F.min("seqid").cast("bigint").alias("first_seqid"),
        F.max("seqid").cast("bigint").alias("last_seqid"),
        F.sum(F.when(F.col("gap") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_gaps"),
        F.coalesce(
            F.max(F.when(F.col("gap") > 0, F.col("gap"))), F.lit(0)
        )
        .cast("bigint")
        .alias("max_gap"),
        (F.max("seqid") - F.min("seqid") + 1 - F.count(F.lit(1)))
        .cast("bigint")
        .alias("missing_interior"),
    )


@register(
    "cells_compaction_reclaim_preview",
    oracle="""
    WITH ranked AS (
      SELECT event_type, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ),
    cls AS (
      SELECT event_type,
             CASE WHEN ts < TIMESTAMP '2024-01-30 00:00:00' - INTERVAL 7 DAY
                    THEN 'ttl'
                  WHEN rn > 3 THEN 'versions'
                  ELSE 'keep' END AS verdict
      FROM ranked
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(SUM(CASE WHEN verdict = 'ttl' THEN 1 ELSE 0 END) AS BIGINT)
             AS drop_ttl,
           CAST(SUM(CASE WHEN verdict = 'versions' THEN 1 ELSE 0 END)
                AS BIGINT) AS drop_versions,
           CAST(SUM(CASE WHEN verdict = 'keep' THEN 1 ELSE 0 END) AS BIGINT)
             AS keep,
           CAST(SUM(CASE WHEN verdict <> 'keep' THEN 1 ELSE 0 END) * 10000
                // COUNT(*) AS BIGINT) AS reclaim_bps
    FROM cls GROUP BY event_type
    """,
)
def cells_compaction_reclaim_preview(spark, sf_dir):
    """Major-compaction space-reclaim preview — the 'what would we
    get back if we compacted NOW' estimate an HBase operator reads
    before scheduling an off-peak major compaction: every cell is
    classified under the column-family retention policy
    (TTL = 7 days from the fixture-end clock, VERSIONS = 3), with
    the same precedence a real compaction applies — TTL first (an
    expired cell is dropped regardless of its version rank; it also
    frees a version slot, which is why rank alone can't decide),
    then beyond-max-versions, else kept. Per family: drop counts by
    cause and the reclaim share in exact basis points.

    Scale shape: ONE exchange — the version rank partitions on the
    cell coordinate (user, qualifier), and the per-family rollup
    combines map-side from it. This is byte-for-byte the region-
    local work a compaction does, so the preview's cost model IS the
    compaction's."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    cutoff = F.lit("2024-01-30 00:00:00").cast("timestamp") - F.expr("INTERVAL 7 DAYS")
    cls = ev.withColumn("rn", F.row_number().over(w)).select(
        "event_type",
        F.when(F.col("ts") < cutoff, "ttl")
        .when(F.col("rn") > 3, "versions")
        .otherwise("keep")
        .alias("verdict"),
    )
    return cls.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.sum(F.when(F.col("verdict") == "ttl", 1).otherwise(0))
        .cast("bigint")
        .alias("drop_ttl"),
        F.sum(F.when(F.col("verdict") == "versions", 1).otherwise(0))
        .cast("bigint")
        .alias("drop_versions"),
        F.sum(F.when(F.col("verdict") == "keep", 1).otherwise(0))
        .cast("bigint")
        .alias("keep"),
        F.expr(
            "sum(CASE WHEN verdict <> 'keep' THEN 1 ELSE 0 END) * 10000"
            " div count(*)"
        )
        .cast("bigint")
        .alias("reclaim_bps"),
    )


@register(
    "cells_version_gc_policy",
    oracle="""
    WITH ranked AS (
      SELECT event_type, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts DESC, event_id DESC) AS rn,
             SUM(CASE WHEN ts >= TIMESTAMP '2024-01-30 00:00:00'
                             - INTERVAL 7 DAY THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id, event_type
                     ORDER BY ts DESC, event_id DESC
                     ROWS UNBOUNDED PRECEDING) AS live_rank
      FROM events
    ),
    cls AS (
      SELECT event_type,
             CASE WHEN rn <= 1 THEN 'keep_min'
                  WHEN ts < TIMESTAMP '2024-01-30 00:00:00'
                         - INTERVAL 7 DAY THEN 'drop_ttl'
                  WHEN live_rank > 3 THEN 'drop_versions'
                  ELSE 'keep' END AS verdict
      FROM ranked
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(SUM(CASE WHEN verdict = 'keep_min' THEN 1 ELSE 0 END)
                AS BIGINT) AS keep_min,
           CAST(SUM(CASE WHEN verdict = 'keep' THEN 1 ELSE 0 END)
                AS BIGINT) AS keep_live,
           CAST(SUM(CASE WHEN verdict = 'drop_ttl' THEN 1 ELSE 0 END)
                AS BIGINT) AS drop_ttl,
           CAST(SUM(CASE WHEN verdict = 'drop_versions' THEN 1 ELSE 0 END)
                AS BIGINT) AS drop_versions
    FROM cls GROUP BY event_type
    """,
)
def cells_version_gc_policy(spark, sf_dir):
    """MIN_VERSIONS-aware version GC — the retention rule HBase
    applies when a column family sets TTL *and* MIN_VERSIONS: the
    newest MIN_VERSIONS (=1) cells of every coordinate are kept even
    if TTL-expired (so a quiet row never becomes empty), expiry then
    drops older dead cells, and VERSIONS (=3) bounds the *live* cells
    only — an expired cell must not consume a version slot, so the
    version rank is counted over live cells, not raw row order
    (public HBase semantics: ScanQueryMatcher + minVersions).

    Implementation: one window over the cell coordinate yields both
    the raw rank and the live-only rank (a running conditional count
    in the same frame — no second shuffle), then a per-family rollup.
    Scale shape: ONE exchange on (rowkey, qualifier), rollup combines
    map-side; this is the same region-local pass a compaction runs."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    cutoff = F.lit("2024-01-30 00:00:00").cast("timestamp") - F.expr("INTERVAL 7 DAYS")
    live = F.col("ts") >= cutoff
    cls = (
        ev.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "live_rank",
            F.sum(F.when(live, 1).otherwise(0)).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .select(
            "event_type",
            F.when(F.col("rn") <= 1, "keep_min")
            .when(~live, "drop_ttl")
            .when(F.col("live_rank") > 3, "drop_versions")
            .otherwise("keep")
            .alias("verdict"),
        )
    )
    agg = [
        F.sum(F.when(F.col("verdict") == v, 1).otherwise(0))
        .cast("bigint")
        .alias(a)
        for v, a in [
            ("keep_min", "keep_min"),
            ("keep", "keep_live"),
            ("drop_ttl", "drop_ttl"),
            ("drop_versions", "drop_versions"),
        ]
    ]
    return cls.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"), *agg
    )


@register(
    "wal_rollover_plan",
    oracle="""
    WITH w AS (
      SELECT user_id % 4 AS server, 64 + LENGTH(props) AS entry_bytes,
             ts, event_id
      FROM events
    ),
    c AS (
      SELECT server, entry_bytes,
             SUM(entry_bytes) OVER (PARTITION BY server
                                    ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS cum
      FROM w
    )
    SELECT server, CAST((cum - 1) // 32768 AS BIGINT) AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_entries,
           CAST(SUM(entry_bytes) AS BIGINT) AS seg_bytes,
           CAST(MAX(cum) AS BIGINT) AS cum_bytes_end
    FROM c GROUP BY server, (cum - 1) // 32768
    """,
)
def wal_rollover_plan(spark, sf_dir):
    """WAL size-based rollover plan — which edits land in which WAL
    segment when a region server rolls its log every 32 KiB (the
    `hbase.regionserver.logroll.*` size trigger, scaled to the
    fixture): edits are appended in (ts, unique-id) order per server,
    the running byte total assigns each edit to segment
    (cum−1) div 32 KiB, and the plan reports per-segment entry and
    byte counts — the input a log-splitting recovery would replay.

    Determinism: the running sum is over integer bytes with a
    ROWS frame and a unique tie-break, so the segment boundary is
    bit-identical cross-engine. Scale shape: ONE exchange on the
    server key, in-partition sort — exactly the per-server
    sequential-append locality of a real WAL; the rollup combines
    map-side from the same partitioning."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("server")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    entries = ev.select(
        (F.col("user_id") % 4).alias("server"),
        (F.lit(64) + F.length("props")).alias("entry_bytes"),
        "ts",
        "event_id",
    ).withColumn("cum", F.sum("entry_bytes").over(w))
    return (
        entries.withColumn("segment", F.expr("(cum - 1) div 32768").cast("bigint"))
        .groupBy("server", "segment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_entries"),
            F.sum("entry_bytes").cast("bigint").alias("seg_bytes"),
            F.max("cum").cast("bigint").alias("cum_bytes_end"),
        )
    )


@register(
    "cells_column_pagination",
    oracle="""
    WITH latest AS (
      SELECT user_id, event_type, ts, value,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts DESC, event_id DESC) AS vn
      FROM events
    ),
    cols AS (
      SELECT user_id, event_type, ts AS latest_ts, value AS latest_value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY event_type) AS col_rank
      FROM latest WHERE vn = 1
    )
    SELECT user_id, event_type, col_rank, latest_ts, latest_value
    FROM cols WHERE col_rank > 1 AND col_rank <= 3
    """,
)
def cells_column_pagination(spark, sf_dir):
    """ColumnPaginationFilter(limit=2, offset=1) — HBase's per-row
    column paging: within every row, qualifiers are ordered
    lexicographically, the first `offset` are skipped, and the next
    `limit` are returned (each resolved to its newest version). The
    qualifier rank is computed per rowkey, NOT globally — paging a
    wide row never touches its neighbors.

    Scale shape: latest-version resolution partitions on the cell
    coordinate; the qualifier ranking re-partitions on the rowkey
    alone. Qualifier cardinality per row is tiny (column families
    are narrow by design), so the second exchange moves one row per
    (rowkey, qualifier) — the dominant cost stays the first pass."""
    ev = load_table(spark, sf_dir, "events")
    wv = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    latest = (
        ev.withColumn("vn", F.row_number().over(wv))
        .filter(F.col("vn") == 1)
        .select("user_id", "event_type", F.col("ts").alias("latest_ts"),
                F.col("value").alias("latest_value"))
    )
    wc = Window.partitionBy("user_id").orderBy("event_type")
    return (
        latest.withColumn("col_rank", F.row_number().over(wc))
        .filter((F.col("col_rank") > 1) & (F.col("col_rank") <= 3))
        .select("user_id", "event_type", "col_rank", "latest_ts", "latest_value")
    )


@register(
    "snapshot_diff_asof",
    oracle="""
    WITH s1 AS (
      SELECT user_id, event_type, ts, event_id FROM (
        SELECT user_id, event_type, ts, event_id,
               ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE ts <= TIMESTAMP '2024-01-10 00:00:00'
      ) WHERE rn = 1
    ),
    s2 AS (
      SELECT user_id, event_type, ts, event_id FROM (
        SELECT user_id, event_type, ts, event_id,
               ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE ts <= TIMESTAMP '2024-01-20 00:00:00'
      ) WHERE rn = 1
    )
    SELECT s2.event_type,
           CAST(SUM(CASE WHEN s1.user_id IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_added,
           CAST(SUM(CASE WHEN s1.user_id IS NOT NULL
                          AND (s1.ts <> s2.ts OR s1.event_id <> s2.event_id)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
           CAST(SUM(CASE WHEN s1.ts = s2.ts AND s1.event_id = s2.event_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
    FROM s2 LEFT JOIN s1
      ON s1.user_id = s2.user_id AND s1.event_type = s2.event_type
    GROUP BY s2.event_type
    """,
)
def snapshot_diff_asof(spark, sf_dir):
    """Snapshot diff between two point-in-time reads (t1 < t2) of the
    versioned cell store: every coordinate visible at t2 is classified
    added (no version existed at t1), changed (the winning version
    moved), or unchanged. The log is append-only (no tombstones in
    this fixture), so 'removed' is structurally impossible and the
    three counts partition the t2 snapshot exactly — the invariant
    the test suite pins.

    Spark-first shape: instead of materializing two snapshots and
    joining them (two shuffles + a join), ONE aggregate over the cell
    log computes both winners per coordinate as conditional
    `MAX(struct(ts, event_id))` — struct comparison is lexicographic,
    so the max IS the latest-version tie-broken winner. One exchange,
    map-side partials, no join; the per-family rollup rides the same
    pass. The oracle states the same thing as two CTEs + LEFT JOIN."""
    ev = load_table(spark, sf_dir, "events")
    t1 = F.lit("2024-01-10 00:00:00").cast("timestamp")
    t2 = F.lit("2024-01-20 00:00:00").cast("timestamp")
    per_cell = (
        ev.groupBy("user_id", "event_type")
        .agg(
            F.max(F.when(F.col("ts") <= t1, F.struct("ts", "event_id"))).alias("v1"),
            F.max(F.when(F.col("ts") <= t2, F.struct("ts", "event_id"))).alias("v2"),
        )
        .filter(F.col("v2").isNotNull())
    )
    return per_cell.groupBy("event_type").agg(
        F.sum(F.when(F.col("v1").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_added"),
        F.sum(
            F.when(
                F.col("v1").isNotNull()
                & (
                    (F.col("v1.ts") != F.col("v2.ts"))
                    | (F.col("v1.event_id") != F.col("v2.event_id"))
                ),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_changed"),
        F.sum(
            F.when(
                (F.col("v1.ts") == F.col("v2.ts"))
                & (F.col("v1.event_id") == F.col("v2.event_id")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_unchanged"),
    )


@register(
    "cells_mob_storage_plan",
    oracle="""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(SUM(CASE WHEN n_chars > 256 THEN 1 ELSE 0 END)
                AS BIGINT) AS mob_cells,
           CAST(SUM(CASE WHEN n_chars > 256 THEN n_chars ELSE 0 END)
                AS BIGINT) AS mob_bytes,
           CAST(SUM(CASE WHEN n_chars <= 256 THEN n_chars ELSE 0 END)
                AS BIGINT) AS inline_bytes,
           CAST(SUM(CASE WHEN n_chars > 256 THEN n_chars ELSE 0 END)
                * 10000 // GREATEST(SUM(n_chars), 1) AS BIGINT) AS mob_bps,
           SUM(CASE WHEN n_chars > 256 THEN n_chars ELSE 0 END) * 2
             > SUM(n_chars) AS mob_dominant
    FROM documents GROUP BY source
    """,
)
def cells_mob_storage_plan(spark, sf_dir):
    """MOB (medium-object) storage routing — public HBase MOB
    semantics (HBASE-11339): a column family with MOB enabled writes
    cell values above MOB_THRESHOLD to separate MOB hfiles and keeps
    only a reference inline, so flushes/compactions stop rewriting
    large values. This op is the capacity-planning readout an
    operator runs BEFORE enabling MOB: per family (source), how many
    cells and bytes would route to MOB at threshold 256, the inline
    residue, and the byte share in exact bps (integer cross-multiply,
    FLOOR division — no float ratio in the hash path).

    Scale shape: single hash aggregate with map-side combine; at
    100 TB this is one scan + one exchange on the family key."""
    docs = load_table(spark, sf_dir, "documents")
    mob = F.col("n_chars") > 256
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.sum(F.when(mob, 1).otherwise(0)).cast("bigint").alias("mob_cells"),
        F.sum(F.when(mob, F.col("n_chars")).otherwise(0))
        .cast("bigint")
        .alias("mob_bytes"),
        F.sum(F.when(~mob, F.col("n_chars")).otherwise(0))
        .cast("bigint")
        .alias("inline_bytes"),
        F.expr(
            "CAST(SUM(CASE WHEN n_chars > 256 THEN n_chars ELSE 0 END) * 10000"
            " div GREATEST(SUM(n_chars), 1) AS BIGINT)"
        ).alias("mob_bps"),
        F.expr(
            "SUM(CASE WHEN n_chars > 256 THEN n_chars ELSE 0 END) * 2"
            " > SUM(n_chars)"
        ).alias("mob_dominant"),
    )


@register(
    "wal_replication_lag_report",
    oracle="""
    WITH now_t AS (SELECT MAX(ts) AS now_ts FROM events),
    tagged AS (
      SELECT user_id % 4 AS server_id, ts, now_ts,
             ts > now_ts - INTERVAL 3 DAY AS pending
      FROM events CROSS JOIN now_t
    )
    SELECT server_id,
           CAST(COUNT(*) AS BIGINT) AS wal_entries,
           CAST(SUM(CASE WHEN pending THEN 1 ELSE 0 END)
                AS BIGINT) AS pending_entries,
           CAST(COALESCE(MAX(CASE WHEN pending
                  THEN (epoch_us(now_ts) - epoch_us(ts)) // 1000000
                  END), 0) AS BIGINT) AS oldest_pending_age_s,
           SUM(CASE WHEN pending THEN 1 ELSE 0 END) * 10
             > COUNT(*) AS backlogged
    FROM tagged GROUP BY server_id
    """,
)
def wal_replication_lag_report(spark, sf_dir):
    """Replication-sink lag — the public HBase replication metrics
    `sizeOfLogQueue` / `ageOfLastShippedOp`: each region server ships
    its WAL edits to a peer cluster; entries newer than the shipped
    watermark (here: now − 3 days, a fixed simulated sink position)
    are still queued, and the age of the OLDEST queued edit is the
    lag a failover would lose. Ages are exact integer seconds
    (microsecond subtraction, FLOOR division — epoch_us both
    engines); `backlogged` flags a server whose queue exceeds 10 % of
    its WAL by integer cross-multiply.

    Scale shape: one-row global MAX broadcast-joined to the scan
    (map-only), then a single hash aggregate per server — the same
    two-job readout at any data size."""
    ev = load_table(spark, sf_dir, "events")
    now_t = F.broadcast(ev.agg(F.max("ts").alias("now_ts")))  # bcast: scalar
    tagged = ev.crossJoin(now_t).select(
        (F.col("user_id") % 4).alias("server_id"),
        "ts",
        "now_ts",
        (F.col("ts") > F.col("now_ts") - F.expr("INTERVAL 3 DAYS")).alias("pending"),
    )
    return tagged.groupBy("server_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("wal_entries"),
        F.sum(F.when(F.col("pending"), 1).otherwise(0))
        .cast("bigint")
        .alias("pending_entries"),
        F.coalesce(
            F.max(
                F.when(
                    F.col("pending"),
                    F.expr("(unix_micros(now_ts) - unix_micros(ts)) div 1000000"),
                )
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("oldest_pending_age_s"),
        F.expr("SUM(CASE WHEN pending THEN 1 ELSE 0 END) * 10 > COUNT(*)").alias(
            "backlogged"
        ),
    )


@register(
    "cells_put_if_absent_replay",
    oracle="""
    WITH ordered AS (
      SELECT event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS attempt,
             64 + LENGTH(props) AS cell_bytes
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_ops,
           CAST(SUM(CASE WHEN attempt = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_success,
           CAST(SUM(CASE WHEN attempt > 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_rejected,
           CAST(SUM(CASE WHEN attempt > 1 THEN cell_bytes ELSE 0 END)
                AS BIGINT) AS rejected_bytes,
           CAST(SUM(CASE WHEN attempt > 1 THEN 1 ELSE 0 END) * 10000
                // COUNT(*) AS BIGINT) AS reject_bps
    FROM ordered GROUP BY event_type
    """,
)
def cells_put_if_absent_replay(spark, sf_dir):
    """checkAndPut(value == null) — HBase's putIfAbsent CAS: the
    FIRST write to a coordinate (rowkey x qualifier, here
    user_id x event_type) wins and every later attempt is rejected
    by the atomic pre-check. Replaying the op log yields the
    contention report: per family, how many CAS attempts lost the
    race and how many bytes the client shipped for nothing —
    the readout that decides between CAS retry loops and an
    append-then-compact design. Arrival order is the HBase one
    (mvcc = timestamp, op id as the tie-break), all-integer.

    Scale shape: one window pass partitioned BY COORDINATE (the
    natural high-cardinality key — no skew pile-up) feeding one
    map-side-combining hash agg to family rows; the same two
    exchanges at any log size."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    ordered = ev.select(
        "event_type",
        F.row_number().over(w).alias("attempt"),
        (F.lit(64) + F.length("props")).alias("cell_bytes"),
    )
    rejected = F.sum(F.when(F.col("attempt") > 1, 1).otherwise(0))
    return ordered.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ops"),
        F.sum(F.when(F.col("attempt") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_success"),
        rejected.cast("bigint").alias("n_rejected"),
        F.sum(F.when(F.col("attempt") > 1, F.col("cell_bytes")).otherwise(0))
        .cast("bigint")
        .alias("rejected_bytes"),
        F.expr(
            "CAST(SUM(CASE WHEN attempt > 1 THEN 1 ELSE 0 END) * 10000"
            " div COUNT(*) AS BIGINT)"
        ).alias("reject_bps"),
    )


@register(
    "scan_timerange_versions",
    oracle="""
    WITH in_range AS (
      SELECT event_type, user_id, 64 + LENGTH(props) AS cell_bytes,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts DESC, event_id DESC) AS vrank
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-08'
        AND ts <  TIMESTAMP '2024-01-15'
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_in_range,
           CAST(SUM(CASE WHEN vrank <= 2 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_returned,
           CAST(SUM(CASE WHEN vrank > 2 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_suppressed,
           CAST(SUM(CASE WHEN vrank <= 2 THEN cell_bytes ELSE 0 END)
                AS BIGINT) AS returned_bytes,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_rows_touched
    FROM in_range GROUP BY event_type
    """,
)
def scan_timerange_versions(spark, sf_dir):
    """Scan.setTimeRange(t1, t2) + setMaxVersions(2) — the composed
    HBase read semantics: the time range filters CELLS first (not
    rows), THEN version counting keeps the 2 newest survivors per
    coordinate. The order matters — a cell that is version 3 overall
    can be version 1 inside the range — and this op grades exactly
    that composition, per family, with the suppressed-cell and
    byte-volume census an hfile-pruning planner needs.

    Scale shape: the time predicate is pushed to the parquet scan
    (min/max row-group pruning — the hfile timerange skip,
    columnar), then one coordinate-partitioned window and one hash
    agg; bytes scanned shrink with the range, not the table."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    in_range = ev.filter(
        (F.col("ts") >= F.lit("2024-01-08").cast("timestamp"))
        & (F.col("ts") < F.lit("2024-01-15").cast("timestamp"))
    )
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    ranked = in_range.select(
        "event_type",
        "user_id",
        (F.lit(64) + F.length("props")).alias("cell_bytes"),
        F.row_number().over(w).alias("vrank"),
    )
    return ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_in_range"),
        F.sum(F.when(F.col("vrank") <= 2, 1).otherwise(0))
        .cast("bigint")
        .alias("n_returned"),
        F.sum(F.when(F.col("vrank") > 2, 1).otherwise(0))
        .cast("bigint")
        .alias("n_suppressed"),
        F.sum(F.when(F.col("vrank") <= 2, F.col("cell_bytes")).otherwise(0))
        .cast("bigint")
        .alias("returned_bytes"),
        F.countDistinct("user_id").cast("bigint").alias("n_rows_touched"),
    )


@register(
    "cells_bulkload_hfile_plan",
    oracle="""
    WITH kv AS (
      SELECT user_id, user_id // 16 AS region,
             32 + LENGTH(event_type) + LENGTH(props) AS kv_bytes,
             event_type, ts, event_id
      FROM events
    ),
    c AS (
      SELECT region, user_id, kv_bytes,
             SUM(kv_bytes) OVER (PARTITION BY region
                                 ORDER BY user_id, event_type, ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM kv
    )
    SELECT region, CAST((cum - 1) // 8192 AS BIGINT) AS hfile,
           CAST(COUNT(*) AS BIGINT) AS n_kvs,
           CAST(SUM(kv_bytes) AS BIGINT) AS file_bytes,
           CAST(MIN(user_id) AS BIGINT) AS first_key,
           CAST(MAX(user_id) AS BIGINT) AS last_key
    FROM c GROUP BY region, (cum - 1) // 8192
    """,
)
def cells_bulkload_hfile_plan(spark, sf_dir):
    """Bulk-load HFile partition plan — the write side of
    LoadIncrementalHFiles: KVs destined for a bulk load are sorted in
    HBase cell order (rowkey, qualifier, timestamp) WITHIN each
    target region (an HFile must never cross a region boundary or
    the loader splits it server-side, the classic bulkload
    anti-pattern), and the running byte total cuts a new HFile every
    8 KiB (hbase.mapreduce.hfileoutputformat.blocksize scaled to the
    fixture). The plan reports, per (region, hfile), the KV count,
    byte size, and first/last rowkey — exactly the manifest a
    LoadIncrementalHFiles dry run prints. Boundaries are integer
    cum-div cuts over a uniquely-ordered BIGINT running sum, so the
    file assignment is bit-identical cross-engine.

    Scale shape: ONE exchange on the region key with an in-partition
    sort — the same physical shape as the real HFileOutputFormat
    (TotalOrderPartitioner by region start key + per-reducer sort);
    the per-file rollup reuses the same partitioning map-side. At
    100 TB the only knob is region count: more regions = more, more
    parallel, smaller sorts."""
    ev = load_table(spark, sf_dir, "events")
    kv = ev.select(
        "user_id",
        F.expr("user_id div 16").alias("region"),
        (F.lit(32) + F.length("event_type") + F.length("props")).alias(
            "kv_bytes"
        ),
        "event_type",
        "ts",
        "event_id",
    )
    w = (
        Window.partitionBy("region")
        .orderBy("user_id", "event_type", "ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = kv.withColumn("cum", F.sum("kv_bytes").over(w))
    return (
        c.withColumn("hfile", F.expr("(cum - 1) div 8192").cast("bigint"))
        .groupBy("region", "hfile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_kvs"),
            F.sum("kv_bytes").cast("bigint").alias("file_bytes"),
            F.min("user_id").cast("bigint").alias("first_key"),
            F.max("user_id").cast("bigint").alias("last_key"),
        )
    )


@register(
    "scan_raw_with_tombstones",
    oracle="""
    WITH markers AS (
      SELECT user_id, MAX(ts) AS del_ts FROM events
      WHERE event_type = 'error' GROUP BY user_id
    )
    SELECT e.event_id, e.user_id, e.event_type, e.ts,
           CAST(e.event_type = 'error' AS BOOLEAN) AS is_marker,
           CAST(e.event_type <> 'error'
                AND m.del_ts IS NOT NULL
                AND e.ts <= m.del_ts AS BOOLEAN) AS masked
    FROM events e LEFT JOIN markers m ON e.user_id = m.user_id
    """,
)
def scan_raw_with_tombstones(spark, sf_dir):
    """Scan.setRaw(true) — the diagnostic scan mode that returns
    delete markers AND the cells they mask instead of resolving
    them: every cell is annotated with whether it IS a tombstone
    (the same 'error'-as-DeleteFamily convention as tombstone_merge)
    and whether a newer-or-equal marker on its row masks it from
    normal reads. The masked flag restates tombstone_merge's
    visibility predicate exactly (visible iff ts > newest marker),
    so `masked = false AND is_marker = false` reproduces that
    operator's output — the cross-check a compaction debugging
    session actually runs.

    Scale shape: the marker table is one hash agg at ROWKEY
    cardinality — entity-scale, so the join back onto the scan is
    UNHINTED (r10 broadcast-hint audit): AQE broadcasts it while
    small (map-only annotate at every test SF), and falls back to a
    co-partitioned shuffle join at 1e9+ marked rowkeys instead of
    OOMing the driver. Nothing is filtered, so the scan streams
    straight through with two codegen booleans appended."""
    ev = load_table(spark, sf_dir, "events")
    markers = (
        ev.filter(F.col("event_type") == "error")
        .groupBy("user_id")
        .agg(F.max("ts").alias("del_ts"))
    )
    return (
        ev.join(markers, "user_id", "left")
        .select(
            "event_id",
            "user_id",
            "event_type",
            "ts",
            (F.col("event_type") == "error").alias("is_marker"),
            (
                (F.col("event_type") != "error")
                & F.col("del_ts").isNotNull()
                & (F.col("ts") <= F.col("del_ts"))
            ).alias("masked"),
        )
    )


@register(
    "cells_row_mutations_batch_audit",
    oracle="""
    WITH muts AS (
      SELECT user_id, epoch_us(ts) // 300000000 AS batch_win,
             event_type, event_id
      FROM events
    ),
    per_q AS (
      SELECT user_id, batch_win, event_type,
             CAST(COUNT(*) AS BIGINT) AS versions
      FROM muts GROUP BY user_id, batch_win, event_type
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_batches,
           CAST(SUM(versions) AS BIGINT) AS n_mutations,
           CAST(SUM(versions - 1) AS BIGINT) AS n_collisions,
           CAST((SUM(versions - 1) * 10000) // SUM(versions) AS BIGINT)
             AS collision_bps
    FROM per_q GROUP BY event_type
    """,
)
def cells_row_mutations_batch_audit(spark, sf_dir):
    """RowMutations batch collision audit — when a writer groups a
    row's edits into atomic 5-minute batches (the checkAndMutate /
    RowMutations pattern), multiple puts to the SAME qualifier
    inside one batch collapse to last-write-wins: every earlier
    version in the batch is dead weight that still pays RPC and WAL
    bytes. The audit counts, per column family, how many mutations
    each atomic (row, window) batch carried per qualifier and prices
    the collision rate in exact basis points — the number that tells
    a client team to coalesce client-side. Window ids are exact
    integer microsecond division; everything else is counting.

    Scale shape: one map-side-combinable hash agg on the
    (row, window, qualifier) coordinate — the natural write-path
    key — then a 5-row family rollup; no windows, no joins."""
    ev = load_table(spark, sf_dir, "events")
    per_q = ev.groupBy(
        "user_id",
        F.expr("unix_micros(ts) div 300000000").alias("batch_win"),
        "event_type",
    ).agg(F.count(F.lit(1)).cast("bigint").alias("versions"))
    return per_q.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_batches"),
        F.sum("versions").cast("bigint").alias("n_mutations"),
        F.sum(F.col("versions") - 1).cast("bigint").alias("n_collisions"),
        F.expr("(SUM(versions - 1) * 10000) div SUM(versions)")
        .cast("bigint")
        .alias("collision_bps"),
    )
