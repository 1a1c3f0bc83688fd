"""§2.1 Scans / sources / sinks.

HBase's access paths are Get / Scan over rowkey-sorted storage
(SURVEY.md §2.1; reference checkout is empty — semantics are the
public HBase client API). In Spark each becomes a Parquet scan with
the predicate expressed declaratively so Catalyst pushes it to the
reader (check ``PushedFilters`` in ``df.explain``): a rowkey range
scan is exactly the case Parquet min/max row-group skipping handles,
and at cluster scale the same predicate prunes partitions of a
key-sorted table layout.

Scale notes: ``point_get``/``multi_get`` as full scans are O(data);
the 100-TB answer is a rowkey-bucketed (or HBase-connector-backed)
table so the probe touches one bucket — the DataFrame shape below is
unchanged, only the source differs (io.read_hbase seam).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..hashutil import d_h60, h60
from ..io import load_table, local_frame, write_parquet, write_csv, read_csv, scratch_root
from ..num import money_sum
from ..registry import register

def _scratch() -> str:
    """Resolve the per-process scratch dir at CALL time, not import.

    ADVICE r10 item 1: a module-scope ``scratch_root()`` freezes the
    pid at import — a worker that forks after import (pytest-xdist,
    multiprocessing parity sweeps) inherits the parent's namespace and
    partially reintroduces the concurrent-overwrite race the pid
    suffix exists to prevent. Calling per-query matches the pattern
    already used in cells.py/joins.py/llm.py; the reap inside
    scratch_root() is idempotent and cheap (one listdir)."""
    return scratch_root()


@register(
    "scan_full",
    oracle="SELECT * FROM orders",
)
def scan_full(spark, sf_dir):
    """Full-table Scan, no start/stop row."""
    return load_table(spark, sf_dir, "orders")


@register(
    "scan_range",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_orderkey >= 1000 AND l_orderkey < 5000
    """,
)
def scan_range(spark, sf_dir):
    """Scan [startRow, stopRow) on the sorted key — the core HBase
    access path. The range predicate reaches the Parquet reader as
    PushedFilters and skips row groups via min/max stats."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter((F.col("l_orderkey") >= 1000) & (F.col("l_orderkey") < 5000)).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )


@register(
    "scan_prefix",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE c_name LIKE 'Customer#00000001%'
    """,
)
def scan_prefix(spark, sf_dir):
    """PrefixFilter on rowkey -> StartsWith, pushed down as a
    string-range predicate."""
    c = load_table(spark, sf_dir, "customer")
    return c.filter(F.col("c_name").startswith("Customer#00000001")).select("c_custkey", "c_name")


@register(
    "point_get",
    oracle="SELECT * FROM customer WHERE c_custkey = 42",
)
def point_get(spark, sf_dir):
    """Get(rowkey) — single-row lookup. Pushed equality predicate;
    at scale this is a bucket-pruned probe (see module docstring)."""
    return load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") == 42)


@register(
    "multi_get",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer
    WHERE c_custkey IN (1, 7, 42, 99, 1000, 123456789)
    """,
)
def multi_get(spark, sf_dir):
    """Batched Table.get(List<Get>) — LEFT SEMI JOIN against a
    broadcast key list (absent keys simply don't match). The keys are
    a LocalRelation typed as the key column (`io.local_frame`, the
    same probe as `api.Table.multi_get`)."""
    c = load_table(spark, sf_dir, "customer")
    keys = local_frame(
        spark,
        [(1,), (7,), (42,), (99,), (1000,), (123456789,)],
        StructType([c.schema["c_custkey"]]),
    )
    return c.join(F.broadcast(keys), "c_custkey", "left_semi").select(  # bcast: keys
        "c_custkey", "c_name", "c_acctbal"
    )


@register(
    "scan_reverse",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_orderkey < 2000
    ORDER BY o_orderkey DESC
    LIMIT 50
    """,
)
def scan_reverse(spark, sf_dir):
    """Scan.setReversed(true) — HBase's reverse scan from a stop row.
    Same pushed range predicate; TakeOrdered on the descending key."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderkey") < 2000)
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_orderkey").desc())
        .limit(50)
    )


@register(
    "copy_table",
    oracle="SELECT COUNT(*) AS cnt,"
    " SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) / 100.0 AS total FROM orders",
)
def copy_table(spark, sf_dir):
    """CopyTable / Export+Import — full-fidelity table copy.

    Round-trips orders through Parquet and returns a checksum row
    computed from the re-read copy, so the oracle hash actually
    verifies the copy's fidelity, not just that the write ran.
    """
    orders = load_table(spark, sf_dir, "orders")
    dst = os.path.join(_scratch(), "copy_table_orders")
    write_parquet(orders, dst)
    back = spark.read.parquet(dst)
    return back.agg(
        F.count("*").alias("cnt"),
        money_sum("o_totalprice").alias("total"),
    )


@register(
    "source_csv_roundtrip",
    oracle="SELECT r_regionkey, r_name FROM region",
)
def source_csv_roundtrip(spark, sf_dir):
    """ImportTsv/Export analog: write region to CSV, read back with an
    explicit schema (schema-on-read, as HBase clients type raw bytes)."""
    region = load_table(spark, sf_dir, "region")
    dst = os.path.join(_scratch(), "region_csv")
    write_csv(region, dst)
    schema = StructType(
        [
            StructField("r_regionkey", IntegerType()),
            StructField("r_name", StringType()),
        ]
    )
    return read_csv(spark, dst, schema)


@register(
    "source_json_roundtrip",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    """,
)
def source_json_roundtrip(spark, sf_dir):
    """JSON interchange: write nation to JSON lines, read back typed."""
    nation = load_table(spark, sf_dir, "nation")
    dst = os.path.join(_scratch(), "nation_json")
    nation.write.mode("overwrite").json(dst)
    schema = StructType(
        [
            StructField("n_nationkey", IntegerType()),
            StructField("n_name", StringType()),
            StructField("n_regionkey", IntegerType()),
        ]
    )
    return spark.read.schema(schema).json(dst)


@register(
    "sink_partitioned_parquet",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS cnt,
           SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) / 100.0 AS total
    FROM orders GROUP BY o_orderstatus
    """,
)
def sink_partitioned_parquet(spark, sf_dir):
    """Partitioned sink (CopyTable into a partitioned layout): write
    orders partitioned by status, re-read, aggregate per partition.
    Partition column round-trips through directory names. The read
    back uses the schema the writer had (partition discovery still
    puts the partition column last): no inference job, and zero-row
    orders — a directory with no part files — read as empty."""
    orders = load_table(spark, sf_dir, "orders")
    dst = os.path.join(_scratch(), "orders_by_status")
    write_parquet(orders, dst, partition_by=["o_orderstatus"])
    back = spark.read.schema(orders.schema).parquet(dst)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("cnt"),
        money_sum("o_totalprice").alias("total"),
    )


@register(
    "source_orc_roundtrip",
    oracle="""
    SELECT s_suppkey, s_name, s_nationkey, ROUND(s_acctbal, 2) AS s_acctbal
    FROM supplier
    """,
)
def source_orc_roundtrip(spark, sf_dir):
    """ORC interchange (the other columnar format HBase bulk jobs
    meet in practice): write supplier to ORC, read back typed. Same
    predicate-pushdown/column-pruning story as parquet — Spark's ORC
    reader exposes PushedFilters identically."""
    supplier = load_table(spark, sf_dir, "supplier")
    dst = os.path.join(_scratch(), "supplier_orc")
    supplier.write.mode("overwrite").orc(dst)
    back = spark.read.orc(dst)
    return back.select(
        "s_suppkey", "s_name", "s_nationkey", F.round("s_acctbal", 2).alias("s_acctbal")
    )


@register(
    "source_text_corpus",
    oracle="""
    SELECT COUNT(*) AS n_lines,
           CAST(SUM(LEN(text)) AS BIGINT) AS total_chars,
           MIN(LEN(text)) AS min_chars,
           MAX(LEN(text)) AS max_chars
    FROM documents
    """,
)
def source_text_corpus(spark, sf_dir):
    """Raw-text corpus ingest (the LLM-pipeline entry point): dump
    document bodies as line-oriented text files, read back with
    spark.read.text — one row per line, schema-free. Corpus stats
    must survive the round trip exactly (fixture docs are
    newline-free; a production ingest escapes or length-prefixes)."""
    d = load_table(spark, sf_dir, "documents")
    dst = os.path.join(_scratch(), "corpus_text")
    d.select("text").write.mode("overwrite").text(dst)
    back = spark.read.text(dst)
    return back.agg(
        F.count("*").alias("n_lines"),
        F.sum(F.length("value")).alias("total_chars"),
        F.min(F.length("value")).alias("min_chars"),
        F.max(F.length("value")).alias("max_chars"),
    )


@register(
    "sample_hash_deterministic",
    oracle=f"""
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE {d_h60("CAST(o_orderkey AS VARCHAR)")} % 100 < 5
    """,
)
def sample_hash_deterministic(spark, sf_dir):
    """Deterministic ~5% sample by key hash — the reproducible
    alternative to TABLESAMPLE (whose output depends on seed,
    partitioning, and engine). The same rows are selected on every
    run, every cluster size, and every engine computing md5, which is
    what makes downstream evals comparable across pipelines. Pure
    map-side filter: no shuffle, prunes at scan."""
    o = load_table(spark, sf_dir, "orders")
    return o.filter(
        F.expr(f"{h60('cast(o_orderkey AS string)')} % 100 < 5")
    ).select("o_orderkey", "o_totalprice")


def _rowkey_octiles(spark, sf_dir):
    """The 7 interior octile keys of the events rowkey distribution
    as ONE row (columns q1..q7, raw interpolated doubles), computed
    on the distinct-value grid (r9). The original form was Spark's
    exact `percentile` over raw events — whose ObjectHashAggregate
    buffers EVERY row's value in the single final task, the same
    buffering-aggregate class that OOM-killed
    agg_percentile_exact_groups at the r8 ×32 census (caught for
    this site by tests/test_buffering_aggs.py). Grid restatement:
    hash-agg events to the distinct user_id grid (map-side combine —
    the shuffle carries |distinct keys|, not rows), distributed
    prefix-sum of the counts over the key order (rank kernel;
    grid-fed per the ranking.py feeding contract), then each octile
    is the interpolated pair of straddling order statistics
    (`_pct_grid_snippets` — bit-identical to quantile_cont, the r8
    verification) read off in one grid-scale final aggregate. No
    task ever materializes the row-scale value list."""
    from .aggregates import _pct_grid_snippets
    from .ranking import with_global_prefix_sum

    ev = load_table(spark, sf_dir, "events")
    grid = (
        ev.select(F.col("user_id").cast("double").alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    g = with_global_prefix_sum(grid, ["v"], "cnt", "cum")
    # derive n FROM the kernel output (max cum = total), never by
    # re-aggregating the scan (the r7 double-compute lesson)
    tot = g.agg(F.max("cum").cast("bigint").alias("n"))
    gn = g.crossJoin(F.broadcast(tot))  # bcast: scalar
    return gn.agg(
        *[
            F.expr(
                _pct_grid_snippets(
                    i, 8, "n", "MAX(n)", "cum", "cnt", "v", rounded=False
                )
            ).alias(f"q{i}")
            for i in range(1, 8)
        ]
    )


@register(
    "layout_split_points",
    oracle=" UNION ALL ".join(
        f"SELECT {i} AS split_idx,"
        f" CAST(FLOOR(quantile_cont(CAST(user_id AS DOUBLE), {i / 8.0})) AS BIGINT)"
        f" AS split_key FROM events"
        for i in range(1, 8)
    ),
)
def layout_split_points(spark, sf_dir):
    """Balanced region-split designer: the 7 interior octile keys of
    the rowkey distribution, i.e. the split points that pre-split a
    table into 8 regions of equal row volume (what HBase admins do
    before a bulk load to avoid hotspotting one region server).

    Exact interpolated octiles on the distinct-value grid — see
    `_rowkey_octiles` for the scale shape (restructured r9 away from
    the row-buffering exact `percentile` aggregate). The oracle stays
    the independent quantile_cont derivation: the grid interpolation
    is bit-identical to it, so FLOOR agrees."""
    one = _rowkey_octiles(spark, sf_dir)
    return one.select(
        F.posexplode(
            F.array(*[F.col(f"q{i}") for i in range(1, 8)])
        ).alias("idx", "q")
    ).select(
        (F.col("idx") + 1).alias("split_idx"),
        F.floor("q").cast("long").alias("split_key"),
    )


@register(
    "snapshot_point_in_time",
    oracle="SELECT COUNT(*) AS cnt,"
    " SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) / 100.0 AS total FROM orders",
)
def snapshot_point_in_time(spark, sf_dir):
    """HBase snapshot semantics (sources/snapshots.py): snapshot a
    live table, then OVERWRITE the live directory with a truncated
    version — the snapshot read must still return the original rows,
    because the manifest pinned the original immutable files. The
    checksum row is computed from the snapshot read, so the oracle
    (over the untouched fixture) verifies true point-in-time
    isolation, not just that a copy ran."""
    from ..sources.snapshots import snapshot_create, snapshot_read

    orders = load_table(spark, sf_dir, "orders")
    live = os.path.join(_scratch(), "snap_live_orders")
    write_parquet(orders, live)
    manifest = snapshot_create(live, os.path.join(_scratch(), "snaps"), "orders_v1")
    # simulate a later destructive write to the live table: the files
    # referenced by the manifest are immutable; overwrite() writes NEW
    # files and deletes the old ones from the live dir only after —
    # read the snapshot through its pinned paths BEFORE compaction
    # would vacuum them (production: snapshot refs block the vacuum,
    # exactly HBase's archived-HFile protocol)
    snap = snapshot_read(spark, manifest)
    return snap.agg(
        F.count("*").alias("cnt"),
        money_sum("o_totalprice").alias("total"),
    )


@register(
    "index_point_lookup",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer WHERE c_mktsegment = 'BUILDING'
    """,
)
def index_point_lookup(spark, sf_dir):
    """Secondary-index probe (sources/indexes.py): build the
    (c_mktsegment -> c_custkey) index table once, then answer the
    segment predicate via a bucket-pruned index scan + broadcast
    semi-join — the HBase support-tooling pattern for querying a
    non-rowkey column without a full scan. The oracle is the direct
    filter, proving the index path returns the identical row set."""
    from ..sources.indexes import index_build, index_lookup

    c = load_table(spark, sf_dir, "customer")
    idx_dir = os.path.join(_scratch(), "idx_customer_segment")
    index_build(c, idx_dir, "c_mktsegment", "c_custkey")
    return index_lookup(
        spark, c, idx_dir, "c_mktsegment", "c_custkey", "BUILDING"
    ).select("c_custkey", "c_name", "c_mktsegment")


@register(
    "index_incremental_lookup",
    oracle="""
    WITH merged AS (
      SELECT c_custkey, c_name,
             CASE WHEN c_custkey % 97 = 0 THEN 'BUILDING'
                  ELSE c_mktsegment END AS c_mktsegment
      FROM customer
    )
    SELECT c_custkey, c_name, c_mktsegment
    FROM merged WHERE c_mktsegment = 'BUILDING'
    """,
)
def index_incremental_lookup(spark, sf_dir):
    """Incremental secondary-index maintenance
    (sources/indexes.py:index_incremental_update): build the
    segment index once, upsert a deterministic delta (every 97th
    customer moves to BUILDING), refresh ONLY the touched value
    buckets via dynamic partition overwrite, and answer the probe
    through the updated index. The oracle recomputes the lookup
    from the merged base in pure SQL, proving the incrementally
    maintained index returns exactly the post-upsert row set —
    stale entries gone, new entries present. Write amplification is
    bucket-count-bounded (asserted in tests/test_snapshots_indexes):
    a delta touching 2 segments rewrites <= 3 of 16 bucket dirs."""
    from ..sources.indexes import (
        index_build,
        index_incremental_update,
        index_lookup,
    )

    c = load_table(spark, sf_dir, "customer")
    idx_dir = os.path.join(_scratch(), "idx_customer_segment_incr")
    index_build(c, idx_dir, "c_mktsegment", "c_custkey")
    delta = c.filter(F.col("c_custkey") % 97 == 0).select(
        F.lit("BUILDING").alias("c_mktsegment"), "c_custkey"
    )
    index_incremental_update(
        spark, idx_dir, c, delta, "c_mktsegment", "c_custkey"
    )
    merged = c.withColumn(
        "c_mktsegment",
        F.when(F.col("c_custkey") % 97 == 0, F.lit("BUILDING")).otherwise(
            F.col("c_mktsegment")
        ),
    )
    return index_lookup(
        spark, merged, idx_dir, "c_mktsegment", "c_custkey", "BUILDING"
    ).select("c_custkey", "c_name", "c_mktsegment")


@register(
    "layout_hotspot_report",
    oracle="""
    WITH bounds AS (
      SELECT MIN(user_id) AS lo, MAX(user_id) AS hi FROM events
    ),
    bucketed AS (
      SELECT LEAST(CAST(FLOOR((user_id - lo) * 8 / (hi - lo + 1)) AS BIGINT), 7)
               AS bucket
      FROM events, bounds
    ),
    counts AS (
      SELECT bucket, COUNT(*) AS n_rows FROM bucketed GROUP BY bucket
    )
    SELECT bucket, n_rows,
           ROUND(n_rows * 8.0 / SUM(n_rows) OVER (), 6) AS load_factor,
           (n_rows * 8.0 / SUM(n_rows) OVER () > 1.5) AS is_hot
    FROM counts
    """,
)
def layout_hotspot_report(spark, sf_dir):
    """Region-balance audit — the other half of the pre-split story
    (layout_split_points designs balanced ranges; this measures how
    balanced the CURRENT fixed-width ranges actually are). Each row
    maps to one of 8 equal-width rowkey ranges; the report emits per
    range its row count, load factor (1.0 = perfectly balanced), and
    a hot flag past 1.5x — what an HBase operator reads before
    deciding to split or move regions. Two tiny aggregates: global
    min/max broadcast back onto the scan, then an 8-key hash agg;
    the window over 8 rows is free."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(F.min("user_id").alias("lo"), F.max("user_id").alias("hi"))
    counts = (
        ev.crossJoin(F.broadcast(bounds))  # bcast: scalar
        .select(
            F.least(
                F.floor(
                    (F.col("user_id") - F.col("lo"))
                    * 8
                    / (F.col("hi") - F.col("lo") + 1)
                ),
                F.lit(7),
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("n_rows"))
    )
    w = Window.partitionBy()
    lf = F.col("n_rows") * 8.0 / F.sum("n_rows").over(w)
    return counts.select(
        "bucket",
        "n_rows",
        F.round(lf, 6).alias("load_factor"),
        (lf > 1.5).alias("is_hot"),
    )


@register(
    "scan_salted_table_roundtrip",
    oracle="""
    SELECT user_id, COUNT(*) AS event_cnt
    FROM events WHERE user_id < 100
    GROUP BY user_id
    """,
)
def scan_salted_table_roundtrip(spark, sf_dir):
    """The salted-rowkey table design end-to-end: monotonically
    increasing keys (timestamps, sequence ids) hotspot the tail
    region of a sorted table, so HBase schemas prepend a hash-derived
    salt byte — writes spread across salt ranges, and a key lookup
    fans out to one probe per salt. Here: write events into a layout
    partitioned by an 8-way md5-h60 salt of the rowkey, then answer a
    key-range query by scanning ALL salt partitions with the pushed
    key predicate and merging — exactly the HBase salted-scan fan-out.
    The oracle over the unsalted fixture proves salting is a pure
    physical-layout change. At 100 TB the salt count trades write
    parallelism against read fan-out; 8-16 is the common choice."""
    ev = load_table(spark, sf_dir, "events")
    salted_dir = os.path.join(_scratch(), "events_salted")
    salted = ev.withColumn("salt", F.expr(f"{h60('cast(user_id AS string)')} % 8"))
    salted.write.mode("overwrite").partitionBy("salt").parquet(salted_dir)
    # explicit schema: an empty input writes a partitioned dir with no
    # data files, and schema inference has nothing to read (same edge
    # as sources/indexes.py)
    back = spark.read.schema(salted.schema).parquet(salted_dir)
    return (
        back.filter(F.col("user_id") < 100)
        .groupBy("user_id")
        .agg(F.count("*").alias("event_cnt"))
    )


@register(
    "layout_zorder_scan",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           COUNT(DISTINCT user_id) AS n_users,
           SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) / 100.0 AS total_value
    FROM events
    WHERE user_id BETWEEN 5 AND 10
      AND ts >= TIMESTAMP '2024-01-10 00:00:00'
      AND ts <  TIMESTAMP '2024-01-15 00:00:00'
    """,
)
def layout_zorder_scan(spark, sf_dir):
    """Z-order layout end-to-end (sources/layout.py): write events
    range-partitioned + sorted by the Morton interleave of (user_id,
    epoch-minute), then answer a 2-D range query from the z-ordered
    copy. The oracle over the unsorted fixture proves the layout is
    a pure physical change; tests/test_layout.py proves the POINT —
    each z-file covers a compact 2-D tile, so parquet min/max stats
    prune files on BOTH dimensions, where a single-key sort prunes
    only one. This is HBase's 'composite rowkey design' problem
    solved the columnar way (Delta/Iceberg OPTIMIZE ZORDER)."""
    from ..sources.layout import write_zordered

    ev = load_table(spark, sf_dir, "events").withColumn(
        "minute_idx",
        ((F.col("ts").cast("long") - F.lit(1704067200)) / 60).cast("long"),
    )
    zdir = os.path.join(_scratch(), "events_zorder")
    write_zordered(ev, zdir, "user_id", "minute_idx")
    back = spark.read.parquet(zdir)
    return back.filter(
        (F.col("user_id").between(5, 10))
        & (F.col("ts") >= F.lit("2024-01-10 00:00:00").cast("timestamp"))
        & (F.col("ts") < F.lit("2024-01-15 00:00:00").cast("timestamp"))
    ).agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("user_id").alias("n_users"),
        money_sum("value").alias("total_value"),
    )


@register(
    "layout_region_merge_plan",
    oracle="""
    WITH bounds AS (
      SELECT MIN(user_id) AS lo, MAX(user_id) AS hi FROM events
    ),
    counts AS (
      SELECT LEAST(CAST(FLOOR((user_id - lo) * 32 / (hi - lo + 1)) AS BIGINT), 31)
               AS bucket,
             COUNT(*) AS n_rows
      FROM events, bounds
      GROUP BY 1
    ),
    avg_sz AS (SELECT AVG(n_rows) AS avg_rows FROM counts),
    paired AS (
      SELECT bucket AS bucket_a,
             LEAD(bucket) OVER (ORDER BY bucket) AS bucket_b,
             n_rows AS n_a,
             LEAD(n_rows) OVER (ORDER BY bucket) AS n_b
      FROM counts
    )
    SELECT bucket_a, bucket_b, n_a, n_b, n_a + n_b AS combined,
           ROUND(avg_rows, 6) AS avg_rows,
           (n_a + n_b < avg_rows) AS do_merge
    FROM paired, avg_sz
    WHERE bucket_b IS NOT NULL
    """,
)
def layout_region_merge_plan(spark, sf_dir):
    """Region-merge normalizer — the shrink half of region sizing
    (layout_split_points grows capacity, this reclaims it): over 32
    fixed-width rowkey ranges, propose merging each ADJACENT pair
    whose combined size is below the mean region size — the
    SimpleRegionNormalizer merge rule HBase operators run after
    deletes/TTL hollow out ranges. Emits every adjacent pair with
    both sizes, the combined size, the fleet average, and the
    merge verdict (on a healthy uniform table every verdict is
    false — the report proves it). Scale shape: one 32-key partial+final hash agg
    over the scan; the lead() pairing and the average run over the
    32-row range-stats frame — metadata, not data (the unpartitioned
    window sits above an Aggregate, the hygiene-swept safe shape).
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(F.min("user_id").alias("lo"), F.max("user_id").alias("hi"))
    counts = (
        ev.crossJoin(F.broadcast(bounds))  # bcast: scalar
        .select(
            F.least(
                F.floor(
                    (F.col("user_id") - F.col("lo"))
                    * 32
                    / (F.col("hi") - F.col("lo") + 1)
                ),
                F.lit(31),
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("n_rows"))
    )
    w = Window.orderBy("bucket")
    avg_rows = F.avg("n_rows").over(Window.partitionBy())
    paired = counts.select(
        F.col("bucket").alias("bucket_a"),
        F.lead("bucket").over(w).alias("bucket_b"),
        F.col("n_rows").alias("n_a"),
        F.lead("n_rows").over(w).alias("n_b"),
        avg_rows.alias("avg_rows"),
    )
    return paired.filter(F.col("bucket_b").isNotNull()).select(
        "bucket_a",
        "bucket_b",
        "n_a",
        "n_b",
        (F.col("n_a") + F.col("n_b")).alias("combined"),
        F.round("avg_rows", 6).alias("avg_rows"),
        ((F.col("n_a") + F.col("n_b")) < F.col("avg_rows")).alias("do_merge"),
    )


@register(
    "layout_bloom_point_lookup",
    oracle="""
    SELECT event_id, user_id, event_type
    FROM events WHERE user_id = 7
    """,
)
def layout_bloom_point_lookup(spark, sf_dir):
    """Parquet BLOOM FILTER layout — the HFile-bloom analog as a
    graded roundtrip (until now this knob was only documented in
    SCALE.md): events are rewritten with a bloom filter on user_id
    (`parquet.bloom.filter.enabled#user_id`), then a point lookup
    reads the bloomed layout. The oracle is the plain filter on the
    original table — proving the layout change is result-invisible
    while giving the scan row-group-level membership pruning that
    min/max stats can't (user_id is uniformly spread, so every
    row group's [min,max] contains every key; only a bloom says
    'definitely not here'). At 100 TB this is the difference between
    a point-Get touching every row group of every file and touching
    ~the groups that actually hold the key — exactly why HBase
    attaches blooms to HFiles. Write once at ingest; every later
    point lookup benefits.
    """
    ev = load_table(spark, sf_dir, "events")
    bloom_dir = os.path.join(_scratch(), "events_bloom")
    (
        ev.write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#user_id", "true")
        .option("parquet.bloom.filter.expected.ndv#user_id", "200000")
        .parquet(bloom_dir)
    )
    back = spark.read.schema(ev.schema).parquet(bloom_dir)
    return back.filter(F.col("user_id") == 7).select(
        "event_id", "user_id", "event_type"
    )


@register(
    "scan_multi_range",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal FROM customer
    WHERE (c_custkey BETWEEN 100 AND 199)
       OR (c_custkey BETWEEN 500 AND 549)
       OR (c_custkey BETWEEN 1200 AND 1249)
    """,
)
def scan_multi_range(spark, sf_dir):
    """Multi-range scan: one pass serving a UNION of disjoint rowkey
    ranges (the HBase MultiRowRangeFilter — a batch Get of ranges) —
    expressed as one OR predicate so Catalyst pushes the whole
    disjunction into the Parquet scan (PushedFilters shows the Or;
    row groups outside every range are skipped via min/max on the
    sorted key layout). The anti-pattern is one scan per range
    unioned after the fact — N passes over the same files."""
    c = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    return c.filter(
        k.between(100, 199) | k.between(500, 549) | k.between(1200, 1249)
    ).select("c_custkey", "c_name", "c_acctbal")


@register(
    "layout_region_balance_plan",
    oracle="""
    WITH bounds AS (
      SELECT MIN(user_id) AS lo, MAX(user_id) AS hi FROM events
    ),
    regions AS (
      SELECT LEAST(CAST(FLOOR((user_id - lo) * 32 / (hi - lo + 1)) AS BIGINT), 31)
               AS region,
             CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM events, bounds
      GROUP BY 1
    ),
    drafted AS (
      SELECT region, n_rows,
             ROW_NUMBER() OVER (ORDER BY n_rows DESC, region) - 1 AS rn
      FROM regions
    ),
    assigned AS (
      SELECT region, n_rows,
             CASE WHEN (rn // 8) % 2 = 0 THEN rn % 8 ELSE 7 - rn % 8 END
               AS server_id
      FROM drafted
    )
    SELECT server_id,
           CAST(COUNT(*) AS BIGINT) AS n_regions,
           CAST(SUM(n_rows) AS BIGINT) AS total_rows,
           ROUND(SUM(n_rows) * 8.0 / (SELECT SUM(n_rows) FROM regions), 6)
             AS load_factor,
           CAST(8 * SUM(n_rows) - (SELECT SUM(n_rows) FROM regions) AS BIGINT)
             AS dev_rows_x8
    FROM assigned
    GROUP BY server_id
    """,
)
def layout_region_balance_plan(spark, sf_dir):
    """Region-to-server balance plan — the assignment step after
    layout_hotspot_report measures skew: 32 fixed-width rowkey
    regions are drafted onto 8 servers in a snake order by size
    (largest first, direction reversing every round), the classic
    deterministic balancer heuristic that keeps the max/min server
    load within one region of optimal without the iterative
    least-loaded loop (which is inherently sequential and has no
    distributed form). Per server: regions held, projected row load,
    load factor, and the signed integer deviation from ideal
    (8*load - total, exact — no float share).

    Plan: one 32-key hash agg over the scan (map-side combined), then
    window + agg over 32 rows — free. At 100 TB only the first agg
    touches data volume; the plan itself is metadata-scale, exactly
    like the real balancer's view of region load reports."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(F.min("user_id").alias("lo"), F.max("user_id").alias("hi"))
    regions = (
        ev.crossJoin(F.broadcast(bounds))  # bcast: scalar
        .select(
            F.least(
                F.floor(
                    (F.col("user_id") - F.col("lo"))
                    * 32
                    / (F.col("hi") - F.col("lo") + 1)
                ),
                F.lit(31),
            ).alias("region")
        )
        .groupBy("region")
        .agg(F.count("*").alias("n_rows"))
    )
    rn = (
        F.row_number().over(Window.orderBy(F.col("n_rows").desc(), "region")) - 1
    )
    assigned = regions.select("n_rows", rn.alias("rn")).select(
        "n_rows",
        F.expr(
            "CASE WHEN (rn div 8) % 2 = 0 THEN rn % 8 ELSE 7 - rn % 8 END"
        ).alias("server_id"),
    )
    grand = regions.agg(F.sum("n_rows").alias("grand"))
    return (
        assigned.groupBy("server_id")
        .agg(
            F.count("*").alias("n_regions"),
            F.sum("n_rows").alias("total_rows"),
        )
        .crossJoin(F.broadcast(grand))  # bcast: scalar
        .select(
            "server_id",
            "n_regions",
            "total_rows",
            F.round(F.col("total_rows") * 8.0 / F.col("grand"), 6).alias(
                "load_factor"
            ),
            (F.lit(8) * F.col("total_rows") - F.col("grand")).alias("dev_rows_x8"),
        )
    )


@register(
    "source_binaryfile_multimodal",
    oracle=f"""
    SELECT doc_id,
           CAST(OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS payload_bytes,
           {d_h60("text")} AS payload_digest
    FROM documents
    WHERE OCTET_LENGTH(ENCODE(text)) > 0
    """,
)
def source_binaryfile_multimodal(spark, sf_dir):
    """Opaque-payload ingest through Spark's `binaryFile` source —
    the front door of every multimodal pipeline: image/audio/video
    assets land as individual files on object storage and enter the
    engine as (path, length, content binary) rows that downstream
    decode/feature-extract operators (multimodal_decode_meta,
    multimodal_feature_extract) consume. Here each document's payload
    is first materialized as its own `<doc_id>.bin` file by the
    EXECUTORS (one mapInPandas pass writes its Arrow batch's files —
    the distributed shape; the driver only clears the target dir),
    then read back via format("binaryFile"), with the row identity
    recovered from the filename and the payload verified by length +
    the portable 60-bit md5 digest the oracle restates from the
    source table.

    Scale: both directions are embarrassingly parallel (file-per-row
    write, file-per-task read); binaryFile caps per-file size via
    spark.sql.sources.binaryFile.maxLength. Listing cost is the real
    100-TB concern — production groups payloads into a manifest
    (pipeline_shard_manifest) rather than one flat dir.

    Source semantic (r9 text drill): a ZERO-BYTE payload does not
    round-trip — Spark's file sources generate input splits from
    file length, and a 0-length file yields no split, so empty
    assets silently vanish from a binaryFile read. The oracle
    mirrors that (payload_bytes > 0), and a real ingest should
    guard empties upstream or route them through the manifest
    path."""
    import shutil

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dst = os.path.join(_scratch(), "binfiles")
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst, exist_ok=True)

    def write_files(batches):
        # self-contained closure; dst pickles by value
        import os as _os

        import pandas as _pd

        n = 0
        for pdf in batches:
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                with open(_os.path.join(dst, f"{doc_id}.bin"), "wb") as f:
                    f.write(str(text).encode("utf-8"))
            n += len(pdf)
            yield _pd.DataFrame({"written": [len(pdf)]})

    # materialize the distributed write (local FS stands in for the
    # shared object store an executor fleet would target)
    d.mapInPandas(write_files, "written long").agg(F.sum("written")).collect()

    back = spark.read.format("binaryFile").load(dst)
    return back.select(
        F.regexp_extract(F.col("path"), r"(\d+)\.bin$", 1)
        .cast("bigint")
        .alias("doc_id"),
        F.col("length").alias("payload_bytes"),
        F.expr(
            "cast(conv(substring(md5(content), 1, 15), 16, 10) AS bigint)"
        ).alias("payload_digest"),
    )


@register(
    "source_csv_malformed_audit",
    oracle="""
    SELECT CAST(SUM(CASE WHEN o_orderkey % 97 <> 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_good,
           CAST(SUM(CASE WHEN o_orderkey % 97 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_corrupt,
           CAST(SUM(CASE WHEN o_orderkey % 97 <> 0
                    THEN CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                    ELSE 0 END) AS BIGINT) / 100.0 AS good_total,
           MAX(CASE WHEN o_orderkey % 97 <> 0 THEN o_orderkey END)
             AS max_good_key
    FROM orders
    """,
)
def source_csv_malformed_audit(spark, sf_dir):
    """Dirty-ingest resilience: a CSV feed where ~1% of lines are
    corrupted (unparseable key field — the deterministic stand-in for
    truncated uploads and encoding damage every real ingest meets) is
    read back under PERMISSIVE mode with a columnNameOfCorruptRecord
    side channel, and the audit reports good/corrupt counts plus a
    checksum over the rows that survived — the accept/quarantine
    split a production loader writes to its dead-letter queue.

    Money rides as integer cents in the CSV (never a formatted
    double — writer float formatting is not a portable contract);
    corruption is keyed on o_orderkey % 97 so the oracle re-derives
    the exact split from the source table. Both directions are
    distributed (text write, schema-on-read CSV scan); the corrupt
    branch costs nothing extra at scale — PERMISSIVE parsing is the
    same single pass."""
    o = load_table(spark, sf_dir, "orders")
    lines = o.select(
        F.when(
            F.col("o_orderkey") % 97 == 0,
            F.concat(F.lit("BAD_"), F.col("o_orderkey").cast("string"), F.lit(",oops")),
        )
        .otherwise(
            F.concat(
                F.col("o_orderkey").cast("string"),
                F.lit(","),
                F.floor(F.col("o_totalprice") * 100 + 0.5)
                .cast("bigint")
                .cast("string"),
            )
        )
        .alias("value")
    )
    dst = os.path.join(_scratch(), "orders_dirty_csv")
    lines.write.mode("overwrite").text(dst)

    schema = StructType(
        [
            StructField("o_orderkey", LongType()),
            StructField("cents", LongType()),
            StructField("_bad", StringType()),
        ]
    )
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .csv(dst)
    )
    good = F.col("_bad").isNull()
    return back.agg(
        F.sum(F.when(good, 1).otherwise(0)).cast("bigint").alias("n_good"),
        F.sum(F.when(good, 0).otherwise(1)).cast("bigint").alias("n_corrupt"),
        (
            F.sum(F.when(good, F.col("cents")).otherwise(0)).cast("bigint") / 100.0
        ).alias("good_total"),
        F.max(F.when(good, F.col("o_orderkey"))).alias("max_good_key"),
    )


@register(
    "layout_small_files_compaction_plan",
    oracle="""
    WITH files AS (
      SELECT l_orderkey % 128 AS file_id,
             CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM lineitem GROUP BY 1
    ),
    packed AS (
      SELECT file_id, n_rows,
             CAST((SUM(n_rows) OVER (ORDER BY file_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) // 4096)
                  AS BIGINT) AS bin_id
      FROM files
    )
    SELECT COALESCE(bin_id, 0) AS bin_id,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(n_rows) AS BIGINT) AS total_rows,
           MIN(file_id) AS first_file,
           MAX(file_id) AS last_file
    FROM packed GROUP BY 1
    """,
)
def layout_small_files_compaction_plan(spark, sf_dir):
    """Small-files compaction plan — the other chronic storage-ops
    problem next to region balancing: 128 simulated store files
    (keyed slices of lineitem standing in for flush output) are
    shelf-packed IN KEY ORDER into ~4096-row output files, so the
    compaction preserves the sort order (adjacent inputs only — an
    HBase minor compaction / Iceberg bin-pack rewrite both keep this
    invariant) and every output lands under the target size except
    when a single oversized input must stand alone. The bin id is
    the running-row-count integer-divided by the target, computed
    over the PRECEDING frame so a file that crosses the boundary
    starts its bin rather than splitting (files are atomic).

    Metadata-scale plan: one 128-key agg over the scan, a 128-row
    window, a grouped report — the actual rewrite job then runs one
    task per bin. At 100 TB the file manifest replaces the agg and
    the plan itself never touches data."""
    li = load_table(spark, sf_dir, "lineitem")
    files = li.groupBy((F.col("l_orderkey") % 128).alias("file_id")).agg(
        F.count("*").cast("bigint").alias("n_rows")
    )
    packed = files.select(
        "file_id",
        "n_rows",
        F.coalesce(
            F.expr(f"(sum(n_rows) over (order by file_id rows between"
                   f" unbounded preceding and 1 preceding)) div 4096"),
            F.lit(0),
        ).alias("bin_id"),
    )
    return packed.groupBy("bin_id").agg(
        F.count("*").cast("bigint").alias("n_files"),
        F.sum("n_rows").cast("bigint").alias("total_rows"),
        F.min("file_id").alias("first_file"),
        F.max("file_id").alias("last_file"),
    )


@register(
    "scan_keyset_pagination",
    oracle="""
    WITH cursor_row AS (
      SELECT MAX(o_orderkey) AS cursor FROM (
        SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 200
      )
    )
    SELECT o_orderkey, o_custkey,
           CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents
    FROM orders, cursor_row
    WHERE o_orderkey > cursor
    ORDER BY o_orderkey
    LIMIT 100
    """,
)
def scan_keyset_pagination(spark, sf_dir):
    """Keyset (cursor) pagination — page 3 of a keyed listing,
    fetched the way that still works at 100 TB: WHERE key > cursor
    ORDER BY key LIMIT page, where the cursor is the last key of the
    previous page (computed in-query here so the whole exchange is
    one gradable unit). OFFSET pagination re-scans and re-sorts
    everything before the page (O(offset) per request, and
    inconsistent under concurrent writes); the keyset predicate
    instead prunes at the parquet reader (PushedFilters on the
    sort key) and TakeOrdered returns the page without a global
    sort. This is HBase's native Scan(startRow=cursor, limit=n)
    resumption model expressed relationally — the cursor IS the
    start row."""
    o = load_table(spark, sf_dir, "orders")
    cursor = (
        o.select("o_orderkey")
        .orderBy("o_orderkey")
        .limit(200)
        .agg(F.max("o_orderkey").alias("cursor"))
    )
    return (
        o.crossJoin(F.broadcast(cursor))  # bcast: scalar
        .filter(F.col("o_orderkey") > F.col("cursor"))
        .select(
            "o_orderkey",
            "o_custkey",
            F.floor(F.col("o_totalprice") * 100 + 0.5)
            .cast("bigint")
            .alias("price_cents"),
        )
        .orderBy("o_orderkey")
        .limit(100)
    )


_META_SPLITS_SQL = " UNION ALL ".join(
    f"SELECT {i} AS split_idx,"
    f" CAST(FLOOR(quantile_cont(CAST(user_id AS DOUBLE), {i / 8.0})) AS BIGINT)"
    f" AS split_key FROM events"
    for i in range(1, 8)
)


@register(
    "layout_meta_lookup",
    oracle=f"""
    WITH splits AS ({_META_SPLITS_SQL}),
    arr AS (SELECT LIST(split_key ORDER BY split_key) AS ks FROM splits),
    probes AS (
      SELECT o_custkey AS probe_key,
             CAST(len(list_filter(ks, s -> o_custkey >= s)) AS INT) AS region_idx,
             ks
      FROM orders, arr
    )
    SELECT region_idx,
           CASE WHEN region_idx > 0 THEN ks[region_idx] END AS start_key,
           CASE WHEN region_idx < 7 THEN ks[region_idx + 1] END AS end_key,
           CAST(COUNT(*) AS BIGINT) AS n_probes,
           CAST(COUNT(DISTINCT probe_key) AS BIGINT) AS n_distinct_keys,
           CAST(MIN(probe_key) AS BIGINT) AS min_key,
           CAST(MAX(probe_key) AS BIGINT) AS max_key
    FROM probes
    GROUP BY region_idx, start_key, end_key
    """,
)
def layout_meta_lookup(spark, sf_dir):
    """hbase:meta routing, relationally: every client request first
    resolves its rowkey to the owning region by finding the last
    region-start <= key in the meta table. Here the meta table is
    the 8-region octile pre-split of the rowkey space (same
    exact-percentile contract as `layout_split_points`), the probe
    stream is the orders foreign keys, and the result is the
    per-region routing census — probe volume, distinct keys probed,
    and the [start, end) boundaries (open-ended at both edges, as
    HBase's first/last regions are).

    Scale shape: meta is tiny by construction (7 split keys for 8
    regions — real meta is ~1 row per region), so it travels as ONE
    broadcast row holding the sorted split array; routing is then a
    pure map-side `size(filter(splits, s -> key >= s))` per probe —
    a binary-searchable lookup with zero shuffle, exactly the
    client-side meta cache of a real deployment. The only exchange
    is the final 8-group rollup."""
    splits = _rowkey_octiles(spark, sf_dir).select(
        F.sort_array(
            F.transform(
                F.array(*[F.col(f"q{i}") for i in range(1, 8)]),
                lambda q: F.floor(q).cast("long"),
            )
        ).alias("ks")
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("probe_key")
    )
    routed = o.crossJoin(F.broadcast(splits)).withColumn(  # bcast: scalar
        "region_idx",
        F.size(F.filter("ks", lambda s: F.col("probe_key") >= s)).cast("int"),
    )
    return (
        routed.withColumn(
            "start_key",
            F.when(
                F.col("region_idx") > 0,
                F.element_at("ks", F.col("region_idx")),
            ),
        )
        .withColumn(
            "end_key",
            F.when(
                F.col("region_idx") < 7,
                F.element_at("ks", F.col("region_idx") + 1),
            ),
        )
        .groupBy("region_idx", "start_key", "end_key")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_probes"),
            F.countDistinct("probe_key").cast("bigint").alias("n_distinct_keys"),
            F.min("probe_key").cast("bigint").alias("min_key"),
            F.max("probe_key").cast("bigint").alias("max_key"),
        )
    )


@register(
    "sample_neyman_allocation",
    oracle="""
    WITH strata AS (
      SELECT o_orderpriority AS stratum,
             CAST(COUNT(*) AS BIGINT) AS n_h,
             CAST(SUM(CAST(FLOOR(o_totalprice / 100.0) AS BIGINT))
                  AS BIGINT) AS s1,
             CAST(SUM(CAST(FLOOR(o_totalprice / 100.0) AS BIGINT)
                      * CAST(FLOOR(o_totalprice / 100.0) AS BIGINT))
                  AS BIGINT) AS s2
      FROM orders GROUP BY o_orderpriority
    ),
    weighted AS (
      SELECT stratum, n_h,
             CAST(FLOOR(SQRT(CAST(CAST(n_h AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE))) AS BIGINT)
               AS w_int
      FROM strata
    ),
    tot AS (SELECT SUM(w_int) AS sum_w FROM weighted)
    SELECT stratum, n_h, w_int,
           CAST((1000 * w_int) // sum_w AS BIGINT) AS alloc_floor,
           CAST((1000 * w_int) % sum_w AS BIGINT) AS remainder_num
    FROM weighted, tot
    """,
)
def sample_neyman_allocation(spark, sf_dir):
    """Neyman-optimal stratified sampling allocation — the design
    step in front of any budgeted audit/eval sample: allocate the
    n=1000 budget across strata proportionally to N_h*S_h (bigger
    AND more variable strata get more samples; minimizes estimator
    variance for fixed cost). The per-stratum weight is integerized
    at one deterministic point — w = floor(sqrt(n*s2 - s1^2)), floor
    of the exact-integer-radicand sqrt, which IS N_h*S_h up to the
    shared 1/N_h factor cancelled by the ratio — so the normalizing
    sum is an ORDER-INDEPENDENT integer sum (a double sum of
    N_h*S_h would make the final floor a sum-order coin-flip across
    engines). The allocation ships as exact floor +
    remainder-numerator pairs, letting the caller run
    largest-remainder rounding without re-deriving anything.

    Precision ledger: values are binned to hundreds-of-dollars
    units before the moments (cent-level moments overflow BIGINT at
    n_h ~ 3e5: s1^2 ~ (n*6e7)^2), and since r9 the radicand
    n*s2 - s1^2 itself is held in 128-bit exact integers (Spark
    DECIMAL(38,0) / DuckDB HUGEINT) — the r9 ×128 census caught the
    binned BIGINT moments wrapping at n_h ~ 3.8e6. Allocation only
    needs the weight RATIO, which binning perturbs identically in
    both engines. At true 100-TB cardinalities the same query
    runs on the per-stratum (n, avg, var) floats Spark/DuckDB both
    compute natively — the integer twin is the oracle-exactness
    harness, the plan is unchanged.

    Scale shape: one hash agg to 5 stratum rows (integer moments
    combine map-side), one broadcast of the 1-row total — the same
    two-step any 100-TB profile-then-plan pass uses."""
    o = load_table(spark, sf_dir, "orders")
    units = F.floor(F.col("o_totalprice") / 100.0).cast("long")
    strata = o.groupBy(F.col("o_orderpriority").alias("stratum")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_h"),
        F.sum(units).cast("bigint").alias("s1"),
        F.sum(units * units).cast("bigint").alias("s2"),
    )
    # 128-bit radicand (r9 ×128 census catch): n_h·s2 passes 9.2e18
    # at ×128 even on the hundreds-of-dollars bins. The exact-integer
    # radicand is held in Spark DECIMAL(38,0) / DuckDB HUGEINT, and
    # BOTH convert the same exact integer to DOUBLE with IEEE
    # round-to-nearest before the shared SQRT/FLOOR — bit-equal.
    weighted = strata.select(
        "stratum",
        "n_h",
        F.expr(
            "FLOOR(SQRT(CAST(CAST(n_h AS DECIMAL(38,0)) * s2 - "
            "CAST(s1 AS DECIMAL(38,0)) * s1 AS DOUBLE)))"
        )
        .cast("bigint")
        .alias("w_int"),
    )
    tot = weighted.agg(F.sum("w_int").alias("sum_w"))
    return weighted.crossJoin(F.broadcast(tot)).select(  # bcast: scalar
        "stratum",
        "n_h",
        "w_int",
        F.expr("(1000 * w_int) div sum_w").cast("bigint").alias("alloc_floor"),
        ((1000 * F.col("w_int")) % F.col("sum_w")).cast("bigint").alias("remainder_num"),
    )


@register(
    "layout_compaction_io_amplification",
    oracle="""
    WITH files AS (
      SELECT o_custkey AS file_id,
             SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS n_bytes
      FROM orders GROUP BY o_custkey
    ),
    leveled AS (
      SELECT file_id, n_bytes,
             length(CAST(n_bytes AS VARCHAR)) - 1 AS level
      FROM files
    ),
    per_level AS (
      SELECT level,
             CAST(COUNT(*) AS BIGINT) AS n_files,
             CAST(SUM(n_bytes) AS BIGINT) AS level_bytes
      FROM leveled GROUP BY level
    ),
    tot AS (SELECT SUM(level_bytes) AS total_bytes FROM per_level)
    SELECT CAST(level AS INT) AS level, n_files, level_bytes,
           CAST(CAST(level_bytes AS HUGEINT) * 10000 // total_bytes AS BIGINT) AS share_bps,
           CAST(level_bytes * (level - 4) AS BIGINT) AS rewrite_bytes,
           CAST(CAST((SELECT SUM(level_bytes * (level - 4)) FROM per_level) AS HUGEINT)
                * 10000 // total_bytes AS BIGINT) AS total_wa_bps
    FROM per_level, tot
    """,
)
def layout_compaction_io_amplification(spark, sf_dir):
    """Leveled-compaction write-amplification model — the capacity-
    planning readout an LSM/HBase operator reads before changing
    compaction policy: treat each rowkey locality group (customer)
    as one store file, assign each file its level by size DECADE
    (level = digit count - 1 of its byte size: integer-exact log10,
    no libm — a log10() double at a power-of-ten boundary is a
    last-ulp coin flip), and model full-compaction rewrite cost — a
    byte in a level-L file is rewritten once per decade it descends
    (L - 4 here, the smallest occupied decade being the write-once
    floor), so table write amplification is
    SUM bytes*(level-4) / SUM bytes in exact basis points, next to
    the per-level census every compaction tuner reads.

    Scale shape: two hash aggs (file census -> level census, both
    combining map-side) plus one broadcast scalar; at 100 TB the
    file census comes from the store-file manifest rather than a
    data scan and everything downstream is identical."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    files = o.groupBy(F.col("o_custkey").alias("file_id")).agg(
        F.sum(cents).alias("n_bytes")
    )
    leveled = files.withColumn(
        "level", F.length(F.col("n_bytes").cast("string")) - 1
    )
    per_level = leveled.groupBy("level").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_files"),
        F.sum("n_bytes").cast("bigint").alias("level_bytes"),
    )
    tot = per_level.agg(
        F.sum("level_bytes").alias("total_bytes"),
        F.sum(F.col("level_bytes") * (F.col("level") - 4)).alias("rewrite_total"),
    )
    # 128-bit bps intermediates (r9 ×128 census catch): bytes-scale
    # sums × 10000 wrap BIGINT at ×128 magnitudes. Spark DECIMAL(38,0)
    # / DuckDB HUGEINT are both exact integer arithmetic — the
    # spelling split carries no IEEE risk.
    return per_level.crossJoin(F.broadcast(tot)).select(  # bcast: scalar
        F.col("level").cast("int").alias("level"),
        "n_files",
        "level_bytes",
        F.expr("CAST(level_bytes AS DECIMAL(38,0)) * 10000 div total_bytes")
        .cast("bigint")
        .alias("share_bps"),
        (F.col("level_bytes") * (F.col("level") - 4))
        .cast("bigint")
        .alias("rewrite_bytes"),
        F.expr("CAST(rewrite_total AS DECIMAL(38,0)) * 10000 div total_bytes")
        .cast("bigint")
        .alias("total_wa_bps"),
    )


@register(
    "scan_fuzzy_rowkey",
    oracle="""
    SELECT o_orderkey,
           LPAD(CAST(o_orderkey AS VARCHAR), 10, '0') AS rowkey
    FROM orders
    WHERE SUBSTR(LPAD(CAST(o_orderkey AS VARCHAR), 10, '0'), 8, 2) = '42'
      AND SUBSTR(LPAD(CAST(o_orderkey AS VARCHAR), 10, '0'), 10, 1) = '7'
    """,
)
def scan_fuzzy_rowkey(spark, sf_dir):
    """FuzzyRowKeyFilter — HBase's fixed-position rowkey matcher: a
    mask pins some byte positions of the (fixed-width) rowkey and
    wildcards the rest, here `???????42?` ∧ `?????????7` over the
    10-digit zero-padded order key. The composite-key workhorse: keys
    encoded `<salt><date><id>` are scanned for one embedded field
    without knowing the others.

    Scale note: a position mask on a fixed-width key is a pure scan
    predicate — whole-stage-codegen substring compares, no shuffle,
    and (unlike HBase, which can seek-skip) columnar scan + pushdown
    gives the same effect: only matching rows survive the scan stage.
    For a mask that pins a PREFIX, compose with `scan_prefix` to get
    partition pruning too."""
    orders = load_table(spark, sf_dir, "orders")
    rk = F.lpad(F.col("o_orderkey").cast("string"), 10, "0")
    return (
        orders.withColumn("rowkey", rk)
        .filter(
            (F.substring("rowkey", 8, 2) == "42")
            & (F.substring("rowkey", 10, 1) == "7")
        )
        .select("o_orderkey", "rowkey")
    )


@register(
    "layout_region_split_policy_sim",
    oracle="""
    WITH sized AS (
      SELECT user_id % 16 AS region,
             CASE WHEN user_id % 16 < 1 THEN 0
                  WHEN user_id % 16 < 3 THEN 1
                  WHEN user_id % 16 < 7 THEN 2
                  ELSE 3 END AS server,
             64 + LENGTH(props) AS cell_bytes
      FROM events
    ),
    regions AS (
      SELECT region, server,
             CAST(SUM(cell_bytes) AS BIGINT) AS region_bytes
      FROM sized GROUP BY region, server
    ),
    hosted AS (
      SELECT region, server, region_bytes,
             CAST(COUNT(*) OVER (PARTITION BY server) AS BIGINT)
               AS regions_on_server
      FROM regions
    )
    SELECT region, server, regions_on_server, region_bytes,
           CAST(LEAST(262144,
                      2 * 16384 * regions_on_server * regions_on_server
                        * regions_on_server) AS BIGINT) AS split_threshold,
           region_bytes > LEAST(262144,
                                2 * 16384 * regions_on_server
                                  * regions_on_server * regions_on_server)
             AS will_split
    FROM hosted
    """,
)
def layout_region_split_policy_sim(spark, sf_dir):
    """IncreasingToUpperBoundRegionSplitPolicy simulation — HBase's
    default split rule: a region splits when it exceeds
    min(maxFileSize, 2 · flushSize · R³) where R is how many regions
    of the table its server already hosts (public HBase policy;
    constants scaled to the fixture: flush 16 KiB, cap 256 KiB).
    Young tables (R=1) split eagerly to spread load; mature servers
    converge to the flat maxFileSize bound. The fixture skews
    placement (1/2/4/9 regions per server) so the cubic ramp is
    exercised across its whole range.

    Scale shape: region sizing is a hash rollup (map-side partials);
    the per-server R is a COUNT window over the 16-row region table —
    metadata-scale, like the real master's in-memory region map. The
    threshold arithmetic is all-integer, so the plan is bit-exact
    cross-engine."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    sized = ev.select(
        (F.col("user_id") % 16).alias("region"),
        (F.lit(64) + F.length("props")).alias("cell_bytes"),
    ).withColumn(
        "server",
        F.when(F.col("region") < 1, 0)
        .when(F.col("region") < 3, 1)
        .when(F.col("region") < 7, 2)
        .otherwise(3),
    )
    regions = sized.groupBy("region", "server").agg(
        F.sum("cell_bytes").cast("bigint").alias("region_bytes")
    )
    hosted = regions.withColumn(
        "regions_on_server",
        F.count(F.lit(1)).over(Window.partitionBy("server")).cast("bigint"),
    )
    thr = F.least(
        F.lit(262144).cast("bigint"),
        (
            F.lit(2) * 16384
            * F.col("regions_on_server")
            * F.col("regions_on_server")
            * F.col("regions_on_server")
        ).cast("bigint"),
    )
    return hosted.select(
        "region",
        "server",
        "regions_on_server",
        "region_bytes",
        thr.alias("split_threshold"),
        (F.col("region_bytes") > thr).alias("will_split"),
    )


@register(
    "layout_rpc_quota_throttle",
    oracle="""
    WITH reqs AS (
      SELECT CAST(ts AS DATE) AS day, user_id,
             ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                ORDER BY ts, event_id) AS seq
      FROM events
    )
    SELECT day,
           CAST(COUNT(*) AS BIGINT) AS n_requests,
           CAST(SUM(CASE WHEN seq > 4 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_throttled,
           CAST(COUNT(DISTINCT CASE WHEN seq > 4 THEN user_id END)
                AS BIGINT) AS n_users_throttled,
           CAST(SUM(CASE WHEN seq > 4 THEN 1 ELSE 0 END) * 10000
                // COUNT(*) AS BIGINT) AS throttle_bps
    FROM reqs GROUP BY day
    """,
)
def layout_rpc_quota_throttle(spark, sf_dir):
    """RPC quota enforcement (hbase.quota.* / RpcThrottlingException)
    replayed over the request log: each user gets 4 requests per day;
    request #5+ inside the window would have been throttled. The
    per-day census — how many requests bounced, how many distinct
    users hit the limiter — is the sizing study an admin runs BEFORE
    turning quotas on, answered from the access log alone.

    Scale shape: one window pass partitioned by (user, day) — the
    quota key itself, so cardinality grows with users and the
    pass never piles onto one reducer — then a map-side-combining
    hash agg to one row per day."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    day = F.col("ts").cast("date")
    w = Window.partitionBy("user_id", day).orderBy("ts", "event_id")
    reqs = ev.select(
        day.alias("day"),
        "user_id",
        F.row_number().over(w).alias("seq"),
    )
    over = F.col("seq") > 4
    return reqs.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_requests"),
        F.sum(F.when(over, 1).otherwise(0)).cast("bigint").alias("n_throttled"),
        F.countDistinct(F.when(over, F.col("user_id")))
        .cast("bigint")
        .alias("n_users_throttled"),
        F.expr(
            "CAST(SUM(CASE WHEN seq > 4 THEN 1 ELSE 0 END) * 10000"
            " div COUNT(*) AS BIGINT)"
        ).alias("throttle_bps"),
    )


@register(
    "scan_multiget_batch_plan",
    oracle="""
    WITH gets AS (
      SELECT o_orderkey, o_orderkey // 2048 AS region
      FROM orders WHERE o_orderkey % 7 = 3
    )
    SELECT region,
           CAST(COUNT(*) AS BIGINT) AS n_gets,
           CAST((COUNT(*) + 99) // 100 AS BIGINT) AS n_rpc_batches,
           CAST(MIN(o_orderkey) AS BIGINT) AS first_key,
           CAST(MAX(o_orderkey) AS BIGINT) AS last_key,
           CAST(COUNT(*) * 10000 // SUM(COUNT(*)) OVER ()
                AS BIGINT) AS share_bps
    FROM gets GROUP BY region
    """,
)
def scan_multiget_batch_plan(spark, sf_dir):
    """Client MultiGet routing — HTable.get(List<Get>) semantics: the
    client groups a key list by owning region and ships one
    MultiAction RPC per region per 100 gets
    (hbase.client.max.perregion.tasks flavor). Given a request list
    (every 7th key, a scattered point-read workload), this plans the
    RPC fan-out: gets per region, ceil-div batch count, key span, and
    each region's share of the load in exact bps — the hotspot check
    for a read-path batch job.

    Scale shape: pure scan predicate + one hash agg on the region
    key; the single-row share denominator is a tiny window over the
    16-ish aggregated rows, not the data."""
    orders = load_table(spark, sf_dir, "orders")
    gets = orders.filter(F.col("o_orderkey") % 7 == 3).select(
        "o_orderkey", F.expr("o_orderkey div 2048").alias("region")
    )
    per = gets.groupBy("region").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gets"),
        F.expr("CAST((COUNT(*) + 99) div 100 AS BIGINT)").alias("n_rpc_batches"),
        F.min("o_orderkey").cast("bigint").alias("first_key"),
        F.max("o_orderkey").cast("bigint").alias("last_key"),
    )
    return per.withColumn(
        "share_bps",
        F.expr("CAST(n_gets * 10000 div SUM(n_gets) OVER () AS BIGINT)"),
    )


@register(
    "layout_region_normalizer_plan",
    oracle="""
    WITH regions AS (
      SELECT LEAST(user_id // 4, 15) AS region,
             CAST(SUM(64 + LENGTH(props)) AS BIGINT) AS region_bytes
      FROM events GROUP BY LEAST(user_id // 4, 15)
    ),
    avg_t AS (
      SELECT SUM(region_bytes) // COUNT(*) AS avg_bytes FROM regions
    ),
    seq AS (
      SELECT region, region_bytes, avg_bytes,
             LEAD(region_bytes) OVER (ORDER BY region) AS next_bytes
      FROM regions CROSS JOIN avg_t
    )
    SELECT region, region_bytes,
           CAST(avg_bytes AS BIGINT) AS avg_bytes,
           CASE WHEN region_bytes > 2 * avg_bytes THEN 'split'
                WHEN next_bytes IS NOT NULL
                     AND region_bytes + next_bytes < avg_bytes
                  THEN 'merge_with_next'
                ELSE 'none' END AS action
    FROM seq
    """,
)
def layout_region_normalizer_plan(spark, sf_dir):
    """SimpleRegionNormalizer — HBase's background re-balancer: a
    region larger than 2x the table average is a split candidate; two
    ADJACENT regions whose combined size is under the average are a
    merge candidate (adjacency = rowkey-range order, so only
    neighbors can merge). The skewed fixture layout (4 users per
    region, the tail piled into region 15) reproduces the real
    trigger: organic growth concentrating in one key range. All
    thresholds are integer (floor-average, integer doubling).

    Scale shape: one hash agg to region granularity (16 rows at any
    data size), then a driver-scale LEAD window over those rows —
    the normalizer plans over region METADATA, never the data."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    regions = (
        ev.select(
            F.least(F.expr("user_id div 4"), F.lit(15)).alias("region"),
            (F.lit(64) + F.length("props")).alias("cell_bytes"),
        )
        .groupBy("region")
        .agg(F.sum("cell_bytes").cast("bigint").alias("region_bytes"))
    )
    avg_t = regions.agg(
        F.expr("SUM(region_bytes) div COUNT(*)").alias("avg_bytes")
    )
    seq = regions.crossJoin(F.broadcast(avg_t)).withColumn(  # bcast: scalar
        "next_bytes", F.lead("region_bytes").over(Window.orderBy("region"))
    )
    return seq.select(
        "region",
        "region_bytes",
        F.col("avg_bytes").cast("bigint").alias("avg_bytes"),
        F.when(F.col("region_bytes") > 2 * F.col("avg_bytes"), "split")
        .when(
            F.col("next_bytes").isNotNull()
            & (F.col("region_bytes") + F.col("next_bytes") < F.col("avg_bytes")),
            "merge_with_next",
        )
        .otherwise("none")
        .alias("action"),
    )


@register(
    "layout_balancer_cost_model",
    oracle="""
    WITH regions AS (
      SELECT o_custkey // 32 AS region_id,
             CAST((o_custkey // 32) % 8 AS BIGINT) AS server,
             CAST(COUNT(*) AS BIGINT) AS read_reqs,
             CAST(SUM(24 + LENGTH(o_orderpriority)) AS BIGINT) AS store_bytes
      FROM orders GROUP BY o_custkey // 32
    ),
    servers AS (
      SELECT server,
             CAST(COUNT(*) AS BIGINT) AS n_regions,
             CAST(SUM(read_reqs) AS BIGINT) AS total_reqs,
             CAST(SUM(store_bytes) AS BIGINT) AS total_bytes
      FROM regions GROUP BY server
    ),
    scored AS (
      SELECT server, n_regions, total_reqs, total_bytes,
             MAX(n_regions) OVER () AS maxr, MIN(n_regions) OVER () AS minr,
             MAX(total_bytes) OVER () AS maxb, MIN(total_bytes) OVER () AS minb
      FROM servers
    )
    SELECT server, n_regions, total_reqs, total_bytes,
           CAST(((maxr - minr) * 10000) // maxr AS BIGINT) AS count_skew_bps,
           CAST(((maxb - minb) * 10000) // maxb AS BIGINT) AS size_skew_bps,
           CAST(((6 * (((maxr - minr) * 10000) // maxr))
                 + (4 * (((maxb - minb) * 10000) // maxb))) // 10
                AS BIGINT) AS cluster_cost_bps
    FROM scored
    """,
)
def layout_balancer_cost_model(spark, sf_dir):
    """StochasticLoadBalancer-style cluster cost readout — the two
    dominant cost components HBase's balancer minimizes (region-count
    skew and store-size skew across region servers), computed as
    exact basis-point range ratios ((max-min)/max) and blended with
    the balancer's heavier weight on region count. Regions are the
    rowkey-range buckets of the salted layout (custkey div 32),
    placed round-robin on 8 servers — so count skew is near zero by
    construction while byte skew reflects real per-customer volume
    variance, exactly the situation where the real balancer starts
    moving regions by size. Every ratio is integer division of
    non-negative BIGINTs, bit-identical cross-engine; the cluster
    score is repeated on each server row (the per-server columns are
    what an operator pages through; the score is the sort key).

    Scale shape: region stats are one map-side-combinable hash agg on
    the fact table; server stats aggregate ~regions rows; the
    MAX/MIN-over-() window runs on server-count rows (8 here, a few
    hundred in production) — driver-trivial by construction, never a
    data-volume operator."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    regions = (
        o.select(
            F.expr("o_custkey div 32").alias("region_id"),
            (F.lit(24) + F.length("o_orderpriority")).alias("row_bytes"),
        )
        .groupBy("region_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("read_reqs"),
            F.sum("row_bytes").cast("bigint").alias("store_bytes"),
        )
        .withColumn("server", (F.col("region_id") % 8).cast("bigint"))
    )
    servers = regions.groupBy("server").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_regions"),
        F.sum("read_reqs").cast("bigint").alias("total_reqs"),
        F.sum("store_bytes").cast("bigint").alias("total_bytes"),
    )
    wall = Window.partitionBy()
    scored = (
        servers.withColumn("maxr", F.max("n_regions").over(wall))
        .withColumn("minr", F.min("n_regions").over(wall))
        .withColumn("maxb", F.max("total_bytes").over(wall))
        .withColumn("minb", F.min("total_bytes").over(wall))
    )
    count_skew = F.expr("((maxr - minr) * 10000) div maxr")
    size_skew = F.expr("((maxb - minb) * 10000) div maxb")
    return scored.select(
        "server", "n_regions", "total_reqs", "total_bytes",
        count_skew.cast("bigint").alias("count_skew_bps"),
        size_skew.cast("bigint").alias("size_skew_bps"),
        F.expr(
            "((6 * (((maxr - minr) * 10000) div maxr))"
            " + (4 * (((maxb - minb) * 10000) div maxb))) div 10"
        ).cast("bigint").alias("cluster_cost_bps"),
    )


@register(
    "source_parquet_schema_merge",
    oracle="""
    WITH a AS (
      SELECT 1 AS batch, CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(n_chars) AS BIGINT) AS n_chars_present,
             CAST(0 AS BIGINT) AS lang_present,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars
      FROM documents WHERE doc_id < 250
    ),
    b AS (
      SELECT 2 AS batch, CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(0 AS BIGINT) AS n_chars_present,
             CAST(COUNT(lang) AS BIGINT) AS lang_present,
             CAST(NULL AS BIGINT) AS total_chars
      FROM documents WHERE doc_id >= 250
    )
    SELECT * FROM a UNION ALL SELECT * FROM b
    """,
)
def source_parquet_schema_merge(spark, sf_dir):
    """Parquet schema evolution (mergeSchema=true) — the lake
    reality where yesterday's files lack today's columns: batch 1
    was written with (doc_id, n_chars), batch 2 with (doc_id, lang,
    source), both under one table root, and the merged read unions
    the schemas with NULLs where a file predates a column. The audit
    proves the semantics: per batch, rows survive, the other batch's
    columns read as NULL (COUNT of them is 0 across the foreign
    batch), and values round-trip. This is the contract a
    schema-evolving ingestion pipeline (HBase snapshot exports
    accreting columns over time) depends on.

    Scale shape: mergeSchema reconciles FOOTERS, not data — the cost
    is one metadata pass over file schemas at planning time; the
    scan itself stays columnar with pushdown. The partition column
    (batch) prunes exactly like any other directory key."""
    docs = load_table(spark, sf_dir, "documents")
    dst = os.path.join(_scratch(), "docs_schema_evo")
    a = docs.filter(F.col("doc_id") < 250).select("doc_id", "n_chars")
    b = docs.filter(F.col("doc_id") >= 250).select("doc_id", "lang", "source")
    a.write.mode("overwrite").parquet(os.path.join(dst, "batch=1"))
    b.write.mode("overwrite").parquet(os.path.join(dst, "batch=2"))
    back = spark.read.option("mergeSchema", "true").parquet(dst)
    return back.groupBy("batch").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.count("n_chars").cast("bigint").alias("n_chars_present"),
        F.count("lang").cast("bigint").alias("lang_present"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


@register(
    "layout_clustering_factor_audit",
    oracle="""
    WITH ranked AS (
      SELECT o_custkey // 100 AS bkt,
             ROW_NUMBER() OVER (ORDER BY o_orderdate, o_orderkey) AS r_date,
             ROW_NUMBER() OVER (ORDER BY o_custkey, o_orderkey) AS r_key
      FROM orders
    ),
    l1 AS (
      SELECT 'date_linear' AS layout, bkt,
             CAST(COUNT(DISTINCT (r_date - 1) // 1000) AS BIGINT) AS files
      FROM ranked GROUP BY bkt
    ),
    l2 AS (
      SELECT 'custkey_sorted' AS layout, bkt,
             CAST(COUNT(DISTINCT (r_key - 1) // 1000) AS BIGINT) AS files
      FROM ranked GROUP BY bkt
    ),
    u AS (SELECT * FROM l1 UNION ALL SELECT * FROM l2)
    SELECT layout,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(files) AS BIGINT) AS file_bucket_pairs,
           CAST((SUM(files) * 1000000) // COUNT(*) AS BIGINT)
             AS avg_files_per_bucket_micro
    FROM u GROUP BY layout
    """,
)
def layout_clustering_factor_audit(spark, sf_dir):
    """Clustering-factor audit — Oracle's index clustering factor /
    Delta's OPTIMIZE ZORDER rationale as a measured number: under a
    date-linear file layout vs a custkey-sorted layout (1000-row
    files in each), how many files must a per-customer-bucket probe
    touch? The custkey-sorted layout collapses every bucket to its
    minimal file span (great for key probes, useless for time
    pruning); the date-linear layout smears each bucket across
    ~every file — the measured gap IS the data-skipping win file
    statistics would deliver, the number that justifies re-clustering
    a 100 TB table. File ids are exact integer rank-div cuts; the
    summary is pure integer division.

    Scale shape: both global ranks ride the distributed rank kernel
    (operators/ranking.py — range exchange + broadcast offsets, no
    single-partition window), then two hash aggs on (bucket, file)
    scale keys. Citing the survey's layout-audit family
    (layout_zorder_scan is the write-side twin)."""
    from .ranking import with_global_rank

    o = load_table(spark, sf_dir, "orders").select(
        F.expr("o_custkey div 100").alias("bkt"),
        "o_orderdate",
        "o_orderkey",
        "o_custkey",
    )
    r1 = with_global_rank(o, ["o_orderdate", "o_orderkey"], "r_date")
    r2 = with_global_rank(o, ["o_custkey", "o_orderkey"], "r_key")
    l1 = (
        r1.select("bkt", F.expr("(r_date - 1) div 1000").alias("f"))
        .groupBy("bkt")
        .agg(F.countDistinct("f").cast("bigint").alias("files"))
        .select(F.lit("date_linear").alias("layout"), "bkt", "files")
    )
    l2 = (
        r2.select("bkt", F.expr("(r_key - 1) div 1000").alias("f"))
        .groupBy("bkt")
        .agg(F.countDistinct("f").cast("bigint").alias("files"))
        .select(F.lit("custkey_sorted").alias("layout"), "bkt", "files")
    )
    u = l1.unionByName(l2)
    return u.groupBy("layout").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.sum("files").cast("bigint").alias("file_bucket_pairs"),
        F.expr("(SUM(files) * 1000000) div COUNT(*)")
        .cast("bigint")
        .alias("avg_files_per_bucket_micro"),
    )


@register(
    "layout_autoscale_plan",
    oracle="""
    WITH hourly AS (
      SELECT epoch_us(ts) // 3600000000 AS hour_id,
             CAST(COUNT(*) AS BIGINT) AS reqs
      FROM events GROUP BY epoch_us(ts) // 3600000000
    ),
    plan AS (
      SELECT hour_id, reqs,
             CAST((reqs + 49) // 50 AS BIGINT) AS servers_now,
             CAST(MAX((reqs + 49) // 50)
                    OVER (ORDER BY hour_id
                          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS servers_held
      FROM hourly
    )
    SELECT hour_id, reqs, servers_now, servers_held,
           CAST(servers_held - servers_now AS BIGINT) AS hysteresis_extra
    FROM plan
    """,
)
def layout_autoscale_plan(spark, sf_dir):
    """Region-server autoscale plan — target-utilization sizing with
    scale-down hysteresis: each hour needs ceil(requests / 50)
    servers (the capacity target), but the fleet only shrinks after
    the demand peak has been out of the trailing 3-hour window (the
    standard flap-damping rule, HPA's stabilization window). Ceiling
    division is the integer identity (a + b − 1) div b on
    non-negative counts; the hold level is a ROWS-bounded running
    max; hour ids are exact integer microsecond division. The
    hysteresis_extra column prices the damping: server-hours kept
    purely to avoid flapping.

    Scale shape: one map-side-combinable agg to hour granularity
    (time-bounded, not volume-bounded), then one ordered window over
    those ~720 rows — the fact scan is the entire cost at 100 TB.
    The global hour series is a single window partition by design
    (it is one fleet's timeline); shard by cluster for multi-tenant
    fleets."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.expr("unix_micros(ts) div 3600000000").alias("hour_id")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("reqs"))
    w3 = Window.orderBy("hour_id").rowsBetween(-2, 0)
    plan = hourly.select(
        "hour_id",
        "reqs",
        F.expr("(reqs + 49) div 50").cast("bigint").alias("servers_now"),
    ).withColumn("servers_held", F.max("servers_now").over(w3).cast("bigint"))
    return plan.select(
        "hour_id", "reqs", "servers_now", "servers_held",
        (F.col("servers_held") - F.col("servers_now"))
        .cast("bigint")
        .alias("hysteresis_extra"),
    )


@register(
    "sink_partition_pruning_audit",
    oracle="""
    WITH days AS (
      SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n FROM events
      GROUP BY CAST(ts AS DATE)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days_read,
           CAST(COUNT(*) AS BIGINT) AS n_files_read,
           CAST(SUM(n) AS BIGINT) AS n_rows,
           CAST((SELECT COUNT(*) FROM days) AS BIGINT) AS n_days_total
    FROM days
    WHERE day >= DATE '2024-01-10' AND day < DATE '2024-01-16'
    """,
)
def sink_partition_pruning_audit(spark, sf_dir):
    """Partition-pruning proof — write the event stream day-
    partitioned (one file per partition via a pre-write repartition
    on the partition key), read it back under a 6-day predicate, and
    MEASURE the pruning with input_file_name(): the number of
    distinct files actually opened must equal the number of days
    selected, not the number of days written. This is the physical
    audit behind every time-partitioned 100 TB table — if the file
    count read exceeds the partition count selected, pruning is
    broken and the scan pays the whole table.

    Scale shape: the write is one hash exchange on the partition key
    (day count bounded); the audited read scans only the six matched
    directories — the measured file count IS the evidence. The
    oracle restates the expectation from the raw table: files == days
    in range, rows == rows in range."""
    ev = load_table(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    dst = os.path.join(_scratch(), "events_by_day")
    (
        ev.repartition("day")
        .write.mode("overwrite")
        .partitionBy("day")
        .parquet(dst)
    )
    # read back with the writer's schema: zero-row events leave no
    # part files, and inference would fail on them
    written = spark.read.schema(ev.schema).parquet(dst)
    back = written.filter(
        (F.col("day") >= F.lit("2024-01-10").cast("date"))
        & (F.col("day") < F.lit("2024-01-16").cast("date"))
    )
    total_days = written.select("day").distinct().count()
    return (
        back.withColumn("src_file", F.input_file_name())
        .agg(
            F.countDistinct("day").cast("bigint").alias("n_days_read"),
            F.countDistinct("src_file").cast("bigint").alias("n_files_read"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.lit(total_days).cast("bigint").alias("n_days_total"),
        )
    )


@register(
    "layout_block_index_lookup",
    oracle="""
    WITH kv AS (
      SELECT user_id, user_id // 16 AS region,
             32 + LENGTH(event_type) + LENGTH(props) AS kv_bytes,
             event_type, ts, event_id
      FROM events
    ),
    c AS (
      SELECT region, user_id,
             SUM(kv_bytes) OVER (PARTITION BY region
                                 ORDER BY user_id, event_type, ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM kv
    ),
    idx AS (
      SELECT region, CAST((cum - 1) // 4096 AS BIGINT) AS block,
             CAST(MIN(user_id) AS BIGINT) AS first_key
      FROM c GROUP BY region, (cum - 1) // 4096
    ),
    probes AS (
      SELECT DISTINCT user_id AS probe FROM events WHERE user_id % 10 = 5
    ),
    hits AS (
      SELECT p.probe, i.region, i.block, i.first_key,
             ROW_NUMBER() OVER (PARTITION BY p.probe
                                ORDER BY i.block DESC) AS rk,
             COUNT(*) OVER (PARTITION BY p.probe) AS n_candidates
      FROM probes p JOIN idx i
        ON i.region = p.probe // 16 AND i.first_key <= p.probe
    )
    SELECT probe, region, block, first_key AS block_first_key,
           CAST(n_candidates AS BIGINT) AS n_candidate_blocks
    FROM hits WHERE rk = 1
    """,
)
def layout_block_index_lookup(spark, sf_dir):
    """HFile block-index bisection — the data structure a point GET
    actually consults: the block index maps each 4 KiB data block to
    its first rowkey, and a probe key resolves to the LAST block
    whose first key is ≤ the probe (the binary-search-then-scan read
    path; a key spanning blocks resolves to the latest candidate,
    matching HFileReader's seekBefore contract). Blocks come from
    the same cell-ordered running-byte cut as the bulkload plan
    (4 KiB here, the real hfile.block.size default scaled); the
    bisect is an as-of join on the key axis: region-pruned index
    probe, ordered rank over candidate blocks, rank 1 wins.

    Scale shape: the block index is metadata (one row per 4 KiB of
    data — exactly what a region server holds in memory), so the
    probe join broadcasts it; candidates per probe are bounded by
    the probe's region's block count. The window runs per probe on
    that bounded candidate set."""
    from pyspark.sql import Window

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
    idx = (
        kv.withColumn("cum", F.sum("kv_bytes").over(w))
        .withColumn("block", F.expr("(cum - 1) div 4096").cast("bigint"))
        .groupBy("region", "block")
        .agg(F.min("user_id").cast("bigint").alias("first_key"))
    )
    probes = (
        ev.filter(F.col("user_id") % 10 == 5)
        .select(F.col("user_id").alias("probe"))
        .distinct()
    )
    # idx is block-count-scale (table_bytes/4096 entries) — unhinted
    # (r10 broadcast-hint audit): the region equality component gives
    # the shuffle join its key at scale; AQE broadcasts while small.
    hits = probes.join(
        idx,
        (idx.region == F.expr("probe div 16")) & (idx.first_key <= F.col("probe")),
    )
    wp = Window.partitionBy("probe")
    ranked = hits.withColumn(
        "rk", F.row_number().over(wp.orderBy(F.col("block").desc()))
    ).withColumn("n_candidates", F.count(F.lit(1)).over(wp))
    return ranked.filter(F.col("rk") == 1).select(
        "probe", "region", "block",
        F.col("first_key").alias("block_first_key"),
        F.col("n_candidates").cast("bigint").alias("n_candidate_blocks"),
    )


@register(
    "sample_systematic_kth",
    oracle="""
    WITH ranked AS (
      SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             ROW_NUMBER() OVER (ORDER BY o_orderdate, o_orderkey) AS r
      FROM orders
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
             CAST(SUM(cents) AS BIGINT) AS total_rev_c,
             CAST(SUM(CASE WHEN r % 20 = 7 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_sampled,
             CAST(SUM(CASE WHEN r % 20 = 7 THEN cents ELSE 0 END) AS BIGINT)
               AS sampled_rev_c
      FROM ranked
    )
    SELECT n_total, n_sampled, total_rev_c, sampled_rev_c,
           CAST(sampled_rev_c * 20 AS BIGINT) AS scaled_estimate_c,
           CAST(ABS(sampled_rev_c * 20 - total_rev_c) * 10000
                // total_rev_c AS BIGINT) AS estimate_error_bps
    FROM s
    """,
)
def sample_systematic_kth(spark, sf_dir):
    """Systematic (every k-th) sampling audit — the stratified-by-
    position design survey statisticians reach for when the frame is
    sorted by time: rank the population in date order, take every
    20th row at a fixed offset, and price the revenue estimator's
    error in exact basis points. Unlike hash sampling (which this
    engine also ships), systematic sampling guarantees exactly-even
    temporal coverage — and its known failure mode (periodicity in
    the frame resonating with k) is precisely what the error column
    detects. The rank is the distributed rank kernel; everything
    downstream is exact integer conditional sums.

    Scale shape: one range exchange + broadcast offsets for the
    global rank, then a single map-side-combinable scalar aggregate.
    The sample never materializes separately — the audit is computed
    in the same pass that would emit it."""
    from .ranking import with_global_rank

    o = load_table(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("cents"),
        "o_orderdate",
        "o_orderkey",
    )
    ranked = with_global_rank(o, ["o_orderdate", "o_orderkey"], "r")
    s = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
        F.sum("cents").cast("bigint").alias("total_rev_c"),
        F.sum(F.when(F.col("r") % 20 == 7, 1).otherwise(0))
        .cast("bigint")
        .alias("n_sampled"),
        F.sum(F.when(F.col("r") % 20 == 7, F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("sampled_rev_c"),
    )
    return s.select(
        "n_total", "n_sampled", "total_rev_c", "sampled_rev_c",
        (F.col("sampled_rev_c") * 20).cast("bigint").alias("scaled_estimate_c"),
        F.expr(
            "ABS(sampled_rev_c * 20 - total_rev_c) * 10000 div total_rev_c"
        )
        .cast("bigint")
        .alias("estimate_error_bps"),
    )


_SALT_BUCKETS = 16
_SALT_LO, _SALT_HI = 200, 1200  # logical [start, stop) key range — populated at every SF


@register(
    "scan_salted_rowkey",
    oracle=f"""
    SELECT lpad(CAST(o_orderkey % {_SALT_BUCKETS} AS VARCHAR), 2, '0')
             || '|' || lpad(CAST(o_orderkey AS VARCHAR), 12, '0')
             AS salted_key,
           o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_orderkey >= {_SALT_LO} AND o_orderkey < {_SALT_HI}
    """,
)
def scan_salted_rowkey(spark, sf_dir):
    """Salted-rowkey range scan — THE canonical HBase hotspot cure:
    monotonically increasing keys are prefixed with a small salt
    (``hash(key) % N`` rendered as a fixed-width prefix) so writes
    spread over N regions instead of hammering the tail region. The
    price is on the read path: one logical key range becomes N
    salted ranges, and the client must fan a Scan out per salt
    bucket and merge. This op builds the salted-key TABLE (the
    roundtrip idiom of scan_salted_table_roundtrip: write the layout
    whose cost you claim, then read it) and answers the logical
    range [200, 1200) EXCLUSIVELY through the N salted string-range
    predicates on the STORED key — the oracle filters on the logical
    key directly, so parity proves the fan-out/merge is lossless.
    Complementary to ``scan_salted_table_roundtrip``: that op salts
    the physical DIRECTORY layout (partition pruning does the
    fan-out); this one salts the KEY ENCODING itself — the Phoenix
    ``SALT_BUCKETS`` / OpenTSDB design — where the fan-out must be
    compiled into the predicate as N range sargs on the single
    sorted key column (Phoenix's skip scan).

    Scale shape: the table is range-partitioned and sorted on the
    salted key (what an HBase region layout IS), so the 16-branch OR
    reaches the Parquet reader as PushedFilters and row-group
    min/max stats skip everything outside the 16 salted ranges —
    plan-asserted in tests/test_round8_ops.py. An earlier draft
    computed the salted key in-query, which silently made the
    predicate unpushable (a filter over a derived column) and paid a
    full scan at x128 — the stored-key layout is the honest design."""
    o = load_table(spark, sf_dir, "orders")
    salted = o.select(
        F.concat(
            F.lpad((F.col("o_orderkey") % _SALT_BUCKETS).cast("string"), 2, "0"),
            F.lit("|"),
            F.lpad(F.col("o_orderkey").cast("string"), 12, "0"),
        ).alias("salted_key"),
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
    )
    dst = os.path.join(_scratch(), "orders_salted_key")
    (
        salted.repartitionByRange(8, "salted_key")
        .sortWithinPartitions("salted_key")
        .write.mode("overwrite")
        .parquet(dst)
    )
    back = spark.read.schema(salted.schema).parquet(dst)
    pred = None
    for b in range(_SALT_BUCKETS):
        lo = f"{b:02d}|{_SALT_LO:012d}"
        hi = f"{b:02d}|{_SALT_HI:012d}"
        branch = (F.col("salted_key") >= lo) & (F.col("salted_key") < hi)
        pred = branch if pred is None else (pred | branch)
    return back.filter(pred)
