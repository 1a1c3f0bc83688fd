"""Table registry and loaders — the single seam for all data access.

Every graded query loads via :func:`load_table`, which owns the one
environment quirk (events.ts is parquet TIMESTAMP(NANOS); Spark 4.x
refuses it — SURVEY.md §1.2) and applies runtime-settable session
confs defensively, because the driver's verify harness constructs its
own SparkSession.

HBase connector seam
--------------------
The reference system's bulk read/write path (hbase-spark DataSource /
``HFileOutputFormat2`` bulk load) belongs here. No HBase exists in
this sandbox, so :func:`read_hbase` / :func:`write_hbase_bulk` are
documented design stubs (SURVEY.md §2.1): at deploy time they resolve
the ``org.apache.hadoop.hbase.spark`` DataSource with a catalog JSON
mapping (rowkey → key column, cf:qualifier → typed column), giving
partition-per-region scans with predicate pushdown on rowkey ranges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.01"


def scratch_root() -> str:
    """Per-PROCESS scratch directory for the sink/write-path queries
    (``<repo>/.scratch/s_<pid>``, root overridable via
    ``$SPARK_GRAFT_SCRATCH``).

    Why per-process: every sink query writes a fixed name
    (``merge_cust``, ``copy_table_orders``, …) and reads it back in
    the same call. With ONE shared ``.scratch`` that read races any
    concurrent engine process (pytest + parity sweep + a drill all
    exercise the same queries): process A lists parquet parts, B
    overwrites the directory, A's scan then 404s mid-read — observed
    r10 as a FileNotFoundException in ``merge_into_upsert``. The pid
    suffix gives each process its own namespace while keeping
    write-then-read reuse within a process (IVF index, bucketed
    joins) intact. Dead processes' leftovers are reaped best-effort
    on first use, so the directory doesn't grow across runs. At
    cluster scale the env override points this at a per-job
    object-store prefix — same isolation rule, different filesystem.
    """
    import os
    import re
    import shutil

    root = os.environ.get("SPARK_GRAFT_SCRATCH") or os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch"
    )
    mine = os.path.join(root, f"s_{os.getpid()}")
    if os.path.isdir(root) and os.path.isdir("/proc"):
        for entry in os.listdir(root):
            m = re.fullmatch(r"s_(\d+)", entry)
            if m and int(m.group(1)) != os.getpid() and not os.path.exists(
                f"/proc/{m.group(1)}"
            ):
                shutil.rmtree(os.path.join(root, entry), ignore_errors=True)
    os.makedirs(mine, exist_ok=True)
    return mine


def ensure_confs(spark: SparkSession) -> None:
    """Apply runtime-settable confs the engine depends on (idempotent)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def session_key(spark: SparkSession) -> str:
    """The identity of ``spark``'s server-side session, for keying
    memos of DataFrames (which belong to one session): the JVM
    session's UUID, or ``session_id`` on Spark Connect. A
    ``newSession()`` clone — a foreachBatch session, which may run
    with different confs — has its own key; PySpark wraps each
    micro-batch in a new Python object, but the clone's UUID stays
    the same across the stream's batches, so their reads share
    entries."""
    sid = getattr(spark, "session_id", None)
    return sid if sid is not None else spark._jsparkSession.sessionUUID()


# Analyzed-relation memo: repeated load_table calls (every graded
# query loads its own inputs) would otherwise re-read parquet footers
# and re-run schema inference — ~100 ms per call that pure plan reuse
# avoids. Keyed by session (`session_key`) so sessions never share
# plans.
_TABLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table as a typed DataFrame.

    Timestamp normalization: the fixture generator has shipped two
    parquet encodings across rounds — INT64 TIMESTAMP(NANOS) (Spark
    reads it as long under the legacy conf; converted with integer
    division, since float division loses precision above 2^53 ns and
    can round across a µs boundary) and TIMESTAMP(MICROS,
    isAdjustedToUTC=false) (Spark 4 reads it as TIMESTAMP_NTZ). Both
    are normalized here to TIMESTAMP_LTZ so every operator sees one
    type; with the session zone pinned to UTC (ensure_confs) the
    NTZ→LTZ cast is a deterministic relabeling, matching how the
    DuckDB oracle reads the same column (naive µs).
    """
    ensure_confs(spark)
    key = (session_key(spark), sf_dir, name)
    if key in _TABLE_CACHE:
        return _TABLE_CACHE[key]
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    ntz_cols = [f.name for f in df.schema.fields if f.dataType.typeName() == "timestamp_ntz"]
    if ntz_cols:
        df = df.withColumns({c: F.col(c).cast("timestamp") for c in ntz_cols})
    _TABLE_CACHE[key] = df
    return df


def local_frame(spark: SparkSession, rows, schema: StructType) -> DataFrame:
    """Driver-held ``rows`` (tuples in ``schema``'s field order) as a
    DataFrame that plans as ``LocalTableScan``. The rows go over as
    one ``pyarrow.Table``: ``createDataFrame`` on a Python list plans
    as ``Scan ExistingRDD`` instead, and every action on it starts
    Python workers to convert the rows. Each column is built from
    the values as given and cast to its field's Arrow type, so a
    value the cast converts losslessly (``"42"`` or ``42.0`` for a
    bigint) is accepted and one it cannot (``1.5`` for a bigint)
    raises ``ArrowInvalid``. An empty ``rows`` gives an empty frame
    of ``schema``. Naive datetimes are taken as UTC (the engine's
    session zone)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    return spark.createDataFrame(
        pa.Table.from_arrays(
            [pa.array(c).cast(f.type) for c, f in zip(cols, arrow)], schema=arrow
        )
    )


def pin(df: DataFrame) -> DataFrame:
    """Materialize-once marker for a DATA-SCALE frame consumed by
    several plan branches: a lazy ``localCheckpoint`` at DISK_ONLY
    (serialized, executor-local disk) so reuse never holds
    deserialized rows on the heap.

    Why the explicit storage level: localCheckpoint's default
    MEMORY_AND_DISK keeps partitions as deserialized row objects
    first — several-fold memory amplification that at the x128
    census filled an 8 GiB JVM with pinned edge/fingerprint frames
    and starved every later broadcast build ("Not enough memory to
    build and broadcast", SCALE.md r12). DISK_ONLY blocks cost one
    serialize/deserialize per consumer — the pinned frames are
    narrow (ids, longs, small aggregates) so the round-trip is
    cheap — and bound the pin's heap footprint to IO buffers.

    Why localCheckpoint and not ``persist(DISK_ONLY)``: checkpoint
    semantics make the pinned frame a fresh LEAF. The ranking
    kernels join the pinned frame with aggregates derived from
    itself; under persist the shared lineage makes those self-join
    attributes ambiguous (caught by the r12 sf0.001 sweep:
    agg_weighted_median "Column ... ambiguous"), and plan
    canonicalization over ``spark_partition_id()`` stays
    nondeterministic. The known localCheckpoint trade — truncated
    lineage means a lost block fails the job instead of recomputing
    — is accepted and documented: on the target cluster these pins
    live for one query, and the frames are orders of magnitude
    smaller than their inputs.
    """
    from pyspark import StorageLevel

    return df.localCheckpoint(eager=False, storageLevel=StorageLevel.DISK_ONLY)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all fixture tables as temp views (mirrors the oracle's
    view names 1:1 so ``spark.sql`` text can be shared)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def register_semantic_views(spark: SparkSession, sf_dir: str) -> None:
    """Register the HBase-semantic layer as SQL views on top of the
    raw tables, so plain ``spark.sql`` users get the cell-model verbs
    without the DataFrame API: ``cells_latest`` (newest cell per
    rowkey/qualifier — the default Get/Scan read), ``cells_live``
    (tombstone-merged puts, `tombstone_merge` semantics),
    ``sessions_30m`` (native session_window sessionization), and
    ``doc_tokens`` (the exploded token stream every text operator
    builds on). Views are lazy — predicates and projections written
    against them push straight through to the parquet scans.
    Equivalence with the graded kernels is asserted in
    tests/test_sql_api.py."""
    register_views(spark, sf_dir)
    spark.sql(
        """
        CREATE OR REPLACE TEMP VIEW cells_latest AS
        SELECT user_id, event_type,
               max_by(value, struct(ts, event_id)) AS latest_value,
               max(ts) AS latest_ts
        FROM events GROUP BY user_id, event_type
        """
    )
    spark.sql(
        """
        CREATE OR REPLACE TEMP VIEW cells_live AS
        SELECT e.event_id, e.user_id, e.event_type, e.ts, e.value
        FROM events e
        LEFT JOIN (SELECT user_id, MAX(ts) AS del_ts FROM events
                   WHERE event_type = 'error' GROUP BY user_id) d
          ON e.user_id = d.user_id
        WHERE e.event_type <> 'error'
          AND (d.del_ts IS NULL OR e.ts > d.del_ts)
        """
    )
    spark.sql(
        """
        CREATE OR REPLACE TEMP VIEW sessions_30m AS
        SELECT user_id,
               session_window(ts, '30 minutes').start AS session_start,
               session_window(ts, '30 minutes').end AS session_end,
               COUNT(*) AS n_events,
               ROUND(SUM(value), 2) AS session_value
        FROM events
        GROUP BY user_id, session_window(ts, '30 minutes')
        """
    )
    spark.sql(
        """
        CREATE OR REPLACE TEMP VIEW doc_tokens AS
        SELECT doc_id, lang, source, pos, word
        FROM documents
        LATERAL VIEW posexplode(
          filter(split(lower(text), ' '), w -> w <> '')) t AS pos, word
        """
    )


# --------------------------------------------------------------------------
# File interchange (Export/ImportTsv analogs — SURVEY.md §2.1)
# --------------------------------------------------------------------------

def write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_csv(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").option("header", "true").csv(path)


def read_csv(spark: SparkSession, path: str, schema) -> DataFrame:
    return spark.read.schema(schema).option("header", "true").csv(path)


def read_json(spark: SparkSession, path: str, schema) -> DataFrame:
    return spark.read.schema(schema).json(path)


# --------------------------------------------------------------------------
# HBase connector seam — design-only (no HBase in sandbox)
# --------------------------------------------------------------------------

def read_hbase(spark: SparkSession, catalog_json: str) -> DataFrame:
    """Bulk-read an HBase table via the hbase-spark DataSource.

    Deploy-time implementation (public `hbase-spark` connector):

        spark.read.format("org.apache.hadoop.hbase.spark")
             .options(catalog=catalog_json)
             .option("hbase.spark.use.hbasecontext", False)
             .load()

    One Spark partition per region; rowkey range predicates push down
    to scan start/stop rows. Not runnable in this sandbox.
    """
    raise NotImplementedError("HBase connector not available in this environment")


def write_hbase_bulk(df: DataFrame, catalog_json: str) -> None:
    """Bulk-load via sorted HFiles (HFileOutputFormat2 analog).

    Deploy-time design: repartitionByRange on the rowkey to match
    region boundaries, sortWithinPartitions(rowkey), write HFiles,
    then LoadIncrementalHFiles. Keeps the write path off the
    RegionServer WAL — the standard bulk-ingest pattern.
    """
    raise NotImplementedError("HBase connector not available in this environment")
