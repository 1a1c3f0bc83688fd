"""Mini transaction log over Parquet — versioned manifests with
file-level copy-on-write, time travel, and optimistic concurrency.

merge.py's partition-overwrite MERGE is honest but directory-swap
atomic at best; production engines sit on a table format whose unit
of commit is a MANIFEST, not a directory. This module is that design
in miniature (the Delta/Iceberg core loop, built only on immutable
Parquet + an atomic-exclusive publish — both available on any storage):

  table_dir/
    files/v000001/part-*.parquet   immutable data, one dir per commit
    _txlog/v000001.json            manifest: files list + parent + op
                                   + the version's schema

  * Readers resolve the LATEST manifest (or any pinned version — time
    travel) and scan exactly its file list; a concurrent writer can
    never make a reader see a half-commit, because data files are
    written BEFORE the manifest and the manifest appears atomically
    (os.link of a temp file — fails EEXIST on a commit race).
  * Every manifest carries the schema of its whole version (the
    Delta log / Iceberg metadata move): the parent's schema widened
    by the written frame's new columns, parent fields first — the
    order mergeSchema produces — and every field nullable, as a
    Parquet read has them. A read passes it to the Parquet reader,
    so resolving a version starts no Spark job: not the first read
    after a commit, not merge's read of its touched files, not
    compaction. A manifest written without a schema is read with
    mergeSchema (a footer-scan job) and needs no migration; the next
    commit on it writes one.
  * Each version's relation is still resolved once per session:
    `_read_version` memoizes the DataFrame on (session, file tuple,
    schema), a bounded LRU, so repeat Gets/Scans of a version and the
    next MERGE's touched-file scan of it skip even the JVM-side
    relation build. The key needs no invalidation — every commit
    writes a fresh `files/v{N}-{uuid}` directory with mode("error"),
    so a tuple of paths always names the same bytes, and
    `txlog_vacuum` deletes only files no kept manifest lists.
  * MERGE rewrites only the files that actually contain matched keys
    (file-level COW): the touched-file set comes from one pruned
    input_file_name() scan semi-joined against the source keys;
    untouched files are carried into the new manifest by reference —
    a 1 GB delta against a 100 TB table rewrites ~the delta's files.
  * Commits are optimistic: a writer computes against parent version
    N and commits N+1; if another writer got there first the
    exclusive os.link fails with EEXIST and raises
    ConcurrentWriteError — retry-from-fresh-read semantics, no locks.

`snapshot_*` (snapshots.py) pins a moment of a LIVE directory from
the outside; the txlog makes versioning the table's native write
path. Graded end-to-end by `merge_into_txlog` (operators/cells.py
area) whose oracle recomputes both versions from pure SQL.
"""

from __future__ import annotations

import functools
import json
import os
import uuid
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from ..io import session_key


class ConcurrentWriteError(RuntimeError):
    """Another writer committed this version first; re-read and retry."""


def _log_dir(table_dir: str) -> str:
    return os.path.join(table_dir, "_txlog")


def _manifest_path(table_dir: str, version: int) -> str:
    return os.path.join(_log_dir(table_dir), f"v{version:06d}.json")


def txlog_versions(table_dir: str) -> list[int]:
    d = _log_dir(table_dir)
    if not os.path.isdir(d):
        return []
    return sorted(
        int(f[1:-5]) for f in os.listdir(d) if f.startswith("v") and f.endswith(".json")
    )


def _read_manifest(table_dir: str, version: int) -> dict:
    with open(_manifest_path(table_dir, version)) as f:
        return json.load(f)


def _write_data(df: DataFrame, table_dir: str, version: int) -> list[str]:
    """Write a commit's data files into an immutable per-version dir
    and return their absolute paths."""
    out_dir = os.path.join(table_dir, "files", f"v{version:06d}-{uuid.uuid4().hex[:8]}")
    df.write.mode("error").parquet(out_dir)
    return sorted(
        os.path.join(out_dir, f)
        for f in os.listdir(out_dir)
        if f.endswith(".parquet") and not f.startswith("_")
    )


def _commit(table_dir: str, version: int, manifest: dict) -> None:
    """Atomic manifest publish: temp write + exclusive os.link; the
    EEXIST failure is the whole optimistic-concurrency protocol."""
    os.makedirs(_log_dir(table_dir), exist_ok=True)
    final = _manifest_path(table_dir, version)
    tmp = final + f".tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=2)
    try:
        # os.link fails with EEXIST if final already exists — a
        # genuinely atomic-exclusive single-host commit (os.rename
        # silently overwrites on POSIX, so exists-check + rename has a
        # TOCTOU window where two same-version writers both "succeed").
        # A real object store fills this seam with a conditional PUT.
        os.link(tmp, final)
    except FileExistsError:
        raise ConcurrentWriteError(
            f"version {version} already committed by another writer"
        ) from None
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


def _nullable(t):
    """A StructType-JSON type with every field, array element and map
    value nullable — how a Parquet read reports any schema."""
    if not isinstance(t, dict):
        return t  # a primitive: "long", "decimal(12,2)", ...
    if t["type"] == "struct":
        return {**t, "fields": [
            {**f, "nullable": True, "type": _nullable(f["type"])} for f in t["fields"]
        ]}
    if t["type"] == "array":
        return {**t, "containsNull": True, "elementType": _nullable(t["elementType"])}
    if t["type"] == "map":
        return {**t, "valueContainsNull": True, "keyType": _nullable(t["keyType"]),
                "valueType": _nullable(t["valueType"])}
    return t


def _widen(old, new):
    """mergeSchema's merge of two StructType-JSON types: ``old``'s
    struct fields in their order, widened recursively, then ``new``'s
    extra fields. Where the two disagree on a non-struct type, ``old``
    (the table's type) stands; mergeSchema would fail the read, and so
    does the Parquet reader on a file it cannot convert."""
    if not (isinstance(old, dict) and isinstance(new, dict) and old["type"] == new["type"]):
        return old
    if old["type"] == "array":
        return {**old, "elementType": _widen(old["elementType"], new["elementType"])}
    if old["type"] == "map":
        return {**old, "valueType": _widen(old["valueType"], new["valueType"])}
    if old["type"] != "struct":
        return old
    by_name = {f["name"]: f for f in new["fields"]}
    fields = [
        {**f, "type": _widen(f["type"], by_name[f["name"]]["type"])}
        if f["name"] in by_name else f
        for f in old["fields"]
    ]
    have = {f["name"] for f in old["fields"]}
    return {**old, "fields": fields + [f for f in new["fields"] if f["name"] not in have]}


def _version_schema(parent: dict | None, written: DataFrame) -> dict:
    """The schema a commit records: the parent version's, widened by
    the frame the commit wrote."""
    w = _nullable(written.schema.jsonValue())
    return w if parent is None else _widen(parent, w)


def _schema_of(spark: SparkSession, manifest: dict) -> dict:
    """A version's schema: its manifest's, or for a manifest written
    without one, the (memoized) mergeSchema read's."""
    return manifest.get("schema") or _nullable(
        _read_version(spark, manifest).schema.jsonValue()
    )


class _Session:
    """Memo-key wrapper: hashes and compares by `io.session_key`, so
    every Python wrapper of one server-side session shares entries."""

    __slots__ = ("spark", "key")

    def __init__(self, spark: SparkSession):
        self.spark, self.key = spark, session_key(spark)

    def __hash__(self):
        return hash(self.key)

    def __eq__(self, other):
        return self.key == other.key


# Bound on memoized file lists: a streaming sink commits once per
# micro-batch, so an unbounded memo would grow with the stream.
_READ_MEMO_SIZE = 16


@functools.lru_cache(maxsize=_READ_MEMO_SIZE)
def _resolve(
    session: _Session, files: tuple[str, ...], schema: str | None
) -> DataFrame:
    reader = session.spark.read
    if schema is None:
        return reader.option("mergeSchema", "true").parquet(*files)
    return reader.schema(StructType.fromJson(json.loads(schema))).parquet(*files)


def _read_version(
    spark: SparkSession, manifest: dict, files: list[str] | None = None
) -> DataFrame:
    """Read ``files`` of a version (all of them by default) with the
    schema its manifest records — after a schema-widening merge the
    list mixes pre- and post-widening files, and a plain read would
    take an arbitrary file's schema and silently drop the widened
    column. A subset (merge's touched files, a pruned scan) reads with
    the whole version's columns. EVERY read over manifest file lists
    (txlog_read, merge survivors, delete rewrite, compact, touched-file
    scan, stats, scan, CDC) comes through here.

    With a schema the read starts no Spark job. Without one (a
    manifest written before manifests carried schemas, like those of
    tests/fixtures/txlog_pre_schema) it infers with
    mergeSchema, which runs a job that reads every file's footer: the
    first read after each commit paid one, each merge one more for
    its new touched-file tuple, and each compaction one. Traced
    kv_mixed (seed 1, 4 vCPUs): the first read after a commit fell
    from 41-60 ms with that job to 7-9 ms with none, a merge from 9-10
    jobs to 9, a compaction from 2 jobs (135 ms) to 1 (93 ms).

    The resolved relation is memoized on (session, file tuple,
    schema), the `io._TABLE_CACHE` precedent: even a schema read
    builds a new relation in the JVM, and pure plan reuse skips it.
    Data files are immutable and vacuum only deletes files no kept
    manifest lists, so an entry is never stale. A DataFrame belongs
    to its session, so the session is in the key, as `io.session_key`:
    a foreachBatch clone session and the outer session never share a
    plan, while the clone's micro-batches, each wrapped in a new
    Python object, share its entries. Repeated reads of a version
    return the same DataFrame; alias both sides to self-join it.

    Negative A/B (kept out): also resolving each new version at commit
    time, so the first read after a commit hits too. kv_mixed, 20 s,
    seeds 5 and 6, 4 vCPUs: op_p50_ms fell further (120 and 116 ms
    against 143 and 128 ms with the memo alone), but op_mean_ms (334
    and 312 ms against 307 and 284) and op_cpu_ms (1028 and 938 ms
    against 951 and 848) came out worse — every commit pays
    inference, even for a version the same op's compaction supersedes
    before anyone reads it.

    Negative A/B (kept out): memoizing only the merged schema on the
    file tuple and reading with it (`spark.read.schema(s)`), which
    would drop the session from the key. Every hit still resolves a
    new relation in the JVM, 16-33 ms for 4-16 local files. kv_mixed,
    20 s, 10 pairs, seeds 41-50, 4 vCPUs: op_p50_ms fell only 18.8%
    (234 to 190 ms), against 27.6% and 23.6% for this memo in the
    next two 10-pair sets on the same host (seeds 51-70)."""
    schema = manifest.get("schema")
    return _resolve(
        _Session(spark),
        tuple(manifest["files"] if files is None else files),
        json.dumps(schema) if schema else None,
    )


def _manifest_entries(files: list[str], rows) -> dict:
    """Map each entry of the manifest list ``files`` to the row whose
    ``_file`` (an input_file_name() value: ``file:///p`` or ``file:/p``
    for the manifest's ``/p``, percent-encoded — a space reads ``%20``)
    names it; entries no row names are absent."""
    by_name = {
        unquote(r["_file"].removeprefix("file://").removeprefix("file:")): r
        for r in rows
    }
    return {f: by_name[f] for f in files if f in by_name}


def txlog_init(df: DataFrame, table_dir: str) -> int:
    """Create the table at version 1 from ``df``."""
    files = _write_data(df, table_dir, 1)
    _commit(
        table_dir,
        1,
        {
            "version": 1,
            "parent": 0,
            "op": "init",
            "files": files,
            "schema": _version_schema(None, df),
        },
    )
    return 1


def txlog_read(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Read a pinned version (time travel) or the latest, with the
    schema its manifest records. Repeat reads of a version reuse its
    memoized relation (`_read_version`)."""
    versions = txlog_versions(table_dir)
    if not versions:
        raise FileNotFoundError(f"no txlog at {table_dir}")
    v = version if version is not None else versions[-1]
    return _read_version(spark, _read_manifest(table_dir, v))


def txlog_history(table_dir: str) -> list[dict]:
    return [
        {
            "version": m["version"],
            "parent": m["parent"],
            "op": m["op"],
            "n_files": len(m["files"]),
        }
        for m in (_read_manifest(table_dir, v) for v in txlog_versions(table_dir))
    ]


def _touched_files(
    spark: SparkSession, manifest: dict, keys: DataFrame, key: str
) -> list[str]:
    """Files that contain at least one matched key — one pruned scan
    of only the key column + input_file_name(), semi-joined against
    the source keys. No broadcast hint, on purpose: merge sources grow
    with the workload, and AQE broadcasts the keys at run time when
    they are small."""
    files = manifest["files"]
    cur = _read_version(spark, manifest).select(
        F.col(key), F.input_file_name().alias("_file")
    )
    rows = (
        cur.join(keys, key, "left_semi")
        .select("_file")
        .distinct()
        .collect()
    )  # file list: metadata-scale driver round-trip, same as manifest IO
    return sorted(_manifest_entries(files, rows))


def txlog_merge(
    spark: SparkSession, table_dir: str, source: DataFrame, key: str
) -> int:
    """MERGE (upsert): rows in ``source`` replace same-key rows and
    insert new keys. Only files containing matched keys are
    rewritten; everything else is carried by reference."""
    versions = txlog_versions(table_dir)
    parent = versions[-1]
    manifest = _read_manifest(table_dir, parent)
    files = manifest["files"]
    src = source.localCheckpoint(eager=False)
    keys = src.select(key).distinct()
    touched = _touched_files(spark, manifest, keys, key)
    hit = set(touched)
    untouched = [f for f in files if f not in hit]
    survivors = (
        _read_version(spark, manifest, touched).join(keys, key, "left_anti")
        if touched
        else None
    )
    out = (
        src
        if survivors is None
        else survivors.unionByName(src, allowMissingColumns=True)
    )  # schema evolution: a source with NEW columns widens the table
       # (survivors get nulls); a source missing columns inserts nulls
    new_version = parent + 1
    new_files = _write_data(out, table_dir, new_version)
    _commit(
        table_dir,
        new_version,
        {
            "version": new_version,
            "parent": parent,
            "op": "merge",
            "files": sorted(untouched + new_files),
            "schema": _version_schema(_schema_of(spark, manifest), out),
        },
    )
    return new_version


def txlog_delete(spark: SparkSession, table_dir: str, predicate: str) -> int:
    """COW delete: rewrite only files containing matching rows."""
    versions = txlog_versions(table_dir)
    parent = versions[-1]
    manifest = _read_manifest(table_dir, parent)
    files = manifest["files"]
    cur = _read_version(spark, manifest)
    hit = (
        cur.filter(predicate)
        .select(F.input_file_name().alias("_file"))
        .distinct()
        .collect()
    )
    entries = _manifest_entries(files, hit)
    touched = sorted(entries)
    untouched = [f for f in files if f not in entries]
    new_version = parent + 1
    new_files = (
        _write_data(
            _read_version(spark, manifest, touched).filter(f"NOT ({predicate})"),
            table_dir,
            new_version,
        )
        if touched
        else []
    )
    _commit(
        table_dir,
        new_version,
        {
            "version": new_version,
            "parent": parent,
            "op": "delete",
            "files": sorted(untouched + new_files),
            "schema": _schema_of(spark, manifest),
        },
    )
    return new_version


def txlog_compact(spark: SparkSession, table_dir: str, target_files: int = 4) -> int:
    """OPTIMIZE: rewrite the current version's data into
    ``target_files`` larger files and commit the rewrite as a new
    version — content-identical by construction (the commit is just a
    new manifest; readers pinned to older versions are untouched).
    The small-files problem is the streaming-ingest tax every format
    pays; this is the scheduled job that pays it back."""
    versions = txlog_versions(table_dir)
    parent = versions[-1]
    manifest = _read_manifest(table_dir, parent)
    cur = _read_version(spark, manifest)
    new_version = parent + 1
    new_files = _write_data(cur.coalesce(target_files), table_dir, new_version)
    _commit(
        table_dir,
        new_version,
        {
            "version": new_version,
            "parent": parent,
            "op": "compact",
            "files": new_files,
            "schema": _schema_of(spark, manifest),
        },
    )
    return new_version


def txlog_vacuum(table_dir: str, keep_versions: int = 2) -> dict:
    """GC: delete data files referenced ONLY by manifests older than
    the ``keep_versions`` most recent, then drop those manifests.
    Time travel keeps working within the retention window; storage
    stops growing without bound. Immutability makes this safe: a
    file still referenced by ANY kept manifest is never touched."""
    versions = txlog_versions(table_dir)
    keep = versions[-keep_versions:]
    drop = [v for v in versions if v not in keep]
    kept_files = set()
    for v in keep:
        kept_files.update(_read_manifest(table_dir, v)["files"])
    removed = []
    for v in drop:
        for f in _read_manifest(table_dir, v)["files"]:
            if f not in kept_files and os.path.exists(f):
                os.unlink(f)
                removed.append(f)
        os.unlink(_manifest_path(table_dir, v))
    return {"removed_files": sorted(removed), "dropped_versions": drop}


def txlog_collect_stats(
    spark: SparkSession, table_dir: str, key: str
) -> int:
    """Attach per-file (min, max) statistics on ``key`` to the
    CURRENT manifest, committed as a new version (op 'stats') — the
    data-skipping half of a table format (Delta file stats /
    HBase's region key-range metadata). One aggregate over
    input_file_name() computes every file's bounds in a single scan;
    thereafter `txlog_scan` prunes the file LIST on the driver
    before Spark ever opens a file."""
    versions = txlog_versions(table_dir)
    parent = versions[-1]
    manifest = _read_manifest(table_dir, parent)
    files = manifest["files"]
    rows = (
        _read_version(spark, manifest)
        .select(F.col(key), F.input_file_name().alias("_file"))
        .groupBy("_file")
        .agg(F.min(key).alias("lo"), F.max(key).alias("hi"))
        .collect()
    )  # one row per file — metadata-scale
    by_file = {
        f: [r["lo"], r["hi"]] for f, r in _manifest_entries(files, rows).items()
    }
    new_version = parent + 1
    _commit(
        table_dir,
        new_version,
        {
            "version": new_version,
            "parent": parent,
            "op": "stats",
            "files": files,
            "stats_key": key,
            "stats": {f: by_file.get(f) for f in files},
            "schema": _schema_of(spark, manifest),
        },
    )
    return new_version


def txlog_scan(
    spark: SparkSession,
    table_dir: str,
    key: str,
    lo,
    hi,
    version: int | None = None,
) -> tuple[DataFrame, dict]:
    """Range scan with manifest-level file skipping: files whose
    [min, max] on ``key`` cannot intersect [lo, hi) are dropped from
    the read BEFORE Spark opens anything — the same pruning a sorted
    HBase table gets from region key ranges, done on the driver from
    manifest stats. Falls back to all files when stats are absent.
    Returns (DataFrame, {files_total, files_read}) so callers — and
    tests — can see the skip rate. The residual filter still applies
    (stats prune files, not rows)."""
    versions = txlog_versions(table_dir)
    v = version if version is not None else versions[-1]
    manifest = _read_manifest(table_dir, v)
    files = manifest["files"]
    stats = manifest.get("stats") if manifest.get("stats_key") == key else None
    if stats:
        keep = [
            f
            for f in files
            if stats.get(f) is None or not (stats[f][1] < lo or stats[f][0] >= hi)
        ]
    else:
        keep = files
    df = (
        _read_version(spark, manifest, keep).filter(
            (F.col(key) >= lo) & (F.col(key) < hi)
        )
        if keep
        else _read_version(spark, manifest).filter(F.lit(False))
    )
    return df, {"files_total": len(files), "files_read": len(keep)}


def txlog_changes(
    spark: SparkSession,
    table_dir: str,
    v_from: int,
    v_to: int,
    key: str,
    preimages: bool = False,
) -> DataFrame:
    """CDC feed between two committed versions (Delta CDF semantics):
    one row per NET-changed key, tagged ``_change_type`` in
    {'insert', 'update_postimage', 'delete'} — inserts/updates carry
    the v_to image, deletes carry the v_from pre-image. With
    ``preimages=True`` every updated key emits a second
    'update_preimage' row carrying the v_from values (the full Delta
    CDF row set) — exactly what incremental aggregate maintenance
    needs: pre rows subtract, post rows add.

    The COW economics make this cheap: files carried BY REFERENCE
    between the two manifests are immutable and identical, so their
    rows cannot have changed — only rows in from-only files vs
    to-only files are compared (full outer join on the key, value
    columns null-safe-compared, identical rows dropped as rewrite
    noise). CDC cost scales with the CHANGED files, not the table:
    a 1 GB delta against a 100 TB table diffs ~the delta's files."""
    mf = _read_manifest(table_dir, v_from)
    mt = _read_manifest(table_dir, v_to)
    from_set, to_set = set(mf["files"]), set(mt["files"])
    from_only = [f for f in mf["files"] if f not in to_set]
    to_only = [f for f in mt["files"] if f not in from_set]

    def read_or_empty(files: list[str], manifest: dict) -> DataFrame:
        if files:
            return _read_version(spark, manifest, files)
        return _read_version(spark, manifest).filter(F.lit(False))

    old = read_or_empty(from_only, mf)
    new = read_or_empty(to_only, mt)
    # schema evolution: compare over the union of value columns
    # (missing columns read as null on the narrow side)
    for c in new.columns:
        if c not in old.columns:
            old = old.withColumn(c, F.lit(None).cast(new.schema[c].dataType))
    for c in old.columns:
        if c not in new.columns:
            new = new.withColumn(c, F.lit(None).cast(old.schema[c].dataType))
    val_cols = [c for c in new.columns if c != key]
    o = old.select(F.col(key).alias("_k"), *[F.col(c).alias(f"_o_{c}") for c in val_cols])
    n = new.select(F.col(key).alias("_n_k"), *val_cols)
    j = o.join(n, o["_k"] == n["_n_k"], "full_outer")
    same = F.lit(True)
    for c in val_cols:
        same = same & F.col(c).eqNullSafe(F.col(f"_o_{c}"))
    change = (
        F.when(F.col("_k").isNull(), F.lit("insert"))
        .when(F.col("_n_k").isNull(), F.lit("delete"))
        .when(~same, F.lit("update_postimage"))
    )
    out_cols = [
        F.coalesce(F.col("_n_k"), F.col("_k")).alias(key),
        *[
            F.when(F.col("_n_k").isNull(), F.col(f"_o_{c}"))
            .otherwise(F.col(c))
            .alias(c)
            for c in val_cols
        ],
    ]
    feed = (
        j.withColumn("_change_type", change)
        .filter(F.col("_change_type").isNotNull())
        .localCheckpoint(eager=False)
    )
    out = feed.select(*out_cols, "_change_type")
    if preimages:
        pre = feed.filter(F.col("_change_type") == "update_postimage").select(
            F.col("_k").alias(key),
            *[F.col(f"_o_{c}").alias(c) for c in val_cols],
            F.lit("update_preimage").alias("_change_type"),
        )
        out = out.unionByName(pre)
    return out
