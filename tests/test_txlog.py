"""Transaction-log table format: versioned manifests, file-level
copy-on-write, time travel, optimistic concurrency."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hbase_support_spark.io import load_table
from hbase_support_spark.plans.explain import jobs_during
from hbase_support_spark.sources.txlog import (
    ConcurrentWriteError,
    txlog_delete,
    txlog_history,
    txlog_init,
    txlog_merge,
    txlog_read,
    txlog_versions,
)


@pytest.fixture()
def table(spark, sf_dir, tmp_path):
    d = str(tmp_path / "tx_orders")
    # multiple files so COW file-pruning is observable
    orders = load_table(spark, sf_dir, "orders").repartitionByRange(
        8, "o_orderkey"
    )
    txlog_init(orders, d)
    return d


def test_init_read_roundtrip(spark, sf_dir, table):
    n = load_table(spark, sf_dir, "orders").count()
    assert txlog_read(spark, table).count() == n
    assert txlog_versions(table) == [1]


def test_merge_updates_inserts_and_time_travel(spark, sf_dir, table):
    orders = load_table(spark, sf_dir, "orders")
    n = orders.count()
    v1_rows = sorted(txlog_read(spark, table).collect())  # memoizes v1
    delta = orders.filter(F.col("o_orderkey") % 10 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") + 1000.0
    )
    inserts = orders.limit(5).withColumn(
        "o_orderkey", F.col("o_orderkey") + 90_000_000
    )
    v2 = txlog_merge(spark, table, delta.unionByName(inserts), "o_orderkey")
    assert v2 == 2
    cur = txlog_read(spark, table)
    assert cur.count() == n + 5
    # updated rows carry the new price
    up = cur.filter((F.col("o_orderkey") % 10 == 0) & (F.col("o_orderkey") < 90_000_000))
    base = orders.filter(F.col("o_orderkey") % 10 == 0)
    assert up.agg(F.sum("o_totalprice")).collect()[0][0] == pytest.approx(
        base.agg(F.sum("o_totalprice")).collect()[0][0] + 1000.0 * base.count(), rel=1e-9
    )
    # time travel: v1 unchanged
    v1 = txlog_read(spark, table, version=1)
    assert v1.count() == n
    assert v1.agg(F.sum("o_totalprice")).collect()[0][0] == pytest.approx(
        orders.agg(F.sum("o_totalprice")).collect()[0][0], rel=1e-9
    )
    # the commit is a new file list: it never hits v1's memo entry,
    # and the v1 pin still returns exactly the pre-merge rows
    assert sorted(v1.collect()) == v1_rows


def test_merge_is_file_level_cow(spark, sf_dir, table):
    from hbase_support_spark.sources.txlog import _read_manifest

    orders = load_table(spark, sf_dir, "orders")
    # touch only the lowest key range -> most of the 8 files untouched
    lo = orders.orderBy("o_orderkey").limit(3).withColumn(
        "o_totalprice", F.lit(1.0)
    )
    txlog_merge(spark, table, lo, "o_orderkey")
    f1 = set(_read_manifest(table, 1)["files"])
    f2 = set(_read_manifest(table, 2)["files"])
    carried = f1 & f2
    assert len(carried) >= len(f1) - 2  # at most the touched file(s) rewritten
    assert f2 - f1  # plus new files


def test_delete_cow_and_history(spark, sf_dir, table):
    n = txlog_read(spark, table).count()
    gone = txlog_read(spark, table).filter("o_orderkey % 7 = 0").count()
    v2 = txlog_delete(spark, table, "o_orderkey % 7 = 0")
    assert v2 == 2
    assert txlog_read(spark, table).count() == n - gone
    assert txlog_read(spark, table).filter("o_orderkey % 7 = 0").count() == 0
    hist = txlog_history(table)
    assert [h["op"] for h in hist] == ["init", "delete"]
    assert all(h["n_files"] > 0 for h in hist)


def test_concurrent_commit_conflict(spark, sf_dir, table):
    """Writer A computes against parent v1; writer B lands v2 first;
    A's commit of v2 must fail atomically (and leave no temp junk)."""
    import json
    import os

    from hbase_support_spark.sources.txlog import _commit, _manifest_path, _read_manifest

    # writer B lands v2 first (valid manifest re-referencing v1 files)
    with open(_manifest_path(table, 2), "w") as f:
        json.dump(
            {"version": 2, "parent": 1, "op": "merge",
             "files": _read_manifest(table, 1)["files"]}, f,
        )
    with pytest.raises(ConcurrentWriteError):
        _commit(table, 2, {"version": 2, "parent": 1, "op": "merge", "files": []})
    # loser left no temp files; winner's manifest intact
    logdir = os.path.dirname(_manifest_path(table, 2))
    assert not [f for f in os.listdir(logdir) if ".tmp-" in f]
    assert _read_manifest(table, 2)["op"] == "merge"
    # and a merge retried from a FRESH read commits cleanly as v3
    delta = load_table(spark, sf_dir, "orders").limit(1)
    assert txlog_merge(spark, table, delta, "o_orderkey") == 3


def test_compact_is_content_identical_and_versioned(spark, sf_dir, table):
    from hbase_support_spark.sources.txlog import _read_manifest, txlog_compact

    before = txlog_read(spark, table)
    n, tot = before.count(), before.agg(F.sum("o_totalprice")).collect()[0][0]
    v2 = txlog_compact(spark, table, target_files=2)
    assert v2 == 2
    after = txlog_read(spark, table)
    assert after.count() == n
    assert after.agg(F.sum("o_totalprice")).collect()[0][0] == pytest.approx(tot, rel=1e-12)
    assert len(_read_manifest(table, 2)["files"]) <= 2
    assert txlog_read(spark, table, version=1).count() == n  # old pin intact


def test_vacuum_keeps_recent_drops_old(spark, sf_dir, table):
    import os

    from hbase_support_spark.sources.txlog import (
        _read_manifest,
        txlog_compact,
        txlog_vacuum,
    )

    txlog_compact(spark, table, target_files=2)   # v2 (new files)
    txlog_delete(spark, table, "o_orderkey % 2 = 0")  # v3
    v1_files = _read_manifest(table, 1)["files"]
    n_now = txlog_read(spark, table).count()
    n_v2 = txlog_read(spark, table, version=2).count()  # memoized pre-vacuum
    out = txlog_vacuum(table, keep_versions=2)
    assert out["dropped_versions"] == [1]
    # v1's files were unreferenced by v2/v3 (compact rewrote them) -> gone
    assert all(not os.path.exists(f) for f in v1_files)
    assert txlog_versions(table) == [2, 3]
    assert txlog_read(spark, table).count() == n_now  # latest unaffected
    # kept pin readable: its memo entry lists only files vacuum kept
    assert txlog_read(spark, table, version=2).count() == n_v2
    with pytest.raises(FileNotFoundError):  # dropped pin is gone
        txlog_read(spark, table, version=1)


def test_stats_commit_and_file_skipping_scan(spark, sf_dir, table):
    from hbase_support_spark.sources.txlog import (
        txlog_collect_stats,
        txlog_scan,
    )

    v2 = txlog_collect_stats(spark, table, "o_orderkey")
    assert v2 == 2
    full = txlog_read(spark, table)
    lo_key = full.agg(F.min("o_orderkey")).collect()[0][0]
    hi = lo_key + 50
    df, meta = txlog_scan(spark, table, "o_orderkey", lo_key, hi)
    # the 8 range-partitioned files mean a narrow range hits few files
    assert meta["files_total"] == 8
    assert meta["files_read"] < meta["files_total"]
    want = full.filter(
        (F.col("o_orderkey") >= lo_key) & (F.col("o_orderkey") < hi)
    ).count()
    assert df.count() == want
    # stats survive pinning: the un-statsed v1 still scans everything
    df1, meta1 = txlog_scan(spark, table, "o_orderkey", lo_key, hi, version=1)
    assert meta1["files_read"] == meta1["files_total"]
    assert df1.count() == want


def test_merge_schema_evolution_widens_table(spark, sf_dir, table):
    """A merge whose source carries a NEW column widens the table:
    old rows read as null, the pinned v1 is untouched, and a later
    plain merge keeps the widened schema."""
    orders = load_table(spark, sf_dir, "orders")
    delta = (
        orders.limit(4)
        .select("o_orderkey", "o_totalprice")
        .withColumn("discount", F.lit(0.15))
    )
    # project table columns + new one (source defines the widening)
    src = delta.join(
        orders.drop("o_totalprice"), "o_orderkey"
    ).select(*orders.columns, "discount")
    txlog_merge(spark, table, src, "o_orderkey")
    cur = txlog_read(spark, table)
    assert "discount" in cur.columns
    assert cur.filter(F.col("discount").isNotNull()).count() == 4
    assert cur.count() == orders.count()
    assert "discount" not in txlog_read(spark, table, version=1).columns
    # plain (un-widened) merge afterwards still works
    more = orders.limit(1).withColumn(
        "o_orderkey", F.lit(77_000_000).cast("long")
    )
    txlog_merge(spark, table, more, "o_orderkey")
    final = txlog_read(spark, table)
    assert final.count() == orders.count() + 1
    assert "discount" in final.columns


def test_mixed_schema_write_paths_keep_widened_values(spark, sf_dir, table):
    """Regression (ADVICE r03): after a schema-widening merge leaves a
    MIX of pre- and post-widening data files, every internal write-path
    read (merge survivors, delete rewrite, compact) must mergeSchema —
    a plain read takes an arbitrary file's schema and silently drops
    the widened column's VALUES while still claiming success."""
    from hbase_support_spark.sources.txlog import txlog_compact

    orders = load_table(spark, sf_dir, "orders")
    # widen via 4 updated keys carrying a new column
    some = [r[0] for r in orders.select("o_orderkey").limit(4).collect()]
    src = (
        orders.filter(F.col("o_orderkey").isin(some))
        .withColumn("discount", F.lit(0.15))
    )
    txlog_merge(spark, table, src, "o_orderkey")
    widened = txlog_read(spark, table)
    assert widened.filter(F.col("discount").isNotNull()).count() == 4

    # compact rewrites the FULL mixed-schema file list — values must survive
    txlog_compact(spark, table, target_files=2)
    after_compact = txlog_read(spark, table)
    assert after_compact.filter(F.col("discount").isNotNull()).count() == 4
    assert after_compact.count() == orders.count()

    # delete touching an old-schema file must not strip the column either
    victim = [
        r[0]
        for r in orders.filter(~F.col("o_orderkey").isin(some))
        .select("o_orderkey")
        .limit(1)
        .collect()
    ][0]
    txlog_delete(spark, table, f"o_orderkey = {victim}")
    after_delete = txlog_read(spark, table)
    assert after_delete.filter(F.col("discount").isNotNull()).count() == 4
    assert after_delete.count() == orders.count() - 1

    # a second merge whose touched set mixes schemas keeps values too
    more = (
        orders.filter(F.col("o_orderkey").isin(some[:2]))
        .withColumn("o_totalprice", F.col("o_totalprice") + 1.0)
    )
    txlog_merge(spark, table, more, "o_orderkey")
    final = txlog_read(spark, table)
    # the 2 re-merged keys came from a source WITHOUT discount (null),
    # the other 2 widened keys must still carry 0.15
    assert final.filter(F.col("discount").isNotNull()).count() == 2
    assert final.count() == orders.count() - 1


def test_txlog_changes_net_diff_and_file_pruning(spark, sf_dir, table):
    """CDC (txlog_changes): net v1->vN diff must match a recomputed
    reference — update-then-delete nets to 'delete' with the v1
    pre-image — and the feed must be built from ONLY the files that
    differ between the manifests (carried files never read)."""
    from hbase_support_spark.sources.txlog import (
        _read_manifest,
        txlog_changes,
        txlog_delete,
        txlog_merge,
    )

    orders = load_table(spark, sf_dir, "orders")
    # FILE-LOCAL history: updates and deletes confined to the lowest
    # rowkey range so most of the 8 range files are carried untouched
    cut = [
        r[0]
        for r in orders.select("o_orderkey")
        .orderBy("o_orderkey")
        .limit(40)
        .collect()
    ]
    upd_keys, del_keys = cut[:20], cut[20:]
    delta = orders.filter(F.col("o_orderkey").isin(upd_keys)).withColumn(
        "o_totalprice", F.round(F.col("o_totalprice") + 1000.0, 2)
    )
    txlog_merge(spark, table, delta, "o_orderkey")
    txlog_delete(
        spark, table, f"o_orderkey IN ({','.join(str(k) for k in del_keys)})"
    )

    feed = txlog_changes(spark, table, 1, 3, "o_orderkey")
    by_type = {
        r["_change_type"]: r["n"]
        for r in feed.groupBy("_change_type").agg(F.count("*").alias("n")).collect()
    }
    assert by_type.get("delete", 0) == len(del_keys)
    assert by_type.get("update_postimage", 0) == len(upd_keys)
    assert "insert" not in by_type  # pure update+delete history

    # deletes carry the v1 PRE-image
    k = del_keys[0]
    v1_price = orders.filter(F.col("o_orderkey") == k).collect()[0]["o_totalprice"]
    got = feed.filter(F.col("o_orderkey") == k).collect()[0]
    assert got["_change_type"] == "delete"
    assert got["o_totalprice"] == v1_price

    # file-level pruning: some v1 files are carried into v3 untouched
    f1 = set(_read_manifest(table, 1)["files"])
    f3 = set(_read_manifest(table, 3)["files"])
    assert f1 & f3, "no carried files — the COW economics are broken"


def test_txlog_changes_sees_widened_column(spark, sf_dir, table):
    """CDC across a schema-widening merge reports the new column —
    updates carry it, and value comparison spans the union schema."""
    from hbase_support_spark.sources.txlog import txlog_changes, txlog_merge

    orders = load_table(spark, sf_dir, "orders")
    some = [r[0] for r in orders.select("o_orderkey").limit(3).collect()]
    src = orders.filter(F.col("o_orderkey").isin(some)).withColumn(
        "discount", F.lit(0.15)
    )
    txlog_merge(spark, table, src, "o_orderkey")
    feed = txlog_changes(spark, table, 1, 2, "o_orderkey")
    assert "discount" in feed.columns
    upd = feed.filter(F.col("_change_type") == "update_postimage")
    assert upd.count() == 3
    assert upd.filter(F.col("discount") == 0.15).count() == 3


def test_txlog_changes_preimages_carry_v1_values(spark, sf_dir, table):
    """preimages=True: every updated key emits BOTH Delta-CDF rows —
    update_preimage with the v_from values and update_postimage with
    the v_to values — so aggregate maintenance can subtract/add."""
    from hbase_support_spark.sources.txlog import txlog_changes, txlog_merge

    orders = load_table(spark, sf_dir, "orders")
    some = [r[0] for r in orders.select("o_orderkey").limit(5).collect()]
    delta = orders.filter(F.col("o_orderkey").isin(some)).withColumn(
        "o_totalprice", F.round(F.col("o_totalprice") + 1000.0, 2)
    )
    txlog_merge(spark, table, delta, "o_orderkey")
    feed = txlog_changes(spark, table, 1, 2, "o_orderkey", preimages=True)
    pre = {
        r["o_orderkey"]: r["o_totalprice"]
        for r in feed.filter(F.col("_change_type") == "update_preimage").collect()
    }
    post = {
        r["o_orderkey"]: r["o_totalprice"]
        for r in feed.filter(F.col("_change_type") == "update_postimage").collect()
    }
    want = {
        r["o_orderkey"]: r["o_totalprice"]
        for r in orders.filter(F.col("o_orderkey").isin(some)).collect()
    }
    assert set(pre) == set(post) == set(want)
    for k in want:
        assert pre[k] == want[k]
        assert post[k] == round(want[k] + 1000.0, 2)


def test_repeat_read_of_a_version_starts_no_job(spark, table):
    """A version whose manifest carries its schema resolves without a
    Spark job, even on its first read; a second read of the same
    version is a memo hit, returns the same DataFrame, and starts no
    job either."""
    first, jobs_first = jobs_during(
        spark, "txlog-memo-first", lambda: txlog_read(spark, table)
    )
    second, jobs_second = jobs_during(
        spark, "txlog-memo-second", lambda: txlog_read(spark, table, version=1)
    )
    assert jobs_first == 0
    assert jobs_second == 0
    assert second is first
    assert sorted(second.collect()) == sorted(first.collect())


def test_memo_is_bounded_lru(spark, table):
    from hbase_support_spark.sources.txlog import (
        _READ_MEMO_SIZE,
        _read_manifest,
        _read_version,
        _resolve,
    )

    manifest = _read_manifest(table, 1)
    files = manifest["files"]
    lists = [files[i : i + w] for w in (1, 2, 3) for i in range(len(files) - w + 1)]
    assert len(lists) > _READ_MEMO_SIZE
    for fl in lists:
        _read_version(spark, manifest, fl)
        assert _resolve.cache_info().currsize <= _READ_MEMO_SIZE
    assert _resolve.cache_info().currsize == _READ_MEMO_SIZE
    before = _resolve.cache_info()
    _read_version(spark, manifest, lists[-1])
    after_newest = _resolve.cache_info()
    _read_version(spark, manifest, lists[0])
    after_oldest = _resolve.cache_info()
    # the newest is still memoized; the oldest was evicted, resolved again
    assert (after_newest.hits, after_newest.misses) == (before.hits + 1, before.misses)
    assert (after_oldest.hits, after_oldest.misses) == (
        after_newest.hits,
        after_newest.misses + 1,
    )


def test_memo_is_per_session(spark, table):
    """A relation resolved in one session is never handed to another
    (a foreachBatch clone session runs with different confs)."""
    mine = txlog_read(spark, table)
    other = spark.newSession()
    theirs = txlog_read(other, table)
    assert mine.sparkSession is spark
    assert theirs.sparkSession is other
    assert theirs.count() == mine.count()


def test_changes_between_versions_sharing_a_file_list(spark, table):
    """A stats commit keeps its parent's file list, so both sides of
    the CDC diff come from ONE memoized relation; the self-join must
    still resolve and report no change."""
    from hbase_support_spark.sources.txlog import txlog_changes, txlog_collect_stats

    txlog_collect_stats(spark, table, "o_orderkey")
    assert txlog_changes(spark, table, 1, 2, "o_orderkey").count() == 0
    assert txlog_changes(
        spark, table, 1, 2, "o_orderkey", preimages=True
    ).count() == 0


def test_file_matching_survives_uri_escaped_table_paths(spark, tmp_path):
    """input_file_name() percent-encodes the path (a space reads %20):
    MERGE, DELETE and stats must still find the files they touch in a
    table dir whose name needs escaping, or a merge duplicates keys
    and a delete silently keeps rows."""
    from hbase_support_spark.sources.txlog import (
        _read_manifest,
        txlog_collect_stats,
    )

    d = str(tmp_path / "odd dir%20name" / "t")
    base = spark.range(100).withColumnRenamed("id", "k")
    txlog_init(base.repartitionByRange(4, "k"), d)
    txlog_merge(spark, d, spark.range(5).withColumnRenamed("id", "k"), "k")
    cur = txlog_read(spark, d)
    assert cur.count() == cur.select("k").distinct().count() == 100
    txlog_delete(spark, d, "k < 10")
    assert txlog_read(spark, d).count() == 90
    v = txlog_collect_stats(spark, d, "k")
    assert all(b is not None for b in _read_manifest(d, v)["stats"].values())


def _strip_schemas(table_dir):
    """Rewrite every manifest of ``table_dir`` without its "schema"
    entry — the manifests this format wrote before it had one (the
    keys of tests/fixtures/txlog_pre_schema's)."""
    import json

    from hbase_support_spark.sources.txlog import _manifest_path

    for v in txlog_versions(table_dir):
        with open(_manifest_path(table_dir, v)) as f:
            m = json.load(f)
        m.pop("schema")
        assert set(m) == _PRE_SCHEMA_KEYS
        with open(_manifest_path(table_dir, v), "w") as f:
            json.dump(m, f)


def _merge_read(spark, files):
    return spark.read.option("mergeSchema", "true").parquet(*files)


def test_first_read_after_merge_and_compact_starts_no_job(spark, sf_dir, table):
    """Every commit records its version's schema, so the first read of
    the version a merge or a compact just committed starts no job."""
    from hbase_support_spark.sources.txlog import _read_manifest, txlog_compact

    orders = load_table(spark, sf_dir, "orders")
    txlog_merge(spark, table, orders.limit(3), "o_orderkey")
    _, after_merge = jobs_during(
        spark, "txlog-after-merge", lambda: txlog_read(spark, table)
    )
    v = txlog_compact(spark, table, target_files=2)
    _, after_compact = jobs_during(
        spark, "txlog-after-compact", lambda: txlog_read(spark, table)
    )
    assert after_merge == 0
    assert after_compact == 0
    assert _read_manifest(table, v)["schema"] == _read_manifest(table, 1)["schema"]
    assert txlog_read(spark, table).count() == orders.count()


def _pre_schema_table(tmp_path):
    """A copy of tests/fixtures/txlog_pre_schema — a table the txlog
    wrote before manifests carried a schema — with its manifests'
    ``@TABLE_DIR@`` path prefix pointed at the copy."""
    import shutil
    from pathlib import Path

    src = Path(__file__).parent / "fixtures" / "txlog_pre_schema"
    d = tmp_path / "pre_schema"
    shutil.copytree(src, d, ignore=shutil.ignore_patterns("README.md"))
    for m in (d / "_txlog").glob("*.json"):
        m.write_text(m.read_text().replace("@TABLE_DIR@", str(d)))
    return str(d)


_PRE_SCHEMA_KEYS = {"version", "parent", "op", "files"}


def test_pre_schema_table_reads_through_merge_schema(spark, tmp_path):
    """A table whose manifests carry no "schema" entry still reads,
    through mergeSchema's footer-scan job: v2 mixes a v1 file without
    the merge's new column ``w`` and files with it, and reads with
    ``w`` null for the old rows; time travel to v1 has no ``w``. The
    next commit records a schema, and the read after it starts no
    job."""
    from hbase_support_spark.sources.txlog import _nullable, _read_manifest

    d = _pre_schema_table(tmp_path)
    assert all(set(_read_manifest(d, v)) == _PRE_SCHEMA_KEYS for v in (1, 2))
    cur, jobs = jobs_during(spark, "txlog-legacy-read", lambda: txlog_read(spark, d))
    assert jobs >= 1
    assert cur.schema.simpleString() == "struct<k:bigint,v:string,w:double>"
    want = [(k, f"v{k}", None) for k in range(8)] + [(10, "n10", 1.5)]
    want[1] = (1, "u1", 0.5)
    assert sorted(tuple(r) for r in cur.collect()) == want
    assert txlog_read(spark, d, version=1).columns == ["k", "v"]
    src = spark.createDataFrame([(2, "u2", 2.5)], "k bigint, v string, w double")
    v = txlog_merge(spark, d, src, "k")
    assert _read_manifest(d, v)["schema"] == _nullable(cur.schema.jsonValue())
    after, jobs = jobs_during(spark, "txlog-legacy-next", lambda: txlog_read(spark, d))
    assert jobs == 0
    assert after.schema == cur.schema
    want[2] = (2, "u2", 2.5)
    assert sorted(tuple(r) for r in after.collect()) == want


def test_small_source_merge_starts_no_footer_job(spark, sf_dir, table, tmp_path):
    """A small-source merge reads its touched files with the manifest's
    schema: it runs at least one job fewer (the mergeSchema footer
    scan of the touched files) than the same merge on a table whose
    manifests carry no schema, with both versions already read."""
    from hbase_support_spark.sources.txlog import _read_manifest

    legacy = str(tmp_path / "tx_orders_legacy")
    orders = load_table(spark, sf_dir, "orders")
    txlog_init(orders.repartitionByRange(8, "o_orderkey"), legacy)
    _strip_schemas(legacy)
    src = orders.orderBy("o_orderkey").limit(3).withColumn("o_totalprice", F.lit(1.0))
    jobs = {}
    for name, d in (("schema", table), ("legacy", legacy)):
        txlog_read(spark, d).count()  # memoize the parent version
        _, jobs[name] = jobs_during(
            spark,
            f"txlog-merge-{name}",
            lambda d=d: txlog_merge(spark, d, src, "o_orderkey"),
        )
    assert jobs["schema"] <= jobs["legacy"] - 1, jobs
    # the legacy table's commit records a schema: the next read is free
    assert "schema" in _read_manifest(legacy, 2)
    assert sorted(txlog_read(spark, legacy).collect()) == sorted(
        txlog_read(spark, table).collect()
    )


def test_read_schema_matches_merge_schema_after_widening(spark, sf_dir, table):
    """After a widening merge the manifest schema reads exactly as
    mergeSchema would: same columns, order, types and nullability,
    and nulls in the new column for rows of the old files."""
    from hbase_support_spark.sources.txlog import _read_manifest

    orders = load_table(spark, sf_dir, "orders")
    some = [r[0] for r in orders.select("o_orderkey").limit(4).collect()]
    src = orders.filter(F.col("o_orderkey").isin(some)).select(
        F.lit(0.15).alias("discount"), *orders.columns
    )  # the new column first: the version keeps the table's order
    txlog_merge(spark, table, src, "o_orderkey")
    cur = txlog_read(spark, table)
    want = _merge_read(spark, _read_manifest(table, 2)["files"])
    assert cur.schema == want.schema
    assert cur.columns == orders.columns + ["discount"]
    assert cur.filter(F.col("discount").isNull()).count() == orders.count() - 4
    assert sorted(cur.collect()) == sorted(want.collect())


def test_read_schema_matches_merge_schema_for_nested_types(spark, tmp_path):
    """Arrays, maps, structs, decimals and timestamps read with the
    manifest schema exactly as with mergeSchema — nullability
    included — also after a merge widens a nested struct."""
    from hbase_support_spark.sources.txlog import _read_manifest

    d = str(tmp_path / "nested")
    base = spark.sql(
        """SELECT id AS k, array(id, id + 1) AS arr,
                  map('w', CAST(id AS DOUBLE)) AS m,
                  named_struct('x', id, 'tags', array(named_struct('t', 'a'))) AS s,
                  CAST(id / 7 AS DECIMAL(12, 3)) AS dec,
                  TIMESTAMP '2024-01-02 03:04:05' + make_interval(0, 0, 0, 0, 0, id) AS ts
           FROM range(20)"""
    )
    txlog_init(base.repartition(3), d)
    cur = txlog_read(spark, d)
    assert cur.schema == _merge_read(spark, _read_manifest(d, 1)["files"]).schema
    src = base.filter("k < 2").withColumn(
        "s", F.struct(F.col("s.x"), F.col("s.tags"), F.lit("new").alias("y"))
    )
    txlog_merge(spark, d, src, "k")
    cur = txlog_read(spark, d)
    want = _merge_read(spark, _read_manifest(d, 2)["files"])
    assert cur.schema == want.schema
    assert cur.schema["s"].dataType.fieldNames() == ["x", "tags", "y"]
    assert sorted(cur.collect()) == sorted(want.collect())


def test_zero_row_commit_reads_back_empty(spark, tmp_path):
    """A commit of zero rows reads back as an empty frame of its
    schema, with no job to resolve it."""
    d = str(tmp_path / "empty")
    empty = spark.range(0).select(F.col("id").alias("k"), F.lit("v").alias("v"))
    txlog_init(empty, d)
    got, jobs = jobs_during(spark, "txlog-empty-read", lambda: txlog_read(spark, d))
    assert jobs == 0
    assert got.columns == ["k", "v"]
    assert [f.dataType.simpleString() for f in got.schema] == ["bigint", "string"]
    assert got.count() == 0
    txlog_merge(spark, d, empty, "k")
    assert txlog_read(spark, d).count() == 0
    assert txlog_read(spark, d).schema == got.schema
