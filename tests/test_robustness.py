"""Input robustness — the untrusted-ingest surface: malformed rows
must be quarantined (not crash the job, not silently vanish), and
schema evolution across parquet files must merge."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)


def test_malformed_json_rows_quarantined(spark, tmp_path):
    p = tmp_path / "raw.json"
    p.write_text(
        '{"id": 1, "name": "ok"}\n'
        "this is not json\n"
        '{"id": 2, "name": "also ok"}\n'
        '{"id": "notanint", "name": "bad type"}\n'
    )
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("name", StringType()),
            StructField("_corrupt_record", StringType()),
        ]
    )
    df = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(str(p))
    )
    df = df.cache()  # corrupt-record column requires materialization
    good = df.filter(F.col("_corrupt_record").isNull())
    bad = df.filter(F.col("_corrupt_record").isNotNull())
    assert good.count() == 2
    assert bad.count() == 2  # garbage line + type mismatch
    df.unpersist()


def test_parquet_schema_evolution_merges(spark, tmp_path):
    base = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], ["id", "name"]).write.parquet(f"{base}/v1")
    spark.createDataFrame([(2, "b", 9.5)], ["id", "name", "score"]).write.parquet(
        f"{base}/v2"
    )
    merged = spark.read.option("mergeSchema", "true").parquet(f"{base}/v1", f"{base}/v2")
    assert set(merged.columns) == {"id", "name", "score"}
    rows = {r.id: r.score for r in merged.collect()}
    assert rows[1] is None and rows[2] == 9.5


def test_load_table_normalizes_both_ts_encodings(spark, tmp_path):
    """The fixture generator has shipped events.ts as INT64
    TIMESTAMP(NANOS) (round 1) and TIMESTAMP(MICROS, adjusted=false)
    i.e. NTZ (round 2). load_table must yield TIMESTAMP_LTZ with
    identical values for both."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hbase_support_spark.io import _TABLE_CACHE, load_table

    base = datetime.datetime(2024, 3, 1, 12, 0, 0)
    vals = [base + datetime.timedelta(minutes=m) for m in range(3)]
    for unit in ("ns", "us"):
        d = str(tmp_path / unit)
        tbl = pa.table(
            {
                "event_id": pa.array([1, 2, 3], pa.int64()),
                "ts": pa.array(vals, pa.timestamp(unit)),
            }
        )
        import os

        os.makedirs(d)
        pq.write_table(tbl, f"{d}/events.parquet")
        df = load_table(spark, d, "events")
        assert dict(df.dtypes)["ts"] == "timestamp", unit
        got = sorted(r.ts for r in df.collect())
        assert got == vals, unit
    _TABLE_CACHE.clear()


def test_load_table_memo_is_per_session(spark, sf_dir):
    """A newSession() clone (a foreachBatch session, which may run
    with different confs) gets its own frame, bound to itself; each
    session's repeat load is a memo hit."""
    from hbase_support_spark.io import load_table

    mine = load_table(spark, sf_dir, "nation")
    other = spark.newSession()
    theirs = load_table(other, sf_dir, "nation")
    assert theirs is not mine
    assert mine.sparkSession is spark
    assert theirs.sparkSession is other
    assert load_table(other, sf_dir, "nation") is theirs
    assert load_table(spark, sf_dir, "nation") is mine


def test_parity_sweep_survives_a_missing_fixture(spark, sf_dir, tmp_path, capsys):
    """With one fixture table missing, the parity sweep still prints a
    PASS/FAIL line per query: only the queries that read the missing
    table fail."""
    import os
    import sys

    from hbase_support_spark.io import TABLES

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from run_parity import sweep

    dst = tmp_path / "sf_no_customer"
    dst.mkdir()
    for t in TABLES:
        if t != "customer":
            os.symlink(f"{sf_dir}/{t}.parquet", dst / f"{t}.parquet")
    failed = sweep(spark, str(dst), ["point_get", "scan_reverse"])
    out = capsys.readouterr().out
    assert failed == ["point_get"]
    assert "FAIL point_get" in out and "PASS scan_reverse" in out


def test_queries_survive_empty_fixtures(spark, sf_dir, tmp_path):
    """One representative per operator family runs against zero-row
    fixtures without crashing (empty partitions, array_min of
    nothing, 0/0 cases). An early full-registry empty sweep, when the
    registry held 182 queries, found one crash (index schema
    inference — fixed in sources/indexes.py); this subset keeps the
    property pinned cheaply until ROADMAP §3 sweeps the whole
    registry."""
    from hbase_support_spark import QUERIES, load_all
    from hbase_support_spark.io import TABLES, load_table

    load_all()
    dst = str(tmp_path / "empty_sf")
    for t in TABLES:
        load_table(spark, sf_dir, t).limit(0).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{dst}/{t}.parquet")
    reps = [
        "scan_range", "filter_list_and_or", "latest_version", "join_multiway_star",
        "agg_sum_min_max_avg", "win_running_sum_rows", "topk_per_group",
        "fn_string", "dedup_exact", "sim_knn_query", "text_quality_logit",
        "stream_session_30m", "udaf_centroid_per_label", "tpch_q21_waiting_supplier",
        "pipeline_train_ready", "index_point_lookup", "snapshot_point_in_time",
        # round-3 additions (full empty sweep re-run clean over them)
        "as_of_join_nearest", "dedup_substring_spans", "join_bucketed_colocated",
        "join_er_fuzzy_string", "events_rfm_segmentation",
        "graph_pagerank_bipartite", "basket_copurchase_lift",
        # late round-3 additions (all 21 re-swept clean over empties)
        "pipeline_chunk_sliding", "events_attribution_linear",
        "agg_quantile_exact_global", "graph_triangle_count",
        "events_feature_pit_join", "pipeline_dataset_card",
        "events_kstest_arms", "win_max_drawdown",
        "merge_into_txlog", "agg_bootstrap_ci_mean",
        # once crashed on empties: (0, -1) reshape, missing count row
        "sim_centroid_classify", "embedding_pca_power_top1",
        # once crashed on empties: a partitioned write of zero rows
        # leaves no part files, and the read back inferred its schema
        "ann_index_append", "ann_index_delete", "ann_index_compact",
        "sim_knn_ivf_persisted", "index_incremental_lookup",
        "sink_partitioned_parquet", "sink_partition_pruning_audit",
        "bulk_delete_predicate",
    ]
    for name in reps:
        QUERIES[name](spark, dst).write.format("noop").mode("overwrite").save()
