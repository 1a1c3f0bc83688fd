"""Input robustness — the untrusted-ingest surface: malformed rows
must be quarantined (not crash the job, not silently vanish), schema
evolution across parquet files must merge, and no registered query may
crash on zero-row or thin fixtures."""

from __future__ import annotations

import pytest
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

    from hbase_support_spark.io import TABLES
    from tools.drill import sweep

    dst = tmp_path / "sf_no_customer"
    dst.mkdir()
    for t in TABLES:
        if t != "customer":
            os.symlink(f"{sf_dir}/{t}.parquet", dst / f"{t}.parquet")
    failed = sweep(spark, str(dst), ["point_get", "scan_reverse"])
    out = capsys.readouterr().out
    assert failed == ["point_get"]
    assert "FAIL point_get" in out and "PASS scan_reverse" in out


def test_drill_copies_of_two_sources_do_not_collide():
    """Each drill copy is named after its axis and its source SF, so a
    sf0.01 run never sweeps a copy built from sf0.001."""
    from tools.drill import target

    a = target("regen", "/data/sf0.001")
    b = target("regen", "/data/sf0.01/")
    assert a != b
    assert a.endswith("regen_sf0.001") and b.endswith("regen_sf0.01")
    assert target("thin", "/data/sf0.01") != b


# Parity mismatches the full registry shows on the test fixture's
# drilled copy; none of them is an exception (open: ROADMAP §0).
_DIVERGENT = {
    "empty": {
        # DuckDB emits the grand-total row over empty input; Spark none
        "agg_rollup",
        "agg_cube",
        "agg_grouping_sets",
        # one engine gives NULL where the other gives 0
        "agg_hll_sketch_mergeable",
        "agg_gini_concentration",
        "sink_partition_pruning_audit",
        # 0 rows against the oracle's 2
        "source_parquet_schema_merge",
    },
    "thin": set(),
}


@pytest.mark.parametrize("axis", sorted(_DIVERGENT))
def test_queries_survive_empty_fixtures(spark, sf_dir, tmp_path, capsys, axis):
    """Every registered query runs on the zero-row (``empty``) and the
    2%-thin (``thin``) copy of the fixtures without raising, and
    matches its oracle except for the pinned divergences."""
    from tools.drill import build, sweep

    dst = str(tmp_path / axis)
    build(spark, axis, sf_dir, dst)
    failed = sweep(spark, dst, [])
    out = capsys.readouterr().out
    raised = [ln for ln in out.splitlines() if ln.startswith("FAIL") and "EXCEPTION:" in ln]
    assert not raised
    assert set(failed) == _DIVERGENT[axis]
