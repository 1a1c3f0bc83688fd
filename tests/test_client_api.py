"""Client-facade equivalence: every api.py verb returns exactly what
the corresponding graded kernel returns — the facade cannot drift
from the graded semantics."""

from __future__ import annotations

from pyspark.sql import functions as F

from hbase_support_spark import registry
from hbase_support_spark.api import CellLog, Table


def rows(df, *order):
    return [tuple(r) for r in df.orderBy(*order).collect()]


def test_get_matches_point_get(spark, sf_dir):
    t = Table.open(spark, sf_dir, "customer", key="c_custkey")
    got = t.get(42)
    want = registry.QUERIES["point_get"](spark, sf_dir)
    assert rows(got.select(*want.columns), "c_custkey") == rows(want, "c_custkey")


def test_multi_get_matches_kernel(spark, sf_dir):
    t = Table.open(spark, sf_dir, "customer", key="c_custkey")
    keys = [1, 7, 42, 99]
    got = t.multi_get(keys)
    want = t.df.filter(F.col("c_custkey").isin(keys))
    assert rows(got, "c_custkey") == rows(want, "c_custkey")


def test_multi_get_edge_key_lists(spark, sf_dir):
    """An empty key list returns nothing; duplicate keys return their
    row once; a null key matches nothing; a 5,000-key list returns
    exactly its present keys."""
    t = Table.open(spark, sf_dir, "customer", key="c_custkey")
    assert t.multi_get([]).count() == 0
    assert rows(t.multi_get([7, 7, 42, 7]), "c_custkey") == rows(
        t.df.filter(F.col("c_custkey").isin([7, 42])), "c_custkey"
    )
    assert rows(t.multi_get([None, 42]), "c_custkey") == rows(
        t.df.filter(F.col("c_custkey") == 42), "c_custkey"
    )
    many = list(range(-2_500, 2_500))
    assert t.multi_get(many).count() == t.df.filter(
        F.col("c_custkey").between(-2_500, 2_499)
    ).count()


def test_multi_get_casts_keys_to_the_key_type(spark, sf_dir):
    """Keys are cast to the key column's type: a numeric string or an
    integral float finds its bigint row; a key the cast would truncate
    is refused rather than silently rounded."""
    import pyarrow as pa
    import pytest

    t = Table.open(spark, sf_dir, "customer", key="c_custkey")
    want = rows(t.df.filter(F.col("c_custkey").isin([7, 42])), "c_custkey")
    assert rows(t.multi_get(["42", "7"]), "c_custkey") == want
    assert rows(t.multi_get([42.0, 7.0]), "c_custkey") == want
    with pytest.raises(pa.ArrowInvalid):
        t.multi_get([1.5])


def test_multi_get_probe_is_a_local_relation(spark, sf_dir):
    """The key probe plans as LocalTableScan and is broadcast: no
    Python-RDD scan, so no Python worker runs for it. The graded
    kernel builds its probe the same way. The facade's hint keeps the
    broadcast when the session turns size-based broadcasting off."""
    t = Table.open(spark, sf_dir, "customer", key="c_custkey")
    conf = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "-1")
    try:
        for df in (
            t.multi_get([1, 7, 42]),
            registry.QUERIES["multi_get"](spark, sf_dir),
        ):
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "LocalTableScan" in plan
            assert "Scan ExistingRDD" not in plan
            assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    finally:
        spark.conf.set(conf, old)


def test_scan_range_prefix_limit(spark, sf_dir):
    t = Table.open(spark, sf_dir, "customer", key="c_custkey")
    got = t.scan(start=100, stop=200)
    want = t.df.filter((F.col("c_custkey") >= 100) & (F.col("c_custkey") < 200))
    assert rows(got, "c_custkey") == rows(want, "c_custkey")

    pre = t.scan(prefix="Customer#00000001", key_col="c_name")
    assert all(r["c_name"].startswith("Customer#00000001") for r in pre.collect())
    assert pre.count() > 0

    lim = t.scan(columns=["c_name"], limit=5)
    assert lim.columns == ["c_custkey", "c_name"]
    assert [r["c_custkey"] for r in lim.collect()] == [
        r["c_custkey"]
        for r in t.df.select("c_custkey").orderBy("c_custkey").limit(5).collect()
    ]


def test_celllog_latest_and_versions(spark, sf_dir):
    cl = CellLog.open(spark, sf_dir)
    lat = cl.latest()
    # latest == versions(1) on the value column
    v1 = cl.versions(1).select(
        "user_id", "event_type", F.col("value").alias("latest_value")
    )
    assert rows(
        lat.select("user_id", "event_type", "latest_value"), "user_id", "event_type"
    ) == rows(v1, "user_id", "event_type")
    # versions(n) never exceeds n per group and matches the graded kernel's count
    v3 = cl.versions(3)
    mx = v3.groupBy("user_id", "event_type").count().agg(F.max("count")).collect()[0][0]
    assert mx <= 3
    assert v3.count() == registry.QUERIES["max_versions_n"](spark, sf_dir).count()


def test_celllog_as_of_matches_kernel(spark, sf_dir):
    cl = CellLog.open(spark, sf_dir)
    got = cl.as_of("2024-01-15 12:00:00")
    want = registry.QUERIES["as_of_read"](spark, sf_dir)
    assert rows(got.select(*want.columns), "user_id", "event_type") == rows(
        want, "user_id", "event_type"
    )


def test_celllog_time_range_and_increment(spark, sf_dir):
    cl = CellLog.open(spark, sf_dir)
    tr = cl.time_range("2024-01-10 00:00:00", "2024-01-15 00:00:00")
    lo = F.lit("2024-01-10 00:00:00").cast("timestamp")
    hi = F.lit("2024-01-15 00:00:00").cast("timestamp")
    want = cl.df.filter((F.col("ts") >= lo) & (F.col("ts") < hi))
    assert tr.count() == want.count()
    inc = cl.increment()
    one = inc.filter(F.col("user_id") == 0).collect()[0]
    mine = cl.df.filter(F.col("user_id") == 0).agg(
        F.count("*"), F.round(F.sum("value"), 2)
    ).collect()[0]
    assert (one["n_cells"], one["counter"]) == (mine[0], mine[1])
