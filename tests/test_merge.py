"""MERGE INTO / checkAndPut write path (hbase_support_spark/merge.py):
conditional-mutation semantics end-to-end against real Parquet, plus
the scale property — untouched partitions are never rewritten."""

import glob
import os

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from hbase_support_spark.io import load_table
from hbase_support_spark.plans.explain import jobs_during
from hbase_support_spark.merge import check_and_put, merge_into_parquet


def _seed_target(spark, sf_dir, path):
    """Partitioned customer snapshot: (key, balance, segment)."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )
    c.write.mode("overwrite").partitionBy("c_mktsegment").parquet(path)
    return {r.c_custkey: r.c_acctbal for r in c.collect()}


def test_merge_upsert_semantics(spark, sf_dir, tmp_path):
    target = str(tmp_path / "cust")
    before = _seed_target(spark, sf_dir, target)
    keys = sorted(before)[:3]
    new_key = max(before) + 1_000_000
    source = spark.createDataFrame(
        [(k, 9999.99, "BUILDING") for k in keys]
        + [(new_key, 1.23, "BUILDING")],
        "c_custkey long, c_acctbal double, c_mktsegment string",
    )
    stats = merge_into_parquet(
        spark, target, source, ["c_custkey"], "c_mktsegment"
    )
    assert stats["updated"] == 3 and stats["inserted"] == 1

    after = {
        r.c_custkey: r.c_acctbal
        for r in spark.read.parquet(target).collect()
    }
    assert len(after) == len(before) + 1
    for k in keys:
        assert after[k] == 9999.99
    assert after[new_key] == 1.23
    # every row NOT in the source is byte-identical
    untouched = {k: v for k, v in before.items() if k not in keys}
    assert all(after[k] == v for k, v in untouched.items())


def test_merge_rewrites_only_touched_partitions(spark, sf_dir, tmp_path):
    """The 100-TB property: a source touching one segment must leave
    every other partition's files physically untouched (same paths,
    same mtimes) — partition pruning on read AND dynamic overwrite on
    write."""
    target = str(tmp_path / "cust")
    before = _seed_target(spark, sf_dir, target)
    snapshot = {
        p: os.path.getmtime(p)
        for p in glob.glob(f"{target}/c_mktsegment=*/*.parquet")
    }
    auto = spark.read.parquet(target).filter(
        F.col("c_mktsegment") == "AUTOMOBILE"
    )
    k = auto.agg(F.min("c_custkey")).collect()[0][0]
    source = spark.createDataFrame(
        [(k, 42.0, "AUTOMOBILE")],
        "c_custkey long, c_acctbal double, c_mktsegment string",
    )
    # the dynamic overwrite is the merge's own writer option: the
    # session's mode stays static for every other partitioned write
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    stats = merge_into_parquet(
        spark, target, source, ["c_custkey"], "c_mktsegment"
    )
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode") == "static"
    assert stats["touched_partitions"] == 1
    for p, mtime in snapshot.items():
        if "c_mktsegment=AUTOMOBILE" not in p:
            assert os.path.exists(p) and os.path.getmtime(p) == mtime, p


def test_merge_stats_ride_the_write_pass(spark, sf_dir, tmp_path):
    """MERGE statistics come from observe() metrics collected during
    the single write job (VERDICT r04 item 3) — the join is evaluated
    once. Guarded by a job-count bound: the whole merge (partition
    probe + write) runs 9 Spark jobs on this harness; a reintroduced
    pre-write .agg().collect() re-evaluates the join as its own
    multi-stage query (+3 jobs), blowing the bound."""
    target = str(tmp_path / "cust")
    before = _seed_target(spark, sf_dir, target)
    keys = sorted(before)[:2]
    source = spark.createDataFrame(
        [(k, 1.0, "BUILDING") for k in keys],
        "c_custkey long, c_acctbal double, c_mktsegment string",
    )
    stats, jobs = jobs_during(
        spark,
        "merge-single-pass",
        lambda: merge_into_parquet(spark, target, source, ["c_custkey"], "c_mktsegment"),
    )
    assert stats["updated"] == 2 and stats["inserted"] == 0
    assert 0 < jobs <= 10, f"merge ran {jobs} jobs - double evaluation?"


def test_check_and_put_cas_condition(spark, sf_dir, tmp_path):
    """checkAndPut: the put lands only where the CURRENT value meets
    the expectation — rows failing the check keep their old value."""
    target = str(tmp_path / "cust")
    before = _seed_target(spark, sf_dir, target)
    rich = [k for k, v in before.items() if v > 9000][:2]
    poor = [k for k, v in before.items() if v <= 9000][:2]
    assert rich and poor
    puts = spark.createDataFrame(
        [(k, -1.0, "MACHINERY") for k in rich + poor],
        "c_custkey long, c_acctbal double, c_mktsegment string",
    )
    check_and_put(
        spark,
        target,
        puts,
        ["c_custkey"],
        "c_mktsegment",
        check_col="c_acctbal",
        expected=F.col("t.c_acctbal") > 9000,
    )
    after = {
        r.c_custkey: r.c_acctbal
        for r in spark.read.parquet(target).collect()
    }
    for k in rich:
        assert after[k] == -1.0
    for k in poor:
        assert after[k] == before[k]


# --- property-based differential test: merge vs a dict model --------
#
# Partition key is a pure function of the row key (part = key % 3), the
# invariant merge.py documents ("keep partition keys immutable under
# update") — so the model never hits the dynamic-overwrite stale-dir
# edge and the property exercises pure upsert semantics.

_ROW = st.tuples(
    st.integers(min_value=0, max_value=24),
    st.integers(min_value=-1000, max_value=1000),
)


def _uniq(rows):
    return list({k: (k, v) for k, v in rows}.values())


@settings(max_examples=4, deadline=None)
@given(
    initial=st.lists(_ROW, min_size=1, max_size=12).map(_uniq),
    batches=st.lists(
        st.lists(_ROW, min_size=1, max_size=8).map(_uniq),
        min_size=1,
        max_size=2,
    ),
    threshold=st.none() | st.integers(min_value=-1000, max_value=1000),
)
def test_merge_matches_dict_model(spark, tmp_path_factory, initial, batches, threshold):
    """Random upsert sequences through merge_into_parquet agree with a
    plain-Python dict applying the same WHEN MATCHED / NOT MATCHED
    contract, including the updated/inserted counters."""
    target = str(tmp_path_factory.mktemp("merge_prop") / "t")
    schema = "k long, v long, p string"
    part = lambda k: f"p{k % 3}"
    spark.createDataFrame(
        [(k, v, part(k)) for k, v in initial], schema
    ).write.mode("overwrite").partitionBy("p").parquet(target)

    model = {k: v for k, v in initial}
    for batch in batches:
        cond = None if threshold is None else F.col("s.v") > threshold
        stats = merge_into_parquet(
            spark,
            target,
            spark.createDataFrame([(k, v, part(k)) for k, v in batch], schema),
            ["k"],
            "p",
            update_cond=cond,
        )
        upd = ins = 0
        for k, v in batch:
            if k in model:
                # "updated" counts rows the condition actually rewrote
                if threshold is None or v > threshold:
                    upd += 1
                    model[k] = v
            else:
                ins += 1
                model[k] = v
        assert (stats["updated"], stats["inserted"]) == (upd, ins)

    got = {r.k: r.v for r in spark.read.parquet(target).collect()}
    assert got == model


def test_bulk_delete_prunes_and_deletes(spark, sf_dir, tmp_path):
    """Predicate delete rewrites only touched partitions; untouched
    partition files must remain byte-identical (never rewritten)."""
    import os

    from pyspark.sql import functions as F

    from hbase_support_spark.io import load_table
    from hbase_support_spark.merge import bulk_delete

    target = str(tmp_path / "orders")
    orders = load_table(spark, sf_dir, "orders")
    orders.write.partitionBy("o_orderstatus").parquet(target)

    def files_of(status):
        d = f"{target}/o_orderstatus={status}"
        return sorted(
            (f, os.path.getmtime(os.path.join(d, f)))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )

    before_p = files_of("P")
    n_before = orders.count()
    doomed = orders.filter(
        (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 300000)
    ).count()
    assert doomed > 0

    stats = bulk_delete(
        spark,
        target,
        (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 300000),
        "o_orderstatus",
    )
    assert stats == {"deleted": doomed, "touched_partitions": 1, "emptied_partitions": 0}
    back = spark.read.parquet(target)
    assert back.count() == n_before - doomed
    assert back.filter(
        (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 300000)
    ).count() == 0
    # untouched partition not rewritten
    assert files_of("P") == before_p


def test_bulk_delete_drops_fully_emptied_partition(spark, sf_dir, tmp_path):
    """A partition whose EVERY row matches the predicate must actually
    disappear — dynamic overwrite alone leaves its old files in place
    (ADVICE r02), so bulk_delete drops the emptied directory itself."""
    import os

    from pyspark.sql import functions as F

    from hbase_support_spark.io import load_table
    from hbase_support_spark.merge import bulk_delete

    target = str(tmp_path / "orders")
    orders = load_table(spark, sf_dir, "orders")
    orders.write.partitionBy("o_orderstatus").parquet(target)
    n_p = orders.filter(F.col("o_orderstatus") == "P").count()
    assert n_p > 0

    # whole P partition + a slice of F: one emptied, one rewritten
    pred = (F.col("o_orderstatus") == "P") | (
        (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 300000)
    )
    doomed = orders.filter(pred).count()
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    stats = bulk_delete(spark, target, pred, "o_orderstatus")
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode") == "static"
    assert stats == {
        "deleted": doomed,
        "touched_partitions": 2,
        "emptied_partitions": 1,
    }
    assert not os.path.exists(f"{target}/o_orderstatus=P")
    back = spark.read.parquet(target)
    assert back.count() == orders.count() - doomed
    assert back.filter(F.col("o_orderstatus") == "P").count() == 0


def test_bulk_delete_all_rows_everywhere(spark, sf_dir, tmp_path):
    """Degenerate case: the predicate kills every partition — nothing
    survives to write, every touched dir must be dropped."""
    import os

    from pyspark.sql import functions as F

    from hbase_support_spark.io import load_table
    from hbase_support_spark.merge import bulk_delete

    target = str(tmp_path / "orders")
    orders = load_table(spark, sf_dir, "orders")
    orders.write.partitionBy("o_orderstatus").parquet(target)
    n = orders.count()
    n_parts = orders.select("o_orderstatus").distinct().count()
    stats = bulk_delete(spark, target, F.lit(True), "o_orderstatus")
    assert stats == {
        "deleted": n,
        "touched_partitions": n_parts,
        "emptied_partitions": n_parts,
    }
    leftover = [
        d for d in os.listdir(target) if d.startswith("o_orderstatus=")
    ]
    assert leftover == []


def test_bulk_delete_no_matches_is_noop(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from hbase_support_spark.io import load_table
    from hbase_support_spark.merge import bulk_delete

    target = str(tmp_path / "orders")
    load_table(spark, sf_dir, "orders").write.partitionBy("o_orderstatus").parquet(target)
    stats = bulk_delete(spark, target, F.col("o_totalprice") < -1, "o_orderstatus")
    assert stats == {"deleted": 0, "touched_partitions": 0}
