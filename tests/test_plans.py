"""Physical-plan assertions — the scale-design contract (SURVEY.md §4).

Correctness tests prove the 60k-row answer; these prove the *plan*
is the one that survives 100 TB: pushdown reached the scan, columns
pruned, dims broadcast, no accidental cartesian products.
"""

from __future__ import annotations

import os

import pytest

from hbase_support_spark import QUERIES, load_all
from hbase_support_spark.plans.explain import (
    codegen_stage_count,
    pushed_filters,
    read_schema_columns,
)

load_all()


def test_scan_range_pushes_predicate(captures):
    plan = captures["scan_range"].formatted
    assert pushed_filters(plan), plan


def test_point_get_pushes_predicate(captures):
    assert pushed_filters(captures["point_get"].formatted)


def test_project_prune_reads_two_columns(captures):
    cols = read_schema_columns(captures["project_prune"].formatted)
    assert set(cols) == {"l_orderkey", "l_extendedprice"}


def test_agg_prunes_unused_columns(captures):
    """Q1-shape agg must not read the join keys it never uses."""
    cols = read_schema_columns(captures["agg_sum_min_max_avg"].formatted)
    assert "l_partkey" not in cols and "l_suppkey" not in cols


def test_star_join_broadcasts_dims(captures):
    plan = captures["join_multiway_star"].formatted
    assert "BroadcastHashJoin" in plan, plan


def test_no_cartesian_anywhere_in_flagship(captures):
    assert "CartesianProduct" not in captures["join_multiway_star"].formatted


def test_pairs_blocked_join_is_not_cartesian(captures):
    """Label blocking must compile to an equi-join, not a cross."""
    assert "CartesianProduct" not in captures["sim_pairs_threshold"].formatted


def test_topk_uses_take_ordered(captures):
    plan = captures["topk_global"].formatted
    assert "TakeOrderedAndProject" in plan, plan


def test_whole_stage_codegen_present(spark, sf_dir):
    assert codegen_stage_count(QUERIES["agg_sum_min_max_avg"](spark, sf_dir)) >= 1


def test_aqe_splits_skewed_join(spark, tmp_path):
    """AQE skew-join handling: a join where one key holds ~95% of the
    rows must execute with skew-split partitions (the executedPlan
    advertises isSkew/skew markers), not one straggler task. This is
    the runtime half of the skew story — salting (agg_salted_two_phase)
    is the planning half."""
    import pyspark.sql.functions as F

    left = spark.range(0, 200_000).select(
        F.when(F.col("id") % 20 != 0, F.lit(7)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("payload"),
    )
    right = spark.range(0, 5_000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("rv")
    )
    lp, rp = str(tmp_path / "l"), str(tmp_path / "r")
    left.write.parquet(lp)
    right.write.parquet(rp)

    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        j = spark.read.parquet(lp).join(spark.read.parquet(rp), "k")
        # execute THIS DataFrame: count() builds a separate query
        # execution, so AQE would never finalize j's own plan
        assert len(j.collect()) == 190_250
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_tpch_q2_broadcasts_dims_and_prunes(captures):
    """Q2's part/supplier/nation/region joins must all broadcast; the
    double aggregation shuffles only (partkey, suppkey) partials."""
    plan = captures["tpch_q2_min_cost_supplier"].formatted
    assert "BroadcastHashJoin" in plan and "CartesianProduct" not in plan, plan


def test_tpch_q7_seven_table_star_broadcasts(captures):
    plan = captures["tpch_q7_volume"].formatted
    assert "BroadcastHashJoin" in plan and "CartesianProduct" not in plan, plan


def test_fn_unpivot_pushes_filter_below_expand(captures):
    """The orderkey filter must reach the scan — the 4x row expand
    happens after pruning, never before."""
    plan = captures["fn_unpivot"].formatted
    assert pushed_filters(plan), plan


def test_pipeline_train_ready_stays_codegen(captures):
    """The composed pipeline must contain no Python evaluation and no
    cartesian product — whole chain in JVM expressions."""
    plan = captures["pipeline_train_ready"].formatted
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_knn_join_blas_is_arrow_not_row_python(captures):
    plan = captures["sim_knn_self_join_blas"].formatted
    assert "FlatMapGroupsInPandas" in plan, plan
    assert "BatchEvalPython" not in plan


def test_stream_topk_ranks_aggregated_rows_only(captures):
    """The window function's input must be the aggregate, not raw
    events: exactly one pre-rank aggregate shuffle on window_start."""
    plan = captures["stream_topk_per_window"].formatted
    assert "Window" in plan and "HashAggregate" in plan, plan


def test_partitioned_layout_prunes_partitions(spark, sf_dir, tmp_path):
    """A filter on the partition column must appear as PartitionFilters
    (directory pruning), not a data filter — the §2.1 scale story for
    date/status-partitioned tables."""
    from pyspark.sql import functions as F

    from hbase_support_spark.io import load_table

    d = str(tmp_path / "by_status")
    load_table(spark, sf_dir, "orders").write.partitionBy("o_orderstatus").parquet(d)
    df = spark.read.parquet(d).filter(F.col("o_orderstatus") == "F")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "o_orderstatus" in plan.split(
        "PartitionFilters:"
    )[1].split("]")[0], plan


def test_bucketed_colocated_join_has_single_exchange(captures):
    """The graded bucketed fact-to-fact join must read co-located
    buckets: SortMergeJoin fed by bucketed scans, with the final
    status aggregate as the ONLY Exchange in the plan."""
    import re

    plan = captures["join_bucketed_colocated"].formatted
    assert "SortMergeJoin" in plan, plan
    assert plan.count("Bucketed: true") == 2, plan
    tree = plan.split("\n\n")[0]  # the numbered tree section
    assert len(re.findall(r"\bExchange\b", tree)) == 1, tree


# ------------------------------------------------------------ plan fingerprint


def test_plans_md_is_the_plan_fingerprint(captures, sf_dir):
    """PLANS.md's table is the per-query plan fingerprint. A plan change
    (a lost broadcast, a Python-RDD scan, a staged score evaluated
    twice because a ``num.nopush`` barrier stopped holding) changes a
    row and fails here until `python tools/gen_plans.py` is rerun."""
    from hbase_support_spark.plans.explain import render_plans

    if os.path.basename(os.path.normpath(sf_dir)) != "sf0.001":
        pytest.skip("PLANS.md is rendered from the sf0.001 fixture")
    with open(os.path.join(os.path.dirname(__file__), "..", "PLANS.md"), encoding="utf-8") as fh:
        _, head, table = fh.read().partition("| query |")
    new = render_plans(captures, QUERIES).splitlines()
    stale = [f"- {a}\n+ {b}" for a, b in zip((head + table).splitlines(), new) if a != b]
    assert head + table == "\n".join(new) + "\n", "PLANS.md stale:\n" + "\n".join(stale[:20])
    # every query was built once this session, by the first audit to read it
    assert set(captures.builds) == set(QUERIES) and set(captures.builds.values()) == {1}


def test_headline_queries_start_no_jobs_while_built(captures):
    """The 11 bench.py headline queries build without running a Spark
    job; the capture counts each build's jobs through its job group."""
    import bench

    jobs = {q: captures[q].build_jobs for q in bench.HEADLINE.values()}
    assert len(jobs) == 11 and not any(jobs.values()), jobs
