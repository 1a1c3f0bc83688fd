"""r7 funnel-sweep guards (SCALE.md "r7 funnel sweep").

Two protections against the tiny-cardinality window funnel — a
``Window.partitionBy`` whose key has only a handful of distinct
values over row-scale input, which serializes the table into that
many tasks regardless of cluster size:

1. A registry-wide static plan audit: any Window node whose
   partition spec draws ONLY from the fixture's known tiny-domain
   columns must have a reducing stage below it (Aggregate / Limit /
   TakeOrdered — a grid or survivor frame) or a strictly
   finer-partitioned Window (the two-phase partial-top-k local
   stage). Raw-row windows keyed only by a tiny domain are flagged.
2. Value-identity tests: the kernel/two-phase restatements of the
   restructured operators reproduce the native single-window forms
   row-for-row on the sf0.001 fixture — the identity argued in their
   docstrings (unique tie-break ⇒ RANK = DENSE_RANK = ROW_NUMBER;
   local-top-k superset ⇒ same global top-k), checked against Spark
   itself rather than the DuckDB oracle.
"""

from __future__ import annotations

import pytest
from py4j.protocol import Py4JError
from pyspark.sql import Window, functions as F

from hbase_support_spark import QUERIES, load_all
from hbase_support_spark.io import load_table
from hbase_support_spark.plans.explain import children, column_names, streamed_side_reduced, walk

load_all()

# Columns whose value domain is a small constant regardless of data
# volume (TPC-H enum-ish attributes + the synthetic tables' category
# columns). A window partitioned ONLY by these over raw rows is the
# funnel class.
_TINY_DOMAIN = {
    "o_orderstatus",
    "o_orderpriority",
    "l_returnflag",
    "l_linestatus",
    "l_shipmode",
    "c_mktsegment",
    "n_name",
    "r_name",
    "lang",
    "segment",
    "event_type",
    "arm",
    "true_lang",
    "half",
    "modality",
}


# Count of Window nodes whose partition spec the sweep successfully
# read — the no-op guard: if a PySpark API change made every
# accessor throw, the audit would silently pass on zero inspections.
_WINDOWS_INSPECTED = [0]


def _tiny_key_funnels(plan) -> list[str]:
    """Windows keyed only by tiny-domain columns whose streamed input
    was not reduced below them: no aggregate / limit / top-k, and no
    finer-partitioned Window (the local stage of two-phase top-k)."""
    out = []
    for node in walk(plan):
        if node.nodeName() != "Window":
            continue
        try:
            names = column_names(node.partitionSpec())
            _WINDOWS_INSPECTED[0] += 1
        except Py4JError:
            names = []
        if names and all(n in _TINY_DOMAIN for n in names):
            if not any(streamed_side_reduced(c, len(names)) for c in children(node)):
                out.append(node.simpleString(160))
    return out


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_tiny_key_window_funnel(name, captures):
    bad = _tiny_key_funnels(captures[name].executed)
    assert not bad, (
        f"{name}: Window partitioned only by tiny-domain keys over "
        f"un-reduced input (the SCALE.md funnel class): {bad}"
    )


# ------------------------------------------------------------ audit canaries
# Positive controls: plans KNOWN to be the funnel class must be
# flagged. If a PySpark upgrade changes the catalyst accessors so the
# narrowed excepts fire (or node names drift), these fail loudly
# instead of the registry-wide audit silently passing on zero
# inspections.


def test_funnel_audit_flags_known_funnel(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    df = o.select("o_orderstatus", F.row_number().over(w).alias("rn"))
    before = _WINDOWS_INSPECTED[0]
    bad = _tiny_key_funnels(df._jdf.queryExecution().executedPlan())
    assert bad, "audit failed to flag a raw-row tiny-key window (no-op audit)"
    assert _WINDOWS_INSPECTED[0] > before, "audit inspected zero Window nodes"


def test_funnel_audit_not_fooled_by_broadcast_side_aggregate(spark, sf_dir):
    # The ADVICE-r07 decoy: raw probe rows joined to a tiny aggregated
    # broadcast, window keyed only by the tiny domain. The Aggregate
    # lives on the broadcast branch, so it must NOT exempt the window.
    o = load_table(spark, sf_dir, "orders")
    dim = F.broadcast(
        o.groupBy("o_orderstatus").agg(F.count("*").alias("status_n"))
    )
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    df = o.join(dim, "o_orderstatus").select(
        "o_orderstatus", "status_n", F.row_number().over(w).alias("rn")
    )
    bad = _tiny_key_funnels(df._jdf.queryExecution().executedPlan())
    assert bad, (
        "audit exempted a raw-row tiny-key window because of an "
        "Aggregate on the broadcast side of its join"
    )


def test_funnel_audit_exempts_grid_fed_window(spark, sf_dir):
    # Negative control: the legitimate shape — window over an
    # Aggregate-reduced grid on the streamed side — stays exempt.
    o = load_table(spark, sf_dir, "orders")
    grid = o.groupBy("o_orderstatus", "o_totalprice").agg(
        F.count("*").alias("cnt")
    )
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice")
    df = grid.select("o_orderstatus", F.sum("cnt").over(w).alias("run"))
    bad = _tiny_key_funnels(df._jdf.queryExecution().executedPlan())
    assert not bad, f"audit flagged a grid-fed window: {bad}"


# ---------------------------------------------------------------- identities


def test_rank_dense_ntile_matches_native_window(spark, sf_dir):
    ours = QUERIES["win_rank_dense_ntile"](spark, sf_dir)
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    native = o.select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
    )
    assert sorted(map(tuple, ours.collect())) == sorted(
        map(tuple, native.collect())
    )


def test_cume_percent_nth_matches_native_window(spark, sf_dir):
    ours = QUERIES["win_cume_percent_nth"](spark, sf_dir)
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    native = o.select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.nth_value("o_totalprice", 3).over(wfull).alias("third_highest"),
    )
    assert sorted(map(tuple, ours.collect())) == sorted(
        map(tuple, native.collect())
    )


def test_topk_per_group_matches_native_window(spark, sf_dir):
    ours = QUERIES["topk_per_group"](spark, sf_dir)
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy(
        F.col("s_acctbal").desc(), "s_suppkey"
    )
    native = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("n_name", "s_suppkey", "s_acctbal")
    )
    assert sorted(map(tuple, ours.collect())) == sorted(
        map(tuple, native.collect())
    )


def test_theta_sketch_matches_native_window(spark, sf_dir):
    from hbase_support_spark.hashutil import h60 as _h

    ours = QUERIES["agg_theta_sketch_users"](spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    base = (
        ev.select(F.col("event_type").alias("segment"), "user_id")
        .distinct()
        .unionAll(
            ev.select(F.lit("ALL").alias("segment"), "user_id").distinct()
        )
    )
    hashed = base.withColumn("h", F.expr(_h("cast(user_id AS string)")))
    ranked = hashed.withColumn(
        "rn", F.row_number().over(Window.partitionBy("segment").orderBy("h"))
    )
    kth = F.max(F.when(F.col("rn") == 64, F.col("h")))
    native = ranked.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_exact"),
        kth.alias("kth_hash"),
        F.when(kth.isNull(), F.count(F.lit(1)).cast("double"))
        .otherwise(F.expr("63.0 * 1152921504606846976.0") / kth.cast("double"))
        .alias("theta_est"),
    )
    assert sorted(map(tuple, ours.collect())) == sorted(
        map(tuple, native.collect())
    )
