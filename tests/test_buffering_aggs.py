"""r9 buffering-aggregate audit (VERDICT r08 item 3).

The r8 ×32 census found `agg_percentile_exact_groups` OOM-killing the
JVM: Spark's exact `percentile` (also `median`, `collect_list/set`,
`mode`) is a VALUE-BUFFERING aggregate — its ObjectHashAggregate
buffer holds every value of a group in one task, so over a
tiny-domain group key (or no key at all) the buffer grows with the
fact table. That is the r7 window-funnel pathology in AGGREGATE form,
and the funnel audit (tests/test_funnel_sweep.py) only inspects
Window nodes — it can never catch it. This sweep closes the class:

Any physical Aggregate node computing a buffering function whose
grouping key is empty or draws only from the fixture's tiny-domain
columns must have a reducing stage below it (the value-grid pattern —
an Aggregate/Limit on the streamed side; broadcast branches are
skipped, per the r8 funnel-audit lesson), or carry an entry in the
counted ``BUFFERING_JUSTIFIED`` ledger below (exact per-query flag
counts, per the r9 kernel-ledger lesson: a blanket waiver would let a
future second buffering aggregate ride an old justification).

Sites the audit caught at introduction (r9), all restructured onto
the r8 value-grid machinery with unchanged independent oracles:
`agg_std_median` (exact median over lineitem by 3-value returnflag —
the OOM shape on the OOM table), `layout_split_points` and
`layout_meta_lookup` (global exact octiles buffering all of events
in the single final task). The remaining exemptions are documented
watch items (SCALE.md r8) over the 10×-smaller events table, plus
the fixture-bounded documents report.

`percentile_approx` is NOT flagged: the GK sketch is mergeable and
bounded-memory — it is the documented 100-TB swap-in, not the hazard.
"""

from __future__ import annotations

import re

import pytest
from py4j.protocol import Py4JError
from pyspark.sql import functions as F

from hbase_support_spark import QUERIES, load_all
from hbase_support_spark.io import load_table
from hbase_support_spark.plans.explain import children, column_names, seq, streamed_side_reduced, walk
from test_funnel_sweep import _TINY_DOMAIN  # both audits police the same columns

load_all()

# Value-buffering aggregate functions (exact percentile/median buffer
# the group's whole value list; collect_* materialize it as the
# output; mode buffers the per-value count map). partial_/merge_
# prefixes are the multi-stage physical spellings. percentile_approx
# spells differently and is deliberately not matched.
_BUFFERING = re.compile(
    r"(?<![a-z_])(?:partial_|merge_|final_)?"
    r"(percentile|median|collect_list|collect_set|mode|array_agg)\("
)

# query name -> (expected flag count, justification). The audit
# asserts EXACT counts: a new buffering aggregate in a listed query
# fails until its author extends the justification.
BUFFERING_JUSTIFIED: dict[str, tuple[int, str]] = {
    # The three events watch items share one structural safety
    # argument, sharpened by the r9 ×512 probe: Spark's exact
    # Percentile buffers a DISTINCT-VALUE count map per task, and
    # events.value has a fixture-bounded domain (17.8k distinct at
    # ×512's 51.2M rows — replication adds copies, not values), so
    # the buffer is grid-scale by construction. The r8 OOM shape was
    # near-unique lineitem prices (583k distinct / 600k rows), where
    # the same map IS row-scale per task. All three cleared ×512 in
    # the DEFAULT 8 g envelope (SCALE.md r9). They stay exemptions,
    # not restructures, because on a real unbounded-double column the
    # hazard returns — the docstrings point to percentile_approx.
    "agg_percentile_approx": (
        1,
        "the query's PURPOSE is the exact-vs-approx side-by-side (its "
        "approx half IS the documented 100-TB path); value domain "
        "fixture-bounded -> grid-scale buffer, ×512-cleared at 8 g",
    ),
    "agg_winsorized_mean": (
        1,
        "winsorization clamps at the exact p5/p95 seam shared with "
        "agg_percentile_approx; bounded value domain, ×512-cleared",
    ),
    "agg_mad_robust_outliers": (
        2,
        "median-of-absolute-deviations nests two exact medians (the "
        "two flagged stages); bounded value domain, ×512-cleared",
    ),
    "multimodal_modality_mix_report": (
        1,
        "documents fixture is 500 rows at EVERY sf (bounded by the "
        "fixture contract, TESTDATA.md); the docstring documents the "
        "percentile_approx swap for a real 100-TB corpus",
    ),
}

# No-op guard: count of Aggregate nodes whose expressions the sweep
# successfully read (mirror of the funnel audit's _WINDOWS_INSPECTED).
_AGGS_INSPECTED = [0]


def _buffering_funnels(plan) -> list[str]:
    out = []
    for node in walk(plan):
        nn = node.nodeName()
        if "Aggregate" not in nn:
            continue
        try:
            exprs = [e.toString() for e in seq(node.aggregateExpressions())]
            gnames = column_names(node.groupingExpressions())
            _AGGS_INSPECTED[0] += 1
        except Py4JError:
            exprs, gnames = [], ["<unreadable>"]
        fns = sorted({m.group(1) for e in exprs if (m := _BUFFERING.search(e))})
        if fns and (not gnames or all(g in _TINY_DOMAIN for g in gnames)):
            if not any(streamed_side_reduced(c) for c in children(node)):
                out.append(f"{nn}[grouping={gnames} buffering={fns}]")
    return out


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_tiny_key_buffering_aggregate(name, captures):
    bad = _buffering_funnels(captures[name].executed)
    expected, why = BUFFERING_JUSTIFIED.get(name, (0, ""))
    assert len(bad) == expected, (
        f"{name}: {len(bad)} buffering aggregate(s) over tiny-domain/"
        f"global keys on un-reduced input (expected {expected}"
        f"{' — ' + why if why else ''}): {bad} — restate on the value "
        f"grid (agg_percentile_exact_groups pattern) or extend "
        f"BUFFERING_JUSTIFIED with the exact count"
    )


# ------------------------------------------------------------ audit canaries


def test_buffering_audit_flags_r8_oom_shape(spark, sf_dir):
    """The seeded decoy: exact percentile grouped by a tiny-domain key
    over raw fact rows — the literal shape that OOM-killed
    agg_percentile_exact_groups at the r8 ×32 census. The audit MUST
    flag it (it would have caught the r8 OOM at plan time)."""
    li = load_table(spark, sf_dir, "lineitem")
    df = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.percentile("l_extendedprice", 0.5).alias("p50"),
        F.percentile("l_extendedprice", 0.99).alias("p99"),
    )
    before = _AGGS_INSPECTED[0]
    bad = _buffering_funnels(df._jdf.queryExecution().executedPlan())
    assert bad, "audit failed to flag the r8 OOM shape (no-op audit)"
    assert _AGGS_INSPECTED[0] > before, "audit inspected zero Aggregate nodes"


def test_buffering_audit_flags_global_collect(spark, sf_dir):
    """Groupless (global) buffering aggregate over raw rows — the
    agg_quantile_exact_global pre-r7 class — must also flag."""
    o = load_table(spark, sf_dir, "orders")
    df = o.agg(F.collect_list("o_orderkey").alias("all_keys"))
    bad = _buffering_funnels(df._jdf.queryExecution().executedPlan())
    assert bad, "audit missed a global collect_list over raw rows"


def test_buffering_audit_not_fooled_by_broadcast_side_aggregate(spark, sf_dir):
    """Raw probe joined to a tiny aggregated broadcast, then a
    buffering aggregate keyed by the tiny domain: the Aggregate on
    the broadcast branch must NOT exempt it."""
    o = load_table(spark, sf_dir, "orders")
    dim = F.broadcast(
        o.groupBy("o_orderstatus").agg(F.count("*").alias("status_n"))
    )
    df = (
        o.join(dim, "o_orderstatus")
        .groupBy("o_orderstatus")
        .agg(F.percentile("o_totalprice", 0.5).alias("p50"))
    )
    bad = _buffering_funnels(df._jdf.queryExecution().executedPlan())
    assert bad, (
        "audit exempted a buffering aggregate because of an Aggregate "
        "on the broadcast side of its join"
    )


def test_buffering_audit_exempts_grid_fed_percentile(spark, sf_dir):
    """Negative control: the legitimate value-grid shape — the final
    interpolation aggregate reads an Aggregate-reduced grid — stays
    exempt, as do bounded sketches (percentile_approx) and buffering
    aggregates over high-cardinality keys."""
    o = load_table(spark, sf_dir, "orders")
    grid = o.groupBy("o_orderstatus", "o_totalprice").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    df = grid.groupBy("o_orderstatus").agg(
        F.max(F.col("o_totalprice")).alias("hi"),
        F.collect_list("cnt").alias("cnts"),  # buffering, but grid-fed
    )
    assert not _buffering_funnels(df._jdf.queryExecution().executedPlan())

    approx = o.groupBy("o_orderstatus").agg(
        F.percentile_approx("o_totalprice", 0.5, 10000).alias("a50")
    )
    assert not _buffering_funnels(
        approx._jdf.queryExecution().executedPlan()
    ), "percentile_approx is a bounded sketch and must not be flagged"

    per_cust = o.groupBy("o_custkey").agg(
        F.percentile("o_totalprice", 0.5).alias("p50")
    )
    assert not _buffering_funnels(
        per_cust._jdf.queryExecution().executedPlan()
    ), "high-cardinality group keys bound the per-group buffer"
