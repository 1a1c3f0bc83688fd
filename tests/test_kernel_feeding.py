"""Kernel-feeding contract — static registry-wide audit (r8, r9).

The r7 ×128 audit caught ``agg_quantile_exact_global`` feeding RAW
ROWS into the rank kernel: every kernel in ``operators/ranking.py``
``localCheckpoint``s its range-partitioned input, so a row-scale feed
makes the materialization input-scale and OOMs where the query's own
shuffles would not (OOM at ×128 in the 8 g envelope; 3.5 s after the
grid rewrite). The contract written into ranking.py's docstring:

    Feed the smallest sufficient frame — hash-aggregate to the
    distinct value grid (or entity aggregate) first; raw-row feeds
    are right only when the per-row rank itself is the output.

That contract lived in a docstring plus one manual audit. This test
makes it structural (VERDICT r07 item 3): the three kernels are
wrapped to record every input DataFrame the registry feeds them, and
each recorded input must show reduction evidence in its analyzed
logical plan — an Aggregate / Deduplicate / Limit (a grid, entity
aggregate, or survivor frame), or a LogicalRDD (the output of a
previous, already-audited kernel in a chain).

r9 refinements (both ADVICE items):

- Reduction evidence is judged RECURSIVELY by scale, not by "any
  Aggregate anywhere": a Join's output is row-scale unless every
  row-contributing branch is itself reduced (semi/anti joins: left
  branch only; broadcast-hinted branches trusted as tiny), so a raw
  probe SMJ-joined to an aggregated dimension now correctly reads as
  un-reduced — the same blind-spot class the r8 funnel-audit fix
  closed for physical plans. Verified against the registry: the
  recursive judgment agrees with the old traversal on all 28 current
  kernel feeds (r9 collection run), so the tightening is free.
- ``RAW_ROW_JUSTIFIED`` is now an exact per-(query, kernel) multiset
  ledger, not a per-query blanket waiver: each entry justifies ONE
  raw feed of ONE kernel, and the audit asserts the observed raw
  feeds equal the ledger exactly (both directions — an unjustified
  raw feed fails, and a stale justification for a feed that has
  since been reduced/removed also fails, keeping the ledger honest).
  Previously agg_weighted_median's "second kernel call" note waived
  the whole query: a regression making its FIRST (grid) feed raw
  would have stayed green.

A future op that checkpoints row-scale input into the kernels either
shows reduction in its feed or forces its author to write a
justification line here — the failure mode is loud either way.
"""

from __future__ import annotations

from collections import Counter

import pytest
from py4j.protocol import Py4JError

from hbase_support_spark import QUERIES, load_all
from hbase_support_spark.operators import ranking
from hbase_support_spark.plans.explain import children, recording_kernel_feeds

load_all()

# (query, kernel) -> list of justifications, ONE per raw (un-reduced)
# feed of that kernel in that query: the per-row rank/cumulative IS
# the query's output, and the frame is already the smallest
# sufficient one (no grid exists). The audit asserts the observed raw
# feeds match this ledger as an exact multiset.
RAW_ROW_JUSTIFIED: dict[tuple[str, str], list[str]] = {
    ("agg_weighted_median", "with_global_prefix_sum"): [
        "second kernel call only (the first is fed the hash-aggregated "
        "price grid): rows AT the median price point, unique per "
        "(orderkey, linenumber) — no grid to reduce to; the per-row "
        "cumulative weight is what the crossing predicate consumes"
    ],
    ("layout_clustering_factor_audit", "with_global_rank"): [
        "per-row global position of orders under the rowkey sort order "
        "IS the clustering-factor measurement; rows are the entities",
        "per-row global position of orders under the physical-layout "
        "sort order — the second of the two orders being compared",
    ],
    ("pipeline_preference_pairs", "with_global_rank"): [
        "per-document quality rank within language drives the pairing; "
        "one row per document is already the entity grain"
    ],
    ("pipeline_token_budget_plan", "with_global_prefix_sum"): [
        "per-document cumulative token count IS the budget walk; one "
        "row per document is the entity grain"
    ],
    ("pipeline_curriculum_order", "with_global_rank"): [
        "per-document difficulty rank drives the NTILE(4) stage cut; "
        "one row per document is the entity grain (documents are the "
        "units being ordered — no grid exists over the x100 proxy that "
        "would be smaller than the doc frame at the fixture's scale, "
        "and the stage id must attach back to each doc's token budget)"
    ],
    ("sample_negative_pairs", "with_global_rank"): [
        "per-document hash rank IS the shuffle position the stride "
        "pairing indexes; entity grain"
    ],
    ("sample_systematic_kth", "with_global_rank"): [
        "per-row global position over orders IS the systematic-sample "
        "selector (rank mod k); the sample never materializes separately"
    ],
    ("sim_rerank_rrf", "with_global_rank"): [
        "per-candidate dense-retriever rank IS one RRF input; the dense "
        "score frame is one row per candidate document",
        "per-candidate lexical-retriever rank IS the other RRF input; "
        "same entity grain",
    ],
    ("win_cume_percent_nth", "with_global_rank"): [
        "per-row rank feeds the arithmetic CUME_DIST/PERCENT_RANK "
        "restatement — the per-row window value IS the output"
    ],
    ("win_rank_dense_ntile", "with_global_rank"): [
        "per-row rank feeds the arithmetic RANK/DENSE_RANK/NTILE "
        "restatement — the per-row window value IS the output"
    ],
}

_REDUCE = ("Aggregate", "Deduplicate", "Distinct", "Limit", "LogicalRDD")


def _reduced_node(n) -> bool:
    """Scale judgment for one analyzed-plan node: True iff the frame
    it produces is reduced below fact-row scale.

    - Aggregate/Deduplicate/Distinct/Limit cap the output; LogicalRDD
      is a prior (already-audited) kernel's checkpoint.
    - A broadcast-hinted branch is trusted as tiny (the hint is the
      author's size claim; the funnel audit polices hint abuse).
    - A Join is row-scale unless every row-contributing branch is
      reduced (semi/anti: only the left branch contributes rows) —
      an Aggregate on ONE side of an SMJ says nothing about the raw
      probe rows flowing through the other (ADVICE r9).
    - Multi-child nodes (Union): every branch contributes rows, so
      all must be reduced. Unary nodes pass the child's judgment.
    """
    nn = n.nodeName()
    if any(r in nn for r in _REDUCE):
        return True
    if "ResolvedHint" in nn and "broadcast" in n.simpleString(200).lower():
        return True
    kids = children(n)
    if not kids:
        return False  # leaf relation = raw scan
    if "Join" in nn:
        try:
            jt = n.joinType().toString()
        except Py4JError:  # pragma: no cover - node without joinType
            jt = ""
        if jt in ("LeftSemi", "LeftAnti"):
            return _reduced_node(kids[0])
        return all(_reduced_node(c) for c in kids)
    if len(kids) > 1:
        return all(_reduced_node(c) for c in kids)
    return _reduced_node(kids[0])


def _is_reduced(df) -> bool:
    return _reduced_node(df._jdf.queryExecution().analyzed())


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_kernel_inputs_reduced_or_justified(name, captures):
    # the capture built the query with the kernels recorded
    observed_raw = Counter(
        kname for kname, df in captures[name].kernel_feeds if not _is_reduced(df)
    )
    justified = Counter(
        {k: len(v) for (q, k), v in RAW_ROW_JUSTIFIED.items() if q == name}
    )
    assert observed_raw == +justified, (
        f"{name}: raw (un-reduced) kernel feeds {dict(observed_raw)} != "
        f"justified ledger {dict(+justified)} — kernels localCheckpoint "
        f"their input, so feed the distinct-value grid / entity aggregate "
        f"(ranking.py feeding contract), or add/remove the exact "
        f"(query, kernel) justification in RAW_ROW_JUSTIFIED"
    )


def test_kernel_audit_positive_control(spark, sf_dir):
    """The audit must actually see kernel calls and flag raw feeds —
    guard against the wrapper or plan accessors silently no-opping."""
    from hbase_support_spark.io import load_table

    o = load_table(spark, sf_dir, "orders")
    with recording_kernel_feeds() as fed:
        # NB: operators reach the kernels through the module attribute
        ranking.with_global_rank(o, ["o_orderkey"], "r")
    assert fed, "recorder saw no kernel call"
    assert not _is_reduced(fed[-1][1]), "raw orders scan must read as un-reduced"
    grid = o.groupBy("o_orderstatus").agg({"*": "count"})
    assert _is_reduced(grid), "an Aggregate grid must read as reduced"


def test_kernel_audit_join_blindspot_canaries(spark, sf_dir):
    """ADVICE r9 canaries for the recursive scale judgment: an
    Aggregate on one branch of a non-broadcast join must NOT launder
    the raw probe branch (the SMJ blind spot), while genuinely
    reduced compositions must still pass."""
    from pyspark.sql import functions as F

    from hbase_support_spark.io import load_table

    o = load_table(spark, sf_dir, "orders")
    dim = o.groupBy("o_orderstatus").agg(F.count("*").alias("n"))

    # raw probe ⋈ aggregated dim (no broadcast hint): row-scale —
    # the old any-Aggregate-anywhere traversal called this reduced
    assert not _is_reduced(o.join(dim, "o_orderstatus")), (
        "raw-probe SMJ to an aggregated dim must read as un-reduced"
    )
    # the same join with the dim broadcast-hinted: the hint is a size
    # claim about the dim, NOT about the probe — still un-reduced
    assert not _is_reduced(o.join(F.broadcast(dim), "o_orderstatus")), (
        "broadcasting the dim does not reduce the probe rows"
    )
    # grid ⋈ grid: both branches reduced — reduced
    dim2 = o.groupBy("o_orderpriority").agg(F.count("*").alias("m"))
    both = dim.crossJoin(dim2)
    assert _is_reduced(both), "join of two aggregates must read as reduced"
    # grid ⋈ broadcast raw-but-hinted tiny side: trusted via the hint
    tiny = load_table(spark, sf_dir, "region")
    assert _is_reduced(dim.crossJoin(F.broadcast(tiny))), (
        "broadcast-hinted branch is trusted as tiny"
    )
    # semi join: only the left branch contributes rows
    assert _is_reduced(dim.join(o, "o_orderstatus", "left_semi")), (
        "semi join of a grid against raw rows stays grid-scale"
    )
    assert not _is_reduced(o.join(dim, "o_orderstatus", "left_semi")), (
        "semi join of raw rows stays row-scale"
    )
    # Union: every branch contributes rows
    assert not _is_reduced(dim.select("o_orderstatus").union(o.select("o_orderstatus"))), (
        "union with a raw branch is row-scale"
    )
