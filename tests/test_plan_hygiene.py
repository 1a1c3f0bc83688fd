"""Plan hygiene over the ENTIRE registry: no accidental cartesian
products and no row-at-a-time Python evaluation anywhere (SURVEY.md
§4 — UDFs must be Arrow-batched). Analysis-only: plans are inspected
without executing, read from the session's plan capture (each query is
built once for every static audit)."""

from __future__ import annotations

import pytest

from hbase_support_spark import QUERIES, load_all
from hbase_support_spark.plans.explain import is_reducer, walk

load_all()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_cartesian_no_row_python(name, captures):
    plan = captures[name].formatted
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"
    # BatchEvalPython = row-at-a-time Python UDF; Arrow paths show
    # ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas instead
    assert "BatchEvalPython" not in plan, f"{name} uses row-at-a-time Python"


# ---------------------------------------------------------------- global windows
#
# An unpartitioned Window (``OVER (ORDER BY ...)`` with no PARTITION
# BY) moves its whole input to ONE task — Spark warns "No Partition
# Defined for Window operation". That's metadata-scale-only territory:
# the only place it may appear is above an Aggregate (a per-partition
# counts frame, a digit histogram, a confusion matrix) or a global
# Limit (a top-k frame already cut to k rows, e.g. ranking the int8
# top-10), never over a raw table scan. Rank statistics over
# per-entity frames (RFM, Gini, Zipf) use the distributed kernel in
# operators/ranking.py instead.


def _bad_global_windows(plan) -> list[str]:
    bad = []
    for node in walk(plan):
        if node.nodeName() != "Window":
            continue
        try:
            unpartitioned = node.partitionSpec().isEmpty()
        except Exception:
            unpartitioned = False
        if unpartitioned and not any(is_reducer(n) for n in walk(node)):
            bad.append(node.simpleString(120))
    return bad


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_global_window_over_raw_data(name, captures):
    bad = _bad_global_windows(captures[name].executed)
    assert not bad, f"{name}: unpartitioned Window over un-aggregated input: {bad}"
