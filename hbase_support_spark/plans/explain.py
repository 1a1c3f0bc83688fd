"""Plan inspection helpers — the 'did Catalyst do what we designed
for' feedback loop (SURVEY.md §4).

Used by tests/test_plans.py to assert the physical properties the
100-TB design depends on: filters pushed to the Parquet scan, columns
pruned, broadcast joins where dims are small, whole-stage codegen
coverage, and absence of accidental cartesian products.

The registry-wide audits share the one plan-tree walker
(:func:`children`, :func:`walk`), the build-once capture
(:class:`PlanCaptures`) and the PLANS.md fingerprint
(:func:`render_plans`) kept here.
"""

from __future__ import annotations

import functools
import re
from collections import Counter
from contextlib import contextmanager
from dataclasses import dataclass

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def pushed_filters(plan: str) -> bool:
    """True if a scan in the formatted ``plan`` reports a non-empty
    PushedFilters list."""
    return re.search(r"PushedFilters: \[[^\]]", plan) is not None


def read_schema_columns(plan: str) -> list[str]:
    """Column names in the first Parquet ReadSchema of the formatted
    ``plan`` — verifies column pruning reached the reader."""
    for line in plan.splitlines():
        if "ReadSchema" in line:
            schema = line.split("ReadSchema:", 1)[1].strip()
            inner = schema[schema.find("<") + 1 : schema.rfind(">")]
            return [f.split(":")[0] for f in inner.split(",") if f]
    return []


def codegen_stage_count(df: DataFrame) -> int:
    """WholeStageCodegen spans in the *executed* plan (AQE only
    finalizes stages — and their codegen markers — at runtime, and
    only on the exact plan tree that ran, hence collect() on df)."""
    df.collect()
    tree = df._jdf.queryExecution().executedPlan().toString()
    # '*(N) ' prefixes mark operators fused into codegen stage N
    stages = {
        line.split("*(", 1)[1].split(")", 1)[0]
        for line in tree.splitlines()
        if "*(" in line
    }
    return len(stages)


# ---------------------------------------------------------------- tree walker


def children(node) -> list:
    """Child nodes of a JVM plan node. ``AdaptiveSparkPlan`` is a leaf
    to Catalyst; here its one child is the plan it wraps (the initial
    plan until the query runs), so a walk sees through AQE."""
    if node.nodeName() == "AdaptiveSparkPlan":
        for m in ("initialPlan", "inputPlan", "executedPlan"):
            try:
                return [getattr(node, m)()]
            except (Py4JError, AttributeError):
                continue
        return []
    return seq(node.children())


def seq(scala_seq) -> list:
    """A Scala ``Seq`` from py4j as a Python list."""
    return [scala_seq.apply(i) for i in range(scala_seq.length())]


def column_names(exprs) -> list[str]:
    """Lower-cased names of a Scala ``Seq`` of attribute expressions
    (``o_orderstatus#12`` -> ``o_orderstatus``)."""
    return [e.toString().split("#")[0].strip().lower() for e in seq(exprs)]


def walk(node):
    """``node`` and every node below it, parents first."""
    stack = [node]
    while stack:
        n = stack.pop()
        yield n
        stack.extend(reversed(children(n)))


def is_reducer(node) -> bool:
    """An aggregate, limit or top-k: its output is below row scale."""
    return any(r in node.nodeName() for r in ("Aggregate", "Limit", "TakeOrdered"))


def streamed_side_reduced(node, window_width: int | None = None) -> bool:
    """True if, at or below ``node``, the streamed rows were already
    reduced: a reducer, or (with ``window_width``) a Window partitioned
    by more keys, the local stage of a two-phase top-k. Broadcast
    branches are skipped: a reducer on the small side of a join says
    nothing about the probe rows."""
    stack = [node]
    while stack:
        n = stack.pop()
        if is_reducer(n):
            return True
        if window_width is not None and n.nodeName() == "Window":
            try:
                if n.partitionSpec().length() > window_width:
                    return True
            except Py4JError:
                pass
        for c in children(n):
            cn = c.nodeName()
            if "BroadcastExchange" in cn or "BroadcastQueryStage" in cn:
                continue
            if "ReusedExchange" in cn and "Broadcast" in c.simpleString(200):
                continue
            stack.append(c)
    return False


# ---------------------------------------------------------------- capture


def jobs_during(spark, group: str, fn):
    """Run ``fn`` under a fresh job group; return (result, job count)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@contextmanager
def recording_kernel_feeds():
    """Wrap the ranking kernels for the block; yields the recorded
    ``(kernel, input_frame)`` pairs. Operators import the kernels at
    call time, so every call inside the block is seen."""
    from ..operators import ranking

    fed: list[tuple[str, DataFrame]] = []
    kernels = ("with_global_rank", "with_global_prefix_sum", "with_global_prefix_max")
    originals = {k: getattr(ranking, k) for k in kernels}
    for k, orig in originals.items():
        setattr(ranking, k, functools.partial(_recorded, fed, k, orig))
    try:
        yield fed
    finally:
        for k, orig in originals.items():
            setattr(ranking, k, orig)


def _recorded(fed, kernel, orig, df, *args, **kwargs):
    fed.append((kernel, df))
    return orig(df, *args, **kwargs)


@dataclass
class PlanCapture:
    df: DataFrame
    analyzed: object  # JVM LogicalPlan
    executed: object  # JVM SparkPlan; an AdaptiveSparkPlan before any run
    formatted: str
    kernel_feeds: list[tuple[str, DataFrame]]  # (kernel, input frame)
    build_jobs: int  # Spark jobs started while the DataFrame was built


class PlanCaptures:
    """name -> :class:`PlanCapture`, built on first request (job group,
    kernels recorded) and planned without running; a built query is
    never rebuilt (``builds`` counts). The fixture tables are loaded up
    front, so their one-off schema-inference jobs count against no
    query."""

    def __init__(self, spark, sf_dir: str):
        from ..io import TABLES, load_table

        self.spark, self.sf_dir = spark, sf_dir
        self.builds: Counter[str] = Counter()
        self.built: dict[str, PlanCapture] = {}
        for t in TABLES:
            load_table(spark, sf_dir, t)

    def __getitem__(self, name: str) -> PlanCapture:
        if name not in self.built:
            self.builds[name] += 1
            self.built[name] = self._build(name)
        return self.built[name]

    def _build(self, name: str) -> PlanCapture:
        from ..registry import QUERIES

        with recording_kernel_feeds() as fed:
            df, jobs = jobs_during(
                self.spark, f"plan-capture:{name}", lambda: QUERIES[name](self.spark, self.sf_dir)
            )
        qe = df._jdf.queryExecution()
        return PlanCapture(df, qe.analyzed(), qe.executedPlan(), formatted_plan(df), fed, jobs)


# ---------------------------------------------------------------- fingerprint

# operator in the plan tree -> PLANS.md label
FEATURES = {
    "BroadcastHashJoin": "bcast-hash-join", "SortMergeJoin": "sort-merge-join",
    "BroadcastNestedLoopJoin": "bcast-nl-join", "CartesianProduct": "CARTESIAN!",
    "HashAggregate": "hash-agg", "SortAggregate": "sort-agg",
    "ObjectHashAggregate": "obj-hash-agg", "TakeOrderedAndProject": "take-ordered",
    "Window": "window", "ArrowEvalPython": "arrow-udf",
    "FlatMapGroupsInPandas": "apply-in-pandas", "MapInPandas": "map-in-pandas",
    "BatchEvalPython": "ROW-PYTHON!", "Generate": "explode",
}
# column -> expression counted in the operators' own expressions
# (the details section: Output, Condition, Join condition, Functions)
SITES = {"intersect": "array_intersect(", "fold": "aggregate(", "xxhash64": "xxhash64("}
# column -> operators counted in the plan tree
NODES = {"arrow-py": ("MapInPandas", "ArrowEvalPython"), "rdd-scan": ("Scan ExistingRDD",)}
TABLE_HEAD = "| query | plan summary | " + " | ".join([*SITES, *NODES]) + " |"


def summarize(plan: str) -> list[str]:
    """The PLANS.md cells of one formatted explain: the operator and
    shuffle summary, then the site and operator counts."""
    # formatted mode = tree, blank line, then per-node details that
    # repeat every operator name — count operators from the tree only
    tree, _, details = plan.partition("\n\n")
    feats = []
    for marker, label in FEATURES.items():
        n = tree.count(marker)
        if n:
            feats.append(label if n == 1 else f"{label}x{n}")
    shuffles = len(re.findall(r"\bExchange\b", tree)) - tree.count("BroadcastExchange")
    pushed = ["pushdown"] if pushed_filters(plan) else []
    row = [", ".join([f"shuffles={max(shuffles, 0)}"] + pushed + feats)]
    row += [str(len(re.findall(r"\b" + re.escape(e), details))) for e in SITES.values()]
    return row + [str(sum(map(tree.count, ms))) for ms in NODES.values()]


def render_plans(captures: PlanCaptures, names) -> str:
    """The PLANS.md table for ``names`` (sorted), from its head row on;
    the prose above it in PLANS.md is not generated."""
    lines = [TABLE_HEAD, "|---" * TABLE_HEAD.count(" | ") + "|---|"]
    for name in sorted(names):
        try:
            row = summarize(captures[name].formatted)
        except Exception as e:  # noqa: BLE001 - one row per query either way
            row = [f"ERROR: {type(e).__name__}"] + [""] * (len(SITES) + len(NODES))
        lines.append(f"| `{name}` | " + " | ".join(row) + " |")
    return "\n".join(lines) + "\n"
