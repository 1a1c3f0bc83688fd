"""Rewrite the table in PLANS.md, the per-query plan fingerprint, from
one build of every registered query at sf0.001
(`explain.render_plans`); the prose above the table is kept.
tests/test_plans.py renders the same table from the suite's plan
capture and fails on any difference, so regenerate after a
plan-affecting change:

    python tools/gen_plans.py           # rewrite the table
    python tools/gen_plans.py --check   # write nothing; exit 1 if stale

Both also list the queries whose DataFrame build starts Spark jobs.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from hbase_support_spark import get_spark, load_all, QUERIES
from hbase_support_spark.plans.explain import PlanCaptures, render_plans


def main() -> int:
    load_all()
    # the session shape of tests/conftest.py, so both render one table
    spark = get_spark("tests", master="local[8]", shuffle_partitions=8)
    sf = "/root/testdata/sf0.001"
    captures = PlanCaptures(spark, sf)
    table = render_plans(captures, QUERIES)
    eager = [f"{n} ({c.build_jobs})" for n, c in sorted(captures.built.items()) if c.build_jobs]
    print(f"{len(eager)} queries start Spark jobs while built: " + ", ".join(eager))
    path = os.path.join(REPO, "PLANS.md")
    with open(path, encoding="utf-8") as fh:
        prose, head, old = fh.read().partition("| query |")
    if head + old == table:
        print("PLANS.md current")
    elif "--check" in sys.argv:
        print("PLANS.md stale (run `python tools/gen_plans.py`)")
        return 1
    else:
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(prose + table)
        print(f"PLANS.md rewritten ({len(QUERIES)} queries)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
