"""Driver-contract verification — run the graded surface exactly the
way the per-round driver does (see .claude/skills/verify/SKILL.md).

Differences from ``tools/drill.py none`` (the fast iteration sweep):
  * imports ``__spark_entry__`` from a NEUTRAL cwd, proving the
    contract file self-bootstraps sys.path;
  * uses a VANILLA SparkSession (no engine confs pre-set) — every
    conf the engine needs must be applied at runtime by
    ``io.ensure_confs``, because that is the session the driver
    hands us;
  * smoke-runs ``entry()`` first, like the driver's schema check.

Usage: python tools/verify_contract.py [sf_dir]   (default sf0.01)
"""

from __future__ import annotations

import os
import sys


def main() -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    os.chdir("/tmp")  # neutral cwd, not the repo
    sys.path.insert(0, repo)

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )  # vanilla on purpose — the driver's reality

    import __spark_entry__ as e
    from hbase_support_spark.parity import compare, duckdb_connect

    rows = e.entry(spark).collect()
    print(f"entry(): {len(rows)} rows")
    con = duckdb_connect(sf_dir)
    oracles = e.oracle_sql()
    n_pass = failed = 0
    for name, fn in e.queries().items():
        try:
            df = fn(spark, sf_dir)
            if name in oracles:
                ok, detail = compare(df, oracles[name], con)
            else:
                ok, detail = df.count() >= 0, "rows-only"
        except Exception as ex:
            ok, detail = False, f"EXCEPTION: {type(ex).__name__}: {str(ex)[:300]}"
        if not ok:
            print("FAIL", name, detail)
            failed += 1
        else:
            n_pass += 1
    print(f"TOTAL {n_pass} pass, {failed} fail")
    if failed:
        sys.exit(1)


if __name__ == "__main__":
    main()
