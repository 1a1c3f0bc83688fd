"""Run the local differential oracle over all registered queries.

Usage: python tools/run_parity.py [sf_dir] [name_filter ...]
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, ".")

from hbase_support_spark import get_spark, load_all, QUERIES, ORACLES
from hbase_support_spark.parity import compare, duckdb_connect


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("parity", master="local[8]", shuffle_partitions=8)
    if sweep(spark, sf_dir, sys.argv[2:]):
        sys.exit(1)


def sweep(spark, sf_dir: str, names: list[str], label: str = "") -> list[str]:
    """Build each registered query whose name contains one of ``names``
    (every query when empty) over ``sf_dir`` and compare it with its
    DuckDB oracle over the same files; a query without an oracle only
    has to run. Prints one line per query and a summary ending in
    ``on <label>``; returns the failed names."""
    load_all()
    con = duckdb_connect(sf_dir)
    todo = [n for n in QUERIES if not names or any(f in n for f in names)]
    failed = []
    for name in todo:
        t0 = time.time()
        try:
            df = QUERIES[name](spark, sf_dir)
            if name in ORACLES:
                ok, detail = compare(df, ORACLES[name], con)
            else:
                cnt = df.count()
                ok, detail = True, f"rows-only ({cnt} rows)"
        except Exception as e:
            ok, detail = False, f"EXCEPTION: {type(e).__name__}: {str(e)[:300]}"
        dt = time.time() - t0
        print(f"{'PASS' if ok else 'FAIL'} {name:32s} {dt:6.2f}s  {detail}")
        if not ok:
            failed.append(name)
    on = f" on {label}" if label else ""
    print(f"\n{len(todo) - len(failed)}/{len(todo)} passed{on}")
    if failed:
        print("failed:", ", ".join(failed))
    return failed


if __name__ == "__main__":
    main()
