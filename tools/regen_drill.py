"""Fixture-regeneration drill — strict parity on data we did NOT
tune against.

The driver regenerates every fixture each round, and both harness
blind spots so far (numeric kinds r02, sign-of-zero r03) were
invisible on the bytes the queries were developed against. This
drill runs the FULL strict (IEEE-bit) parity sweep on a
deliberately different dataset: an R-times replicated copy of the
driver fixture with max-derived key shifts (scale_stress.build), so
group sizes, aggregation orders, join fan-outs, tie patterns, and
near-dup structure (every doc gains an exact cross-replica twin)
all change. A query that only passes on today's bytes — a lucky
ROUND boundary, an untested tie, an order-dependent accumulation —
fails here before the driver's next fixture regen finds it.

Usage: python tools/regen_drill.py [R] [src_sf_dir] [name_filter ...]
Default: R=2 over sf0.01 (driver grading SF), full registry.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, ".")

from hbase_support_spark import get_spark
from tools.run_parity import sweep
from tools.scale_stress import build


def main() -> None:
    r = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    src = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    names = sys.argv[3:]
    spark = get_spark("regen-drill", master="local[8]", shuffle_partitions=8)
    dst = os.path.abspath(f".scratch/regen_x{r}")
    if not os.path.exists(f"{dst}/lineitem.parquet"):
        t0 = time.time()
        build(spark, src, dst, r)
        print(f"built x{r} drill set in {time.time() - t0:.1f}s -> {dst}")
    if sweep(spark, dst, names, f"regen drill x{r}"):
        sys.exit(1)


if __name__ == "__main__":
    main()
