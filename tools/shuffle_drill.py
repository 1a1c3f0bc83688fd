"""Shuffled-input determinism drill — strict parity on row-order- and
file-layout-permuted data (r9; the first of the post-closure
adversarial drills pre-staged in registry.py).

The engine's determinism contract claims NO query's value depends on
input order: money sums ride exact integer cents, time math exact
integer µs, rank/argmin seams carry unique tie-breaks, decay weights
are powers of two (SCALE.md / BENCH.md invariants). The regen drill
varies the DATA (replicated, key-shifted); nothing yet varies the
ORDER the same bytes arrive in. That is exactly the axis a cluster
moves under the engine's feet: a different executor count, a
re-balanced object store, or AQE coalescing changes partition file
boundaries and per-partition row order, so any order-dependent
accumulation (a float sum folded left-to-right, a first()/head
masquerading as min, a collect_list consumed positionally without a
sort) produces a different answer on the SAME table.

The drill rewrites every fixture table with rows in a deterministic
keyless permutation (ORDER BY a salted hash of the whole row text —
no natural key involved, so co-clustered groups scatter) and split
across a DIFFERENT file count per table (round-robin of the hash,
so file boundaries cut groups mid-stream), then runs the FULL strict
IEEE-bit parity sweep against DuckDB over the SAME permuted files.
Both engines read identical bytes, so a mismatch is an
order-sensitivity in one engine's plan — the class the invariants
ledger promises cannot exist.

Usage: python tools/shuffle_drill.py [src_sf_dir] [name_filter ...]
Default: /root/testdata/sf0.01 (driver grading SF), full registry.
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, ".")

from pyspark.sql import functions as F

from hbase_support_spark import get_spark
from hbase_support_spark.io import TABLES, load_table
from tools.run_parity import sweep

# Files per table in the permuted copy — deliberately different per
# table and different from the single-file source, so every join's
# two sides arrive with unrelated layouts.
_FILE_COUNTS = {
    "lineitem": 7,
    "orders": 5,
    "events": 6,
    "customer": 3,
    "supplier": 2,
    "part": 3,
    "documents": 4,
    "embeddings": 4,
    "nation": 1,
    "region": 1,
}


def build(spark, src: str, dst: str) -> None:
    """Write the order-permuted copy of every fixture table."""
    os.makedirs(dst, exist_ok=True)
    for t in TABLES:
        out = os.path.join(dst, f"{t}.parquet")
        if os.path.exists(out):
            continue
        df = load_table(spark, src, t)
        # deterministic keyless permutation: hash of the full row text
        # with a salt so it correlates with no natural key ordering
        rowtxt = F.concat_ws("\x1f", *[F.col(c).cast("string") for c in df.columns])
        h = F.xxhash64(F.concat(F.lit("shuffle-drill-r9|"), rowtxt))
        n_files = _FILE_COUNTS.get(t, 4)
        (
            df.withColumn("_h", h)
            .repartition(n_files, F.col("_h"))  # round-robin-ish by hash
            .sortWithinPartitions("_h")
            .drop("_h")
            .write.mode("overwrite")
            .parquet(out + ".tmp")
        )
        os.rename(out + ".tmp", out)


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sys.argv[2:]
    spark = get_spark("shuffle-drill", master="local[8]", shuffle_partitions=8)
    dst = os.path.abspath(".scratch/shuffled_" + os.path.basename(os.path.normpath(src)))
    build(spark, src, dst)
    if sweep(spark, dst, names, "shuffled-input drill"):
        sys.exit(1)


if __name__ == "__main__":
    main()
