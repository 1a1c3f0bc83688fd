"""Thin-slice drill — strict parity on a 2% sample of every fact
table (r9; the fifth adversarial axis: shape / order / values /
skew / SPARSITY).

A small or filtered corpus empties the structures dense fixtures
always populate: one-event users, one-vector label blocks, zero
conversions, vanished anchor rows, empty candidate sets, wedge-free
graphs. Those are exactly the edges where the engines' disagreement
modes live — Spark's ANSI mode THROWS on x/0 while DuckDB yields
NULL, SUM over an empty group is NULL while COUNT(*) FILTER is 0,
an empty pandas block materializes list columns as float64 that
Arrow cannot cast, and an absent anchor row turns .head() into
None. None of these can surface on the dense driver fixture; all of
them occur routinely at 100 TB (empty partitions, filtered shards,
cold segments).

The drill keeps rows whose identity-key hash lands in 1 of 50
buckets (~2%, deterministic, whole orders/lineitems move together
via l_orderkey) and runs the full strict parity sweep. First run
(r9): 418/428 — ten genuine robustness defects across six classes,
all fixed same-session (sign-of-zero entropy, ANSI div-zero in
power-MDE/triangle, empty-block Arrow dtype in four pair kernels,
small-block self-pair leak in the BLAS kNN, NULL-vs-0 n_found in
the LSH recall report, None-anchor crash in the persisted IVF
probe, and the DECIMAL-literal-folded z² in the Wilson bound).

Usage: python tools/thin_drill.py [src_sf_dir] [name_filter ...]
Default: /root/testdata/sf0.01 (driver grading SF), full registry.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, ".")

from pyspark.sql import functions as F

from hbase_support_spark import get_spark
from hbase_support_spark.io import TABLES, load_table
from tools.run_parity import sweep

# identity column whose hash decides survival; whole orders move
# together so referential joins stay internally consistent
_IDENT = {
    "events": "event_id",
    "orders": "o_orderkey",
    "lineitem": "l_orderkey",
    "documents": "doc_id",
    "embeddings": "vec_id",
}
_KEEP_BUCKETS = 1  # of 50 -> ~2%


def build(spark, src: str, dst: str) -> None:
    """Write the 2%-thin copy of every fixture table."""
    os.makedirs(dst, exist_ok=True)
    for t in TABLES:
        out = os.path.join(dst, f"{t}.parquet")
        if os.path.exists(out):
            continue
        df = load_table(spark, src, t)
        if t in _IDENT:
            df = df.filter(
                F.pmod(F.xxhash64(F.col(_IDENT[t])), F.lit(50)) < _KEEP_BUCKETS
            )
        df.coalesce(1).write.mode("overwrite").parquet(out + ".tmp")
        os.rename(out + ".tmp", out)


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sys.argv[2:]
    spark = get_spark("thin-drill", master="local[8]", shuffle_partitions=8)
    dst = os.path.abspath(
        ".scratch/thin_" + os.path.basename(os.path.normpath(src))
    )
    build(spark, src, dst)
    if sweep(spark, dst, names, "2%-thin data"):
        sys.exit(1)


if __name__ == "__main__":
    main()
