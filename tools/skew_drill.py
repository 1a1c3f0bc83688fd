"""Hot-key skew drill — strict parity on data where one key dominates
(r9; the fourth adversarial axis after shape / order / values).

Production 100-TB tables are never uniform: one user generates 30%
of events, one customer places a third of the orders, one supplier
feeds half the lineitems. Skew is primarily a PLAN hazard (a single
straggler shuffle partition, one giant hash bucket — the reason for
AQE skew-join and salting), but it is also a CORRECTNESS hazard: a
hot group exercises accumulation orders, tie seams, and per-group
state sizes that uniform fixtures never reach (e.g. a 30k-event
session chain, a rank window over one 18k-row group).

The drill rewrites the fixture with a deterministic hot-key remap —
rows whose xxhash64(row-identity) lands in 3/10 buckets get their
DISTRIBUTION key replaced by the table's minimum key:

  * events.user_id   -> hot user   (~30% of all events)
  * orders.o_custkey -> hot customer
  * lineitem.l_suppkey / l_partkey -> hot supplier / hot part

Row-IDENTITY keys (event_id, o_orderkey, (l_orderkey, l_linenumber),
doc_id, vec_id) are never touched: the engine's determinism contract
breaks ties on them, and destroying their uniqueness would create
true ambiguity no engine pair can agree on. documents is left
unskewed on purpose: the dedup block caps (lang, source) are
ENFORCED quarantines that raise on oversized blocks — a skewed
source would demonstrate the quarantine, not test parity.

Both engines read the same skewed bytes, so any mismatch is an
engine seam surfaced by the hot group, not a data artifact.

Usage: python tools/skew_drill.py [src_sf_dir] [name_filter ...]
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

# table -> (identity column for the deterministic bucket hash,
#           [distribution keys to remap onto the table minimum])
_SKEW = {
    "events": ("event_id", ["user_id"]),
    "orders": ("o_orderkey", ["o_custkey"]),
    "lineitem": ("l_orderkey", ["l_suppkey", "l_partkey"]),
}
_HOT_BUCKETS = 3  # of 10 -> ~30% of rows land on the hot key


def build(spark, src: str, dst: str) -> None:
    """Write the hot-key-skewed copy of every fixture table."""
    os.makedirs(dst, exist_ok=True)
    for t in TABLES:
        out = os.path.join(dst, f"{t}.parquet")
        if os.path.exists(out):
            continue
        df = load_table(spark, src, t)
        if t in _SKEW:
            ident, keys = _SKEW[t]
            mins = df.agg(*[F.min(k).alias(k) for k in keys]).first()
            hot = F.pmod(F.xxhash64(F.col(ident)), F.lit(10)) < _HOT_BUCKETS
            for k in keys:
                df = df.withColumn(
                    k, F.when(hot, F.lit(int(mins[k]))).otherwise(F.col(k))
                )
        df.coalesce(2).write.mode("overwrite").parquet(out + ".tmp")
        os.rename(out + ".tmp", out)


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sys.argv[2:]
    spark = get_spark("skew-drill", master="local[8]", shuffle_partitions=8)
    dst = os.path.abspath(
        ".scratch/skew_" + os.path.basename(os.path.normpath(src))
    )
    build(spark, src, dst)
    if sweep(spark, dst, names, "hot-key-skewed data"):
        sys.exit(1)


if __name__ == "__main__":
    main()
