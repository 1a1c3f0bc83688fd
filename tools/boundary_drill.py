"""Boundary-values determinism drill — strict parity on data whose
values are deliberately snapped onto rounding boundaries, exact tie
grids, and IEEE -0.0 (r9; the second post-closure adversarial drill
pre-staged in registry.py — "ties at ROUND boundaries, -0.0 seeds").

The regen drill varies data SHAPE (replication, key shifts) and the
shuffle drill varies data ORDER; neither varies where the VALUES sit
relative to the engine's arithmetic seams. This drill rewrites every
fixture with values chosen to maximize the four seam classes the
r02/r03 harness blind spots came from:

  * ROUND/midpoint landings — events.value snapped to exact halves
    (k/2, representable), so every median/percentile interpolation
    lands on a .25/.5/.75 midpoint and every AVG of two tied values
    is exact; lineitem prices snapped to quarters (k/4, cents-exact)
    so discount products and averages hit half-cent boundaries.
  * Massive ORDER BY tie density — o_totalprice snapped to $10 grid,
    prices to quarters, embedding components to k/64: any rank /
    argmin / top-k seam without a unique tie-break column goes
    nondeterministic HERE before it does on a regenerated fixture.
  * Exact-tied similarity scores — embedding components snapped to
    k/64 make every dot product a sum of k/4096 terms (exact in
    double), so cosine top-k and LSH distance comparisons tie in
    bulk across different vec_ids.
  * IEEE -0.0 seeds INSIDE arrays — components with |x| < 0.02
    become exactly -0.0 (the sign survives parquet), exercising
    norms, quantization, hashing, and min/max over signed zeros on
    the INPUT side (zero_sign_audit covers the output side).
  * Window-boundary timestamps — a deterministic subset of events.ts
    floors to exact hour / 15-minute marks, so tumbling/sliding
    window edges and 30-minute session gaps land exactly ON the
    boundary; a `>` vs `>=` spelling drift between an operator and
    its oracle diverges here and nowhere else.

Both engines read identical transformed bytes, so any mismatch is a
genuine engine-vs-oracle seam, not a data artifact. Transformations
stay inside the driver's data contract: prices remain cents-exact,
events.value stays strictly positive (clamped to 0.5), quantities /
dates / keys keep their domains.

Usage: python tools/boundary_drill.py [src_sf_dir] [name_filter ...]
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


def _snap_money(col: str, grid_cents: int):
    """Snap a cents-exact double onto a coarser cent grid, staying
    cents-exact: round(price*100) is already integral by contract,
    integer-divide to the grid, back to dollars."""
    c = F.round(F.col(col) * 100).cast("bigint")
    snapped = (c - (c % grid_cents)).cast("double") / 100.0
    return snapped


def build(spark, src: str, dst: str) -> None:
    """Write the boundary-valued copy of every fixture table."""
    os.makedirs(dst, exist_ok=True)
    for t in TABLES:
        out = os.path.join(dst, f"{t}.parquet")
        if os.path.exists(out):
            continue
        df = load_table(spark, src, t)
        if t == "lineitem":
            # prices to quarters (still cents-exact); keeps >0 because
            # the snapped value only drops by <25 cents from >=$900.
            df = df.withColumn("l_extendedprice", _snap_money("l_extendedprice", 25))
        elif t == "orders":
            # $10 grid -> dense per-customer ties; clamp so a sub-$10
            # order cannot snap to $0 under a regenerated fixture.
            df = df.withColumn(
                "o_totalprice",
                F.greatest(_snap_money("o_totalprice", 1000), F.lit(10.0)),
            )
        elif t == "events":
            # value to exact halves, strictly positive; ts: event_id%5
            # floors to the hour and event_id%7 to the 15-min mark, so
            # tumbling/sliding edges and exact 30:00 session gaps occur.
            half = F.round(F.col("value") * 2).cast("bigint").cast("double") / 2.0
            df = df.withColumn("value", F.greatest(half, F.lit(0.5)))
            df = df.withColumn(
                "ts",
                F.when(F.col("event_id") % 5 == 0, F.date_trunc("hour", F.col("ts")))
                .when(
                    F.col("event_id") % 7 == 0,
                    F.timestamp_seconds(
                        (F.unix_timestamp("ts") / 900).cast("bigint") * 900
                    ),
                )
                .otherwise(F.col("ts")),
            )
        elif t == "embeddings":
            # |x|<0.02 -> exactly -0.0; else snap to k/64 (exact in
            # float), making dot products exact sums of k/4096 and
            # top-k cosine scores tie across distinct vec_ids.
            df = df.withColumn(
                "embedding",
                F.expr(
                    "transform(embedding, x -> CASE WHEN abs(x) < 0.02f "
                    "THEN cast(-0.0 as float) "
                    "ELSE cast(round(x * 64) / 64 as float) END)"
                ),
            )
        df.coalesce(2).write.mode("overwrite").parquet(out + ".tmp")
        os.rename(out + ".tmp", out)


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sys.argv[2:]
    spark = get_spark("boundary-drill", master="local[8]", shuffle_partitions=8)
    dst = os.path.abspath(
        ".scratch/boundary_" + os.path.basename(os.path.normpath(src))
    )
    build(spark, src, dst)
    if sweep(spark, dst, names, "boundary-valued data"):
        sys.exit(1)


if __name__ == "__main__":
    main()
