"""Drill runner: strict (IEEE-bit) oracle parity on a bent copy of the
fixtures.

Each axis rewrites every fixture table of ``src_sf_dir`` one way and
then sweeps the registry against DuckDB over the rewritten files. Both
engines read the same bytes, so a mismatch is an engine-vs-oracle seam
that the graded fixture does not happen to reach, not a data
artifact. Rewrites stay inside the fixtures' data contract: prices stay
cents-exact, events.value stays positive, row-identity keys stay
unique.

Axes (each one's reason sits next to its rewrite below):
  none      the source as it is (the plain parity sweep)
  regen     2x replica with shifted keys (shape)
  shuffle   rows permuted, files re-split (order)
  boundary  values snapped onto rounding and window seams (values)
  skew      ~30% of rows on one hot key (skew)
  thin      ~2% of each fact table (sparsity)
  text      degenerate document text (tokenizer edges)
  empty     zero rows in every table

Usage: python tools/drill.py <axis> [src_sf_dir] [name_filter ...]
Default src_sf_dir: ``io.DEFAULT_SF_DIR`` (sf0.01, the grading SF);
every query unless name filters are given. The copy is written once to
.scratch/<axis>_<basename of src_sf_dir> and reused by later runs.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from hbase_support_spark import ORACLES, QUERIES, get_spark, load_all
from hbase_support_spark.io import DEFAULT_SF_DIR, TABLES, load_table
from hbase_support_spark.parity import compare, duckdb_connect
from tools.scale_stress import SHIFT, replicate


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


def _regen(t, df):
    # The graded fixtures are regenerated every round, and the numeric
    # kind (r02) and sign-of-zero (r03) blind spots were invisible on
    # the bytes the queries were tuned on. A replica with max-derived
    # key shifts changes group sizes, accumulation orders, join
    # fan-outs and ties, and gives every doc an exact twin.
    return replicate(df, SHIFT[t], 2) if t in SHIFT else df


# Files per table: different per table and from the single-file
# source, so the two sides of every join arrive with unrelated layouts.
_SHUFFLE_FILES = {
    "lineitem": 7, "orders": 5, "events": 6, "customer": 3, "supplier": 2,
    "part": 3, "documents": 4, "embeddings": 4, "nation": 1, "region": 1,
}


def _shuffle(t, df):
    # No value may depend on input order, yet executor count, AQE
    # coalescing or a rebalanced store move row order and file
    # boundaries. Order by a salted hash of the whole row text (no
    # natural key survives) and split by it, so files cut groups.
    rowtxt = F.concat_ws("\x1f", *[F.col(c).cast("string") for c in df.columns])
    h = F.xxhash64(F.concat(F.lit("shuffle-drill-r9|"), rowtxt))
    return (
        df.withColumn("_h", h)
        .repartition(_SHUFFLE_FILES[t], F.col("_h"))
        .sortWithinPartitions("_h")
        .drop("_h")
    )


def _snap_money(col: str, grid_cents: int):
    """Snap a cents-exact double down onto a coarser cent grid; the
    result stays cents-exact."""
    c = F.round(F.col(col) * 100).cast("bigint")
    return (c - (c % grid_cents)).cast("double") / 100.0


def _boundary(t, df):
    # Values land on the arithmetic seams the regen and shuffle axes
    # never aim at: ROUND midpoints, dense ORDER BY ties, exactly tied
    # similarity scores, -0.0 inside arrays, and timestamps exactly on
    # window edges, where a `>` vs `>=` drift shows and nowhere else.
    if t == "lineitem":
        # quarters: discount products and averages hit half cents;
        # stays > 0, the snap drops < 25 cents from >= $900
        df = df.withColumn("l_extendedprice", _snap_money("l_extendedprice", 25))
    elif t == "orders":
        # $10 grid: dense per-customer ties; the clamp keeps a sub-$10
        # order of a regenerated fixture off $0
        df = df.withColumn(
            "o_totalprice", F.greatest(_snap_money("o_totalprice", 1000), F.lit(10.0))
        )
    elif t == "events":
        # value to exact halves, so medians land on .25/.5/.75 and
        # stays >= 0.5; ts: event_id%5 floors to the hour and %7 to
        # the 15-minute mark, so window edges and exact 30:00 session
        # gaps occur
        half = F.round(F.col("value") * 2).cast("bigint").cast("double") / 2.0
        df = df.withColumn("value", F.greatest(half, F.lit(0.5)))
        df = df.withColumn(
            "ts",
            F.when(F.col("event_id") % 5 == 0, F.date_trunc("hour", F.col("ts")))
            .when(
                F.col("event_id") % 7 == 0,
                F.timestamp_seconds((F.unix_timestamp("ts") / 900).cast("bigint") * 900),
            )
            .otherwise(F.col("ts")),
        )
    elif t == "embeddings":
        # |x| < 0.02 -> exactly -0.0 (the sign survives parquet); else
        # k/64, so dot products are exact sums of k/4096 and top-k
        # cosine scores tie across distinct vec_ids
        df = df.withColumn(
            "embedding",
            F.expr(
                "transform(embedding, x -> CASE WHEN abs(x) < 0.02f "
                "THEN cast(-0.0 as float) "
                "ELSE cast(round(x * 64) / 64 as float) END)"
            ),
        )
    return df.coalesce(2)


# table -> (identity column for the bucket hash, distribution keys
# remapped onto the table's minimum)
_SKEW = {
    "events": ("event_id", ["user_id"]),
    "orders": ("o_orderkey", ["o_custkey"]),
    "lineitem": ("l_orderkey", ["l_suppkey", "l_partkey"]),
}


def _skew(t, df):
    # Real tables are never uniform. A hot group reaches accumulation
    # orders, tie seams and per-group state sizes a uniform fixture
    # never does. Rows whose identity hash falls in 3 of 10 buckets
    # move to the minimum key. Identity keys stay unique: the
    # determinism contract breaks ties on them. documents stays
    # uniform: the dedup block caps are enforced quarantines that
    # raise on oversized blocks, which would test the cap, not parity.
    if t in _SKEW:
        ident, keys = _SKEW[t]
        mins = df.agg(*[F.min(k).alias(k) for k in keys]).first()
        hot = F.pmod(F.xxhash64(F.col(ident)), F.lit(10)) < 3
        for k in keys:
            df = df.withColumn(k, F.when(hot, F.lit(int(mins[k]))).otherwise(F.col(k)))
    return df.coalesce(2)


# identity column whose hash decides survival; whole orders (with
# their lineitems) survive together, so joins stay consistent
_THIN = {
    "events": "event_id",
    "orders": "o_orderkey",
    "lineitem": "l_orderkey",
    "documents": "doc_id",
    "embeddings": "vec_id",
}


def _thin(t, df):
    # A small or filtered corpus empties what dense fixtures always
    # fill: one-event users, zero conversions, missing anchor rows,
    # empty candidate sets. There the engines part ways: ANSI x/0
    # throws where DuckDB gives NULL, SUM of nothing is NULL where a
    # filtered COUNT is 0, an empty pandas block types list columns as
    # float64. Keep the rows whose identity hash is in 1 of 50 buckets.
    if t in _THIN:
        df = df.filter(F.pmod(F.xxhash64(F.col(_THIN[t])), F.lit(50)) < 1)
    return df.coalesce(1)


def _text(t, df):
    # Every text operator splits on spaces and drops empty tokens, then
    # divides by token counts, shingles and fingerprints. Generated
    # prose never reaches the edges of that rule; these documents do:
    # zero-token denominators, empty shingle arrays, one-token windows.
    if t == "documents":
        r = F.col("doc_id") % 17
        text = (
            F.when(r == 0, F.lit(""))
            .when(r == 1, F.lit("   "))
            .when(r == 2, F.lit("x"))
            .when(r == 3, F.lit("a b"))
            .when(r == 4, F.regexp_replace("text", " ", "  "))
            .when(r == 5, F.concat(F.lit(" "), F.col("text"), F.lit(" ")))
            .when(r == 6, F.upper("text"))
            .otherwise(F.col("text"))
        )
        df = df.withColumn("text", text).withColumn("n_chars", F.length("text").cast("long"))
    return df.coalesce(2)


def _empty(t, df):
    # empty partitions, 0/0, array_min of nothing, and reads back of
    # partitioned writes that left no part files
    return df.limit(0).coalesce(1)


AXES = {
    "none": None,
    "regen": _regen,
    "shuffle": _shuffle,
    "boundary": _boundary,
    "skew": _skew,
    "thin": _thin,
    "text": _text,
    "empty": _empty,
}


def target(axis: str, src: str) -> str:
    """The directory that holds ``axis``'s copy of ``src``."""
    return os.path.abspath(f".scratch/{axis}_{os.path.basename(os.path.normpath(src))}")


def build(spark, axis: str, src: str, dst: str) -> None:
    """Write ``axis``'s copy of every fixture table of ``src`` to
    ``dst``; a table already written there is kept."""
    os.makedirs(dst, exist_ok=True)
    for t in TABLES:
        out = os.path.join(dst, f"{t}.parquet")
        if os.path.exists(out):
            continue
        df = AXES[axis](t, load_table(spark, src, t))
        df.write.mode("overwrite").parquet(out + ".tmp")
        os.rename(out + ".tmp", out)


def main() -> None:
    if len(sys.argv) < 2 or sys.argv[1] not in AXES:
        sys.exit(__doc__)
    axis = sys.argv[1]
    src = sys.argv[2] if len(sys.argv) > 2 else DEFAULT_SF_DIR
    spark = get_spark(f"{axis}-drill", master="local[8]", shuffle_partitions=8)
    dst = src
    if AXES[axis] is not None:
        dst = target(axis, src)
        build(spark, axis, src, dst)
    if sweep(spark, dst, sys.argv[3:], f"{axis} drill"):
        sys.exit(1)


if __name__ == "__main__":
    main()
