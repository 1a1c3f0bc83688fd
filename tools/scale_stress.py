"""Scale-stress harness — runs registry queries on an R-times
replicated copy of a fixture dir (facts replicated with shifted keys
so cardinalities actually grow; dims copied as-is), giving scaling
evidence one decade beyond the largest driver fixture without
touching /root/testdata.

Usage: python tools/scale_stress.py [R] [sf_dir] [query ...]
Default: R=8 over sf0.1 (lineitem 600k -> 4.8M rows) on the heavy
representative set.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F

from hbase_support_spark import QUERIES, get_spark, load_all
from hbase_support_spark.io import TABLES, load_table

# per-table key columns to shift per replica (facts); absent = copy.
# The shift step is computed from the ACTUAL per-column max (+1) at
# build time — a hard-coded step smaller than the real id range would
# collide replicas on that key, so the dimension stops growing and
# per-key timelines interleave across replicas (ADVICE r03).
SHIFT = {
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}

DEFAULT_QUERIES = [
    "agg_sum_min_max_avg",
    "stream_session_30m",
    "dedup_exact",
    "dedup_near_minhash",
    "win_row_number_topk",
    "agg_quantile_exact_global",
    "events_feature_pit_join",
    "graph_triangle_count",
    "pipeline_chunk_sliding",
]


def _doc_perturb(d, i: int):
    """Replica-unique suffix on EVERY whitespace token (injective
    token mapping): within-replica duplicate structure is preserved
    exactly — two docs share a shingle after the rewrite iff they
    shared it before — while cross-replica token sets are disjoint,
    so shingle/ngram Jaccard between replicas is 0. n_chars is
    recomputed to keep the length column consistent.

    ``source`` is ALSO suffixed per replica (a new crawl batch per
    replica — the realistic shape of corpus growth): the blocked-
    exact pair kernels self-join on the (lang, source) block, and
    with a shared source the block size grows ×R — the first bounded
    x128 census left dedup_containment effectively non-terminating
    on 32k-doc blocks (and past NGRAM_EXACT_BLOCK_CAP those kernels
    now RAISE by design). Suffixed sources keep every block at base
    size, so candidate pairs stay R × base."""
    if i == 0:
        return d
    d = d.withColumn("text", F.regexp_replace("text", r"(\S+)", f"$1w{i}"))
    d = d.withColumn("source", F.concat(F.col("source"), F.lit(f"_r{i}")))
    return d.withColumn("n_chars", F.length("text").cast("long"))


def _emb_perturb(d, i: int, dim: int = 64):
    """Per-replica SIGNED COORDINATE PERMUTATION — an orthogonal
    transform, so every within-replica cosine/dot/norm is preserved
    bit-for-bit in structure (same pairs pass any threshold), while
    cross-replica cosines are scrambled to ~0 (a vector and its
    differently-permuted twin decorrelate). Permutation stride is odd
    (bijective mod 64); the sign pattern is a per-(replica, dim)
    sha256 parity so the rare stride/offset collision at i'=i+64
    still decorrelates."""
    if i == 0:
        return d
    import hashlib

    a = 2 * (i % 16) + 1
    perm = [(a * j + i) % dim for j in range(dim)]

    def sgn(j: int) -> float:
        return 1.0 if hashlib.sha256(f"{i},{j}".encode()).digest()[0] % 2 == 0 else -1.0

    arr = F.array(
        *[(F.col("embedding")[perm[j]] * F.lit(sgn(j))).cast("float") for j in range(dim)]
    )
    return d.withColumn("embedding", arr)


def build_bounded(spark, src: str, dst: str, r: int) -> None:
    """Duplication-bounded replica set (r12, VERDICT r11 item 1): the
    plain ``build`` gives every doc/vector R-1 exact twins, so the
    pair/similarity family's TRUE output grows C(R,2) — a replica
    census of those kernels measures the fixture artifact, not the
    plan, and every prior census excluded them (the standing blind
    spot the r11 LSH shuffle bug hid in). Here each replica is
    DECORRELATED from the others:

    * documents.text — per-replica token suffix (``_doc_perturb``)
    * embeddings.embedding — per-replica signed coordinate
      permutation (``_emb_perturb``); embeddings.label also shifts so
      label-blocked kernels keep base-sized blocks (the blocks-grow-
      with-R alternative would trip the O(block²) caps by design)
    * events.ts — per-replica whole-span time shift, so concurrent
      actives per hour stay base-sized (events_coactivity_topk's
      distinct-pair state is quadratic in concurrent actives — at x32
      that's ~1.15e9 pair counts, sound on a cluster, unholdable in
      one census JVM). Cost: the literal-2024-01 date-window family
      sees base-density data here; the UNBOUNDED census artifacts
      (CENSUS_x128_r11) already cover those at R× density — the two
      fixtures are complementary, documented in SCALE.md.

    Duplicate multiplicity bound: every true duplicate relationship
    lives WITHIN one replica, so pair output is exactly R × (base
    pair output) = O(corpus), and all registry queries can ride one
    census with zero exclusions."""
    ev = load_table(spark, src, "events")
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    step_days = int(((hi - lo).days if hi and lo else 30)) + 2

    shift = {**SHIFT, "embeddings": ["vec_id", "label"]}
    perturb = {
        "documents": _doc_perturb,
        "embeddings": _emb_perturb,
        "events": lambda d, i: d
        if i == 0
        else d.withColumn("ts", F.col("ts") + F.expr(f"INTERVAL {i * step_days} DAYS")),
    }
    _replicate(spark, src, dst, r, shift, perturb)


def build(spark, src: str, dst: str, r: int) -> None:
    _replicate(spark, src, dst, r, SHIFT, {})


def _replicate(spark, src, dst, r, shift, perturb) -> None:
    for t in TABLES:
        out = load_table(spark, src, t)
        if t in shift:
            out = replicate(out, shift[t], r, perturb.get(t))
        out.write.mode("overwrite").parquet(f"{dst}/{t}.parquet")


def replicate(base, cols: list[str], r: int, perturb=None):
    """``r`` copies of one table's frame; copy i shifts each of
    ``cols`` by i * (max + 1) and then passes through
    ``perturb(frame, i)`` when given."""
    maxes = base.agg(
        *[F.max(c).alias(c) for c in cols]
    ).first()  # one metadata-scale row per table
    steps = {c: int(maxes[c]) + 1 for c in cols}
    parts = []
    for i in range(r):
        d = base
        for col in cols:
            d = d.withColumn(col, F.col(col) + F.lit(i * steps[col]))
        if perturb is not None:
            d = perturb(d, i)
        parts.append(d)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def main() -> None:
    r = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    src = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    names = sys.argv[3:] or DEFAULT_QUERIES
    load_all()
    spark = get_spark("stress", shuffle_partitions=32)
    dst = os.path.abspath(f".scratch/stress_x{r}")
    if not os.path.exists(f"{dst}/lineitem.parquet"):
        t0 = time.time()
        build(spark, src, dst, r)
        print(f"built x{r} replica set in {time.time() - t0:.1f}s -> {dst}")
    QUERIES["agg_rowcount"](spark, dst).collect()  # warm
    for name in names:
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            QUERIES[name](spark, dst).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        print(f"{name:32s} {best:7.3f}s  (x{r} of {src.rsplit('/',1)[-1]})")


if __name__ == "__main__":
    main()
