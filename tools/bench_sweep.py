"""Full-registry wall-clock sweep — the end-of-round perf census.

Runs EVERY registered query at the bench SF with a noop sink (plan
executes, results discarded — no collect skew) and prints a sorted
timing table plus the total. This is the number BENCH.md tracks
round-over-round: the registry must be able to grow without the
sweep total growing super-linearly, and no single query may drift
past its documented ceiling unnoticed.

Transient-failure policy (r8, VERDICT r07 item 4; refined r9 per
ADVICE): marathon censuses occasionally hit py4j
``ConnectionRefused``-class socket flakes (4 false alarms in the r7
405-query run, each clean standalone). A failed query is therefore
retried up to ``_RETRIES`` times — on a FRESH SparkSession if the
old one's JVM bridge died — with three distinct outcomes:

- ``flaked-then-passed`` (live session, retry succeeded): a harness
  socket observation, not the query; listed in the flake ledger,
  does not fail the census.
- ``jvm-died-then-passed`` (the session was found DEAD after the
  failure and the query passed on a fresh JVM): exactly the
  signature of a query that OOM-killed the JVM — the ×32 failure
  class the census exists to hunt. Listed separately and FAILS the
  census (exit 1) until re-adjudicated standalone; r8's coactivity
  catch would otherwise have been laundered as a socket flake.
- deterministic analysis errors (``AnalysisException`` family with
  the session still alive): not retried at all — a broken query
  fails the same way three times, and two wasted retries per broken
  query triple the cost of a bad 428-query census.

Usage: python tools/bench_sweep.py [sf_dir] [name_filter ...]
Default: $SPARK_GRAFT_SF_DIR or /root/testdata/sf0.1, all queries.
A filter starting with ``-`` EXCLUDES queries whose name contains
the rest (used by replica-harness censuses to skip the documented
super-linear C(R,2) pair kernels); all other filters include.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hbase_support_spark import QUERIES, get_spark, load_all
from tools.census import restart_spark

_RETRIES = 2  # attempts after the first failure

# The documented super-linear-under-PLAIN-replica-harness family:
# pair/similarity kernels whose TRUE output grows C(R,2) when the
# harness replicates every entity verbatim (each doc/user gains R-1
# exact twins), so a plain-replica census measures the artifact, not
# the plan (SCALE.md, r5 minhash row onward). events_coactivity_topk
# joined in r8: at x32 its exact answer is ~1.15e9 distinct pair
# counts (~55 GB of distributed aggregation state) — sound on a
# cluster, unholdable in the single 8 g census JVM under ANY plan.
# Auto-excluded when the sf_dir is a PLAIN stress replica dir
# (build()); the r12 census instead runs the whole registry on the
# DUPLICATION-BOUNDED fixture (build_bounded — decorrelated replicas,
# SCALE.md r12), where this family is linear and needs no exclusion.
REPLICA_QUADRATIC = {
    "dedup_near_minhash",
    "dedup_semdedup_keep",
    "dedup_source_overlap_matrix",
    "dedup_minhash_1bit_recall",
    "dedup_lsh_recall_report",
    "dedup_winnow_pairs",
    "dedup_embedding_cosine",
    "dedup_cluster_keep_min",
    "dedup_incremental_vs_corpus",
    "sim_pairs_threshold",
    "sim_pairs_threshold_blas",
    "sim_knn_self_join",
    "sim_knn_self_join_blas",
    "dedup_ngram_jaccard",
    "dedup_ngram_jaccard_fast",
    "dedup_substring_spans",
    "dedup_containment",
    "dedup_simhash",
    "join_er_fuzzy_string",
    "events_coactivity_topk",
}


_SHUFFLE = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "8"))


def _deterministic(err: Exception) -> bool:
    """True when the error class re-raises identically on retry (so
    retrying a live session is pure wasted wall-clock): analysis /
    parse / schema errors, not socket or executor-death classes."""
    try:
        from pyspark.errors import AnalysisException, ParseException
    except ImportError:  # pragma: no cover - pyspark<3.4 layout
        from pyspark.sql.utils import AnalysisException, ParseException
    if isinstance(err, (AnalysisException, ParseException, TypeError, KeyError)):
        return True
    # ANSI arithmetic overflow re-raises identically (the r9 ×128
    # census class: BIGINT headroom, a data-magnitude property)
    return "ARITHMETIC_OVERFLOW" in str(err)


def _session_alive(spark) -> bool:
    try:
        return spark.range(1).count() == 1
    except Exception:  # noqa: BLE001 — any bridge error means dead
        return False


def main() -> None:
    sf_dir = (
        sys.argv[1]
        if len(sys.argv) > 1
        else os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    names = sys.argv[2:]
    load_all()
    spark = get_spark("bench-sweep", shuffle_partitions=_SHUFFLE)
    QUERIES["agg_rowcount"](spark, sf_dir).collect()  # warm
    incl = [f for f in names if not f.startswith("-")]
    excl = [f[1:] for f in names if f.startswith("-")]
    auto_skip: set[str] = set()
    if "stress_" in os.path.basename(os.path.normpath(sf_dir)):
        auto_skip = REPLICA_QUADRATIC & set(QUERIES)
        print(
            f"replica-harness census: auto-excluding {len(auto_skip)} "
            f"documented C(R,2) pair kernels (REPLICA_QUADRATIC)"
        )
    todo = [
        n
        for n in QUERIES
        if (not incl or any(f in n for f in incl))
        and not any(e in n for e in excl)
        and n not in auto_skip
    ]
    times: dict[str, float] = {}
    flaked: dict[str, str] = {}  # name -> first-attempt error summary
    jvm_died: dict[str, str] = {}  # passed only after a JVM restart
    failed: list[str] = []
    t_all = time.perf_counter()
    for name in todo:
        last_err = None
        restarted = False  # did THIS query's failure kill the JVM?
        for attempt in range(1 + _RETRIES):
            t0 = time.perf_counter()
            try:
                QUERIES[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                times[name] = time.perf_counter() - t0
                if attempt and restarted:
                    jvm_died[name] = last_err
                    print(
                        f"JVM-DIED-THEN-PASSED {name} (attempt "
                        f"{attempt + 1}): suspect OOM/JVM kill — first "
                        f"error was {last_err}"
                    )
                elif attempt:
                    flaked[name] = last_err
                    print(
                        f"FLAKED-THEN-PASSED {name} (attempt "
                        f"{attempt + 1}): first error was {last_err}"
                    )
                break
            except Exception as e:  # noqa: BLE001
                last_err = f"{type(e).__name__}: {str(e)[:160]}"
                print(
                    f"FAIL {name} (attempt {attempt + 1}/{1 + _RETRIES}): "
                    f"{last_err}"
                )
                alive = _session_alive(spark)
                if not alive:
                    print("  spark session dead — restarting JVM bridge")
                    spark = restart_spark(spark, "bench-sweep", _SHUFFLE)
                    restarted = True
                elif _deterministic(e):
                    # live session + analysis-class error: the query is
                    # broken the same way every time — retries only
                    # triple the wasted wall-clock (ADVICE r9)
                    print("  deterministic analysis error — not retrying")
                    failed.append(name)
                    break
        else:
            failed.append(name)
    total = time.perf_counter() - t_all
    for name, dt in sorted(times.items(), key=lambda kv: -kv[1]):
        print(f"{name:36s} {dt:7.3f}s")
    print(
        f"\nTOTAL {total:.1f}s for {len(times)}/{len(todo)} queries at "
        f"{sf_dir} ({len(flaked)} flaked-then-passed, "
        f"{len(jvm_died)} jvm-died-then-passed, {len(failed)} failed)"
    )
    if flaked:
        print("flake ledger (retry succeeded — harness socket, not query):")
        for name, err in flaked.items():
            print(f"  {name}: {err}")
    if jvm_died:
        print(
            "JVM-death ledger (query killed the JVM, then passed fresh — "
            "suspect OOM; re-adjudicate each standalone before declaring "
            "the census clean):"
        )
        for name, err in jvm_died.items():
            print(f"  {name}: {err}")
    if failed:
        print("failed (all attempts):", ", ".join(failed))
    if failed or jvm_died:
        sys.exit(1)


if __name__ == "__main__":
    main()
