#!/usr/bin/env python
"""Full-registry census at an R-times replicated fixture.

r12: runs EVERY registry query — zero exclusions — against the
DUPLICATION-BOUNDED replica set (tools/scale_stress.build_bounded):
replicas are decorrelated (per-replica token suffixes on text, signed
coordinate permutations on embeddings, whole-span time shifts on
events), so the pair/similarity family's true output stays
R × (base pairs) = O(corpus) instead of C(R,2) — the family every
prior census had to exclude (bench_sweep.REPLICA_QUADRATIC) finally
gets at-scale evidence on the same artifact as everything else.

Census bookkeeping: a query that throws is retried once on the same
session (``flaked`` if it then passes); a dead JVM (py4j connection
error) restarts the session and retries (``jvm-died``); anything
still failing is ``failed`` and listed. Every flake/jvm-death is also
printed as its own marker line so a ``--resume=<log>`` run carries
prior tallies forward instead of silently laundering them (ADVICE
r11). Output: one line per query sorted slowest-first, plus
header/footer tallies.

Usage: python tools/census.py [R] [sf_dir] [out_file] [--resume=log]
Default: R=128 over sf0.1 -> CENSUS_x128_r12.txt
"""

from __future__ import annotations

import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hbase_support_spark import QUERIES, get_spark, load_all
from tools.scale_stress import build_bounded  # noqa: E402


def _is_jvm_death(exc: BaseException) -> bool:
    s = f"{type(exc).__name__}: {exc}"
    return any(m in s for m in (
        "Py4JNetworkError", "Connection refused", "Answer from Java side is empty",
        "Java gateway process", "Py4JError", "EOFError",
    ))


def restart_spark(old, app_name: str, shuffle_partitions: int):
    """Fully restart the JVM after a gateway death and return a fresh
    ``get_spark(app_name, shuffle_partitions=...)``: py4j caches the
    dead gateway on SparkContext, so a plain get_spark() would try to
    reuse it and die with ConnectionRefused (observed r11)."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    proc = getattr(SparkContext._gateway, "proc", None)
    try:
        old.stop()
    except Exception:
        pass
    try:
        # stop() alone leaves the py4j-launched JVM alive (observed
        # r11: each 40-query restart leaked a ~20 GB idle JVM);
        # shutting the gateway down asks the process to exit.
        if SparkContext._gateway is not None:
            SparkContext._gateway.shutdown()
    except Exception:
        pass
    if proc is not None:
        # shutdown() is advisory: r12 observed every 40-query restart
        # leaving its JVM alive AND busy (abandoned stages + GC loops
        # burning 5-20 cores each), so by mid-census 7 orphaned JVMs
        # were contending with the live one and poisoning timings.
        # pyspark stores the JVM's Popen on the gateway — reap it,
        # escalating to SIGKILL if it ignores the polite path.
        try:
            proc.wait(timeout=10)
        except Exception:
            try:
                proc.kill()
                proc.wait(timeout=10)
            except Exception:
                pass
    SparkContext._active_spark_context = None
    SparkContext._gateway = None
    SparkContext._jvm = None
    SparkSession._instantiatedSession = None
    SparkSession._activeSession = None
    os.environ.pop("PYSPARK_GATEWAY_PORT", None)
    os.environ.pop("PYSPARK_GATEWAY_SECRET", None)
    return get_spark(app_name, shuffle_partitions=shuffle_partitions)


def _parse_prior(log_path: str) -> tuple[dict[str, float], list, list]:
    """Resume support: timings from '[i/N] name   12.345s' lines PLUS
    the flake/jvm-death markers of the prior segment, so the written
    artifact's tallies cover the whole census, not just the resumed
    part (ADVICE r11)."""
    import re

    done, flaked, jvm_died = {}, [], []
    with open(log_path, encoding="utf-8") as fh:
        for line in fh:
            m = re.match(r"\[\d+/\d+\] (\S+)\s+([0-9.]+)s", line)
            if m:
                done[m.group(1)] = float(m.group(2))
            m = re.match(r"FLAKED (\S+)", line)
            if m:
                flaked.append(m.group(1))
            m = re.match(r"JVM-DIED (\S+)", line)
            if m:
                jvm_died.append(m.group(1))
    return done, flaked, jvm_died


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--resume")]
    resume, flaked, jvm_died = {}, [], []
    for a in sys.argv[1:]:
        if a.startswith("--resume="):
            resume, flaked, jvm_died = _parse_prior(a.split("=", 1)[1])
    r = int(args[0]) if len(args) > 0 else 128
    src = args[1] if len(args) > 1 else "/root/testdata/sf0.1"
    out_path = args[2] if len(args) > 2 else f"CENSUS_x{r}_r12.txt"
    load_all()
    spark = get_spark("census", shuffle_partitions=32)
    dst = os.path.abspath(f".scratch/stress_bounded_x{r}")
    if not os.path.exists(f"{dst}/lineitem.parquet"):
        t0 = time.time()
        build_bounded(spark, src, dst, r)
        print(f"built bounded x{r} replica set in {time.time() - t0:.1f}s -> {dst}",
              flush=True)
    QUERIES["agg_rowcount"](spark, dst).collect()  # warm

    times: dict[str, float] = {}
    failed: list[str] = []
    names = sorted(QUERIES)
    times.update({n: t for n, t in resume.items() if n in names})
    if resume:
        print(f"resumed {len(times)} timings, {len(set(flaked))} flakes, "
              f"{len(set(jvm_died))} jvm-deaths from prior log", flush=True)
    for i, name in enumerate(names, 1):
        if name in times:
            continue
        if i % 40 == 0:
            # bound cross-query JVM state: localCheckpoint blocks and
            # shuffle files accumulate across a 429-query session and
            # at x128 eventually thrash GC (observed r11: 50+ GB heap,
            # GCLocker retries, an 8g run died outright). A periodic
            # clean restart keeps every query's timing on a fresh heap.
            spark = restart_spark(spark, "census", 32)
            QUERIES["agg_rowcount"](spark, dst).collect()  # rewarm
        for attempt in (1, 2):
            t0 = time.perf_counter()
            try:
                QUERIES[name](spark, dst).write.format("noop").mode(
                    "overwrite").save()
                times[name] = time.perf_counter() - t0
                if attempt == 2:
                    flaked.append(name)
                    print(f"FLAKED {name}", flush=True)
                break
            except Exception as e:
                if _is_jvm_death(e):
                    jvm_died.append(name)
                    print(f"JVM-DIED {name}", flush=True)
                    spark = restart_spark(spark, "census", 32)
                if attempt == 2:
                    failed.append(name)
                    print(f"FAILED {name}: {type(e).__name__}: {e}"[:300],
                          flush=True)
                    traceback.print_exc(limit=3)
        if name in times:
            print(f"[{i}/{len(names)}] {name:37s} {times[name]:7.3f}s",
                  flush=True)

    total = sum(times.values())
    hdr = (f"# x{r} census at r12 HEAD on the DUPLICATION-BOUNDED replica "
           f"fixture (decorrelated replicas, zero exclusions — the "
           f"REPLICA_QUADRATIC family rides the same artifact): "
           f"{len(times)}/{len(names)} of {len(QUERIES)} registry queries, "
           f"{len(set(flaked))} flaked / {len(set(jvm_died))} jvm-died / "
           f"{len(failed)} failed, TOTAL {total:.1f}s")
    lines = [hdr] + [
        f"{n:37s} {t:7.3f}s" for n, t in
        sorted(times.items(), key=lambda kv: -kv[1])
    ] + [
        f"TOTAL {total:.1f}s for {len(times)}/{len(names)} queries at "
        f"{dst} ({len(set(flaked))} flaked-then-passed, "
        f"{len(set(jvm_died))} jvm-died-then-passed, {len(failed)} failed)"
    ]
    if failed:
        lines.append("FAILED: " + ", ".join(failed))
    with open(out_path, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(lines[0])
    print(lines[-1])
    # an OOM or a JVM death at scale is a failure, never noise
    if failed or jvm_died:
        sys.exit(1)


if __name__ == "__main__":
    main()
