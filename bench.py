"""Headline benchmark — the driver's per-round performance probe.

Runs the BASELINE.md query set through the engine's registry at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS], warm best-of-3 per query (BASELINE.md was
best-of-2; r12 widened the sample and records every run so the judge
can read the same-code spread directly), and prints ONE JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from hbase_support_spark import get_spark, load_all
from hbase_support_spark import registry

# headline name -> registry query (keys mirror BASELINE.md rows)
HEADLINE = {
    "q1_pricing_summary": "agg_sum_min_max_avg",
    "q3_shipping_priority": "join_shipping_priority_topk",
    "q5_local_supplier": "join_multiway_star",
    "window_topk_per_cust": "win_row_number_topk",
    # BASELINE.md's events_sessionize_agg row is a 2-key agg; the
    # extra sessionize_30m_full row is true (heavier) sessionization.
    "events_sessionize_agg": "events_profile_agg",
    "sessionize_30m_full": "stream_session_30m",
    "events_tumbling_window": "stream_tumbling_1h",
    "distinct_users": "agg_distinct_users",
    "dedup_exact": "dedup_exact",
    "sim_knn_query": "sim_knn_query",
    "sim_pairs_blas": "sim_pairs_threshold_blas",
}

WARMS = 3
RUNS = 3

# Host-idleness gate (VERDICT r10 item 2): BENCH_r10 vs a same-day
# same-code re-measure disagreed by 21% with loadavg 2.2+ at start —
# round-over-round deltas were unattributable without a manual
# identical-tree control. The bench now WAITS for the 1-min loadavg
# to drop under the gate (up to IDLE_WAIT seconds, polling) and then
# labels the run host_idle true/false, so the recorded JSON itself
# says whether the number is comparable. It labels rather than
# refuses: the driver must always get its one JSON line.
LOAD_GATE = float(os.environ.get("SPARK_GRAFT_LOAD_GATE", "1.5"))
IDLE_WAIT = float(os.environ.get("SPARK_GRAFT_IDLE_WAIT", "90"))


def _wait_for_idle() -> tuple[float, float, bool]:
    """(loadavg_at_entry, wait_spent, is_idle_now)."""
    entry = os.getloadavg()[0]
    waited, load = 0.0, entry
    while load > LOAD_GATE and waited < IDLE_WAIT:
        time.sleep(5.0)
        waited += 5.0
        load = os.getloadavg()[0]
    return entry, waited, load <= LOAD_GATE


def _cpu_cal() -> float:
    """Single-core CPU calibration marker (round 9).

    A fixed pure-python loop timed before Spark starts. Guest loadavg
    cannot see HOST contention on a VM: round 9 opened with every
    headline query uniformly ~30% slower than round 8's idle reading
    on an identical tree at loadavg 0.2 — unexplainable guest-side.
    This marker gives each bench JSON an absolute single-core speed
    reading so a uniform drift can be attributed to the machine (cal
    moved with it) vs the plans (cal flat). Reference: 2.09 s on the
    round-8/9 host at nominal 2.1 GHz.
    """
    t0 = time.perf_counter()
    s = 0
    for i in range(20_000_000):
        s += i
    assert s == 199999990000000
    return round(time.perf_counter() - t0, 3)


def main() -> None:
    # Idle gate + calibration run HERE, not at import: anything
    # importing bench.py must not block on host load (ADVICE r11).
    load_entry, idle_waited, host_idle = _wait_for_idle()
    load_start = os.getloadavg()
    # The "idle triple" control (VERDICT r10 item 2): three
    # consecutive calibration readings so the judge can separate code
    # from host without a manual re-run. A tight triple (spread under
    # ~10%) means single-core speed was stable while the bench ran;
    # min is the comparable number (least-contended sample).
    cpu_cal_triple = [_cpu_cal() for _ in range(3)]
    cpu_cal = min(cpu_cal_triple)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    load_all()
    # 8 initial shuffle partitions at bench SF (same as BASELINE.md's
    # method); AQE re-coalesces at runtime either way. At cluster
    # scale this knob is ~2-3x total cores — see session.py.
    spark = get_spark("bench", shuffle_partitions=int(os.environ.get("SPARK_GRAFT_SHUFFLE", "8")))
    # warm the JVM/reader paths once so per-query numbers measure the
    # plan, not first-touch classloading (same method as BASELINE.md)
    registry.QUERIES["agg_rowcount"](spark, sf_dir).collect()

    per_query: dict[str, float] = {}
    per_query_runs: dict[str, list[float]] = {}
    for name, qname in HEADLINE.items():
        fn = registry.QUERIES[qname]
        # three unmeasured warm runs per query, then best-of-3
        # measured with EVERY run recorded (VERDICT r11 item 3: q3/q5
        # swung +-25% same-code even idle-gated, so a single min hid
        # the spread the judge needs to attribute a delta to code vs
        # host). Warmup depth 3: a fresh session's executions ride
        # the JVM tiered-JIT compile curve for ~6 reps (measured: q1
        # falls 0.78 -> 0.41 s over six reps with zero plan change) —
        # warm1 triples were still monotone-decreasing (r12 reading),
        # warm3 puts the measured triple on the plateau so it
        # measures the PLAN, not compile luck (VERDICT r05 item 4).
        for _ in range(WARMS):
            fn(spark, sf_dir).collect()
        runs = []
        for _ in range(RUNS):
            t0 = time.perf_counter()
            fn(spark, sf_dir).collect()
            runs.append(round(time.perf_counter() - t0, 3))
        per_query_runs[name] = runs
        per_query[name] = min(runs)

    total = round(sum(per_query.values()), 3)
    # machine-load marker (VERDICT r05 item 7): the r4->r5 comparison
    # was muddied by a concurrent census sweep; loadavg at start/end
    # makes the driver's number interpretable (cold_start: whether
    # this process paid the JVM/classloader warmup, always True for
    # a fresh `python bench.py`; the warmup query absorbs it).
    load_end = os.getloadavg()
    print(
        json.dumps(
            {
                "metric": "headline_total_best_of_3",
                "value": total,
                "unit": "sec",
                "queries": per_query,
                "query_runs": per_query_runs,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "loadavg_entry_1m": round(load_entry, 2),
                "loadavg_start_1m": round(load_start[0], 2),
                "loadavg_end_1m": round(load_end[0], 2),
                # entry-state only: the bench's own 32-thread work
                # legitimately inflates the END loadavg
                "host_idle": host_idle,
                "idle_gate": LOAD_GATE,
                "idle_wait_sec": idle_waited,
                "cpu_cal_sec": cpu_cal,
                "cpu_cal_triple": cpu_cal_triple,
                # EFFECTIVE core count: the session's default
                # parallelism, i.e. the N of the local[N] master
                # session.py builds from $SPARK_GRAFT_CPUS, NOT
                # os.cpu_count() — a low-core scaling run must see its
                # env take effect (VERDICT r12 item 3).
                "cpus": spark.sparkContext.defaultParallelism,
                "master": spark.sparkContext.master,
                "host_cpus": os.cpu_count(),
                "method": "warm3_best_of_3",
            }
        )
    )


if __name__ == "__main__":
    main()
