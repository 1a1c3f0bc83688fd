"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload kv_mixed --seed 1 --seconds 10 --trace 0

Runs from the repository root. Set-up (session start, registry load,
input generation, output checks, warm-up) is timed from process start
to the first timed op as ``setup_s``; then a fixed number of ops,
sized to take about ``--seconds``, runs in a single-client closed
loop. Human-readable lines go to stderr; the last stdout line is one
JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. The traced run traces every other op
cycle and reports the overhead against the untraced cycles. Spans
are written to ``.perfbench_runs/spans-<workload>-seed<n>-trace<t>.jsonl``.
Exits non-zero if any output check fails or the engine is missing.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

WORKLOAD_NAMES = ("kv_mixed", "olap_headline", "dedup_replica")
SHUFFLE_PARTITIONS = 8
DRIVER_MEMORY = "2g"

END_TO_END = {"setup_s": "s", "op_p50_ms": "ms", "op_mean_ms": "ms", "op_cpu_ms": "ms"}

SELF_SPANS = (
    "op", "io.load_table", "operators.build", "spark.exec", "txlog.read", "api.build",
    "source.build", "txlog.merge", "txlog.compact", "catalyst.analysis",
    "catalyst.optimization", "catalyst.planning", "spark.job",
)
LAYERS = {
    "session.start_ms": "ms",
    "registry.load_all_ms": "ms",
    "setup.gen_ms": "ms",
    "setup.warmup_ms": "ms",
    "api.build_ms": "ms",
    "txlog.read_ms": "ms",
    "txlog.live_files": "count",
    "txlog.merge_ms": "ms",
    "txlog.touched_files": "count",
    "txlog.touched_ratio": "ratio",
    "txlog.bytes_written": "B",
    "txlog.compact_ms": "ms",
    "txlog.compact_bytes_rewritten": "B",
    "txlog.compactions": "count",
    "io.load_table_ms": "ms",
    "operators.build_ms": "ms",
    "operators.build_jobs": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "spark.exec_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.core_busy_ratio": "ratio",
    "spark.shuffle_write_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "spark.fetch_wait_ms": "ms",
    "spark.spill_bytes": "B",
    "spark.input_rows": "rows",
    "spark.rows_examined_per_row_returned": "ratio",
    "spark.result_rows": "rows",
    "kv.read_p50_ms": "ms",
    "kv.read_p90_ms": "ms",
    "kv.write_p50_ms": "ms",
    "kv.bytes_written_per_row": "B/row",
    "trace.op_p50_ms": "ms",
    "trace.untraced_op_p50_ms": "ms",
    "trace.overhead_ms": "ms",
    "trace.traced_ops": "count",
    "jvm.peak_rss_mb": "MB",
    "python.peak_rss_mb": "MB",
}


def per_layer_units(workload: str) -> dict[str, str]:
    """Every per-layer metric of ``workload`` and its unit; needs the
    engine importable. The gated workloads share one set, with a
    ``query.*`` metric per headline query; ``dedup_replica`` has one
    per dedup kernel instead."""
    from workloads import DEDUP_KERNELS, HEADLINE

    queries = DEDUP_KERNELS if workload == "dedup_replica" else HEADLINE
    return {
        **LAYERS,
        **{f"query.{q}_ms": "ms" for q in queries},
        **{f"self.{s}_ms": "ms" for s in SELF_SPANS},
    }


def _percentile(xs: list[float], q: float) -> float:
    """Nearest-rank percentile (0 for an empty sample)."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, math.ceil(q * len(s)) - 1))]


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _steal_ticks() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def _cpu_cal() -> float:
    """Single-core speed marker: a fixed pure-Python loop (host context only)."""
    t0 = time.perf_counter()
    s = 0
    for i in range(3_000_000):
        s += i
    return time.perf_counter() - t0


def _tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of ``root`` and its live descendants,
    with the children each has reaped."""
    ppid, cpu = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process exited while we listed /proc
            continue
        ppid[int(d)] = int(fields[1])
        cpu[int(d)] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    tree, todo = set(), [root]
    while todo:
        p = todo.pop()
        tree.add(p)
        todo += [c for c, pp in ppid.items() if pp == p and c not in tree]
    return sum(cpu.get(p, 0) for p in tree) / os.sysconf("SC_CLK_TCK")


def _vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def _configure_env(run_dir: str) -> None:
    """Keep every file Spark writes inside the per-run directory and
    pin the knobs that otherwise default to host-dependent values."""
    local = os.path.join(run_dir, "spark-local")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(run_dir, "scratch")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} "
        f"--conf spark.local.dir={local} pyspark-shell"
    )


def _aggregate(per_op: list[dict]) -> dict[str, float]:
    """Per-op layer values: times aggregate as medians, the rest as means."""
    keys = {k for d in per_op for k in d}
    out = {}
    for k in keys:
        vals = [d[k] for d in per_op if k in d]
        out[k] = _median(vals) if k.endswith("_ms") else sum(vals) / len(vals)
    return out


def _per_layer(w, tracer, results, proc_pid) -> dict[str, float]:
    traced = [(i, r) for i, (t, r) in enumerate(results) if t and not r.errors]
    untraced = [r for t, r in results if not t and not r.errors]
    per_op = []
    for i, r in traced:
        layers = dict(r.layers)
        if layers.get("spark.job_wall_ms", 0) > 0:
            layers["spark.core_busy_ratio"] = layers["spark.executor_run_ms"] / (
                layers["spark.job_wall_ms"] * w.probe.cores)
        if layers.get("spark.result_rows", 0) > 0:
            layers["spark.rows_examined_per_row_returned"] = (
                layers["spark.input_rows"] / layers["spark.result_rows"])
        for name, ms in tracer.self_times(i).items():
            layers[f"self.{name}_ms"] = ms
        per_op.append(layers)
    agg = _aggregate(per_op)
    setup = {s["name"]: 1000 * (s["end"] - s["start"]) for s in tracer.spans if s["op"] is None}
    agg["session.start_ms"] = setup.get("session.start", 0.0)
    agg["registry.load_all_ms"] = setup.get("registry.load_all", 0.0)
    agg["setup.gen_ms"] = setup.get("setup.gen", 0.0)
    agg["setup.warmup_ms"] = setup.get("setup.warmup", 0.0)
    agg.update(w.run_layers())
    done = [r for _, r in results if not r.errors]
    reads = [1000 * r.latency_s for r in done if r.kind == "read"]
    writes = [1000 * r.latency_s for r in done if r.kind == "write"]
    agg["kv.read_p50_ms"] = _median(reads)
    agg["kv.read_p90_ms"] = _percentile(reads, 0.9)
    agg["kv.write_p50_ms"] = _median(writes)
    t_p50 = _median([1000 * r.latency_s for _, r in traced])
    u_p50 = _median([1000 * r.latency_s for r in untraced])
    agg["trace.op_p50_ms"] = t_p50
    agg["trace.untraced_op_p50_ms"] = u_p50
    agg["trace.overhead_ms"] = t_p50 - u_p50
    agg["trace.traced_ops"] = len(traced)
    agg["jvm.peak_rss_mb"] = _vm_hwm_mb(proc_pid)
    agg["python.peak_rss_mb"] = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    return {k: agg.get(k, 0.0) for k in per_layer_units(w.name)}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--small", action="store_true",
                    help="sf0.001-sized inputs, for the benchmark's own smoke test")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "hbase_support_spark", "__init__.py")):
        print("perfbench: engine package hbase_support_spark not found next to "
              "perfbench/; run from a full checkout", file=sys.stderr)
        return 2

    runs_root = os.path.join(ROOT, ".perfbench_runs")
    run_dir = os.path.join(runs_root, f"{args.workload}-seed{args.seed}-{os.getpid()}")
    _configure_env(run_dir)

    from hbase_support_spark import get_spark, load_all
    from tracing import Tracer
    from workloads import WORKLOADS, OpResult

    nproc = len(os.sched_getaffinity(0))
    tracer = Tracer()
    spark = None
    try:
        with tracer.span("session.start"):
            spark = get_spark(f"perfbench-{args.workload}", master=f"local[{nproc}]",
                              shuffle_partitions=SHUFFLE_PARTITIONS)
        with tracer.span("registry.load_all"):
            load_all()
        w = WORKLOADS[args.workload](spark, run_dir, args.seed, tracer, small=args.small)
        w.setup()
        setup_s = time.perf_counter() - T0

        n_ops = w.n_ops(args.seconds)
        load_start, steal_start = os.getloadavg()[0], _steal_ticks()
        w.begin()
        results = []
        cpu0 = _tree_cpu_s(os.getpid())
        tw0 = time.perf_counter()
        for i in range(n_ops):
            traced = bool(args.trace) and (i // w.min_ops) % 2 == 0
            try:
                r = w.op(i, traced)
            except Exception as e:  # noqa: BLE001 - counted as a failed op
                r = OpResult(float("nan"), "error", [f"op {i}: {type(e).__name__}: {str(e)[:300]}"])
            results.append((traced, r))
        window_s = time.perf_counter() - tw0
        cpu_s = _tree_cpu_s(os.getpid()) - cpu0
        final_errors = w.final_check()
        steal = _steal_ticks() - steal_start
        cpu_cal = _cpu_cal()
        jvm_pid = spark.sparkContext._gateway.proc.pid

        ok_lat = [1000 * r.latency_s for t, r in results if not r.errors and not (args.trace and t)]
        failed = sum(1 for _, r in results if r.errors)
        errors = w.setup_errors + [e for _, r in results for e in r.errors] + final_errors
        if args.trace:
            metrics = _per_layer(w, tracer, results, jvm_pid)
            units = per_layer_units(args.workload)
        else:
            metrics = {
                "setup_s": setup_s,
                "op_p50_ms": _median(ok_lat),
                "op_mean_ms": sum(ok_lat) / len(ok_lat) if ok_lat else 0.0,
                "op_cpu_ms": 1000 * cpu_s / n_ops,
            }
            units = END_TO_END
        context = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "ops": n_ops, "window_s": window_s, "setup_s": setup_s,
            "master": spark.sparkContext.master, "nproc": nproc,
            "shuffle_partitions": SHUFFLE_PARTITIONS,
            "loadavg_1m_start": load_start, "loadavg_1m_end": os.getloadavg()[0],
            "steal_ticks": steal, "cpu_cal_s": cpu_cal,
            "failed_ops_share": failed / n_ops, "errors": errors[:20],
            "op_latencies_ms": [[r.kind, traced, 1000 * r.latency_s] for traced, r in results],
        }
        tracer.dump(os.path.join(
            runs_root, f"spans-{args.workload}-seed{args.seed}-trace{args.trace}.jsonl"), context)
    finally:
        if spark is not None:
            proc = spark.sparkContext._gateway.proc
            spark.stop()
            spark.sparkContext._gateway.shutdown()
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)

    samples = len(ok_lat)
    for e in errors[:20]:
        print(f"perfbench: CHECK FAILED: {e}", file=sys.stderr)
    print(f"perfbench: {args.workload} seed={args.seed} trace={args.trace} ops={n_ops} "
          f"samples={samples} failed={failed} failed_ops_share={failed / n_ops:.3f} "
          f"window={window_s:.2f}s master={context['master']} loadavg={load_start:.2f} "
          f"steal={steal} cpu_cal={cpu_cal:.3f}s", file=sys.stderr)
    for k, v in metrics.items():
        print(f"perfbench:   {k:48s} {v:14.4f} {units[k]}", file=sys.stderr)
    correct = not errors
    print(json.dumps({
        "correct": correct,
        "attempted": n_ops,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
