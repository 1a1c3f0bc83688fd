"""Spans and Spark-side counters for the traced run.

Spans are recorded only from the benchmark's own files, around each
call into an engine layer: name, start, end, parent span and op id,
kept in memory and written out as JSON lines when the run ends.
Catalyst phases (the query's ``QueryPlanningTracker``) and Spark jobs
(the op's job group in ``AppStatusStore``) are added as spans too,
parented by time containment, so each layer's self time is its
spans' duration minus the part their children cover.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

CATALYST_PHASES = ("analysis", "optimization", "planning")

# stage counters summed over an op's stages: metric -> StageData getter
STAGE_COUNTERS = {
    "spark.executor_run_ms": "executorRunTime",
    "spark.executor_cpu_ms": "executorCpuTime",  # ns, scaled below
    "spark.gc_ms": "jvmGcTime",
    "spark.shuffle_write_bytes": "shuffleWriteBytes",
    "spark.shuffle_read_bytes": "shuffleReadBytes",
    "spark.fetch_wait_ms": "shuffleFetchWaitTime",
    "spark.input_rows": "inputRecords",
}


class Tracer:
    """In-memory span recorder; one instance per run."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": self.op_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float, **attrs) -> None:
        """Add a span measured elsewhere (JVM clock, epoch seconds),
        parented by the innermost span of the current op containing
        its midpoint."""
        mid = (start + end) / 2
        parent = None
        for s in self.spans:
            if s["op"] == self.op_id and s["end"] is not None and s["start"] <= mid <= s["end"]:
                if parent is None or s["start"] >= parent["start"]:
                    parent = s
        self.spans.append({
            "id": len(self.spans),
            "name": name,
            "op": self.op_id,
            "parent": parent["id"] if parent else None,
            "start": start,
            "end": end,
            **attrs,
        })

    def self_times(self, op_id: int) -> dict[str, float]:
        """Per span name, the op's total self time in ms."""
        spans = [s for s in self.spans if s["op"] == op_id]
        kids: dict[int, list[dict]] = {}
        for s in spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in spans:
            covered, cur_end = 0.0, s["start"]
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cur_end), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out[s["name"]] = out.get(s["name"], 0.0) + 1000 * (s["end"] - s["start"] - covered)
        return out

    def dump(self, path: str, context: dict) -> None:
        with open(path, "w") as f:
            f.write(json.dumps({"context": context}) + "\n")
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def catalyst_phases(df, tracer: Tracer | None = None, force: bool = False) -> dict[str, float]:
    """Catalyst phase durations (ms) of ``df``'s QueryExecution.

    ``force`` plans the DataFrame first: a ``noop`` write runs under a
    fresh QueryExecution, so its query's own phases are replayed here
    on the same logical plan, after the op's timing has ended."""
    qe = df._jdf.queryExecution()
    if force:
        qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for p in CATALYST_PHASES:
        o = phases.get(p)
        if o.isDefined():
            ph = o.get()
            out[f"catalyst.{p}_ms"] = float(ph.durationMs())
            if tracer is not None and not force:
                tracer.add(f"catalyst.{p}", ph.startTimeMs() / 1000, ph.endTimeMs() / 1000)
    return out


class SparkProbe:
    """Reads Spark's own status store for an op's job groups."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.store = self._jsc.statusStore()
        self.cores = self.sc.defaultParallelism

    def group(self, gid: str) -> None:
        self.sc.setJobGroup(gid, gid)

    def clear(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def harvest(self, groups: list[str], tracer: Tracer | None = None) -> dict[str, float]:
        """Sum job/stage counters over the given job groups."""
        self._jsc.listenerBus().waitUntilEmpty()
        out = {k: 0.0 for k in ("spark.jobs", "spark.stages", "spark.tasks",
                                "spark.spill_bytes", *STAGE_COUNTERS)}
        intervals = []
        for g in groups:
            for jid in self.sc.statusTracker().getJobIdsForGroup(g):
                jd = self.store.job(jid)
                out["spark.jobs"] += 1
                if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                    start = jd.submissionTime().get().getTime() / 1000
                    end = jd.completionTime().get().getTime() / 1000
                    intervals.append((start, end))
                    if tracer is not None:
                        tracer.add("spark.job", start, end, job=jid, group=g)
                sids = jd.stageIds()
                for k in range(sids.size()):
                    sd = self.store.lastStageAttempt(sids.apply(k))
                    if str(sd.status()) == "SKIPPED":
                        continue
                    out["spark.stages"] += 1
                    out["spark.tasks"] += sd.numCompleteTasks()
                    out["spark.spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    for metric, getter in STAGE_COUNTERS.items():
                        out[metric] += getattr(sd, getter)()
        out["spark.executor_cpu_ms"] /= 1e6
        wall_ms = 1000 * _union(intervals)
        out["spark.job_wall_ms"] = wall_ms
        return out


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
