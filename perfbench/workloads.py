"""The benchmark's three workloads.

Each is a single-client closed loop over a fixed, seeded op sequence;
the engine is reached only through its public functions
(``registry.QUERIES``, ``api.Table``, ``sources.txlog``,
``io.load_table``, ``parity.compare``). The inputs named here are
frozen in this file on purpose: editing ``bench.py``'s headline or
``tools/scale_stress.py`` does not change what the benchmark measures.
"""

from __future__ import annotations

import glob
import os
import random
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import gen
from tracing import Tracer, SparkProbe, catalyst_phases

from hbase_support_spark import QUERIES, ORACLES, TABLES, load_table
from hbase_support_spark.api import Table
from hbase_support_spark.parity import compare, duckdb_connect
from hbase_support_spark.sources import txlog

# bench.py's HEADLINE registry names, frozen
HEADLINE = (
    "agg_sum_min_max_avg",
    "join_shipping_priority_topk",
    "join_multiway_star",
    "win_row_number_topk",
    "events_profile_agg",
    "stream_session_30m",
    "stream_tumbling_1h",
    "agg_distinct_users",
    "dedup_exact",
    "sim_knn_query",
    "sim_pairs_threshold_blas",
)
DEDUP_KERNELS = (
    "dedup_near_minhash",
    "dedup_ngram_jaccard",
    "dedup_cluster_keep_min",
    "sim_pairs_threshold",
)

# kv_mixed op mix: one cycle of ten ops, 8 reads and 2 upserts. The
# cheap verbs (get, scan) are 7 of 10 ops, so the op median falls
# inside their latency band, not at its edge with multi_get.
KV_CYCLE = ("get", "scan", "get", "multi_get", "upsert", "scan", "get", "scan", "get", "upsert")
KV_KEY = "o_orderkey"
KV_SF = 0.01  # orders: 15,000 rows
MULTI_GET_KEYS = 64
SCAN_RANGE = 5_000
SCAN_LIMIT = 100
UPSERT_ROWS = 256  # 3/4 updates of live keys, 1/4 new keys
# commits between txlog_compact + txlog_vacuum, counted from the first
# timed op. Two upserts per cycle and an odd period put compactions in
# both traced and untraced cycles (commits 3 and 6 are ops 14 and 29).
COMPACT_EVERY = 3

OLAP_SF = 0.005  # lineitem: 30,000 rows
DEDUP_BASE_ROWS = 250  # documents and embeddings in the base corpus
DEDUP_REPLICAS = 4
# the smoke test's small inputs
SMALL_SF = 0.001
SMALL_BASE_ROWS = 100


def normalize(rows) -> list:
    """Order-insensitive, float-tolerant form of collected rows."""
    def val(v):
        if isinstance(v, float):
            return float(f"{v:.10g}")
        if isinstance(v, (list, tuple)):
            return tuple(val(x) for x in v)
        return v
    return sorted((tuple(val(v) for v in r) for r in rows), key=repr)


@dataclass
class OpResult:
    latency_s: float
    kind: str  # read, write, pass or error
    errors: list[str]
    layers: dict = field(default_factory=dict)  # traced ops only


class Workload:
    """Base: ``setup`` builds inputs, checks outputs and warms up;
    ``op(i, traced)`` runs op ``i`` of the fixed sequence; ``final_check``
    runs after the timed ops."""

    name = ""
    nominal_op_s = 1.0  # sizes the op count to the requested seconds
    min_ops = 1

    def __init__(self, spark, run_dir: str, seed: int, tracer: Tracer, small: bool = False):
        self.spark = spark
        self.run_dir = run_dir
        self.seed = seed
        self.tr = tracer
        self.small = small
        self.probe = SparkProbe(spark)
        self.setup_errors: list[str] = []

    @classmethod
    def n_ops(cls, seconds: float) -> int:
        """A fixed op count sized to take about ``seconds``, rounded up
        to whole cycles of ``min_ops``, so counts repeat exactly."""
        n = max(1, round(seconds / cls.nominal_op_s))
        return -(-n // cls.min_ops) * cls.min_ops

    def begin(self) -> None:
        """Called once between warm-up and the first timed op."""

    def final_check(self) -> list[str]:
        return []

    def run_layers(self) -> dict:
        """Layer values counted over the whole timed window."""
        return {}

    def _span(self, traced: bool, name: str):
        return self.tr.span(name) if traced else nullcontext()


# ---------------------------------------------------------------- kv_mixed


class KvMixed(Workload):
    """HBase client verbs over a txlog table of ``orders``; every read
    resolves the latest manifest, so it sees every earlier upsert."""

    name = "kv_mixed"
    nominal_op_s = 0.5
    min_ops = len(KV_CYCLE)

    def setup(self):
        with self.tr.span("setup.gen"):
            data = os.path.join(self.run_dir, "data")
            gen.generate(data, self.seed, SMALL_SF if self.small else KV_SF)
            self.table = os.path.join(self.run_dir, "orders_txlog")
            txlog.txlog_init(load_table(self.spark, data, "orders"), self.table)
        with self.tr.span("setup.warmup"):
            cur = txlog.txlog_read(self.spark, self.table)
            self.schema = cur.schema
            self.model = {r[KV_KEY]: tuple(r) for r in cur.collect()}
            self.keys = sorted(self.model)
            self.next_key = self.keys[-1] + 1
            self.rng = random.Random(self.seed)
            self.begin()
            # one full cycle, whose second upsert compacts: every verb
            # and the compaction have run before timing
            self.commits = COMPACT_EVERY - 2
            for i in range(len(KV_CYCLE)):
                res = self.op(-1 - i, traced=False)
                self.setup_errors += res.errors

    def begin(self):
        self.commits = 0
        self.upserted_rows = 0
        self.bytes_written = 0
        self.compactions = 0

    def _upsert_rows(self) -> list[tuple]:
        n_upd = UPSERT_ROWS * 3 // 4
        cols = self.schema.fieldNames()
        price, status = cols.index("o_totalprice"), cols.index("o_orderstatus")
        rows = []
        for k in self.rng.sample(self.keys, n_upd):
            r = list(self.model[k])
            r[price] = round(self.rng.uniform(1013.70, 499978.59), 2)
            r[status] = self.rng.choice("FOP")
            rows.append(tuple(r))
        template = self.model[self.keys[0]]
        for _ in range(UPSERT_ROWS - n_upd):
            r = list(template)
            r[cols.index(KV_KEY)] = self.next_key
            r[cols.index("o_custkey")] = self.rng.randrange(0, 1500)
            r[price] = round(self.rng.uniform(1013.70, 499978.59), 2)
            rows.append(tuple(r))
            self.keys.append(self.next_key)
            self.next_key += 1
        return rows

    def _version_bytes(self, version: int) -> tuple[int, int]:
        files = glob.glob(os.path.join(self.table, "files", f"v{version:06d}-*", "*.parquet"))
        return len(files), sum(os.path.getsize(f) for f in files)

    def op(self, i: int, traced: bool) -> OpResult:
        kind = KV_CYCLE[i % len(KV_CYCLE)]
        self.tr.op_id = i if traced else None
        if kind == "upsert":
            return self._upsert(i, traced)
        return self._read(i, kind, traced)

    def _read(self, i: int, kind: str, traced: bool) -> OpResult:
        rng = self.rng
        if kind == "get":
            k = rng.choice(self.keys)
            expect = [self.model[k]]
        elif kind == "multi_get":
            ks = rng.sample(self.keys, MULTI_GET_KEYS)
            expect = [self.model[k] for k in ks]
        else:
            lo = rng.randrange(0, self.next_key)
            expect = [self.model[k] for k in self.keys if lo <= k < lo + SCAN_RANGE][:SCAN_LIMIT]
        layers = {}
        gid = f"kv{i}"
        if traced:
            self.probe.group(gid)
        t0 = time.perf_counter()
        with self._span(traced, "op"):
            with self._span(traced, "txlog.read") as s_read:
                t = Table(txlog.txlog_read(self.spark, self.table), KV_KEY)
            with self._span(traced, "api.build") as s_api:
                if kind == "get":
                    df = t.get(k)
                elif kind == "multi_get":
                    df = t.multi_get(ks)
                else:
                    df = t.scan(start=lo, stop=lo + SCAN_RANGE, limit=SCAN_LIMIT)
            with self._span(traced, "spark.exec") as s_exec:
                rows = df.collect()
        lat = time.perf_counter() - t0
        got = [tuple(r) for r in rows]
        ok = got == expect if kind == "scan" else sorted(got) == sorted(expect)
        errors = [] if ok else [f"{kind} op {i}: {len(got)} rows, model has {len(expect)}"]
        if traced:
            self.probe.clear()
            layers = self.probe.harvest([gid], self.tr)
            layers.update(catalyst_phases(df, self.tr))
            layers["txlog.read_ms"] = _ms(s_read)
            layers["api.build_ms"] = _ms(s_api)
            layers["spark.exec_ms"] = _ms(s_exec)
            layers["spark.result_rows"] = len(rows)
            layers["txlog.live_files"] = txlog.txlog_history(self.table)[-1]["n_files"]
        return OpResult(lat, "read", errors, layers)

    def _upsert(self, i: int, traced: bool) -> OpResult:
        rows = self._upsert_rows()
        live_before = txlog.txlog_history(self.table)[-1]["n_files"]
        gid = f"kv{i}"
        if traced:
            self.probe.group(gid)
        compacted = (self.commits + 1) % COMPACT_EVERY == 0
        t0 = time.perf_counter()
        with self._span(traced, "op"):
            with self._span(traced, "source.build"):
                src = self.spark.createDataFrame(rows, self.schema)
            with self._span(traced, "txlog.merge") as s_merge:
                v = txlog.txlog_merge(self.spark, self.table, src, KV_KEY)
            if compacted:
                with self._span(traced, "txlog.compact") as s_compact:
                    vc = txlog.txlog_compact(self.spark, self.table)
                    txlog.txlog_vacuum(self.table)
        lat = time.perf_counter() - t0
        self.commits += 1
        key_ix = self.schema.fieldNames().index(KV_KEY)
        for r in rows:
            self.model[r[key_ix]] = r
        new_files, new_bytes = self._version_bytes(v)
        # parent files the merge replaced: live_before - touched + new = live after
        live_after = txlog.txlog_history(self.table)[-1 - compacted]["n_files"]
        touched = live_before + new_files - live_after
        compact_bytes = self._version_bytes(vc)[1] if compacted else 0
        self.upserted_rows += len(rows)
        self.bytes_written += new_bytes + compact_bytes
        self.compactions += compacted
        layers = {}
        if traced:
            self.probe.clear()
            layers = self.probe.harvest([gid], self.tr)
            layers["txlog.merge_ms"] = _ms(s_merge)
            layers["txlog.live_files"] = live_before
            layers["txlog.touched_files"] = touched
            layers["txlog.touched_ratio"] = touched / live_before
            layers["txlog.bytes_written"] = new_bytes
            if compacted:
                layers["txlog.compact_ms"] = _ms(s_compact)
                layers["txlog.compact_bytes_rewritten"] = compact_bytes
        return OpResult(lat, "write", [], layers)

    def final_check(self) -> list[str]:
        got = {r[KV_KEY]: tuple(r) for r in txlog.txlog_read(self.spark, self.table).collect()}
        if got != self.model:
            return [f"final txlog_read differs from model ({len(got)} vs {len(self.model)} rows)"]
        return []

    def run_layers(self) -> dict:
        return {
            "kv.bytes_written_per_row": self.bytes_written / max(1, self.upserted_rows),
            "txlog.compactions": self.compactions,
        }


# ------------------------------------------------------ query-pass workloads


class QueryPasses(Workload):
    """One op is one pass over ``queries`` in a seeded order."""

    queries: tuple = ()

    def _pass(self, i: int, traced: bool, data_dir: str, sink) -> OpResult:
        order = list(self.queries)
        random.Random(self.seed * 1_000_003 + i).shuffle(order)
        self.tr.op_id = i if traced else None
        per_query, dfs, results = {}, {}, {}
        errors = []
        t0 = time.perf_counter()
        with self._span(traced, "op"):
            if traced:
                with self.tr.span("io.load_table") as s_io:
                    for t in TABLES:
                        load_table(self.spark, data_dir, t)
            for q in order:
                q0 = time.perf_counter()
                try:
                    if traced:
                        self.probe.group(f"p{i}.{q}.build")
                    with self._span(traced, "operators.build"):
                        df = QUERIES[q](self.spark, data_dir)
                    if traced:
                        self.probe.group(f"p{i}.{q}.exec")
                    with self._span(traced, "spark.exec"):
                        results[q] = sink(df)
                    dfs[q] = df
                except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
                    errors.append(f"{q}: {type(e).__name__}: {str(e)[:200]}")
                per_query[q] = time.perf_counter() - q0
        lat = time.perf_counter() - t0
        errors += self.check_results(results)
        layers = {}
        if traced:
            self.probe.clear()
            layers = {f"query.{q}_ms": 1000 * s for q, s in per_query.items()}
            layers["io.load_table_ms"] = _ms(s_io)
            build_jobs = 0
            for q, df in dfs.items():
                build, run = f"p{i}.{q}.build", f"p{i}.{q}.exec"
                build_jobs += len(self.probe.sc.statusTracker().getJobIdsForGroup(build))
                counters = {**self.probe.harvest([build, run], self.tr),
                            **catalyst_phases(df, self.tr, force=self.replay_catalyst)}
                for k, v in counters.items():
                    layers[k] = layers.get(k, 0.0) + v
            layers["operators.build_jobs"] = build_jobs
            for name in ("operators.build", "spark.exec"):
                layers[f"{name}_ms"] = sum(
                    _ms(s) for s in self.tr.spans if s["op"] == i and s["name"] == name)
            layers["spark.result_rows"] = sum(self.result_rows(q, r) for q, r in results.items())
        return OpResult(lat, "pass", errors, layers)


class OlapHeadline(QueryPasses):
    """The 11 headline queries, each ending in ``collect()``."""

    name = "olap_headline"
    queries = HEADLINE
    nominal_op_s = 4.0
    replay_catalyst = False

    def setup(self):
        with self.tr.span("setup.gen"):
            self.data = os.path.join(self.run_dir, "data")
            gen.generate(self.data, self.seed, SMALL_SF if self.small else OLAP_SF)
        with self.tr.span("setup.warmup"):
            # the warm-up is the oracle check: each query runs once,
            # cold, under parity.compare, and its rows are kept as the
            # result every timed pass is compared against
            con = duckdb_connect(self.data)
            self.expect = {}
            for q in self.queries:
                df = _Collected(QUERIES[q](self.spark, self.data))
                ok, detail = compare(df, ORACLES[q], con)
                if not ok:
                    self.setup_errors.append(f"{q} vs oracle: {detail[:300]}")
                self.expect[q] = normalize(df.collect())
            con.close()

    def op(self, i, traced):
        return self._pass(i, traced, self.data, lambda df: df.collect())

    def check_results(self, results):
        return [f"{q}: result differs from the oracle-checked result"
                for q, rows in results.items() if normalize(rows) != self.expect[q]]

    def result_rows(self, q, rows):
        return len(rows)


class DedupReplica(QueryPasses):
    """The 4 dedup/similarity kernels over a duplication-bounded x4
    replica, each written to a ``noop`` sink."""

    name = "dedup_replica"
    queries = DEDUP_KERNELS
    nominal_op_s = 5.0
    replay_catalyst = True

    def setup(self):
        with self.tr.span("setup.gen"):
            self.base = os.path.join(self.run_dir, "base")
            self.data = os.path.join(self.run_dir, f"replica_x{DEDUP_REPLICAS}")
            gen.generate(self.base, self.seed, SMALL_SF,
                         corpus=SMALL_BASE_ROWS if self.small else DEDUP_BASE_ROWS)
            gen.replicate_bounded(self.base, self.data, DEDUP_REPLICAS)
        with self.tr.span("setup.warmup"):
            con = duckdb_connect(self.base)
            self.expect_rows = {}
            for q in self.queries:
                base = QUERIES[q](self.spark, self.base)
                ok, detail = compare(base, ORACLES[q], con)
                if not ok:
                    self.setup_errors.append(f"{q} base vs oracle: {detail[:300]}")
                n_base = base.count()
                n_rep = QUERIES[q](self.spark, self.data).count()
                if n_rep != DEDUP_REPLICAS * n_base:
                    self.setup_errors.append(
                        f"{q}: replica rows {n_rep} != {DEDUP_REPLICAS} x base rows {n_base}")
                self.expect_rows[q] = n_rep
            con.close()

    def op(self, i, traced):
        return self._pass(i, traced, self.data, _noop)

    def check_results(self, results):
        return []

    def result_rows(self, q, _):
        return self.expect_rows[q]


class _Collected:
    """A DataFrame collected at most once: ``parity.compare`` reads
    ``dtypes``, ``columns`` and ``collect()``, and the caller keeps the
    same rows without running the query again."""

    def __init__(self, df):
        self.df = df
        self.dtypes = df.dtypes
        self.columns = df.columns
        self.rows = None

    def collect(self):
        if self.rows is None:
            self.rows = self.df.collect()
        return self.rows


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _ms(span) -> float:
    return 1000 * (span["end"] - span["start"])


WORKLOADS = {w.name: w for w in (KvMixed, OlapHeadline, DedupReplica)}
