"""Spark Connect smoke (VERDICT r9 item 8, optional).

The one execution mode the suite doesn't otherwise exercise: a client
session with NO ``sparkContext`` (``io.load_table``'s analyzed-relation
memo is keyed by ``io.session_key``, which never touches it).
A deploy-time user on Databricks/Connect hits exactly this surface.

The smoke runs in a SUBPROCESS because a classic local SparkContext is
already live in this pytest process (the session fixture) and a Connect
client must not share it. It starts a local Connect server via
``SparkSession.builder.remote("local[4]")`` (PySpark auto-launches the
server when the URL is ``local``), then drives four graded queries —
one per major shape: scan, shuffle agg, broadcast join, window — and
checks each against its DuckDB oracle with the same parity harness the
driver mirrors.

Skips (never fails) when grpcio or the Connect server deps are absent —
this sandbox has no grpcio, so CI records the skip; the test is the
deploy-environment canary.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest


def _has_connect() -> bool:
    try:
        import grpc  # noqa: F401
        import google.protobuf  # noqa: F401
    except Exception:
        return False
    return True


REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

_SMOKE = """
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession


def _no_ctx(s):
    try:
        s.sparkContext
        return False
    except Exception:
        return True


spark = SparkSession.builder.remote("local[4]").getOrCreate()
assert not hasattr(spark, "sparkContext") or _no_ctx(spark)

from hbase_support_spark import load_all, QUERIES, ORACLES
from hbase_support_spark.parity import compare, duckdb_connect

load_all()
con = duckdb_connect({sf!r})
names = ["scan_range", "agg_sum_min_max_avg", "join_broadcast",
         "win_row_number_topk"]
for name in names:
    df = QUERIES[name](spark, {sf!r})
    ok, detail = compare(df, ORACLES[name], con)
    print(("PASS" if ok else "FAIL"), name, detail, flush=True)
    assert ok, f"{{name}}: {{detail}}"
spark.stop()
print("CONNECT_SMOKE_OK")
"""


@pytest.mark.skipif(not _has_connect(), reason="grpcio/Connect deps absent")
def test_connect_smoke():
    script = _SMOKE.format(repo=REPO, sf=SF_DIR)
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=600,
        cwd="/tmp",
    )
    assert "CONNECT_SMOKE_OK" in proc.stdout, (
        f"connect smoke failed\nstdout:\n{proc.stdout[-3000:]}\n"
        f"stderr:\n{proc.stderr[-3000:]}"
    )


def test_load_table_survives_missing_spark_context(spark, sf_dir):
    """The Connect-guard seam itself, testable without Connect: a
    session object whose sparkContext raises must still load tables
    (the memo key, `io.session_key`, never touches sparkContext)."""
    from hbase_support_spark.io import load_table

    class NoCtx:
        """Proxy that mimics a Connect session: sparkContext raises."""

        def __init__(self, inner):
            self._inner = inner

        @property
        def sparkContext(self):
            raise Exception("sparkContext is not supported in Spark Connect")

        def __getattr__(self, item):
            return getattr(self._inner, item)

    df = load_table(NoCtx(spark), sf_dir, "nation")
    assert df.count() == 25
    # and a second call is a memo hit (keyed by `io.session_key`)
    assert load_table(NoCtx(spark), sf_dir, "nation").count() == 25


def test_txlog_survives_missing_spark_context(spark, tmp_path):
    """The txlog read memo is keyed by `io.session_key` and never
    touches sparkContext, so a session whose sparkContext raises
    reads, re-reads (a memo hit on the second call) and merges like
    any other."""
    from hbase_support_spark.sources.txlog import txlog_init, txlog_merge, txlog_read

    class NoCtx:
        def __init__(self, inner):
            self._inner = inner

        @property
        def sparkContext(self):
            raise Exception("sparkContext is not supported in Spark Connect")

        def __getattr__(self, item):
            return getattr(self._inner, item)

    d = str(tmp_path / "t")
    txlog_init(spark.range(100).withColumnRenamed("id", "k").repartition(4), d)
    s = NoCtx(spark)
    assert txlog_read(s, d).count() == 100
    assert txlog_read(s, d, version=1).count() == 100
    txlog_merge(s, d, spark.range(95, 105).withColumnRenamed("id", "k"), "k")
    assert txlog_read(s, d).count() == 105


def test_jvm_seams_survive_missing_spark_context(spark, sf_dir, tmp_path):
    """r11: the two remaining JVM-gateway call sites (partition drop
    in merge.py, compaction planning) must degrade to OS-level
    fallbacks on a Connect-style session for local paths, and fail
    LOUDLY (not silently no-op) for remote URIs."""
    import pytest as _pytest

    from hbase_support_spark.merge import _drop_partition_dir
    from hbase_support_spark.sources.compaction import plan_compaction

    class NoCtx:
        def __init__(self, inner):
            self._inner = inner

        @property
        def sparkContext(self):
            raise Exception("sparkContext is not supported in Spark Connect")

        def __getattr__(self, item):
            return getattr(self._inner, item)

    # compaction planning: identical answer with and without the JVM
    want = plan_compaction(spark, sf_dir)
    got = plan_compaction(NoCtx(spark), sf_dir)
    assert got == want and got["n_files"] > 0

    # partition drop: actually removes the local dir
    part = tmp_path / "t" / "k=1"
    part.mkdir(parents=True)
    (part / "part-0.parquet").write_bytes(b"x")
    _drop_partition_dir(NoCtx(spark), str(tmp_path / "t"), "k", 1)
    assert not part.exists()
    # missing dir: no-op, no crash
    _drop_partition_dir(NoCtx(spark), str(tmp_path / "t"), "k", 2)

    # remote URI without a JVM and without a schema: loud failure,
    # never a silent no-op (the empty-overwrite route needs the
    # table's data schema — see the drop-delegation test below)
    with _pytest.raises(NotImplementedError):
        _drop_partition_dir(NoCtx(spark), "s3://bucket/t", "k", 1)
    # compaction planning now delegates to a server-side binaryFile
    # listing (r12 — the seam is closed); this jar-less sandbox can't
    # reach the s3 scheme, so the delegation still fails LOUDLY here,
    # but on a real Connect deployment the server's FS answers.
    with _pytest.raises(Exception):
        plan_compaction(NoCtx(spark), "s3://bucket/t")


def test_connect_remote_partition_drop_delegates_empty_overwrite(spark, sf_dir):
    """r12: with the table's data schema supplied, a Connect-client
    partition drop on a REMOTE URI routes through a pure-DataFrame
    empty overwrite of the partition directory (server-side FS does
    the delete). Pin the delegation: empty rows, the caller's schema,
    overwrite mode, the rendered partition path."""
    from hbase_support_spark.merge import _drop_partition_dir

    calls = {}

    class FakeWriter:
        def mode(self, m):
            calls["mode"] = m
            return self

        def parquet(self, path):
            calls["path"] = path

    class FakeDF:
        write = FakeWriter()

    class FakeSpark:
        @property
        def sparkContext(self):
            raise Exception("sparkContext is not supported in Spark Connect")

        def createDataFrame(self, data, schema):
            calls["data"], calls["schema"] = data, schema
            return FakeDF()

    sentinel = object()
    _drop_partition_dir(FakeSpark(), "s3://bucket/t", "k", 7, sentinel)
    assert calls == {
        "data": [],
        "schema": sentinel,
        "mode": "overwrite",
        "path": "s3://bucket/t/k=7",
    }


def test_connect_empty_dir_compaction_plan_is_zero(spark, tmp_path):
    """The binaryFile listing must treat a dir with no parquet files
    as an empty plan (scandir parity), not an error."""
    from hbase_support_spark.sources.compaction import plan_compaction

    class NoCtx:
        def __init__(self, inner):
            self._inner = inner

        @property
        def sparkContext(self):
            raise Exception("sparkContext is not supported in Spark Connect")

        def __getattr__(self, item):
            return getattr(self._inner, item)

    empty = tmp_path / "nothing_here"
    empty.mkdir()
    got = plan_compaction(NoCtx(spark), str(empty))
    assert got == {"n_files": 0, "total_bytes": 0, "target_files": 1}
