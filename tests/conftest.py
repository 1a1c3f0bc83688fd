from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hbase_support_spark import get_spark, load_all

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _pin_linecache() -> None:
    """Freeze package sources into linecache at SESSION START.

    The source-pin tests (`inspect.getsource` over registry kernels)
    used to read from DISK lazily via linecache — editing a .py file
    while the suite ran shifted line numbers mid-read and produced 11
    artifact failures in r10 (README note, VERDICT r10 item 8).
    Pre-populating ``linecache.cache`` with an ``mtime=None`` entry
    per package file makes ``linecache.checkcache`` treat the entry
    as loader-backed and never invalidate it, so every later
    ``getsource`` reads the snapshot taken here — the same bytes the
    modules were imported from — regardless of concurrent edits.
    """
    import linecache

    import hbase_support_spark as pkg

    pkg_dir = os.path.dirname(os.path.abspath(pkg.__file__))
    for root, _dirs, files in os.walk(pkg_dir):
        for f in files:
            if not f.endswith(".py"):
                continue
            p = os.path.join(root, f)
            try:
                with open(p, encoding="utf-8") as fh:
                    lines = fh.readlines()
            except OSError:
                continue
            linecache.cache[p] = (sum(map(len, lines)), None, lines, p)


_pin_linecache()


@pytest.fixture(scope="session")
def spark():
    load_all()
    s = get_spark("tests", master="local[8]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def captures(spark, sf_dir):
    """Every registry-wide static audit reads its query's DataFrame,
    plans and kernel feeds from here; each query is built at most once
    per session (``captures.builds`` counts the builds)."""
    from hbase_support_spark.plans.explain import PlanCaptures

    return PlanCaptures(spark, sf_dir)


@pytest.fixture(scope="session")
def oracle_con(sf_dir):
    from hbase_support_spark.parity import duckdb_connect

    return duckdb_connect(sf_dir)
