"""bench.py reports the core count its session master was built with."""

from __future__ import annotations


def test_cpus_field_matches_live_session_master(spark):
    # bench.py's `cpus` is defaultParallelism, which is the N of a
    # local[N] master as long as nothing sets spark.default.parallelism;
    # the test session is local[8] (conftest)
    assert spark.sparkContext.master == "local[8]"
    assert spark.sparkContext.defaultParallelism == 8
