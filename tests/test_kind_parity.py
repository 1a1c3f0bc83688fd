"""Registry-wide numeric-KIND parity sweep (Spark schema vs DuckDB
oracle types).

Round-2 regression class: the driver's value-hash distinguishes numeric
kinds (DuckDB ``SUM(int)``→HUGEINT vs Spark BIGINT, ``epoch()``→DOUBLE
vs BIGINT, ``sign()``→TINYINT vs DOUBLE) while ``fetchall``-based value
comparison collapses them — 4 driver failures and 15 latent ones in r02
were invisible to the local sweep. This test reads every
registered query's schema from the session's plan capture (the
query's own action never runs) and fails on any kind divergence
against its oracle, so the class cannot recur — including after the
fixtures are regenerated, which has already changed parquet types
once (io.py load_table docstring).
"""

from __future__ import annotations

import pytest

from hbase_support_spark import QUERIES, ORACLES
from hbase_support_spark.parity import duck_kind, kind_mismatches, spark_kind


def test_kind_audit_registry_wide(captures, oracle_con):
    bad = {}
    for name in QUERIES:
        if name not in ORACLES:
            continue
        mism = kind_mismatches(captures[name].df.dtypes, ORACLES[name], oracle_con)
        if mism:
            bad[name] = mism
    assert not bad, f"kind divergence in {len(bad)} queries: {bad}"


def test_fixture_base_tables_kind_clean(spark, sf_dir, oracle_con):
    """Driver fixture-drift tripwire: the raw tables themselves must
    load with agreeing kinds through io.load_table vs DuckDB
    read_parquet. If regeneration changes a physical parquet type
    again, this fails before any query-level noise."""
    from hbase_support_spark.io import TABLES, load_table

    for t in TABLES:
        df = load_table(spark, sf_dir, t)
        mism = kind_mismatches(df.dtypes, f"SELECT * FROM {t}", oracle_con)
        assert not mism, f"fixture table {t} kind drift: {mism}"


@pytest.mark.parametrize(
    "spark_t,duck_t,same",
    [
        ("bigint", "BIGINT", True),
        ("int", "BIGINT", True),  # width-insensitive within int family
        ("bigint", "HUGEINT", False),  # the r02 failure class
        ("bigint", "DOUBLE", False),
        ("double", "TINYINT", False),
        ("double", "DOUBLE", True),
        ("decimal(27,6)", "DOUBLE", False),
        ("decimal(27,6)", "DECIMAL(27,6)", True),
        ("decimal(27,6)", "DECIMAL(27,2)", False),  # scale changes rendering
        ("timestamp", "TIMESTAMP WITH TIME ZONE", True),
        ("array<bigint>", "BIGINT[]", True),
        ("array<bigint>", "HUGEINT[]", False),
        ("array<double>", "DOUBLE[]", True),
    ],
)
def test_kind_vocabulary(spark_t, duck_t, same):
    assert (spark_kind(spark_t) == duck_kind(duck_t)) is same
