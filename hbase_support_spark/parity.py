"""Local differential-oracle harness.

Replicates the driver's comparison (SURVEY.md §5.1) so parity breaks
are caught before the per-round verify: run the Spark query and the
DuckDB oracle SQL on the same sf dir, normalize, and compare
order-insensitively.

Normalization: columns sorted by name, floats encoded as their raw
IEEE-754 bit pattern (the driver's hash is bit-exact — it
distinguishes -0.0 from +0.0 and last-ulp drift, so queries must
ROUND/canonicalize on BOTH sides; see num.round_z), timestamps to
ISO-µs strings, rows sorted lexicographically.

Round-2 lesson (VERDICT r02): the driver's value-hash is numeric-KIND
sensitive — DuckDB ``SUM(int)``→HUGEINT vs Spark BIGINT, ``epoch()``→
DOUBLE vs BIGINT, ``sign()``→TINYINT vs DOUBLE all hash-mismatch even
when the Python scalar values compare equal. ``fetchall()`` collapses
those kinds (HUGEINT→int, DOUBLE→float), so value comparison alone is
blind to the class. ``compare()`` therefore asserts *kind agreement*
(Spark ``df.dtypes`` vs DuckDB ``rel.types`` mapped into a common
vocabulary) before comparing any values, with HUGEINT/UBIGINT kept as
their own never-matching kind so the oracle is forced to CAST.
"""

from __future__ import annotations

import datetime
import decimal
import math
import struct as _struct

import duckdb

from .io import TABLES


def duckdb_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    import os

    con = duckdb.connect()
    # Oracle-semantics pin (ADVICE r9 item 3): several r9 oracles rely
    # on x/0 -> NULL (the NULLIF guards and 0/0-recall-stays-NULL
    # fixes). DuckDB >= 1.1 flips the default to IEEE semantics
    # (0.0/0.0 -> NaN, x/0.0 -> inf) via ieee_floating_point_ops, which
    # would silently corrupt those oracles on a dependency bump. Pin
    # the pre-1.1 behavior where the knob exists; where it doesn't
    # (<= 1.0), assert the division semantics directly so an upgrade
    # with changed behavior fails LOUDLY here instead of flipping
    # grades.
    try:
        con.execute("SET ieee_floating_point_ops=false")
    except duckdb.Error:
        pass  # knob absent (duckdb <= 1.0): NULL semantics are the default
    probe = con.execute("SELECT 1.0/0.0, 0.0/0.0").fetchone()
    if probe != (None, None):
        raise RuntimeError(
            "DuckDB division semantics changed (x/0 no longer NULL: "
            f"{probe!r}); oracles with NULLIF/div-zero guards assume "
            "NULL — pin ieee_floating_point_ops=false or re-audit."
        )
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if not os.path.exists(path):
            # a missing fixture fails only the queries that read it
            continue
        # driver fixtures are single files; engine-written variants
        # (scale_stress replicas, regen drills) are directories
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
        )
    return con


import re as _re

# ---------------------------------------------------------------- kinds
#
# Common numeric/temporal "kind" vocabulary shared by the Spark and
# DuckDB type mappers. The driver's hash distinguishes at least:
#   int vs float (0 vs 0.0), HUGEINT vs BIGINT, TINYINT vs DOUBLE,
#   DECIMAL vs DOUBLE.
# HUGEINT/UBIGINT deliberately map to "hugeint" (no Spark type ever
# produces it) so any oracle emitting one fails the kind gate until a
# CAST lands. Decimals carry (precision,scale) — a scale difference
# changes the rendered value.


def spark_kind(dtype: str) -> str:
    t = dtype.strip().lower()
    m = _re.match(r"^array<(.*)>$", t)
    if m:
        return f"array<{spark_kind(m.group(1))}>"
    if t.startswith("map<") or t.startswith("struct<"):
        return "nested"
    m = _re.match(r"^decimal\((\d+),\s*(\d+)\)$", t)
    if m:
        return f"decimal({m.group(1)},{m.group(2)})"
    if t in ("tinyint", "smallint", "int", "integer", "bigint", "long", "short", "byte"):
        return "int"
    if t in ("double", "float", "real"):
        return "float"
    if t in ("timestamp", "timestamp_ltz", "timestamp_ntz"):
        return "timestamp"
    if t == "date":
        return "date"
    if t == "boolean":
        return "bool"
    if t == "binary":
        return "binary"
    if t in ("string", "varchar", "char"):
        return "string"
    return t


def duck_kind(dtype: str) -> str:
    t = str(dtype).strip().upper()
    if t.endswith("[]"):
        return f"array<{duck_kind(t[:-2])}>"
    if t.startswith("MAP(") or t.startswith("STRUCT("):
        return "nested"
    m = _re.match(r"^DECIMAL\((\d+),\s*(\d+)\)$", t)
    if m:
        return f"decimal({m.group(1)},{m.group(2)})"
    if t in ("HUGEINT", "UHUGEINT", "UBIGINT"):
        return "hugeint"  # never produced by Spark — forces a CAST
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT", "USMALLINT", "UINTEGER"):
        return "int"
    if t in ("DOUBLE", "FLOAT", "REAL"):
        return "float"
    if t.startswith("TIMESTAMP"):
        return "timestamp"
    if t == "DATE":
        return "date"
    if t == "BOOLEAN":
        return "bool"
    if t in ("BLOB", "BYTEA", "VARBINARY"):
        return "binary"
    if t in ("VARCHAR", "STRING", "TEXT"):
        return "string"
    return t.lower()


def kind_mismatches(
    spark_dtypes: list[tuple[str, str]],
    oracle_sql: str,
    con: duckdb.DuckDBPyConnection,
) -> list[str]:
    """Per-column kind disagreements between a (lazy) Spark schema and
    the DuckDB oracle's prepared result types. Executes nothing on the
    Spark side and only plans on the DuckDB side."""
    rel = con.sql(oracle_sql)
    d_kinds = {c: duck_kind(t) for c, t in zip(rel.columns, rel.types)}
    out = []
    for col, dt in spark_dtypes:
        sk = spark_kind(dt)
        dk = d_kinds.get(col)
        if dk is None:
            continue  # column-name mismatch is schema_match's job
        if sk != dk:
            out.append(f"{col}: spark={dt}({sk}) duckdb={dk}")
    return out


def _norm_cell(v):
    if v is None:
        return "\x00NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        # Round-3 lesson (VERDICT r03): the driver's value hash sees the
        # raw IEEE bit pattern — it distinguishes -0.0 from +0.0 (and any
        # last-ulp divergence), while Python == does not. Encode floats
        # as their little-endian float64 bits so the local harness is
        # exactly as strict as the driver: any representation nuance
        # (sign of zero, ROUND-boundary flip, ulp drift) fails HERE
        # first. NaN canonicalized (one bit pattern per engine quirk).
        if math.isnan(v):
            return "NaN"
        return "f" + _struct.pack("<d", v).hex()
    if isinstance(v, datetime.datetime):
        return v.isoformat(timespec="microseconds")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_norm_cell(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def _normalize(cols: list[str], rows) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(row[i]) for i in order) for row in rows]
    out.sort()
    return out


def compare(spark_df, oracle_sql: str, con: duckdb.DuckDBPyConnection) -> tuple[bool, str]:
    """Return (match, detail). Mirrors the driver's row-count + schema
    (column names) + order-insensitive value comparison, plus the
    numeric-kind gate the driver's hash implies (see module docstring)."""
    kinds_bad = kind_mismatches(spark_df.dtypes, oracle_sql, con)
    if kinds_bad:
        return False, f"kind mismatch: {'; '.join(kinds_bad)}"
    s_rows = spark_df.collect()
    s_cols = spark_df.columns
    rel = con.execute(oracle_sql)
    d_cols = [d[0] for d in rel.description]
    d_rows = rel.fetchall()

    if sorted(s_cols) != sorted(d_cols):
        return False, f"schema mismatch: spark={sorted(s_cols)} duckdb={sorted(d_cols)}"
    if len(s_rows) != len(d_rows):
        return False, f"row count mismatch: spark={len(s_rows)} duckdb={len(d_rows)}"
    sn = _normalize(s_cols, [tuple(r) for r in s_rows])
    dn = _normalize(d_cols, d_rows)
    if sn != dn:
        diffs = [
            (_decode_row(a), _decode_row(b)) for a, b in zip(sn, dn) if a != b
        ][:3]
        return False, f"value mismatch; first diffs (spark vs duckdb): {diffs}"
    return True, f"ok ({len(s_rows)} rows)"


def _decode_row(row: tuple) -> tuple:
    """Render a normalized row for humans: float bit-encodings back to
    repr (which is sign-of-zero faithful: repr(-0.0) == '-0.0')."""

    def dec(c):
        if isinstance(c, str) and len(c) == 17 and c[0] == "f":
            try:
                return repr(_struct.unpack("<d", bytes.fromhex(c[1:]))[0])
            except ValueError:
                return c
        return c

    return tuple(dec(c) for c in row)
