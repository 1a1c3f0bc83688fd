"""Deterministic money aggregation — the integer-cents contract.

``ROUND(SUM(double), 2)`` is engine-unstable for price-scale sums:
Spark sums per-partition partials in shuffle order, DuckDB sums
sequentially, and the ~1e-8 accumulation difference occasionally
lands a total exactly on a half-cent rounding boundary (observed:
tpch_q9 at sf0.01 — 1757513.865 rounding to .86 vs .87). Since the
fixtures are regenerated per round, any ROUND(SUM) site is a latent
once-per-round coin flip.

The fix: round each TERM to integer cents and sum longs. A term's
double is computed by one identical IEEE expression in both engines,
so FLOOR(x * 100 + 0.5) — round-half-toward-+inf — is deterministic
in both (floor is exact on doubles, no decimal conversion), and an
integer sum is associative — partial-aggregation order stops
mattering. FLOOR, not ROUND: Spark's double ROUND routes through
BigDecimal (~2x on a wide aggregate, measured at sf0.1), while the
floor form is FASTER than even the plain double sum it replaces
(long partials beat double partials). Division back by 100.0 is
exact for any realistic total (cents < 2^53).

Applies to sums of price-magnitude terms (o_totalprice,
l_extendedprice arithmetic). Sums of small-magnitude values over
small groups (events.value) keep plain ROUND(SUM): their absolute
error (~1e-11) makes a boundary hit astronomically unlikely, and the
cheaper form documents that judgment where it's used.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def money_sum(col: Column | str) -> Column:
    """Exact 2-decimal sum of a price-scale double expression.

    Magnitude envelope (r10 headroom audit): the long cents SUM holds
    to 9.2e18 cents — a $9e16 total, ~40× the full-100-TB TPC-H
    revenue sum (6e11 rows × ~4e6 cents ≈ 2.3e18), so the
    accumulation never wraps in-envelope. The division back to
    double is cent-EXACT only below 2^53 (~$9e13); above that both
    engines round the identical integer with IEEE round-to-nearest
    (Spark long→double and DuckDB HUGEINT→double agree bit-for-bit),
    so cross-engine parity holds at any magnitude — only absolute
    cent-exactness of the printed total degrades, at ~1e-15
    relative."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(F.floor(c * 100 + 0.5)) / 100.0


def d_money_sum(expr: str) -> str:
    """DuckDB/ANSI twin of :func:`money_sum` (also valid Spark SQL)."""
    return f"SUM(CAST(FLOOR(({expr}) * 100 + 0.5) AS BIGINT)) / 100.0"


def round_ie(col: Column | str, n: int) -> Column:
    """Cross-engine-identical n-decimal rounding of a double both
    engines compute bit-identically: FLOOR(x·10^n + 0.5) / 10^n —
    three IEEE ops, no decimal-string detour.

    Spark's F.round routes doubles through BigDecimal's
    shortest-repr HALF_UP while DuckDB multiply-rounds the binary
    value; the two disagree when an exact rational lands ON an
    (n+1)-digit decimal midpoint at a magnitude where the product's
    representation error crosses half-ulp (the r9 cusum catch;
    tools/round_tie_audit.py measures the class). The floor form
    cannot disagree: identical input bits → identical output bits,
    and the integer floor also kills -0.0 outputs (no round_z
    needed). Use for RATIO-of-small-integers outputs (Jaccard,
    token ratios, cents/count means) whose exact values can
    terminate just beyond the rounding scale; pair with
    :func:`d_round_ie`.

    Signed-tie semantics (ADVICE r9 item 4): FLOOR(x·10^n + 0.5)
    rounds exact midpoints half-toward-+INF for ALL signs — a
    negative exact midpoint like -0.0000005 rounds to -0.0... i.e.
    UP to 0.0, not away-from-zero to -0.000001 as SQL ROUND would.
    Cross-engine parity is unaffected (both sides share the
    formula), but call sites feeding SIGNED values (e.g.
    pipeline_preference_pairs' margin) get half-up, not
    ROUND-compatible half-away-from-zero, on negative ties. If a
    future site needs sign-symmetric ties, use the CASE-on-sign
    integer-div spelling (see the ``orders_price_volume_mix_bridge``
    and ``events_cusum_changepoint`` kernels) instead of assuming
    this helper matches ROUND."""
    c = F.col(col) if isinstance(col, str) else col
    p = float(10**n)
    return F.floor(c * F.lit(p) + F.lit(0.5)) / F.lit(p)


def d_round_ie(expr: str, n: int) -> str:
    """DuckDB/ANSI twin of :func:`round_ie` (also valid Spark SQL)."""
    p = 10**n
    return f"(FLOOR(({expr}) * {p}.0 + 0.5) / {p}.0)"


def round_z(col: Column | str, n: int) -> Column:
    """ROUND with the IEEE sign-of-zero canonicalized away.

    A signed aggregate (CORR, COVAR, regression slope, delta, drift)
    whose true value is a tiny negative rounds to **-0.0** in DuckDB
    but **+0.0** in Spark (observed: COVAR_POP(l_discount, l_tax) ≈
    -2.45e-07 at sf0.01, VERDICT r03). Python ``==`` treats the two
    as equal but a byte-level value hash does not, so the pair is a
    grading coin-flip. ``x + 0.0`` maps -0.0 → +0.0 (IEEE 754
    round-to-nearest: -0.0 + (+0.0) = +0.0) and is the identity on
    every other double, killing the class at the source. Pair with
    :func:`d_round_z` so both engines emit the same bit pattern."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c, n) + F.lit(0.0)


def d_round_z(expr: str, n: int) -> str:
    """DuckDB/ANSI twin of :func:`round_z` (also valid Spark SQL)."""
    return f"(ROUND({expr}, {n}) + 0.0)"


def nopush(col: Column) -> Column:
    """Value-identity predicate-pushdown barrier for an expensive
    computed column: ``element_at(shuffle(array(c)), 1)``.

    A one-element array has exactly one permutation, so the wrapped
    value is bit-identical to ``c`` on every row, every retry — but
    ``shuffle`` is MARKED non-deterministic, and PushDownPredicates
    refuses to push a Filter through a Project containing a
    non-deterministic field. Without the barrier, a threshold filter
    on a staged scoring column (Jaccard/containment/cosine) is
    substituted straight back into the join condition or scan filter,
    re-inlining the staged ``array_intersect``/dot-product subtree —
    the whole expression then evaluates once in the (pushed) Filter
    and AGAIN in the output projection, ~2x the per-pair CPU of the
    blocked dedup family (VERDICT r12 item 3). PLANS.md counts each
    query's ``array_intersect`` and ``aggregate(`` fold sites, so a
    barrier that stops holding (removed, or a Spark upgrade that
    pushes through ``shuffle``) fails
    tests/test_plans.py::test_plans_md_is_the_plan_fingerprint.

    Wrap the SCORE column, not the filter: the barrier survives
    column pruning (it IS the output) and costs one 1-element array
    build per row. Only use above a join/scan where the predicate
    cannot reach the parquet scan anyway (a predicate over computed
    array/fold expressions never becomes a PushedFilter); a barrier
    on a plain source-column predicate would genuinely lose scan
    pushdown."""
    return F.element_at(F.shuffle(F.array(col)), F.lit(1))
