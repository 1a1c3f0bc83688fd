"""Query registry — the contract surface graded by the driver.

Each operator module registers ``(name, spark_fn, oracle_sql)``.
``__spark_entry__.queries()`` / ``oracle_sql()`` are thin views over
these dicts. A ``None`` oracle means the op is not SQL-expressible
(seed-dependent hashing, approx sketches) and gets the driver's
weaker rows-only check.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable

QUERIES: dict[str, Callable] = {}
ORACLES: dict[str, str] = {}

_LOADED = False
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def register(name: str, oracle: str | None = None):
    def deco(fn):
        assert name not in QUERIES, f"duplicate query name: {name}"
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        fn.__query_name__ = name
        return fn

    return deco


# Each grading round takes the first 50 names in registration order,
# so registration order is a grading schedule. _reorder() derives it from
# the committed CORRECTNESS_r*.json ledger: a name ranks by the round
# of its latest verdict if that verdict is green, and ranks 0 if it is
# red or the name has no verdict. Lower ranks register first and ties
# keep import order, so each window re-grades the stalest queries.


def _graded_green(root: str = _ROOT) -> dict[str, int]:
    """Name -> round of its latest verdict in ``root``'s
    CORRECTNESS_rNN.json files if that verdict is green (rows, schema
    and hash all match, no error), else 0. Unreadable files add
    nothing."""
    ledgers = []
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(path))
        if m:
            ledgers.append((int(m.group(1)), path))
    ranks: dict[str, int] = {}
    for rnd, path in sorted(ledgers):
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        for name, r in rows.items():
            green = isinstance(r, dict) and not r.get("err") and all(
                r.get(k) for k in ("rows_match", "schema_match", "hash_match")
            )
            ranks[name] = rnd if green else 0
    return ranks


def _reorder(root: str = _ROOT) -> None:
    """Re-register QUERIES/ORACLES stalest verdict first: sort by
    _graded_green() rank (0 for red or never graded), ties in import
    order."""
    rank = _graded_green(root)
    ordered = sorted(QUERIES, key=lambda n: rank.get(n, 0))
    for d in (QUERIES, ORACLES):
        snapshot = dict(d)
        d.clear()
        d.update({n: snapshot[n] for n in ordered if n in snapshot})


def load_all() -> None:
    """Import all operator modules (side effect: registration)."""
    global _LOADED
    if _LOADED:
        return
    from .operators import (  # noqa: F401
        scans,
        filters,
        cells,
        joins,
        aggregates,
        windows,
        setops,
        llm,
        streaming_batch,
        udfs,
        tpch,
        graph,
    )
    from .functions import scalar  # noqa: F401

    _reorder()
    _LOADED = True
