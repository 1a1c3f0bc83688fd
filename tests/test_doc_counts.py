"""Docs-match-registry gate (VERDICT r10 item 3, r11 item 8).

SCALE.md once claimed an invariant "asserted for all 114 queries"
three hundred queries after the registry outgrew that number. Every
registry-total claim in the prose docs now carries a
``<!-- registry-count -->`` marker, and COVERAGE_TABLE.md is generated
from the registry and the CORRECTNESS ledger. tools/gen_counts.py
writes both; this test fails the suite the moment any marked count
diverges from ``len(QUERIES)`` (or the markers disappear entirely) or
the table differs from ``render_table()`` by a single byte. A second
test follows every table row's ``module.py::qualname`` anchor to the
registered function, so a wrong anchor fails even where the table and
its generator agree.
"""

from __future__ import annotations

import importlib
import inspect
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

import gen_counts


def test_doc_counts_match_registry():
    problems = gen_counts.check()
    assert not problems, (
        "stale registry-count markers or COVERAGE_TABLE.md "
        "(run `python tools/gen_counts.py`): " + "; ".join(problems)
    )


def test_coverage_table_anchors_resolve():
    from hbase_support_spark import QUERIES, load_all

    load_all()
    table = os.path.join(gen_counts.REPO, gen_counts.TABLE)
    with open(table, encoding="utf-8") as fh:
        rows = [
            [c.strip() for c in line.strip().strip("|").split("|")]
            for line in fh
            if line.startswith("| ") and not line.startswith("| query |")
        ]
    assert sorted(r[0] for r in rows) == sorted(QUERIES)
    bad = []
    for name, source, *_ in rows:
        path, _, qualname = source.partition("::")
        mod = "hbase_support_spark." + path.removesuffix(".py").replace("/", ".")
        try:
            obj = importlib.import_module(mod)
            for part in qualname.split("."):
                obj = getattr(obj, part)
        except (ImportError, AttributeError) as exc:
            bad.append(f"{name}: {source} does not resolve ({exc})")
            continue
        if obj is not inspect.unwrap(QUERIES[name]):
            bad.append(f"{name}: {source} is not the registered function")
    assert not bad, "; ".join(bad)
