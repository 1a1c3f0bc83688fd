#!/usr/bin/env python
"""Stamp registry-derived counts into the prose docs and regenerate
COVERAGE_TABLE.md.

VERDICT r10: SCALE.md said "114 queries" three hundred queries after
that was true — hand-typed totals rot. This tool rewrites every
`<!-- registry-count -->`-marked number from `len(QUERIES)` and
rewrites COVERAGE_TABLE.md from `render_table()`;
tests/test_doc_counts.py asserts both agree with the registry, so the
suite fails the moment prose and code diverge.

Marked pattern (the marker comment sits at the end of the line whose
number is stamped):

    ... all 428 registry queries ... <!-- registry-count -->

Each table row is anchored on its symbol, `operators/llm.py::ann_index_append`
(the module's path under hbase_support_spark/ plus the function's
qualname), not on a line number, so an edit elsewhere in a module no
longer makes the table stale. The grade column reads the driver's
CORRECTNESS_r*.json ledger (the newest file that sampled a query
wins), so a commit that adds a ledger file must also run
`python tools/gen_counts.py`.

`python tools/gen_counts.py --check` writes nothing and exits 1 if any
marked count or the table is stale.
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

DOCS = ["SCALE.md", "COVERAGE.md"]
MARK = "<!-- registry-count -->"
NUM_RE = re.compile(r"\b\d+(?= (?:registry )?quer(?:y|ies))")
TABLE = "COVERAGE_TABLE.md"


def registry_count() -> int:
    from hbase_support_spark import QUERIES, load_all

    load_all()
    return len(QUERIES)


def _last_grades() -> dict[str, tuple[str, str]]:
    """query -> (round label, green/RED) from the LATEST driver
    CORRECTNESS file that sampled it."""
    import glob
    import json

    grades: dict[str, tuple[str, str]] = {}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"CORRECTNESS_r(\d+)\.json", path).group(1))
        with open(path, encoding="utf-8") as fh:
            data = json.load(fh)
        for q, v in data.items():
            ok = (
                not v.get("err")
                and v.get("rows_match") is not False
                and v.get("schema_match") is not False
                and v.get("hash_match") is not False
            )
            grades[q] = (f"r{rnd:02d}", "green" if ok else "RED")
    return grades


def source_anchor(fn) -> str:
    """`operators/llm.py::ann_index_append` for a registered query:
    the defining module's path under hbase_support_spark/ and the
    function's qualname (tests/test_doc_counts.py follows it back)."""
    import inspect

    fn = inspect.unwrap(fn)
    mod = fn.__module__.removeprefix("hbase_support_spark.")
    return f"{mod.replace('.', '/')}.py::{fn.__qualname__}"


def render_table() -> str:
    """VERDICT r11 item 8: the machine-generated per-query coverage
    table (name -> module.py::symbol -> oracle kind -> last driver
    grade), derived from the live registry + the driver's CORRECTNESS
    ledger so coverage diffs are machine-checkable instead of prose."""
    from hbase_support_spark import load_all
    from hbase_support_spark.registry import ORACLES, QUERIES

    load_all()
    grades = _last_grades()
    lines = [
        "# Per-query coverage table (GENERATED — do not edit)",
        "",
        f"Regenerate with `python tools/gen_counts.py`; "
        f"tests/test_doc_counts.py fails if this file is stale. "
        f"{len(QUERIES)} registry queries; 'source' is the defining "
        "module under hbase_support_spark/ and the function's name; "
        "'last grade' is the most recent driver CORRECTNESS verdict "
        "(sql-hash = full row-count + schema + value-hash oracle; "
        "rows-only = weaker check).",
        "",
        "| query | source | oracle | last grade |",
        "|---|---|---|---|",
    ]
    for name in sorted(QUERIES):
        okind = "sql-hash" if name in ORACLES else "rows-only"
        rnd, status = grades.get(name, ("-", "ungraded"))
        lines.append(
            f"| {name} | {source_anchor(QUERIES[name])} | {okind} "
            f"| {rnd} {status} |"
        )
    lines.append("")
    return "\n".join(lines)


def stamp(write: bool = True) -> list[str]:
    n = registry_count()
    stale = []
    for doc in DOCS:
        path = os.path.join(REPO, doc)
        with open(path, encoding="utf-8") as fh:
            lines = fh.readlines()
        changed = False
        for i, line in enumerate(lines):
            if MARK not in line:
                continue
            new = NUM_RE.sub(str(n), line)
            if new != line:
                stale.append(f"{doc}:{i + 1}: {line.strip()!r} -> {n}")
                lines[i] = new
                changed = True
        if write and changed:
            with open(path, "w", encoding="utf-8") as fh:
                fh.writelines(lines)
    table_path = os.path.join(REPO, TABLE)
    table = render_table()
    old = ""
    if os.path.exists(table_path):
        with open(table_path, encoding="utf-8") as fh:
            old = fh.read()
    if old != table:
        stale.append(f"{TABLE}: regenerated")
        if write:
            with open(table_path, "w", encoding="utf-8") as fh:
                fh.write(table)
    return stale


def check() -> list[str]:
    """Return mismatch descriptions without writing (for the test)."""
    n = registry_count()
    bad = []
    n_marks = 0
    for doc in DOCS:
        path = os.path.join(REPO, doc)
        with open(path, encoding="utf-8") as fh:
            for i, line in enumerate(fh, start=1):
                if MARK not in line:
                    continue
                n_marks += 1
                m = NUM_RE.search(line)
                if not m:
                    bad.append(f"{doc}:{i}: marker without a count")
                elif int(m.group(0)) != n:
                    bad.append(f"{doc}:{i}: says {m.group(0)}, registry has {n}")
    if n_marks == 0:
        bad.append("no registry-count markers found in any doc")
    table_path = os.path.join(REPO, TABLE)
    if not os.path.exists(table_path):
        bad.append(f"{TABLE} missing (run `python tools/gen_counts.py`)")
    else:
        with open(table_path, encoding="utf-8") as fh:
            if fh.read() != render_table():
                bad.append(f"{TABLE} stale (run `python tools/gen_counts.py`)")
    return bad


if __name__ == "__main__":
    if "--check" in sys.argv:
        problems = check()
        for p in problems:
            print(p)
        sys.exit(1 if problems else 0)
    changed = stamp()
    for c in changed:
        print(c)
    print(f"registry={registry_count()}; {len(changed)} line(s) restamped")
