"""Seeded input generator for the benchmark.

Writes the ten engine tables (``io.TABLES``) as single Parquet files
with the fixture schemas and value domains documented in FIXTURES.md,
scaled by ``sf`` from the sf0.1 row counts. The same ``(seed, sf)``
always writes the same rows, so a run's inputs depend only on its
seed.

``replicate_bounded`` is the benchmark's frozen copy of the
duplication-bounded replica rule (the decorrelation rule of
``tools/scale_stress.build_bounded``), done in numpy instead of Spark
so a later edit to that tool cannot change what the benchmark
measures: every replica shifts the key columns past the previous
maximum, suffixes each document token and the source with a
replica tag, and applies a per-replica signed coordinate permutation
to the embeddings, so all true duplicates stay within one replica
and every kernel's output grows exactly R-fold.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.1 row counts of the fixture generator (FIXTURES.md)
ROWS_SF01 = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
MIN_ROWS = {"documents": 500, "embeddings": 500}

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
P_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
P_WORDS_A = np.array(["small", "red", "large", "blue", "shiny", "green", "tiny", "steel"])
P_WORDS_B = np.array(["ring", "widget", "bolt", "gear", "valve", "spring", "panel", "nut"])
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
DIM = 64


def n_rows(table: str, sf: float) -> int:
    return max(MIN_ROWS.get(table, 1), int(round(ROWS_SF01[table] * sf / 0.1)))


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    span = int((hi_d - lo_d).astype(int))
    return (lo_d + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def documents(rng, n: int) -> dict:
    lengths = rng.integers(8, 100, n)
    words = np.array(VOCAB)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]
    langs = rng.choice(LANGS, n, p=LANG_P)
    # ~5% near-duplicates: an earlier document of the same (lang,
    # source) block plus one marker token
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i >= 20:
            j = i - 20 * int(rng.integers(1, i // 20 + 1))
            texts[i], langs[i] = texts[j] + " dup", langs[j]
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def embeddings(rng, n: int) -> dict:
    m = rng.standard_normal((n, DIM))
    m = (m / np.linalg.norm(m, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(m), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    }


def generate(out_dir: str, seed: int, sf: float, corpus: int | None = None) -> dict[str, int]:
    """Write all ten tables under ``out_dir``; return their row counts.
    ``corpus`` overrides the documents and embeddings row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = {t: n_rows(t, sf) for t in ROWS_SF01}
    if corpus is not None:
        n["documents"] = n["embeddings"] = corpus
    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    c = n["customer"]
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(c, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
        "c_nationkey": pa.array(rng.integers(0, 25, c).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, c)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, c)),
    })
    s = n["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(s, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)]),
        "s_nationkey": pa.array(rng.integers(0, 25, s).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, s)),
    })
    p = n["part"]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(p, dtype=np.int64)),
        "p_name": pa.array(
            [f"{a} {b}" for a, b in zip(rng.choice(P_WORDS_A, p), rng.choice(P_WORDS_B, p))]
        ),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, p)]),
        "p_type": pa.array(rng.choice(P_TYPES, p)),
        "p_size": pa.array(rng.integers(1, 51, p).astype(np.int32)),
        "p_retailprice": pa.array(np.round(rng.integers(9000, 9999, p) / 10.0, 2)),
    })
    o = n["orders"]
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(o, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, c, o).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(np.array(["F", "O", "P"]), o)),
        "o_totalprice": pa.array(_money(rng, 1013.70, 499978.59, o)),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", o)),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, o)),
    })
    li = n["lineitem"]
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, o, li).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, p, li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, s, li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, li).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 901.82, 104997.88, li)),
        "l_discount": pa.array(rng.integers(0, 11, li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, li) / 100.0),
        "l_returnflag": pa.array(rng.choice(np.array(["A", "N", "R"]), li)),
        "l_linestatus": pa.array(rng.choice(np.array(["F", "O"]), li)),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", li)),
    })
    e = n["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400 * 1_000_000
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(e, dtype=np.int64)),
        "ts": pa.array(t0 + np.sort(rng.integers(0, span_us, e)).astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, max(1, int(15_000 * sf)), e).astype(np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, e)),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, e), 2))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]),
    })
    _write(out_dir, "documents", documents(rng, n["documents"]))
    _write(out_dir, "embeddings", embeddings(rng, n["embeddings"]))
    return {"region": 5, "nation": 25, **n}


def _signs(i: int) -> np.ndarray:
    return np.array(
        [1.0 if hashlib.sha256(f"{i},{j}".encode()).digest()[0] % 2 == 0 else -1.0
         for j in range(DIM)],
        dtype=np.float32,
    )


def replicate_bounded(src_dir: str, dst_dir: str, r: int) -> None:
    """Write an ``r``-fold duplication-bounded replica of ``src_dir``.

    Only ``documents`` and ``embeddings`` are replicated (the dedup
    kernels' inputs); the other tables are copied unchanged.
    """
    os.makedirs(dst_dir, exist_ok=True)
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"):
        pq.write_table(pq.read_table(f"{src_dir}/{t}.parquet"), f"{dst_dir}/{t}.parquet")

    docs = pq.read_table(f"{src_dir}/documents.parquet").to_pydict()
    step = max(docs["doc_id"]) + 1
    out = {k: [] for k in docs}
    for i in range(r):
        texts = docs["text"] if i == 0 else [
            " ".join(f"{w}w{i}" for w in t.split()) for t in docs["text"]
        ]
        out["doc_id"] += [d + i * step for d in docs["doc_id"]]
        out["text"] += texts
        out["lang"] += docs["lang"]
        out["source"] += docs["source"] if i == 0 else [f"{s}_r{i}" for s in docs["source"]]
        out["n_chars"] += [len(t) for t in texts]
    pq.write_table(pa.table({
        "doc_id": pa.array(out["doc_id"], pa.int64()),
        "text": pa.array(out["text"]),
        "lang": pa.array(out["lang"]),
        "source": pa.array(out["source"]),
        "n_chars": pa.array(out["n_chars"], pa.int64()),
    }), f"{dst_dir}/documents.parquet")

    emb = pq.read_table(f"{src_dir}/embeddings.parquet")
    vec_id = emb["vec_id"].to_numpy()
    label = emb["label"].to_numpy()
    m = np.stack(emb["embedding"].to_numpy(zero_copy_only=False)).astype(np.float32)
    id_step, label_step = int(vec_id.max()) + 1, int(label.max()) + 1
    ids, labels, mats = [], [], []
    for i in range(r):
        if i == 0:
            mi = m
        else:
            a = 2 * (i % 16) + 1
            perm = [(a * j + i) % DIM for j in range(DIM)]
            mi = m[:, perm] * _signs(i)
        ids.append(vec_id + i * id_step)
        labels.append(label + i * label_step)
        mats.append(mi.astype(np.float32))
    pq.write_table(pa.table({
        "vec_id": pa.array(np.concatenate(ids).astype(np.int64)),
        "embedding": pa.array(list(np.concatenate(mats)), type=pa.list_(pa.float32())),
        "label": pa.array(np.concatenate(labels).astype(np.int32)),
    }), f"{dst_dir}/embeddings.parquet")
